"""Round-3 training-data curation tier: SemDeDup semantic dedup, FineWeb/
Gopher repetition metrics, and an end-to-end RAG retrieval pass.

These extend the LLM-pipeline operator family (driver north star) with the
three curation shapes a 100 TB pipeline runs between raw crawl and tokenizer:
semantic near-dup pruning over embeddings (SemDeDup, arXiv:2303.09540),
document-level repetition quality gates (Gopher table A1 metrics, FineWeb's
filter set), and retrieval-context assembly for RAG-style augmentation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from clickhouseocp_spark.catalog import load_table, local_frame
from clickhouseocp_spark.functions.text import whitespace_tokens, word_shingles
from clickhouseocp_spark.operators.similarity import cosine_topk, semantic_dedup
from clickhouseocp_spark.queries import register
from clickhouseocp_spark.queries._util import fan_out


# ---------------------------------------------------------------------------
# SemDeDup
# ---------------------------------------------------------------------------


@register(
    "semantic_dedup_semdedup",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
       TRUE AS planted_removed_ok,
       TRUE AS one_survivor_per_group_ok
FROM embeddings
""",
    tags=("llm", "dedup", "similarity"),
)
def semantic_dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) over originals ∪ planted ×2-scaled copies
    (exact direction match → cosine 1.0): KMeans cells, within-cell cosine ≥
    0.999, lowest-id survivor per epsilon-ball
    (operators/similarity.semantic_dedup).

    Cluster assignment is hash-seeded and engine-specific, so the
    driver-checked output is the in-query contract (the agg_approx_distinct
    pattern): every planted copy must be removed (its original shares the
    exact direction, hence the same cell and a cosine-1.0 dominating pair)
    and every {original, copy} group must keep exactly one member."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    scaled = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0).cast("float")).alias(
            "embedding"
        ),
    )
    corpus = emb.unionByName(scaled)
    marked = semantic_dedup(corpus, threshold=0.999).cache()
    n_vecs = emb.agg(F.count(F.lit(1)).alias("n_vecs"))
    copies = marked.filter(F.col("vec_id") >= 1_000_000)
    groups = marked.withColumn(
        "grp", F.col("vec_id") % 1_000_000
    ).groupBy("grp").agg(
        F.sum(F.col("kept").cast("int")).alias("n_kept_in_grp")
    )
    summary = copies.agg(
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("copies_kept")
    ).crossJoin(
        groups.agg(
            F.max(F.abs(F.col("n_kept_in_grp") - 1)).alias("max_grp_dev")
        )
    )
    return n_vecs.crossJoin(summary).select(
        "n_vecs",
        (F.col("copies_kept") == 0).alias("planted_removed_ok"),
        (F.col("max_grp_dev") == 0).alias("one_survivor_per_group_ok"),
    )


# ---------------------------------------------------------------------------
# repetition metrics (Gopher table A1 / FineWeb filter set)
# ---------------------------------------------------------------------------


@register(
    "repetition_metrics",
    oracle="""
WITH toks AS (
  SELECT doc_id, length(text) AS n_chars, string_split(text, ' ') AS words
  FROM documents
),
bigrams AS (
  SELECT doc_id, g, COUNT(*) AS cnt FROM (
    SELECT doc_id, unnest(list_transform(
        range(1, greatest(len(words), 1)),
        i -> words[i] || ' ' || words[i+1])) AS g
    FROM toks)
  GROUP BY doc_id, g
),
top2 AS (
  SELECT doc_id, g, cnt FROM (
    SELECT doc_id, g, cnt,
           row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g) AS rn
    FROM bigrams) WHERE rn = 1
),
five AS (
  SELECT doc_id, g, COUNT(*) AS cnt FROM (
    SELECT doc_id, unnest(list_transform(
        range(1, greatest(len(words) - 3, 1)),
        i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' '
             || words[i+3] || ' ' || words[i+4])) AS g
    FROM toks)
  GROUP BY doc_id, g
),
dup5 AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN cnt >= 2 THEN cnt * length(g) ELSE 0 END) AS BIGINT)
           AS dup_chars
  FROM five GROUP BY doc_id
)
SELECT t.doc_id,
       ROUND(CAST(top2.cnt * length(top2.g) AS DOUBLE) / t.n_chars, 6)
         AS top_bigram_char_frac,
       ROUND(CAST(COALESCE(dup5.dup_chars, 0) AS DOUBLE) / t.n_chars, 6)
         AS dup_5gram_char_frac
FROM toks t
JOIN top2 ON t.doc_id = top2.doc_id
LEFT JOIN dup5 ON t.doc_id = dup5.doc_id
""",
    tags=("llm", "text", "quality"),
)
def repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/FineWeb repetition gates: fraction of characters in the most
    frequent word 2-gram and in duplicated word 5-grams (overlap-counted, as
    in Gopher table A1) — the filters that catch boilerplate and
    machine-generated loops that token-level stats miss.

    Scale shape (r16): ONE tagged explode — 2-grams and 5-grams ride the
    same (doc_id, n, gram) hash agg (map-side combine), then both metrics
    fall out of a single doc-keyed aggregation: the top bigram is
    min(struct(-cnt, gram)) (= cnt desc, gram asc — the same lexicographic
    tiebreak, no row_number window) and the dup-5gram mass is a conditional
    sum.  The r15 shape ran two explode passes over a cached token table
    plus a window and two doc-keyed joins; all of that folds into two
    exchanges total, and the cache is gone (guide §2.3/§2.4).  A doc with
    no bigrams (single word) emits no gram rows and is absent, exactly as
    the old inner join on top2 made it."""
    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.length("text").alias("n_chars"), whitespace_tokens(F.col("text")).alias("words")
    )
    grams = F.concat(
        F.transform(
            word_shingles(F.col("words"), 2),
            lambda g: F.struct(F.lit(2).alias("n"), g.alias("g")),
        ),
        F.transform(
            word_shingles(F.col("words"), 5),
            lambda g: F.struct(F.lit(5).alias("n"), g.alias("g")),
        ),
    )
    counts = (
        d.select("doc_id", "n_chars", F.explode(grams).alias("e"))
        .groupBy("doc_id", "n_chars", F.col("e.n").alias("n"), F.col("e.g").alias("g"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    res = counts.groupBy("doc_id").agg(
        F.max("n_chars").alias("n_chars"),
        F.min(
            F.when(
                F.col("n") == 2,
                F.struct((-F.col("cnt")).alias("nc"), F.col("g").alias("g")),
            )
        ).alias("b"),
        F.sum(
            F.when(
                (F.col("n") == 5) & (F.col("cnt") >= 2),
                F.col("cnt") * F.length("g"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("dup_chars"),
    )
    return res.select(
        "doc_id",
        F.round(
            ((-F.col("b.nc")) * F.length(F.col("b.g"))).cast("double")
            / F.col("n_chars"),
            6,
        ).alias("top_bigram_char_frac"),
        F.round(F.col("dup_chars").cast("double") / F.col("n_chars"), 6).alias(
            "dup_5gram_char_frac"
        ),
    )


# ---------------------------------------------------------------------------
# RAG retrieval-context assembly
# ---------------------------------------------------------------------------


@register(
    "rag_retrieve_context",
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.v, e.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))), 6) AS score
  FROM e CROSS JOIN q
  WHERE q.vec_id <> e.vec_id
),
topk AS (
  SELECT query_id, neighbor_id, score, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
    FROM scored) WHERE rank <= 3
)
SELECT t.query_id,
       string_agg(substr(d.text, 1, 40), ' | ' ORDER BY t.rank) AS context,
       CAST(COUNT(*) AS INTEGER) AS n_passages,
       MIN(t.score) AS min_score
FROM topk t JOIN documents d ON t.neighbor_id = d.doc_id
GROUP BY t.query_id
""",
    tags=("llm", "similarity", "rag"),
)
def rag_retrieve_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end RAG retrieval pass: exact cosine top-3 passages per query
    vector (vec_id < 5), joined back to the documents table and assembled
    into a rank-ordered context string — the retrieve-and-concat shape every
    RAG pipeline runs before prompt assembly.

    Scale shape: retrieval is the broadcast-query brute-force baseline (swap
    in ivf_topk for the partition-pruned path at corpus scale); the passage
    join is doc-id-keyed; context assembly is a bounded per-query
    collect_list (k = 3)."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("neighbor_id"), F.substring("text", 1, 40).alias("passage")
    )
    queries = emb.filter(F.col("vec_id") < 5)
    hits = cosine_topk(queries, emb, k=3).join(docs, "neighbor_id")
    return hits.groupBy("query_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rank", "passage"))),
                lambda s: s.passage,
            ),
            " | ",
        ).alias("context"),
        F.count(F.lit(1)).cast("int").alias("n_passages"),
        F.min("score").alias("min_score"),
    )


@register(
    "curate_pipeline_e2e",
    oracle=r"""
WITH d AS (
  SELECT doc_id, source, trim(text) AS t FROM documents
  WHERE length(trim(text)) > 0
),
tok AS (
  SELECT doc_id, source, t, regexp_split_to_array(t, '\s+') AS words FROM d
),
sig AS (
  SELECT doc_id, source, t,
         CAST(len(words) AS BIGINT) AS n_tokens,
         CAST(list_aggregate(list_transform(words, x -> length(x)), 'sum') AS DOUBLE)
           / len(words) AS mwl,
         CAST(len(list_filter(words, x -> x IN ('the','a','of','to','and','in'))) AS DOUBLE)
           / len(words) AS sr
  FROM tok
),
q AS (
  SELECT * FROM sig
  WHERE n_tokens >= 30 AND mwl >= 3 AND mwl <= 10 AND sr >= 0.02
),
u AS (
  SELECT * FROM q WHERE doc_id IN (
    SELECT MIN(doc_id) FROM q
    GROUP BY md5(trim(regexp_replace(lower(t), '\s+', ' ', 'g')))
  )
),
s AS (
  SELECT *, SUM(n_tokens) OVER (PARTITION BY source
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS cum
  FROM u
)
SELECT a.source, a.n_in,
       COALESCE(b.n_quality, 0) AS n_quality,
       COALESCE(c.n_unique, 0) AS n_unique,
       COALESCE(e.n_sampled, 0) AS n_sampled,
       COALESCE(e.tokens_sampled, 0) AS tokens_sampled
FROM (SELECT source, COUNT(*) AS n_in FROM d GROUP BY source) a
LEFT JOIN (SELECT source, COUNT(*) AS n_quality FROM q GROUP BY source) b USING (source)
LEFT JOIN (SELECT source, COUNT(*) AS n_unique FROM u GROUP BY source) c USING (source)
LEFT JOIN (
  SELECT source,
         COUNT(*) FILTER (WHERE cum - n_tokens < 2000) AS n_sampled,
         CAST(COALESCE(SUM(n_tokens) FILTER (WHERE cum - n_tokens < 2000), 0)
              AS BIGINT) AS tokens_sampled
  FROM s GROUP BY source
) e USING (source)
""",
    tags=("llm", "pipeline"),
)
def curate_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation funnel as ONE composed query — the shape a 100 TB
    pretraining pipeline actually runs: columnar quality gate (Gopher word
    count / mean word length / stopword ratio) → exact dedup (md5 of
    normalized text, min-id survivor) → per-source token-budget sampling
    (portable md5 priority).  Emits the per-source funnel (n_in → n_quality
    → n_unique → n_sampled + sampled token mass); the oracle replays every
    stage in SQL, so stage composition — not just each stage — is
    value-checked.  Plan: two doc-keyed shuffles (dedup group, source
    window) over scan-speed columnar signals; no Python on the data path."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", F.trim("text").alias("t"))
        .filter(F.length("t") > 0)
    )
    words = F.split(F.col("t"), r"\s+")
    stoplist = F.array(*[F.lit(w) for w in ("the", "a", "of", "to", "and", "in")])
    sig = d.select(
        "doc_id",
        "source",
        "t",
        F.size(words).cast("bigint").alias("n_tokens"),
        (
            F.aggregate(
                F.transform(words, F.length),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).cast("double")
            / F.size(words)
        ).alias("mwl"),
        (
            F.size(F.filter(words, lambda x: F.array_contains(stoplist, x))).cast("double")
            / F.size(words)
        ).alias("sr"),
    )
    q = sig.filter(
        (F.col("n_tokens") >= 30)
        & (F.col("mwl") >= 3)
        & (F.col("mwl") <= 10)
        & (F.col("sr") >= 0.02)
    )
    from clickhouseocp_spark.functions.text import normalize_text

    survivors = (
        q.groupBy(F.md5(normalize_text(F.col("t"))).alias("__fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    u = q.join(survivors, "doc_id", "left_semi")
    w = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = u.withColumn("cum", F.sum("n_tokens").over(w)).withColumn(
        "picked", (F.col("cum") - F.col("n_tokens")) < 2000
    )
    a = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_in"))
    b = q.groupBy("source").agg(F.count(F.lit(1)).alias("n_quality"))
    c = u.groupBy("source").agg(F.count(F.lit(1)).alias("n_unique"))
    e = s.groupBy("source").agg(
        F.count_if(F.col("picked")).alias("n_sampled"),
        F.coalesce(
            F.sum(F.when(F.col("picked"), F.col("n_tokens"))), F.lit(0)
        ).alias("tokens_sampled"),
    )
    out = (
        a.join(b, "source", "left")
        .join(c, "source", "left")
        .join(e, "source", "left")
        .select(
            "source",
            "n_in",
            F.coalesce("n_quality", F.lit(0)).alias("n_quality"),
            F.coalesce("n_unique", F.lit(0)).alias("n_unique"),
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
            F.coalesce("tokens_sampled", F.lit(0)).alias("tokens_sampled"),
        )
    )
    return out


_NAV_WORDS = (
    "home", "about", "contact", "login", "menu", "copyright",
    "rights", "reserved", "privacy", "terms",
)


@register(
    "boilerplate_line_filter",
    oracle=r"""
WITH corpus AS (
  SELECT doc_id,
         text || ' home about contact login menu copyright all rights reserved privacy'
           AS text
  FROM documents WHERE length(trim(text)) > 0
),
w AS (SELECT doc_id, string_split(text, ' ') AS words FROM corpus),
lines AS (
  SELECT doc_id, i AS pos,
         array_to_string(words[(i*10+1):(i*10+10)], ' ') AS line
  FROM w, LATERAL (
    SELECT unnest(generate_series(0,
      CAST(ceil(len(words) / 10.0) AS INT) - 1)) AS i
  )
),
sig AS (
  SELECT doc_id, pos, line,
         len(string_split(line, ' ')) AS n_words,
         CAST(len(list_filter(string_split(line, ' '),
              x -> x IN ('home','about','contact','login','menu','copyright',
                         'rights','reserved','privacy','terms'))) AS DOUBLE)
           / len(string_split(line, ' ')) AS navfrac
  FROM lines
),
kept AS (SELECT * FROM sig WHERE navfrac <= 0.5 AND n_words >= 3)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_lines_in,
       CAST(COUNT(*) FILTER (WHERE s.navfrac <= 0.5 AND s.n_words >= 3) AS BIGINT)
         AS n_lines_kept,
       md5(COALESCE((SELECT array_to_string(list(k.line ORDER BY k.pos), ' ')
            FROM kept k WHERE k.doc_id = s.doc_id), '')) AS cleaned_md5
FROM sig s GROUP BY s.doc_id
""",
    tags=("llm", "quality"),
)
def boilerplate_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/nav-chrome removal (jusText / RefinedWeb line pass): split
    each document into 10-word pseudo-lines (fixtures are flat word streams),
    score each line's nav-vocabulary fraction, drop chrome lines (navfrac >
    0.5 or < 3 words), reassemble survivors in order.  Planted chrome (a nav
    footer appended to every doc) guarantees the drop path fires; the oracle
    replays the whole pass and the md5 of the reassembled text is
    value-matched — reassembly ORDER included.  Scale: explode → columnar
    signals → one doc-keyed agg; line text never joins anything."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(
                    " home about contact login menu copyright all rights reserved privacy"
                ),
            ).alias("text"),
        )
    )
    # bind the split to a COLUMN before the per-chunk lambda slices it —
    # slicing the raw split() expression re-runs the split per chunk
    d = d.withColumn("__words", F.split(F.col("text"), " "))
    words = F.col("__words")
    nchunks = F.ceil(F.size(words) / F.lit(10.0)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), nchunks - 1),
        lambda i: F.array_join(F.slice(words, i * 10 + 1, 10), " "),
    )
    ex = d.select("doc_id", F.posexplode(chunks).alias("pos", "line"))
    lw = F.split(F.col("line"), " ")
    nav = F.array(*[F.lit(x) for x in _NAV_WORDS])
    sig = ex.select(
        "doc_id",
        "pos",
        "line",
        F.size(lw).alias("n_words"),
        (
            F.size(F.filter(lw, lambda x: F.array_contains(nav, x))).cast("double")
            / F.size(lw)
        ).alias("navfrac"),
    )
    keep = (F.col("navfrac") <= 0.5) & (F.col("n_words") >= 3)
    return sig.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines_in"),
        F.count_if(keep).alias("n_lines_kept"),
        F.md5(
            F.coalesce(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(keep, F.struct("pos", "line"))
                            )
                        ),
                        lambda s: s.line,
                    ),
                    " ",
                ),
                F.lit(""),
            )
        ).alias("cleaned_md5"),
    )


# ---------------------------------------------------------------------------
# BM25 full-text retrieval
# ---------------------------------------------------------------------------

_BM25_QUERIES = [
    (1, "fast table scan"),
    (2, "window merge stream"),
    (3, "customer query filter"),
]

_BM25_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(
           string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> ''))
         AS term
  FROM documents
),
doc_terms AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
),
doc_len AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(CAST(dl AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avgdl
  FROM doc_len
),
df_t AS (SELECT term, COUNT(*) AS df FROM doc_terms GROUP BY term),
q(query_id, qtext) AS (VALUES (1, 'fast table scan'),
                              (2, 'window merge stream'),
                              (3, 'customer query filter')),
q_terms AS (
  SELECT DISTINCT query_id, unnest(list_filter(
           string_split_regex(lower(qtext), '[^a-z0-9]+'), t -> t <> ''))
         AS term
  FROM q
),
scored AS (
  SELECT qt.query_id, dt.doc_id,
         CAST(SUM(CAST(ROUND(
           ln(1 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
           * dt.tf * 2.2
           / (dt.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl)), 8)
         AS DECIMAL(38,10))) AS DOUBLE) AS raw
  FROM doc_terms dt
  JOIN q_terms qt USING (term)
  JOIN df_t f USING (term)
  JOIN doc_len dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY qt.query_id, dt.doc_id
)
SELECT query_id, doc_id, ROUND(raw, 6) AS score, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY ROUND(raw, 6) DESC, doc_id) AS rank
  FROM scored
) WHERE rank <= 5
"""


@register(
    "bm25_retrieve",
    oracle=_BM25_ORACLE,
    tags=("llm", "text", "rag"),
)
def bm25_retrieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-5 documents for three bag-of-words queries
    (operators/ranking.bm25_topk) — the lexical-retrieval tier next to the
    embedding ANN tier; the scoring ClickHouse 25.x's experimental full-text
    index computes at query time.  Exact tf/df/dl counting + decimal-summed
    per-term contributions make the ranking bitwise across engines."""
    from clickhouseocp_spark.operators.ranking import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    queries = local_frame(
        spark, _BM25_QUERIES, "query_id int, query_text string"
    )
    return bm25_topk(docs, queries, k=5)


# ---------------------------------------------------------------------------
# linear quality classifier (the DCLM/FineWeb-Edu fasttext-classifier shape)
# ---------------------------------------------------------------------------

#: explicit term weights (a trained classifier would load these from a model
#: table; the SHAPE — linear bag-of-words scoring, length-normalized, sigmoid
#: squash, threshold gate — is exactly the DCLM fasttext quality filter)
_QUALITY_WEIGHTS = {
    "data": 1.2, "query": 1.0, "table": 0.8, "vector": 1.5, "stream": 0.6,
    "window": 0.5, "merge": 0.4, "filter": 0.3, "group": 0.3, "scan": 0.2,
    "slow": -0.8, "small": -0.5, "batch": -0.2, "the": -0.1, "a": -0.1,
}
_QUALITY_BIAS = -0.4


def _quality_weight_sql(col: str) -> str:
    cases = " ".join(
        f"WHEN {col} = '{t}' THEN {w}" for t, w in _QUALITY_WEIGHTS.items()
    )
    return f"CASE {cases} ELSE 0.0 END"


@register(
    "quality_classifier_linear",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(
           string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> ''))
         AS term
  FROM documents
),
feats AS (
  SELECT doc_id,
         CAST(SUM(CAST(ROUND({_quality_weight_sql('term')}, 8)
              AS DECIMAL(38,10))) AS DOUBLE) AS wsum,
         COUNT(*) AS dl
  FROM toks GROUP BY doc_id
)
SELECT doc_id,
       ROUND(1.0 / (1.0 + exp(-({_QUALITY_BIAS} + wsum / dl))), 6) AS quality_p,
       (1.0 / (1.0 + exp(-({_QUALITY_BIAS} + wsum / dl))) >= 0.5) AS keep
FROM feats ORDER BY doc_id
""",
    tags=("llm", "text", "quality"),
)
def quality_classifier_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear bag-of-words quality classifier — the fasttext-classifier
    shape of DCLM / FineWeb-Edu quality filtering: per-document
    length-normalized weighted term sum, sigmoid squash, threshold gate.
    Weights live in a broadcast lookup (a trained model swaps in the same
    way); scoring is one explode + broadcast join + decimal-summed hash agg,
    fully map-side combinable — no Python in the hot path."""
    from clickhouseocp_spark.operators.ranking import tokenize_terms

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokenize_terms(docs, "text")
    weights = local_frame(
        spark, list(_QUALITY_WEIGHTS.items()), "term string, w double"
    )
    feats = (
        toks.join(F.broadcast(weights), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.round(F.coalesce(F.col("w"), F.lit(0.0)), 8)
                .cast("decimal(38,10)")
            ).cast("double").alias("wsum"),
            F.count(F.lit(1)).alias("dl"),
        )
    )
    logit = F.lit(_QUALITY_BIAS) + F.col("wsum") / F.col("dl")
    p = 1.0 / (1.0 + F.exp(-logit))
    return feats.select(
        "doc_id",
        F.round(p, 6).alias("quality_p"),
        (p >= 0.5).alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# BPE pair counting (tokenizer-training prep)
# ---------------------------------------------------------------------------


@register(
    "bpe_pair_counts",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(
           string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> ''))
         AS w
  FROM documents
),
pairs AS (
  SELECT substr(w, i, 1) || '+' || substr(w, i + 1, 1) AS pair
  FROM toks, unnest(generate_series(1, length(w) - 1)) AS u(i)
  WHERE length(w) >= 2
)
SELECT pair, COUNT(*) AS n FROM pairs GROUP BY pair
ORDER BY n DESC, pair LIMIT 20
""",
    tags=("llm", "text", "tokenizer"),
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE tokenizer-training step: global adjacent symbol-pair
    frequencies over the corpus (the argmax pair becomes the first merge
    rule).  One explode per character position inside each word + one global
    hash agg — the map-side-combinable shape that lets BPE training run over
    a 100 TB corpus (each merge iteration = one such pass; the pair
    vocabulary, not the corpus, is what crosses the wire)."""
    from clickhouseocp_spark.operators.ranking import tokenize_terms

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = tokenize_terms(docs, "text").select(F.col("term").alias("w"))
    pairs = words.where(F.length("w") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.concat(
                    F.col("w").substr(i, F.lit(1)),
                    F.lit("+"),
                    F.col("w").substr(i + 1, F.lit(1)),
                ),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


@register(
    "bpe_encode_tokens",
    oracle="""
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS BIGINT) AS n_words,
       TRUE AS roundtrip_ok, TRUE AS eow_count_ok, TRUE AS bounds_ok
FROM documents
""",
    tags=("llm", "tokenizer"),
)
def bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training + encoding end-to-end (operators/bpe.py — completes the
    tokenizer story begun by bpe_pair_counts): learn 8 merges from the
    corpus word-frequency table, encode every document with the memoized
    Arrow kernel.  Token VALUES depend on the learned merges, so the
    driver-checked output is contracts the oracle can pin: (a) stripping
    end-of-word markers and concatenating tokens reproduces the concatenated
    normalized words (lossless round trip through training + encoding),
    (b) exactly one EOW-bearing token per word, (c) token count within
    [n_words, n_chars + n_words].  n_words anchors data-dependence on both
    engines.  pytest pins the merge sequence itself against an independent
    reference implementation."""
    from clickhouseocp_spark.operators.bpe import (
        EOW,
        bpe_encode,
        bpe_learn,
        word_frequency_table,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = bpe_learn(word_frequency_table(docs, "text"), 8)
    enc = bpe_encode(docs, "text", merges)
    words = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != ""
    )
    joined_words = F.array_join(words, "")
    joined_toks = F.array_join(
        F.transform("bpe", lambda t: F.replace(t, F.lit(EOW), F.lit(""))), ""
    )
    n_words = F.size(words).cast("bigint")
    n_chars = F.length(joined_words)
    return enc.select(
        "doc_id",
        n_words.alias("n_words"),
        (joined_toks == joined_words).alias("roundtrip_ok"),
        (
            F.size(F.filter("bpe", lambda t: t.contains(EOW))) == n_words
        ).alias("eow_count_ok"),
        F.size("bpe").between(n_words, n_chars + n_words).alias("bounds_ok"),
    )
