"""LLM-data-pipeline operators (driver north star, BASELINE.json): text
analysis, deduplication tiers, embedding similarity search, multimodal
plumbing — over the documents/embeddings fixtures.

Planted-duplicate pattern: the fixtures are dedup-clean (every text distinct),
so dedup queries build corpus = originals ∪ deterministic perturbed copies
(id + 1_000_000) and must recover exactly the planted relationships — a real
correctness check rather than an empty result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from clickhouseocp_spark.catalog import load_table, local_frame
from clickhouseocp_spark.functions.text import (
    LANG_MARKERS,
    TOKEN_RE,
    detect_language,
    fingerprint_md5,
    normalize_text,
    quality_score,
    regex_tokens,
    whitespace_tokens,
    word_shingles,
)
from clickhouseocp_spark.operators.dedup_text import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from clickhouseocp_spark.operators.similarity import (
    cosine_topk,
    embedding_near_dup_lsh,
    embedding_near_dup_pairs,
    ivf_topk,
    nsw_topk,
    pq_topk,
    srp_lsh_topk,
)
from clickhouseocp_spark.queries import register
from clickhouseocp_spark.queries._util import fan_out
from clickhouseocp_spark.sources.multimodal import attach_binary_payload, extract_media_meta

# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "text_token_stats",
    oracle=f"""
SELECT doc_id, lang,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
       CAST(len(regexp_extract_all(text, '({TOKEN_RE})')) AS INTEGER) AS n_tokens_bpe,
       CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct,
       CAST(list_aggregate(list_transform(string_split(text, ' '), x -> length(x)), 'sum') AS DOUBLE)
         / len(string_split(text, ' ')) AS avg_token_len
FROM documents
""",
    tags=("llm", "text"),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex tokenizer), distinct ratio,
    mean token length — scan-speed text profiling (functions/text.py)."""
    d = load_table(spark, sf_dir, "documents")
    ws = whitespace_tokens(F.col("text"))
    return d.select(
        "doc_id",
        "lang",
        F.size(ws).alias("n_tokens"),
        F.size(regex_tokens(F.col("text"))).alias("n_tokens_bpe"),
        F.size(F.array_distinct(ws)).alias("n_distinct"),
        (
            F.aggregate(
                F.transform(ws, lambda x: F.length(x).cast("bigint")),
                F.lit(0).cast("bigint"),
                lambda a, x: a + x,
            ).cast("double")
            / F.size(ws)
        ).alias("avg_token_len"),
    )


@register(
    "text_ngram_stats",
    oracle="""
SELECT doc_id,
       CAST(len(list_distinct(list_transform(
            range(1, greatest(len(words) - 1, 1)),
            i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS INTEGER) AS n_trigrams,
       CAST(len(list_distinct(list_transform(
            range(1, greatest(len(words), 1)),
            i -> words[i] || ' ' || words[i+1]))) AS INTEGER) AS n_bigrams
FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
""",
    tags=("llm", "text"),
)
def text_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word n-gram profile: distinct bigram/trigram counts per document
    (ClickHouse ngrams(), SURVEY §2.8 text family)."""
    d = load_table(spark, sf_dir, "documents")
    ws = whitespace_tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.size(F.array_distinct(word_shingles(ws, 3))).alias("n_trigrams"),
        F.size(F.array_distinct(word_shingles(ws, 2))).alias("n_bigrams"),
    )


def _lid_oracle() -> str:
    score_cols = ",\n       ".join(
        f"len(list_filter(words, x -> x IN ({', '.join(repr(m) for m in marks)}))) AS s_{lang}"
        for lang, marks in LANG_MARKERS.items()
    )
    langs = list(LANG_MARKERS)
    best = "GREATEST(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    case = "CASE WHEN " + best + " = 0 THEN 'und' "
    for lang in langs:
        case += f"WHEN s_{lang} = {best} THEN '{lang}' "
    case += "END"
    return f"""
WITH t AS (
  SELECT doc_id, lang, string_split(lower(text), ' ') AS words FROM documents
), s AS (
  SELECT doc_id, lang,
       {score_cols}
  FROM t
)
SELECT doc_id, lang, {case} AS lid,
       ({case}) = lang AS lid_agrees
FROM s
"""


@register("text_language_id", oracle=_lid_oracle(), tags=("llm", "text"))
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (detectLanguage analog): argmax of per-language
    marker-word hits, first language wins ties, 'und' when no evidence."""
    d = load_table(spark, sf_dir, "documents")
    toks = whitespace_tokens(F.lower(F.col("text")))
    lid = detect_language(toks)
    return d.select(
        "doc_id", "lang", lid.alias("lid"), (lid == F.col("lang")).alias("lid_agrees")
    )


@register(
    "text_quality_score",
    oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
       ROUND(
         0.5 * least(CAST(len(string_split(text,' ')) AS DOUBLE) / 50.0, 1.0)
       + 0.3 * (CASE WHEN CAST(length(text) AS DOUBLE) / greatest(CAST(len(string_split(text,' ')) AS DOUBLE), 1.0) >= 3.0
                      AND CAST(length(text) AS DOUBLE) / greatest(CAST(len(string_split(text,' ')) AS DOUBLE), 1.0) <= 9.0
                     THEN 1.0 ELSE 0.5 END)
       - 0.4 * (CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0))
       - 0.4 * (CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0))
       , 6) AS quality
FROM documents
""",
    tags=("llm", "text"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/word-length/digit-ratio/punct-ratio heuristic
    (functions/text.quality_score)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(whitespace_tokens(F.col("text"))).alias("n_tokens"),
        F.round(quality_score(F.col("text")), 6).alias("quality"),
    )


# ---------------------------------------------------------------------------
# Dedup tiers
# ---------------------------------------------------------------------------


def _planted_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ exact copies at doc_id + 1_000_000."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    copies = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "lang")
    return d.unionByName(copies)


def _perturbed_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ near-copies (last 5 words dropped) at doc_id + 1_000_000."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    words = whitespace_tokens(F.col("text"))
    trunc = F.array_join(F.slice(words, 1, F.greatest(F.size(words) - 5, F.lit(1))), " ")
    near = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), trunc.alias("text"), "lang")
    return d.unionByName(near)


@register(
    "dedup_exact",
    oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
)
SELECT min(doc_id) AS doc_id, COUNT(*) AS dup_count,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
FROM corpus
GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
""",
    tags=("llm", "dedup", "bench"),
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy on the normalized-text fingerprint
    (operators/dedup_text.exact_dedup): survivor = min doc_id, with group
    size.  Planted exact copies must collapse 2→1."""
    corpus = _planted_corpus(spark, sf_dir)
    return exact_dedup(corpus, "text", "doc_id").select(
        "doc_id", "dup_count", fingerprint_md5(F.col("text")).alias("fp")
    )


def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw MinHash+LSH near-dup pair stream (pytest recall protocol and
    bench target; the registered query wraps it into oracle-checkable
    properties)."""
    return minhash_lsh_pairs(
        _perturbed_corpus(spark, sf_dir),
        num_hashes=16,
        bands=4,
        shingle_len=3,
        threshold=0.5,
    )


@register(
    "dedup_minhash_lsh",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       TRUE AS planted_recall_ok, TRUE AS threshold_ok
FROM documents
""",
    tags=("llm", "dedup", "bench"),
)
def dedup_minhash_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(4 bands) near-dup pairs over originals ∪ perturbed
    copies, verified by exact Jaccard >= 0.5.  The xxhash64 signatures are
    engine-specific, so the driver-checked output is the accuracy CONTRACT
    computed in-query (the agg_approx_distinct pattern): recall of the
    planted (id, id+1M) pairs through 4x4 banding must beat 0.8, and every
    emitted pair must pass the exact-Jaccard verifier tier."""
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    n_docs = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    summary = pairs.agg(
        F.count_distinct(
            F.when(F.col("id_b") == F.col("id_a") + 1_000_000, F.col("id_a"))
        ).alias("planted_found"),
        F.min("jaccard").alias("min_j"),
    )
    return n_docs.crossJoin(summary).select(
        "n_docs",
        (F.col("planted_found") / F.col("n_docs") > 0.8).alias("planted_recall_ok"),
        (F.col("min_j") >= 0.5).alias("threshold_ok"),
    )


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw SimHash near-dup pair stream (pytest protocol + bench target)."""
    return simhash_near_pairs(_perturbed_corpus(spark, sf_dir), max_hamming=8)


@register(
    "dedup_simhash",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       TRUE AS planted_recall_ok, TRUE AS hamming_ok
FROM documents
""",
    tags=("llm", "dedup"),
)
def dedup_simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming <= 8) with 16-bit-chunk pigeonhole
    blocking over originals ∪ perturbed copies.  Engine-specific bit math →
    the driver-checked output is the in-query accuracy contract: planted-pair
    recall > 0.5 (truncation perturbs up to 5 words) and the Hamming cutoff
    holds on every emitted pair."""
    pairs = dedup_simhash_pairs(spark, sf_dir)
    n_docs = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    summary = pairs.agg(
        F.count_distinct(
            F.when(F.col("id_b") == F.col("id_a") + 1_000_000, F.col("id_a"))
        ).alias("planted_found"),
        F.max("hamming").alias("max_h"),
    )
    return n_docs.crossJoin(summary).select(
        "n_docs",
        (F.col("planted_found") / F.col("n_docs") > 0.5).alias("planted_recall_ok"),
        (F.col("max_h") <= 8).alias("hamming_ok"),
    )


@register(
    "dedup_ngram_jaccard",
    oracle="""
WITH corpus AS (
  SELECT doc_id, lang, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, lang,
         array_to_string(
           string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')[
             1 : greatest(len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) - 5, 1)],
           ' ') AS text
  FROM documents
), sh AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(
           range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
           i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
         )) AS s
  FROM corpus
  WHERE len(list_distinct(list_transform(
           range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
           i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
         ))) > 0
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_filter(a.s, x -> list_contains(b.s, x)))), 6) AS jaccard
FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
      / (len(a.s) + len(b.s) - len(list_filter(a.s, x -> list_contains(b.s, x)))) >= 0.5
""",
    tags=("llm", "dedup"),
)
def dedup_ngram_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trigram-Jaccard near-dup pairs blocked by lang (the deterministic
    verifier tier under LSH; operators/dedup_text.ngram_jaccard_pairs)."""
    return ngram_jaccard_pairs(
        _perturbed_corpus(spark, sf_dir),
        block_cols=["lang"],
        shingle_len=3,
        threshold=0.5,
    )


# ---------------------------------------------------------------------------
# Embedding similarity
# ---------------------------------------------------------------------------


@register(
    "similarity_topk",
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < 10),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.v, e.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))), 6) AS score
  FROM e CROSS JOIN q
  WHERE q.vec_id <> e.vec_id
)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5
""",
    tags=("llm", "similarity", "bench"),
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-5 neighbors for query vectors (vec_id <
    10) — the ANN baseline (operators/similarity.cosine_topk).  HOF dot
    product folds left-to-right like DuckDB's list_dot_product → bitwise
    oracle parity after round(,6)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return cosine_topk(queries, emb, k=5)


def similarity_topk_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw SRP-LSH approximate top-5 stream (pytest protocol + bench)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return srp_lsh_topk(queries, emb, k=5, dim=64, n_bits=4, num_tables=8)


def _ann_recall_summary(ann: DataFrame, bf: DataFrame, bound: float) -> DataFrame:
    """Driver-checkable ANN accuracy contract: recall of the approximate
    top-k against the exact brute-force top-k (both engine-side; only the
    boolean + the oracle-expressible query count leave the query)."""
    bf_pairs = bf.select("query_id", "neighbor_id")
    hits = ann.select("query_id", "neighbor_id").join(
        bf_pairs, ["query_id", "neighbor_id"]
    )
    denom = bf_pairs.agg(
        F.count(F.lit(1)).alias("bf_n"),
        F.count_distinct("query_id").alias("n_queries"),
    )
    num = hits.agg(F.count(F.lit(1)).alias("hit_n"))
    return denom.crossJoin(num).select(
        "n_queries",
        F.lit(5).alias("k"),
        (F.col("hit_n") / F.col("bf_n") > bound).alias("recall_ok"),
    )


@register(
    "similarity_topk_lsh",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, 5 AS k, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 10
""",
    tags=("llm", "similarity"),
)
def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via signed-random-projection LSH (4 bits x 8 tables,
    deterministic xxhash-seeded hyperplanes).  Hash-seeded → the
    driver-checked output is the in-query recall contract vs the exact
    brute-force baseline (measured ~0.55 at sf0.01; bound 0.3)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    bf = cosine_topk(queries, emb, k=5)
    return _ann_recall_summary(similarity_topk_lsh_pairs(spark, sf_dir), bf, 0.3)


def similarity_topk_ivf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw IVF approximate top-5 stream (pytest protocol + bench)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(queries, emb, k=5, n_centroids=16, n_probe=4)


@register(
    "similarity_topk_ivf",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, 5 AS k, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 10
""",
    tags=("llm", "similarity"),
)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via an IVF coarse quantizer (16 hash-sampled
    centroid cells, probe 4).  Sampling is engine-specific → the
    driver-checked output is the in-query recall contract vs the exact
    brute-force baseline (measured ~0.55 at sf0.01; bound 0.3); pytest
    additionally asserts planted same-direction duplicates are recalled at
    rank 1 (operators/similarity.ivf_topk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    bf = cosine_topk(queries, emb, k=5)
    return _ann_recall_summary(similarity_topk_ivf_pairs(spark, sf_dir), bf, 0.3)


def similarity_topk_pq_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw PQ approximate top-5 stream (pytest protocol + bench)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return pq_topk(queries, emb, k=5, m_subspaces=8, n_codes=16, rerank_factor=8)


@register(
    "similarity_topk_pq",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, 5 AS k, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 10
""",
    tags=("llm", "similarity"),
)
def similarity_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via product quantization (8 subspaces x 16 codes,
    ADC lookup scan + exact rerank of the 4k survivors — the quantization
    half of FAISS-style IVF-PQ; operators/similarity.pq_topk).  Codebook
    training is sample-dependent → the driver-checked output is the in-query
    recall contract vs the exact brute-force baseline (bound 0.3; the exact
    rerank tier makes measured recall much higher)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    bf = cosine_topk(queries, emb, k=5)
    return _ann_recall_summary(similarity_topk_pq_pairs(spark, sf_dir), bf, 0.3)


def similarity_topk_nsw_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw NSW graph-search top-5 stream (pytest protocol + bench)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return nsw_topk(queries, emb, k=5, m_links=8, ef_search=48, n_shards=4)


@register(
    "similarity_topk_nsw",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, 5 AS k, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 10
""",
    tags=("llm", "similarity"),
)
def similarity_topk_nsw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via shard-local navigable-small-world graphs + exact
    merge (operators/similarity.nsw_topk) — the graph-index analog of CH
    25.x's experimental vector-similarity index (usearch HNSW).  Graph
    construction is insertion-order/beam-search dependent → the
    driver-checked output is the in-query recall contract vs the exact
    brute-force baseline (bound 0.6; shard-local graphs searched exhaustively
    per shard put measured recall near 1.0); pytest asserts planted
    same-direction duplicates are recalled at rank 1 and bitwise determinism
    across runs."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    bf = cosine_topk(queries, emb, k=5)
    return _ann_recall_summary(similarity_topk_nsw_pairs(spark, sf_dir), bf, 0.6)


@register(
    "embedding_near_dup",
    oracle="""
WITH corpus AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, label,
         CAST(list_transform(embedding, x -> x * CAST(2.0 AS FLOAT)) AS DOUBLE[]) AS v
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS score
FROM corpus a JOIN corpus b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.95
""",
    tags=("llm", "similarity"),
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (label-blocked) over originals ∪
    planted scaled copies (x2 — exact direction match, cosine ≈ 1); recovers
    exactly the planted pairs (operators/similarity.embedding_near_dup_pairs)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    scaled = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        "label",
        F.transform("embedding", lambda x: x * F.lit(2.0).cast("float")).alias("embedding"),
    )
    corpus = emb.unionByName(scaled)
    return embedding_near_dup_pairs(corpus, block_cols=("label",), threshold=0.95)


def embedding_near_dup_lsh_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw SRP-bucket-blocked near-dup pair stream over originals ∪ planted
    x2-scaled copies (pytest recall protocol)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    scaled = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0).cast("float")).alias("embedding"),
    )
    corpus = emb.unionByName(scaled)
    return embedding_near_dup_lsh(corpus, dim=64, threshold=0.95, n_bits=6, num_tables=4)


@register(
    "embedding_near_dup_lsh",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
       TRUE AS planted_recall_ok, TRUE AS threshold_ok
FROM embeddings
""",
    tags=("llm", "similarity", "dedup"),
)
def embedding_near_dup_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs for UNBOUNDED corpora: blocking key = SRP-LSH
    bucket (6 bits x 4 tables) instead of a data column, so candidate
    generation is an equi-self-join on (table, bucket) — no all-pairs cross
    anywhere in the plan.  Planted x2-scaled copies share the exact
    direction, hence every bucket → the driver-checked output is the
    in-query contract: planted recall EXACTLY 1.0 and the exact-cosine
    verifier threshold holding on every emitted pair
    (operators/similarity.embedding_near_dup_lsh)."""
    pairs = embedding_near_dup_lsh_raw(spark, sf_dir)
    n_vecs = load_table(spark, sf_dir, "embeddings").agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    summary = pairs.agg(
        F.count_distinct(
            F.when(F.col("id_b") == F.col("id_a") + 1_000_000, F.col("id_a"))
        ).alias("planted_found"),
        F.min("score").alias("min_score"),
    )
    return n_vecs.crossJoin(summary).select(
        "n_vecs",
        (F.col("planted_found") == F.col("n_vecs")).alias("planted_recall_ok"),
        (F.col("min_score") >= 0.95).alias("threshold_ok"),
    )


@register(
    "multimodal_binary_meta",
    oracle="""
WITH h AS (
  SELECT doc_id, text, sha256(text) AS hx FROM documents
)
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       substr(hx, 1, 16) AS sha256_16,
       CAST(64 + (((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
                 + strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) % 192)
            AS INTEGER) AS width,
       CAST(64 + (((strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16
                 + strpos('0123456789abcdef', substr(hx, 4, 1)) - 1) % 192)
            AS INTEGER) AS height,
       'FAKE' AS fmt
FROM h
""",
    tags=("llm", "multimodal"),
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing: documents carried as opaque binary payloads
    with typed metadata extracted via Arrow-batched mapInPandas (real schema /
    partitioning / batch shape; the image decode itself is stubbed — see
    sources/multimodal.py).  The deterministic fake decoder derives dims from
    the sha256 digest, which DuckDB can replay byte-for-byte → FULL value
    oracle (no rows-only fallback)."""
    d = load_table(spark, sf_dir, "documents")
    with_payload = attach_binary_payload(d, text_col="text", id_col="doc_id")
    return extract_media_meta(with_payload, payload_col="payload", id_col="doc_id")


# ---------------------------------------------------------------------------
# Training-data curation: decontamination, quality gating, PII scrubbing
# ---------------------------------------------------------------------------


@register(
    "contamination_ngram_overlap",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             range(1, greatest(len(words) - 3, 1)),
             i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' ' ||
                  words[i+3] || ' ' || words[i+4]))) AS gram
  FROM toks),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 101 = 0),
corpus AS (
  SELECT doc_id, gram FROM g WHERE doc_id % 101 <> 0
  UNION ALL
  SELECT doc_id + 2000000, gram FROM g WHERE doc_id % 101 = 0)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS total_grams,
       CAST(COUNT(*) FILTER (WHERE gram IN (SELECT gram FROM bench)) AS BIGINT)
         AS hit_grams,
       ROUND(CAST(COUNT(*) FILTER (WHERE gram IN (SELECT gram FROM bench)) AS DOUBLE)
             / COUNT(*), 6) AS contamination,
       COUNT(*) FILTER (WHERE gram IN (SELECT gram FROM bench)) * 5 >= COUNT(*)
         AS flagged
FROM corpus GROUP BY doc_id
""",
    tags=("llm", "text", "dedup"),
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (the GPT-3/PaLM n-gram-overlap protocol):
    flag training documents sharing word 5-grams with an eval/benchmark set.
    Benchmark = every 101st doc; the corpus is the rest PLUS the benchmark
    texts re-id'd at +2_000_000 (planted leakage, same protocol as the dedup
    queries) — planted rows must come back contamination=1.0, clean rows 0.

    Scale shape: the benchmark gram set is bounded (eval suites are small by
    definition) -> broadcast LEFT SEMI join against it; the corpus side is one
    explode + per-doc count with map-side combine.  One shuffle on doc_id,
    corpus never self-joins."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    # single-expression id remap (r15): the old three-branch union (bench
    # grams + non-bench corpus + re-id'd bench corpus) ran the
    # scan+tokenize+shingle explode THREE times; benchmark docs appear in
    # the corpus only as their +2M re-id'd copies, so remapping the id in
    # place yields the identical corpus in ONE explode pass, and the
    # (bounded, broadcast) benchmark gram set derives from the remapped
    # stream — 3 explode passes -> 2, broadcast shape kept.  Benchmark
    # membership rides an explicit __is_bench column (r16): recovering it
    # from the remapped id range (>= 2M) would silently misclassify any
    # genuine corpus doc_id in that range at real scale.
    is_bench = (F.col("doc_id") % 101 == 0).alias("__is_bench")
    corpus = d.select(
        is_bench,
        F.when(
            F.col("doc_id") % 101 == 0, F.col("doc_id") + 2_000_000
        ).otherwise(F.col("doc_id")).alias("doc_id"),
        F.explode(
            F.array_distinct(word_shingles(whitespace_tokens(F.col("text")), 5))
        ).alias("gram"),
    )
    bench_grams = (
        corpus.where(F.col("__is_bench")).select("gram").distinct()
    )
    hit = F.when(F.col("__hit").isNotNull(), 1).otherwise(0)
    marked = corpus.join(
        F.broadcast(bench_grams.withColumn("__hit", F.lit(1))), "gram", "left"
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("total_grams"),
        F.sum(hit).cast("long").alias("hit_grams"),
    ).select(
        "doc_id",
        "total_grams",
        "hit_grams",
        F.round(F.col("hit_grams").cast("double") / F.col("total_grams"), 6).alias(
            "contamination"
        ),
        (F.col("hit_grams") * 5 >= F.col("total_grams")).alias("flagged"),
    )


#: Gopher-style rule thresholds (Rae et al. 2021 §A1.1, adapted to the
#: fixture's word-soup distributions so both keep and drop occur): each rule
#: name appears in ``reasons`` when violated.
_GOPHER_STOPWORDS = ("the", "a", "of", "to", "and", "in")


@register(
    "quality_filter_gopher",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
base AS (
  SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words,
         ROUND(CAST(list_aggregate(list_transform(words, x -> length(x)), 'sum') AS DOUBLE)
               / len(words), 6) AS mean_word_len,
         ROUND(CAST(len(list_filter(words, x -> x IN ('the','a','of','to','and','in'))) AS DOUBLE)
               / len(words), 6) AS stop_ratio,
         ROUND(1.0 - CAST(len(list_distinct(list_transform(
                 range(1, greatest(len(words) - 1, 1)),
                 i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS DOUBLE)
               / greatest(len(words) - 2, 1), 6) AS dup_trigram_frac
  FROM toks),
freq AS (
  SELECT doc_id, ROUND(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 6) AS top_token_ratio
  FROM (SELECT doc_id, w, COUNT(*) AS cnt
        FROM (SELECT doc_id, unnest(words) AS w FROM toks) GROUP BY doc_id, w)
  GROUP BY doc_id)
SELECT doc_id, n_words, mean_word_len, stop_ratio, dup_trigram_frac, top_token_ratio,
       concat_ws(',',
         CASE WHEN n_words < 30 THEN 'too_short' END,
         CASE WHEN mean_word_len < 3 OR mean_word_len > 10 THEN 'word_len' END,
         CASE WHEN stop_ratio < 0.02 THEN 'low_stopwords' END,
         CASE WHEN top_token_ratio > 0.15 THEN 'repetitive_token' END,
         CASE WHEN dup_trigram_frac > 0.05 THEN 'dup_trigrams' END) AS reasons,
       (n_words >= 30 AND mean_word_len >= 3 AND mean_word_len <= 10
        AND stop_ratio >= 0.02 AND top_token_ratio <= 0.15
        AND dup_trigram_frac <= 0.05) AS keep
FROM base JOIN freq USING (doc_id)
""",
    tags=("llm", "text"),
)
def quality_filter_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality gating (Rae et al. 2021): per-doc signals
    (word count, mean word length, stopword ratio, duplicate-trigram
    fraction, most-frequent-token ratio) folded into a keep/drop decision
    with machine-readable drop reasons — the canonical pre-training filter
    pass.  Thresholds are adapted to the fixture distributions so the gate
    actually splits the corpus.

    All signals are columnar, including top_token_ratio (r15): the max
    per-token count equals the longest equal run in the sorted token
    array — a per-row JVM fold — so the whole gate is ONE projection over
    the scan, zero shuffles (was: explode → two hash aggs → reattach
    join)."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    ws = whitespace_tokens(F.col("text"))

    # top_token_ratio per-row (r15): max token count == the longest equal
    # run in the SORTED token array — a pure-JVM fold, so the old
    # explode → two hash aggs → reattach join (two shuffles + a second
    # corpus pass) collapses into the same single projection as the other
    # signals.  Null-safe prev comparison so ""-tokens count like any
    # token (split can emit them), matching explode+count semantics.
    def _run_step(acc, w):
        run = (
            F.when(w.eqNullSafe(acc["prev"]), acc["run"]).otherwise(
                F.lit(0).cast("bigint")
            )
            + 1
        )
        return F.struct(
            w.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    top_run = F.aggregate(
        F.array_sort(ws),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("bigint").alias("run"),
            F.lit(0).cast("bigint").alias("best"),
        ),
        _run_step,
        lambda acc: acc["best"],
    )
    j = d.select(
        "doc_id",
        F.size(ws).cast("long").alias("n_words"),
        F.round(
            F.aggregate(
                F.transform(ws, lambda x: F.length(x).cast("bigint")),
                F.lit(0).cast("bigint"),
                lambda a, x: a + x,
            ).cast("double")
            / F.size(ws),
            6,
        ).alias("mean_word_len"),
        F.round(
            F.size(F.filter(ws, lambda t: t.isin(*_GOPHER_STOPWORDS))).cast("double")
            / F.size(ws),
            6,
        ).alias("stop_ratio"),
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(word_shingles(ws, 3))).cast("double")
            / F.greatest(F.size(ws) - 2, F.lit(1)),
            6,
        ).alias("dup_trigram_frac"),
        F.round(
            top_run.cast("double") / F.size(ws).cast("double"), 6
        ).alias("top_token_ratio"),
    )
    rules = [
        ("too_short", F.col("n_words") < 30),
        ("word_len", (F.col("mean_word_len") < 3) | (F.col("mean_word_len") > 10)),
        ("low_stopwords", F.col("stop_ratio") < 0.02),
        ("repetitive_token", F.col("top_token_ratio") > 0.15),
        ("dup_trigrams", F.col("dup_trigram_frac") > 0.05),
    ]
    reasons = F.concat_ws(
        ",", *[F.when(cond, F.lit(name)) for name, cond in rules]
    )
    keep = F.lit(True)
    for _, cond in rules:
        keep = keep & ~cond
    return j.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "stop_ratio",
        "dup_trigram_frac",
        "top_token_ratio",
        reasons.alias("reasons"),
        keep.alias("keep"),
    )


#: PII patterns kept inside the RE2 ∩ java.util.regex common subset so the
#: SAME pattern string runs on both engines (no lookarounds, no backrefs).
_EMAIL_RE = r"[a-z0-9][a-z0-9.]*@[a-z0-9]+\.[a-z]+"
_PHONE_RE = r"\+[0-9]{2}-[0-9]{3}-[0-9]{4}"


@register(
    "text_pii_scrub",
    oracle=f"""
WITH raw AS (
  SELECT doc_id,
         text ||
         CASE WHEN doc_id % 3 = 0
              THEN ' contact user' || doc_id || '@mail.com or u' || doc_id || '@sub.example.org'
              ELSE '' END ||
         CASE WHEN doc_id % 5 = 0
              THEN ' call +12-345-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE '' END AS t
  FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS INTEGER) AS emails_found,
       CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS INTEGER) AS phones_found,
       md5(regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                          '{_PHONE_RE}', '[PHONE]', 'g')) AS scrubbed_md5
FROM raw
""",
    tags=("llm", "text"),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (emails / phone numbers) — the scrubbing
    pass every training-data pipeline runs before tokenization.  The fixture
    text is synthetic word soup, so deterministic PII is INJECTED first
    (doc_id-derived emails/phones on every 3rd/5th doc) and the oracle builds
    the identical raw string; the output md5 of the scrubbed text proves the
    redaction byte-for-byte.

    Pure regexp column expressions (count + replace) — scan-speed, no
    shuffle; patterns live in the RE2 ∩ Java-regex common subset so both
    engines compile the same automaton."""
    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.com or u"),
                F.col("doc_id").cast("string"),
                F.lit("@sub.example.org"),
            ),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" call +12-345-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(""),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(raw, _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
    )
    return d.select(
        "doc_id",
        F.regexp_count(raw, F.lit(_EMAIL_RE)).alias("emails_found"),
        F.regexp_count(raw, F.lit(_PHONE_RE)).alias("phones_found"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


#: shared corpus/edge SQL for the clustering oracle: originals ∪ drop-last-5
#: (+1M) ∪ drop-last-10 (+2M); trigram-Jaccard ≥ 0.8 edges lang-blocked.
#: Threshold non-transitivity makes real CHAINS: A~B and B~C pass while A~C
#: falls below 0.8 on shorter docs — exactly why pair output needs CC.
_CC_EDGES_SQL = """
corpus AS (
  SELECT doc_id, lang, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, lang,
         array_to_string(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')[
           1 : greatest(len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) - 5, 1)], ' ')
  FROM documents
  UNION ALL
  SELECT doc_id + 2000000, lang,
         array_to_string(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')[
           1 : greatest(len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) - 10, 1)], ' ')
  FROM documents
), sh AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(
           range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
           i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
         )) AS s
  FROM corpus
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE len(a.s) > 0 AND len(b.s) > 0
    AND CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
        / (len(a.s) + len(b.s) - len(list_filter(a.s, x -> list_contains(b.s, x)))) >= 0.8
), edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION SELECT id_b, id_a FROM pairs
)
"""


@register(
    "dedup_cluster_components",
    oracle=f"""
WITH RECURSIVE {_CC_EDGES_SQL},
reach(id, r) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.id
)
SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id
""",
    tags=("llm", "dedup", "graph"),
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING (the step after pair generation): connected
    components over trigram-Jaccard ≥ 0.8 pairs, each doc labeled with the
    min reachable doc_id as its canonical representative (keep-one-per-
    component retention).  The 3-tier planted corpus (original, −5 words at
    +1M, −10 words at +2M) produces genuine CHAINS where A~B~C but A≁C —
    threshold non-transitivity, the reason pair output alone can't dedup.

    Spark side: iterative min-label propagation, one shuffle join per round,
    rounds ≤ graph diameter (operators/graph.connected_components).  The
    DuckDB oracle computes the same fixpoint with a recursive CTE — a full
    value-hash match proves every component assignment."""
    from clickhouseocp_spark.operators.graph import connected_components

    d = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang"))
    words = whitespace_tokens(F.col("text"))

    def dropped(n: int, offset: int) -> DataFrame:
        trunc = F.array_join(
            F.slice(words, 1, F.greatest(F.size(words) - n, F.lit(1))), " "
        )
        return d.select(
            (F.col("doc_id") + offset).alias("doc_id"), trunc.alias("text"), "lang"
        )

    corpus = d.unionByName(dropped(5, 1_000_000)).unionByName(dropped(10, 2_000_000))
    pairs = ngram_jaccard_pairs(
        corpus, block_cols=["lang"], shingle_len=3, threshold=0.8
    ).select("id_a", "id_b")
    return connected_components(
        corpus.select("doc_id"), pairs, id_col="doc_id", src="id_a", dst="id_b"
    )


@register(
    "dedup_fuzzy_e2e",
    oracle="""
SELECT CAST(3 * COUNT(*) AS BIGINT) AS n_docs,
       TRUE AS chain_recall_ok,
       TRUE AS one_survivor_per_component,
       TRUE AS survivor_is_min_member
FROM documents
""",
    tags=("llm", "dedup", "graph", "bench"),
)
def dedup_fuzzy_e2e(
    spark: SparkSession,
    sf_dir: str,
    *,
    persist_pairs=None,
    checkpoint_every: int = 0,
) -> DataFrame:
    """The standard production fuzzy-dedup pipeline END-TO-END in one query
    (round 9): MinHash(16)+LSH(4 bands) candidate pairs verified by exact
    Jaccard ≥ 0.5 → connected components (min-label propagation) →
    canonical-survivor election (keep the smallest doc_id per component —
    with min-label CC the component label IS the survivor, so election is
    the predicate ``doc_id = component``, zero extra shuffles).

    Corpus: the planted 3 tiers (original, −5 words at +1M, −10 words at
    +2M) — genuine A~B~C chains where A≁C, the non-transitivity that makes
    pair output alone insufficient.  The LSH banding hashes are
    engine-specific, so the driver-checked output is the accuracy CONTRACT
    computed in-query (the dedup_minhash_lsh pattern): ≥80% of originals
    must end in the same component as BOTH planted copies (banding recall
    through the chain), each component elects exactly one survivor, and
    every survivor is its component's smallest member (hence an original
    whenever the component contains one).

    100 TB shape: LSH bands ship ids only; the verifier is block-scoped;
    CC rounds ≤ cluster diameter (tiny for dedup graphs); election is
    free.  Cites reference Dockerfile:102-104 (the pinned ClickHouse
    serves the same corpus-dedup workloads via groupBy/argMin).

    Cluster knobs (round-9 verdict — the defaults keep the faster
    local[32] behavior, which leans on Spark skipping stages via
    identical-lineage shuffle-file reuse):

    - ``persist_pairs``: a ``StorageLevel`` to persist the candidate-pair
      DataFrame (e.g. ``StorageLevel.DISK_ONLY``).  On a real cluster
      shuffle files die with their executors, and every CC round would
      then replay the full MinHash+LSH stage — persist the ~ids-only
      pairs instead (measured ~25% slower on local[32] where reuse is
      free, hence the ``None`` default).
    - ``checkpoint_every``: forwarded to ``connected_components`` — eager
      plan truncation every k rounds so a late-round failure can't replay
      the whole join prefix.  See SCALE.md §fuzzy-dedup.
    """
    from clickhouseocp_spark.operators.dedup_text import minhash_lsh_pairs
    from clickhouseocp_spark.operators.graph import connected_components

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    words = whitespace_tokens(F.col("text"))

    def dropped(n: int, offset: int) -> DataFrame:
        trunc = F.array_join(
            F.slice(words, 1, F.greatest(F.size(words) - n, F.lit(1))), " "
        )
        return d.select(
            (F.col("doc_id") + offset).alias("doc_id"), trunc.alias("text"), "lang"
        )

    corpus = d.unionByName(dropped(5, 1_000_000)).unionByName(
        dropped(10, 2_000_000)
    )
    pairs = minhash_lsh_pairs(
        corpus, num_hashes=16, bands=4, shingle_len=3, threshold=0.5
    ).select("id_a", "id_b")
    # pairs NOT persisted by default: the CC rounds reuse its shuffle map
    # outputs (identical lineage → stages skip), and an explicit cache of
    # the verify-join output measures ~25% slower end-to-end on local[32];
    # pass persist_pairs=StorageLevel.DISK_ONLY on clusters (docstring)
    if persist_pairs is not None:
        pairs = pairs.persist(persist_pairs)
    comp = connected_components(
        corpus.select("doc_id"), pairs, id_col="doc_id", src="id_a", dst="id_b",
        checkpoint_every=checkpoint_every,
    ).persist()
    orig = comp.filter(F.col("doc_id") < 1_000_000).select(
        F.col("doc_id").alias("o"), F.col("component").alias("c0")
    )
    c1 = comp.select((F.col("doc_id") - 1_000_000).alias("o"),
                     F.col("component").alias("c1"))
    c2 = comp.select((F.col("doc_id") - 2_000_000).alias("o"),
                     F.col("component").alias("c2"))
    chains = orig.join(c1, "o").join(c2, "o")
    recall = chains.agg(
        (
            F.sum(
                F.when(
                    (F.col("c0") == F.col("c1")) & (F.col("c0") == F.col("c2")),
                    1,
                ).otherwise(0)
            )
            / F.count(F.lit(1))
            > 0.8
        ).alias("chain_recall_ok")
    )
    survivors = comp.groupBy("component").agg(
        F.sum((F.col("doc_id") == F.col("component")).cast("int")).alias("ns"),
        F.count(F.lit(1)).alias("sz"),
        F.min("doc_id").alias("mn"),
    )
    consistency = survivors.agg(
        (F.sum(F.when(F.col("ns") == 1, 0).otherwise(1)) == 0).alias(
            "one_survivor_per_component"
        ),
        (F.sum(F.when(F.col("component") == F.col("mn"), 0).otherwise(1)) == 0)
        .alias("survivor_is_min_member"),
    )
    n = comp.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        n.crossJoin(recall)
        .crossJoin(consistency)
        .select(
            "n_docs",
            "chain_recall_ok",
            "one_survivor_per_component",
            "survivor_is_min_member",
        )
    )


# ---------------------------------------------------------------------------
# Training-batch assembly: sequence packing + corpus mixing
# ---------------------------------------------------------------------------


@register(
    "pack_sequences_greedy",
    oracle="""
WITH RECURSIVE d AS (
  SELECT doc_id, CAST(doc_id % 8 AS INTEGER) AS shard, n_chars,
         row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
  FROM documents
), walk AS (
  SELECT shard, doc_id, n_chars, rn, n_chars AS acc, 0 AS bin FROM d WHERE rn = 1
  UNION ALL
  SELECT d.shard, d.doc_id, d.n_chars, d.rn,
         CASE WHEN w.acc + d.n_chars > 8192 THEN d.n_chars ELSE w.acc + d.n_chars END,
         CASE WHEN w.acc + d.n_chars > 8192 THEN w.bin + 1 ELSE w.bin END
  FROM walk w JOIN d ON d.shard = w.shard AND d.rn = w.rn + 1
)
SELECT doc_id, shard, CAST(bin AS INTEGER) AS bin,
       CAST(row_number() OVER (PARTITION BY shard, bin ORDER BY doc_id) - 1 AS INTEGER) AS pos
FROM walk
""",
    tags=("llm", "packing", "bench"),
)
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: greedy contiguous fill of
    8192-char budget bins, sharded by doc_id % 8 (the shard is the sequential
    unit AND the parallelism unit — a hash bucket at scale).  The recursive-CTE
    oracle replays the identical fold, so bin assignment is value-checked, not
    just shape-checked."""
    from clickhouseocp_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    sharded = docs.withColumn("shard", (F.col("doc_id") % 8).cast("int"))
    packed = pack_sequences(
        sharded, weight_col="n_chars", budget=8192,
        shard_cols=["shard"], order_cols=["doc_id"],
    )
    return packed.select("doc_id", "shard", "bin", "pos")


#: exact-binary-fraction weights (0.5/0.25 steps) so the frac(w) threshold
#: compares identically in double (Spark) and decimal→double (DuckDB)
MIX_WEIGHTS = {"src0": 0.5, "src1": 2.0, "src2": 1.25, "src3": 0.0}


@register(
    "corpus_mix_weighted",
    oracle="""
WITH w AS (
  SELECT doc_id, source,
         CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 2.0
                     WHEN 'src2' THEN 1.25 WHEN 'src3' THEN 0.0
                     ELSE 1.0 END AS wt,
         (((doc_id % 2147483648) * 2654435761) % 4294967296) / 4294967296.0 AS u
  FROM documents
), c AS (
  SELECT doc_id, source,
         CAST(FLOOR(wt) AS INTEGER)
           + CASE WHEN u < wt - FLOOR(wt) THEN 1 ELSE 0 END AS n_copies
  FROM w
)
SELECT source, CAST(SUM(n_copies) AS BIGINT) AS rows_out,
       COUNT(*) FILTER (WHERE n_copies >= 1) AS docs_kept
FROM c GROUP BY source HAVING SUM(n_copies) > 0
""",
    tags=("llm", "mixing"),
)
def corpus_mix_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing with per-source sampling weights: src0 halved, src1
    doubled, src2 upsampled 1.25x (integer copies + deterministic fractional
    hash selection), src3 dropped, everything else passed through.  The oracle
    recomputes the same integer-hash selection, so the exact kept/copied set
    is value-checked."""
    from clickhouseocp_spark.operators.packing import mix_corpus

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    mixed = mix_corpus(docs, MIX_WEIGHTS, source_col="source", id_col="doc_id")
    return mixed.groupBy("source").agg(
        F.count(F.lit(1)).alias("rows_out"),
        F.countDistinct("doc_id").alias("docs_kept"),
    )


@register(
    "corpus_split_stratified",
    oracle="""
WITH u AS (
  SELECT source,
         (((doc_id % 2147483648) * 2654435761) % 4294967296) / 4294967296.0 AS u
  FROM documents
)
SELECT source,
       CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'valid' ELSE 'test' END AS split,
       COUNT(*) AS n
FROM u GROUP BY 1, 2
""",
    tags=("llm", "mixing"),
)
def corpus_split_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test split (80/10/10) on the same integer
    document hash the mixing operator uses: membership is a pure function of
    doc_id, so the split is reproducible across runs, engines, and cluster
    sizes — no RNG state, no shuffle beyond the final count."""
    from clickhouseocp_spark.operators.packing import mix_hash_uniform

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    u = mix_hash_uniform("doc_id")
    split = (
        F.when(u < 0.8, "train").when(u < 0.9, "valid").otherwise("test")
    )
    return docs.withColumn("split", split).groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "corpus_vocabulary",
    oracle="""
SELECT w, COUNT(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
WHERE w <> '' GROUP BY w
ORDER BY n DESC, w LIMIT 100
""",
    tags=("llm", "text"),
)
def corpus_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: global token frequencies, top-100 with a
    deterministic (count desc, token asc) tiebreak — the standard first look
    at a new pre-training corpus.  Explode → two-level hash agg with map-side
    combine; the heavy-hitter cut happens via TakeOrderedAndProject (heap,
    no full sort)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(whitespace_tokens(F.col("text"))).alias("w")).filter(
        F.col("w") != ""
    )
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    # (count desc, token asc) is a total order -> limit is deterministic and
    # plans as TakeOrderedAndProject (per-partition heaps, no global sort)
    return counts.orderBy(F.col("n").desc(), F.col("w")).limit(100)


@register(
    "line_dedup_c4",
    oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         array_to_string(words[1 : greatest(len(words) - 5, 1)], ' ')
  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
), w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM corpus
), ch AS (
  SELECT doc_id, i AS pos,
         array_to_string(words[i*10+1 : i*10+10], ' ') AS chunk
  FROM w, unnest(range(CAST(ceil(len(words)/10.0) AS BIGINT))) AS t(i)
), freq AS (
  SELECT chunk, COUNT(DISTINCT doc_id) AS ndocs FROM ch GROUP BY chunk
), marked AS (
  SELECT ch.doc_id, ch.pos, ch.chunk, freq.ndocs FROM ch JOIN freq USING (chunk)
)
SELECT doc_id,
       COUNT(*) AS n_chunks,
       COUNT(*) FILTER (WHERE ndocs >= 2) AS n_dropped,
       COALESCE(string_agg(chunk, ' ' ORDER BY pos) FILTER (WHERE ndocs < 2), '')
         AS kept_text
FROM marked GROUP BY doc_id
""",
    tags=("llm", "dedup"),
)
def line_dedup_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style cross-document line dedup: split every document
    into 10-word pseudo-lines (the fixtures are flat word streams — real
    corpora split on newline), drop every line whose exact text occurs in
    >= 2 distinct documents, reassemble survivors in order.  Planted overlap
    (each doc unioned with a tail-truncated copy at id+1M) guarantees the
    drop path fires and is value-checked.

    Scale shape (r16, the substring_dup_spans discipline): one explode pass;
    instances pre-aggregate to DISTINCT (doc_id, chunk) rows carrying their
    position list, so the duplicate-marking count window sees at most
    distinct-docs-per-line rows — a viral line shared by millions of docs
    costs rows proportional to the docs, never to repeated occurrences, and
    nothing re-tokenizes.  The chunk-hash repartition is shared by the
    pre-agg AND the window (guide §2.4 — hash(chunk) clusters both), so
    marking costs ONE data exchange; reassembly is one doc-keyed agg."""
    d = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    words = whitespace_tokens(F.col("text"))
    truncated = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.array_join(
            F.slice(words, 1, F.greatest(F.size(words) - 5, F.lit(1))), " "
        ).alias("text"),
    )
    # bind the split to a COLUMN before the per-chunk lambda (else the
    # split re-runs per chunk — the round-7 O(tokens²) fix class)
    corpus = d.unionByName(truncated).withColumn(
        "__cw", whitespace_tokens(F.col("text"))
    )
    cw = F.col("__cw")
    nchunks = F.ceil(F.size(cw) / F.lit(10.0)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), nchunks - 1),
        lambda i: F.array_join(F.slice(cw, i * 10 + 1, 10), " "),
    )
    # single corpus pass (r15) + distinct-row marking (r16): instances
    # collapse to one (doc_id, chunk) row with their position list BEFORE
    # the duplicate-mark window, so the window input is bounded by
    # distinct docs per line (was: every instance, with collect_set
    # buffers on top).  repartition("chunk") is shared by the pre-agg and
    # the window — one exchange serves both (§2.4).
    ex = corpus.select(
        "doc_id", F.posexplode(chunks).alias("pos", "chunk")
    ).repartition("chunk")
    per = ex.groupBy("doc_id", "chunk").agg(F.collect_list("pos").alias("poses"))
    marked = per.withColumn(
        "ndocs", F.count(F.lit(1)).over(Window.partitionBy("chunk"))
    )
    return marked.groupBy("doc_id").agg(
        F.sum(F.size("poses")).alias("n_chunks"),
        F.sum(
            F.when(F.col("ndocs") >= 2, F.size("poses")).otherwise(0)
        ).cast("long").alias("n_dropped"),
        F.coalesce(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.flatten(
                            F.collect_list(
                                F.when(
                                    F.col("ndocs") < 2,
                                    F.transform(
                                        "poses",
                                        lambda p: F.struct(
                                            p.alias("pos"),
                                            F.col("chunk").alias("chunk"),
                                        ),
                                    ),
                                )
                            )
                        )
                    ),
                    lambda s: s["chunk"],
                ),
                " ",
            ),
            F.lit(""),
        ).alias("kept_text"),
    )


@register(
    "text_unigram_logprob",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w
  FROM documents
), vocab AS (
  SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w
), tot AS (SELECT SUM(cnt) AS total FROM vocab),
scored AS (
  SELECT toks.doc_id,
         CAST(ROUND(ln(vocab.cnt / (SELECT total FROM tot)), 6)
              AS DECIMAL(38,12)) AS logp
  FROM toks JOIN vocab USING (w)
)
SELECT doc_id, COUNT(*) AS n_tokens,
       ROUND(CAST(SUM(logp) AS DOUBLE) / COUNT(*), 6) AS avg_logp
FROM scored GROUP BY doc_id
""",
    tags=("llm", "text"),
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: corpus-unigram average log-probability
    per document (the KenLM-style filter signal, computed from the corpus
    itself).  Two map-side-combinable aggs + one token-keyed join; per-token
    log-probs are rounded then decimal-summed so the per-doc mean is
    order-independent (libm round(6) parity discipline, as for the other
    float scalar families)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select("doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("w"))
    vocab = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    scored = (
        toks.join(vocab, "w")
        .join(F.broadcast(total))
        .select(
            "doc_id",
            F.round(F.log(F.col("cnt") / F.col("total")), 6)
            .cast("decimal(38,12)")
            .alias("logp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.sum("logp").cast("double") / F.count(F.lit(1)), 6).alias("avg_logp"),
    )


@register(
    "substring_dup_spans",
    oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         array_to_string(words[3 : len(words)], ' ')
  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
), w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM corpus
), wins AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(words[i+1 : i+20], ' ')) AS h
  FROM w, unnest(range(CAST(greatest(len(words) - 19, 1) AS BIGINT))) AS t(i)
), freq AS (
  SELECT h, COUNT(DISTINCT doc_id) AS ndocs FROM wins GROUP BY h
)
SELECT doc_id,
       COUNT(*) AS n_windows,
       COUNT(*) FILTER (WHERE ndocs >= 2) AS n_dup_windows,
       ROUND(COUNT(*) FILTER (WHERE ndocs >= 2) * 1.0 / COUNT(*), 6) AS dup_frac
FROM wins JOIN freq USING (h)
GROUP BY doc_id
""",
    tags=("llm", "dedup"),
)
def substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication flagging (the suffix-array/exact-substring
    dedup signal, RefinedWeb-style, approximated with SLIDING 20-word
    windows): a window duplicated across >= 2 distinct documents marks its
    span; per-doc duplicated-window fraction is the removal signal.  Planted
    overlap: each doc unioned with a 2-word-shifted copy — shifted windows
    still collide because sliding windows cover every offset (unlike the
    non-overlapping line chunks of line_dedup_c4).

    Scale: only (doc_id, pos, 16-byte window hash) rows are exploded — the
    window TEXT never leaves the scan; freq agg map-side combines to
    distinct hashes.  The window build is per-row heavy compute, so the
    corpus is fan_out'd across every core (no-op at production row-group
    counts; an integer rolling-hash variant measured 3x SLOWER here because
    20-step HOF folds run interpreted while md5-over-join is codegen'd)."""
    d = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    words = whitespace_tokens(F.col("text"))
    shifted = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.array_join(F.slice(words, 3, F.greatest(F.size(words), F.lit(3))), " ").alias(
            "text"
        ),
    )
    # bind the split to a COLUMN: slicing the raw split() expression inside
    # the per-window lambda re-runs the split per window (O(tokens²))
    corpus = d.unionByName(shifted).withColumn(
        "__cw", whitespace_tokens(F.col("text"))
    )
    cw = F.col("__cw")
    nwin = F.greatest(F.size(cw) - 19, F.lit(1))
    wins = F.transform(
        F.sequence(F.lit(0), nwin - 1),
        lambda i: F.md5(F.array_join(F.slice(cw, i + 1, 20), " ")),
    )
    # single corpus pass (r15): the old freq-agg + re-attach join computed
    # the scan+split+md5 window build TWICE (the per-row-heavy part).  The
    # output never uses pos/text, so pre-aggregate to distinct (doc_id, h)
    # with an instance count — map-side combinable — then a count window
    # over h IS countDistinct(doc_id) per hash; one explode pass total.
    ex = corpus.select("doc_id", F.explode(wins).alias("h"))
    per = ex.groupBy("doc_id", "h").agg(F.count(F.lit(1)).alias("cnt"))
    marked = per.withColumn(
        "ndocs", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_windows"),
            F.sum(F.when(F.col("ndocs") >= 2, F.col("cnt")).otherwise(0)).alias(
                "n_dup_windows"
            ),
            F.round(
                F.sum(F.when(F.col("ndocs") >= 2, F.col("cnt")).otherwise(0))
                / F.sum("cnt"),
                6,
            ).alias("dup_frac"),
        )
    )


@register(
    "embedding_centroids",
    oracle="""
WITH e AS (
  SELECT label, i AS pos,
         CAST(ROUND(CAST(embedding[i+1] AS DOUBLE), 6) AS DECIMAL(38,12)) AS val
  FROM embeddings, unnest(range(CAST(len(embedding) AS BIGINT))) AS t(i)
), m AS (
  SELECT label, pos,
         ROUND(CAST(SUM(val) AS DOUBLE) / COUNT(*), 6) AS mean_val
  FROM e GROUP BY label, pos
)
SELECT label, COUNT(*) AS dim,
       string_agg(printf('%.6f', mean_val), ',' ORDER BY pos) AS centroid
FROM m GROUP BY label
""",
    tags=("llm", "similarity"),
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean-pooled embedding centroids (class prototypes — the
    building block for nearest-centroid classification and IVF seeding):
    posexplode to (label, dim, value), decimal-routed mean per cell
    (order-independent), ordered re-assembly into the centroid vector.  One
    (label, dim)-keyed agg, map-side combined — output cardinality
    |labels| x dim regardless of corpus size.  The centroid is emitted as a
    canonical '%.6f'-joined STRING (not array<double>): driver harnesses
    canonicalize result cells via pandas hashing, which cannot hash list
    cells — scalar cells keep the output comparable everywhere."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "label",
        "pos",
        F.round(F.col("v").cast("double"), 6).cast("decimal(38,12)").alias("val"),
    )
    m = ex.groupBy("label", "pos").agg(
        F.round(F.sum("val").cast("double") / F.count(F.lit(1)), 6).alias("mean_val")
    )
    return m.groupBy("label").agg(
        F.count(F.lit(1)).alias("dim"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mean_val"))),
                lambda s: F.format_string("%.6f", s["mean_val"]),
            ),
        ).alias("centroid"),
    )


@register(
    "nearest_centroid_assign",
    oracle="""
WITH e AS (
  SELECT label, i AS pos,
         CAST(ROUND(CAST(embedding[i+1] AS DOUBLE), 6) AS DECIMAL(38,12)) AS val
  FROM embeddings, unnest(range(CAST(len(embedding) AS BIGINT))) AS t(i)
), m AS (
  SELECT label, pos,
         ROUND(CAST(SUM(val) AS DOUBLE) / COUNT(*), 6) AS mean_val
  FROM e GROUP BY label, pos
), cent AS (
  SELECT label AS c_label, list(mean_val ORDER BY pos) AS centroid
  FROM m GROUP BY label
), scored AS (
  SELECT vec_id, embeddings.label AS true_label, c_label,
         ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), centroid), 6) AS score
  FROM embeddings CROSS JOIN cent
), best AS (
  SELECT vec_id, true_label, c_label,
         row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, c_label) AS rn
  FROM scored
)
SELECT true_label, c_label AS assigned_label, COUNT(*) AS n
FROM best WHERE rn = 1 GROUP BY 1, 2
""",
    tags=("llm", "similarity"),
)
def nearest_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification: every embedding scored against the
    per-label mean-pool prototypes (the embedding_centroids composition),
    argmax cosine with a label tiebreak, output = the label confusion
    matrix.  The centroid side is |labels| rows -> broadcast; the corpus
    never shuffles; scores round(6) so the cross-engine argmax is stable."""
    from clickhouseocp_spark.functions.vector import cosine_similarity

    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("pos", "v")).select(
        "label",
        "pos",
        F.round(F.col("v").cast("double"), 6).cast("decimal(38,12)").alias("val"),
    )
    m = ex.groupBy("label", "pos").agg(
        F.round(F.sum("val").cast("double") / F.count(F.lit(1)), 6).alias("mean_val")
    )
    cent = m.groupBy(F.col("label").alias("c_label")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mean_val"))),
            lambda s: s["mean_val"],
        ).alias("centroid")
    )
    scored = (
        e.select("vec_id", F.col("label").alias("true_label"), "embedding")
        .join(F.broadcast(cent))
        .select(
            "vec_id",
            "true_label",
            "c_label",
            F.round(
                cosine_similarity(
                    F.transform("embedding", lambda x: x.cast("double")),
                    F.col("centroid"),
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("score").desc(), F.col("c_label"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("true_label", F.col("c_label").alias("assigned_label"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "pack_utilization",
    oracle="""
WITH RECURSIVE d AS (
  SELECT doc_id, CAST(doc_id % 8 AS INTEGER) AS shard, n_chars,
         row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
  FROM documents
), walk AS (
  SELECT shard, doc_id, n_chars, rn, n_chars AS acc, 0 AS bin FROM d WHERE rn = 1
  UNION ALL
  SELECT d.shard, d.doc_id, d.n_chars, d.rn,
         CASE WHEN w.acc + d.n_chars > 8192 THEN d.n_chars ELSE w.acc + d.n_chars END,
         CASE WHEN w.acc + d.n_chars > 8192 THEN w.bin + 1 ELSE w.bin END
  FROM walk w JOIN d ON d.shard = w.shard AND d.rn = w.rn + 1
), bins AS (
  SELECT shard, bin, SUM(n_chars) AS fill FROM walk GROUP BY shard, bin
)
SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_bins,
       CAST(SUM(fill) AS BIGINT) AS total_chars,
       ROUND(SUM(fill) * 1.0 / (COUNT(*) * 8192), 6) AS utilization,
       CAST(MAX(fill) AS BIGINT) AS max_bin_fill
FROM bins GROUP BY shard
""",
    tags=("llm", "packing"),
)
def pack_utilization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing efficiency report: per shard, bin count, total payload, mean
    bin utilization against the budget, and the fullest bin — the number a
    training pipeline watches to tune budget/shard choices.  Composes the
    pack_sequences operator; the recursive-CTE oracle replays the identical
    fold so the utilization figures are value-checked."""
    from clickhouseocp_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    sharded = docs.withColumn("shard", (F.col("doc_id") % 8).cast("int"))
    packed = pack_sequences(
        sharded, weight_col="n_chars", budget=8192,
        shard_cols=["shard"], order_cols=["doc_id"],
    )
    bins = packed.groupBy("shard", "bin").agg(F.sum("n_chars").alias("fill"))
    return bins.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("fill").alias("total_chars"),
        F.round(F.sum("fill") / (F.count(F.lit(1)) * 8192), 6).alias("utilization"),
        F.max("fill").alias("max_bin_fill"),
    )


# ---------------------------------------------------------------------------
# Chunking + term weighting (RAG / pretraining context assembly)
# ---------------------------------------------------------------------------


@register(
    "chunk_documents",
    oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
), st AS (
  SELECT doc_id, words, unnest(range(0, greatest(len(words) - 16, 1), 48)) AS start_word
  FROM w
)
SELECT doc_id,
       CAST(start_word / 48 AS BIGINT) AS chunk_id,
       CAST(start_word AS INTEGER) AS start_word,
       CAST(least(64, len(words) - start_word) AS INTEGER) AS n_words,
       array_to_string(words[start_word + 1 : start_word + 64], ' ') AS chunk_text
FROM st
""",
    tags=("llm", "chunk"),
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (window 64 words, stride 48 → 16-word
    overlap): the context-assembly step for RAG indexing and long-document
    pretraining.  Pure columnar — split once, generate start offsets with
    ``sequence``, slice per offset, one explode; no UDF, no shuffle (chunking
    is embarrassingly parallel over the scan).  Chunks smaller than the
    overlap are still emitted (tail retention), matching the oracle's
    ``range(0, max(len-16, 1), 48)`` start grid."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(words) - F.lit(16), F.lit(1)) - F.lit(1),
        F.lit(48),
    )
    ex = d.select(
        "doc_id",
        words.alias("words"),
        F.explode(starts).alias("start_word"),
    )
    return ex.select(
        "doc_id",
        (F.col("start_word") / 48).cast("bigint").alias("chunk_id"),
        F.col("start_word").cast("int").alias("start_word"),
        F.least(F.lit(64), F.size("words") - F.col("start_word"))
        .cast("int")
        .alias("n_words"),
        F.concat_ws(" ", F.slice("words", F.col("start_word") + 1, 64)).alias(
            "chunk_text"
        ),
    )


@register(
    "tfidf_top_terms",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE len(term) >= 3
  GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         ROUND(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tfidf, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
  FROM scored
) WHERE rank <= 3
""",
    tags=("llm", "text"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by smoothed tf-idf (the classic relevance
    weighting for corpus analysis / keyword extraction).  Shape: one token
    explode → (doc, term) partial-agg tf → term-keyed df agg (broadcast back,
    |vocab| rows) → windowed top-k per doc.  The document-frequency side is
    vocabulary-sized, so at 100 TB the join is a broadcast, never a fact
    shuffle; ln() is rounded(6) on both engines."""
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.length("term") >= 3)
    # share ONE term-keyed exchange between the tf aggregation and the df
    # window (guide §2.4, the q21 trick: hash(term) clusters (doc, term)
    # too) — was Exchange(doc,term) + Exchange(term), i.e. two full passes
    # of the token stream over the wire.  The lost map-side combine is
    # ~free: (doc, term) is near-unique in natural text, so the raw token
    # stream is barely wider than the combined tf stream.
    tf = toks.repartition("term").groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    # (doc, term) rows are unique → a row count over the term window IS the
    # document frequency; one pass, no tf self-join (which would recompute
    # the token explode on both sides)
    df_w = Window.partitionBy("term")
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(df_w))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tfidf", "rank")
    )


@register(
    "dedup_bloom_incremental",
    oracle=r"""
SELECT d.doc_id,
       EXISTS (
         SELECT 1 FROM documents s
         WHERE s.doc_id % 2 = 0
           AND md5(trim(regexp_replace(lower(s.text), '\s+', ' ', 'g')))
             = md5(trim(regexp_replace(lower(d.text), '\s+', ' ', 'g')))
       ) AS is_dup
FROM documents d WHERE d.doc_id % 2 = 1
""",
    tags=("llm", "dedup"),
)
def dedup_bloom_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental batch-vs-corpus dedup through a broadcast Bloom filter
    (operators/dedup_text.bloom_dedup_incremental): odd doc_ids arrive as the
    new batch, even doc_ids are the already-ingested corpus.  The Bloom tier
    has no false negatives and the exact verify tier removes its false
    positives, so the emitted ``is_dup`` flags are exact — the oracle recomputes
    them with a plain EXISTS join."""
    from clickhouseocp_spark.operators.dedup_text import bloom_dedup_incremental

    docs = load_table(spark, sf_dir, "documents")
    seen = docs.filter(F.col("doc_id") % 2 == 0)
    incoming = docs.filter(F.col("doc_id") % 2 == 1)
    out = bloom_dedup_incremental(incoming, seen)
    return out.select("doc_id", "is_dup")


@register(
    "multimodal_frame_sample",
    oracle="""
SELECT d.doc_id, gs.i AS frame_idx,
       sha256(d.text || '#' || CAST(gs.i AS VARCHAR)) AS frame_sha
FROM documents d,
     LATERAL (
       SELECT unnest(generate_series(0, octet_length(encode(d.text)) % 4)) AS i
     ) gs
WHERE d.doc_id < 100
""",
    tags=("llm", "multimodal"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling fan-out over binary payloads
    (sources/multimodal.sample_media_frames): mapInPandas explodes each
    payload to its sampled frames inside the scan partition — no shuffle.
    The deterministic stand-in digests are replayed by the oracle in plain
    SQL, so the driver fully value-checks the fan-out (row multiplicity,
    indices, digests)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    payloads = attach_binary_payload(docs, "text", "doc_id", "video/fake")
    from clickhouseocp_spark.sources.multimodal import sample_media_frames

    return sample_media_frames(payloads)


@register(
    "multimodal_image_decode",
    oracle="""
WITH p AS (
  SELECT doc_id,
         CAST(16 + doc_id % 32 AS BIGINT) AS w,
         CAST(8 + doc_id % 16 AS BIGINT) AS h
  FROM documents WHERE doc_id < 200
)
SELECT doc_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       'BMP' AS fmt,
       CAST(54 + CAST(FLOOR((w * 3 + 3) / 4) AS BIGINT) * 4 * h AS BIGINT)
         AS n_bytes
FROM p
""",
    tags=("llm", "multimodal", "image"),
)
def multimodal_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image tier end-to-end: per-doc 24-bit BMP bytes are synthesized
    (sources/multimodal.synthesize_gradient_bmp), then DECODED BACK by the
    pure-numpy BMP parser (sources/imagecodec.decode_bmp) inside
    extract_media_meta.  Width/height/format and the exact on-disk size
    (header + 4-byte-padded stride x height) are closed-form, so the oracle
    replays the whole encode→decode path in SQL.  Plan: two chained
    mapInPandas inside the scan partition — no shuffle; pixels never leave
    the executor."""
    from clickhouseocp_spark.sources.multimodal import (
        extract_media_meta,
        synthesize_gradient_bmp,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    meta = extract_media_meta(synthesize_gradient_bmp(docs))
    return meta.select("doc_id", "width", "height", "fmt", "n_bytes")


@register(
    "multimodal_png_decode",
    oracle="""
WITH p AS (
  SELECT doc_id,
         CAST(16 + doc_id % 32 AS BIGINT) AS w,
         CAST(8 + doc_id % 16 AS BIGINT) AS h
  FROM documents WHERE doc_id < 200
)
SELECT doc_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS n_channels,
       'PNG' AS fmt,
       CAST(3 * h * w * (w - 1) / 2 + 3 * w * h * (h - 1) / 2 + 3 * w * h
            AS BIGINT) AS px_sum
FROM p
""",
    tags=("llm", "multimodal", "image"),
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG tier end-to-end (round 6): per-doc RGB PNGs are synthesized
    with the row filter cycling through ALL FIVE spec filter types
    (sources/multimodal.synthesize_gradient_png — stdlib zlib deflate), then
    DECODED BACK by the pure-stdlib PNG parser (sources/imagecodec.
    decode_png: chunk walk, CRC verify, zlib inflate, per-row unfilter) and
    reduced to the integer pixel sum.  ``pixel(x,y,c) = x+y+c`` stays below
    256, so the sum is closed-form — ``3h·Σx + 3w·Σy + 3wh`` — and the
    oracle value-checks the whole encode→deflate→inflate→unfilter→decode
    path in plain SQL (the compressed size, unlike BMP's, is not
    closed-form, so px_sum is the checkable reduction).  Plan: two chained
    mapInPandas inside the scan partition — no shuffle; pixel tensors never
    leave the executor."""
    from clickhouseocp_spark.sources.multimodal import (
        extract_image_pixels,
        synthesize_gradient_png,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return extract_image_pixels(synthesize_gradient_png(docs))


@register(
    "multimodal_gif_decode",
    oracle="""
WITH p AS (
  SELECT doc_id,
         CAST(16 + doc_id % 32 AS BIGINT) AS w,
         CAST(8 + doc_id % 16 AS BIGINT) AS h
  FROM documents WHERE doc_id < 200
)
SELECT doc_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS n_channels,
       'GIF' AS fmt,
       CAST(3 * (h * w * (w - 1) / 2 + 2 * w * h * (h - 1) / 2)
            AS BIGINT) AS px_sum
FROM p
""",
    tags=("llm", "multimodal", "image"),
)
def multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF tier end-to-end (round 6): per-doc LZW-compressed
    grayscale-palette GIF89a payloads are synthesized
    (sources/gifcodec.encode_gif — variable-width LZW with clear-code
    resets, ≤255-byte sub-blocks per the public spec), then DECODED BACK
    (decode_gif: block walk, LZW table-walk, palette resolve) and reduced
    to the integer pixel sum.  ``pixel(x,y) = x + 2y`` stays below 256 and
    grayscale palettes round-trip exactly, so the sum is closed-form —
    ``3·(h·Σx + 2w·Σy)`` — and the oracle value-checks the whole
    encode→LZW→decode path in plain SQL.  Plan: two chained mapInPandas
    inside the scan partition — no shuffle."""
    from clickhouseocp_spark.sources.multimodal import (
        extract_image_pixels,
        synthesize_gradient_gif,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return extract_image_pixels(synthesize_gradient_gif(docs))


@register(
    "multimodal_jpeg_decode",
    oracle="""
SELECT doc_id,
       CAST(16 + doc_id % 32 AS INTEGER) AS width,
       CAST(8 + doc_id % 16 AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS n_channels,
       'JPEG' AS fmt,
       TRUE AS bounded_ok
FROM documents WHERE doc_id < 200
""",
    tags=("llm", "multimodal", "image"),
)
def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG tier end-to-end (round 6 — the LAST still-image gate
    closed): per-doc baseline JFIF JPEGs are synthesized at quality 95 with
    4:2:0 chroma subsampling and 2-MCU restart intervals (sources/jpegcodec.
    encode_jpeg — pure stdlib+numpy per ITU-T T.81: matrix DCT, Annex K
    quant/Huffman, byte-stuffed entropy stream), then DECODED BACK
    (decode_jpeg: marker walk, Huffman bit-serial decode, dequantize, IDCT,
    chroma upsample, YCbCr→RGB) and verified against the recomputed source
    gradient.  JPEG is lossy by design, so the driver-checkable reduction is
    the BOUNDED-ERROR contract: max abs per-sample deviation ≤ 8 codes at
    q95 on the smooth gradient (measured ≤ 4; the bound leaves headroom,
    not slack in the semantics), which the oracle pins as TRUE alongside
    exact dimensions.  Plan: two chained mapInPandas inside the scan
    partition — no shuffle; pixel tensors never leave the executor."""
    from clickhouseocp_spark.sources.multimodal import (
        synthesize_gradient_jpeg,
        verify_image_roundtrip,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return verify_image_roundtrip(synthesize_gradient_jpeg(docs))


@register(
    "multimodal_audio_meta",
    oracle="""
WITH p AS (
  SELECT doc_id,
         CAST(800 + (doc_id % 50) * 16 AS BIGINT) AS n_frames,
         CAST(2 + doc_id % 7 AS BIGINT) AS h
  FROM documents WHERE doc_id < 200
)
SELECT doc_id,
       n_frames,
       CAST(1 AS BIGINT) AS n_channels,
       CAST(8000 AS BIGINT) AS sample_rate,
       ROUND(n_frames / 8000.0, 6) AS duration_s,
       CAST(0.5 AS DOUBLE) AS rms,
       CAST(0.5 AS DOUBLE) AS peak,
       ROUND(FLOOR((n_frames - 1) / h) / (n_frames - 1.0), 6) AS zcr
FROM p
""",
    tags=("llm", "multimodal", "audio"),
)
def multimodal_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio tier end-to-end: per-doc RIFF/PCM WAV bytes are synthesized
    (mono int16 square wave, ±half-full-scale — sources/multimodal.
    synthesize_square_wav), then DECODED BACK by the pure-numpy RIFF parser
    (sources/audiocodec.decode_wav) and reduced to curation features
    (duration/RMS/peak/zero-crossing rate).  Square waves make every feature
    closed-form, so the oracle replays the whole encode→decode→feature path
    in plain SQL: rms = peak = 0.5 exactly, zcr = floor((n-1)/h)/(n-1).
    Plan: two chained mapInPandas inside the scan partition — no shuffle;
    only scalar features leave the executor, never sample blocks."""
    from clickhouseocp_spark.sources.multimodal import (
        extract_audio_meta,
        synthesize_square_wav,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return extract_audio_meta(synthesize_square_wav(docs))


def similarity_topk_ivfpq_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw IVF-PQ approximate top-5 stream (pytest protocol + bench)."""
    from clickhouseocp_spark.operators.similarity import ivfpq_topk

    import math

    from clickhouseocp_spark.operators.similarity import _approx_row_count

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    # FAISS sizing rule: cells ~ sqrt(N) so cell purity tracks corpus growth
    # (a FIXED 16 cells let recall sag as the corpus scales — caught by the
    # sf0.1 parity sweep, round 6); probe a constant fraction of cells.
    n = max(_approx_row_count(emb) or 500, 1)
    n_centroids = min(256, max(16, int(math.sqrt(n))))
    return ivfpq_topk(
        queries, emb, k=5, n_centroids=n_centroids,
        n_probe=max(6, n_centroids // 4), m_subspaces=8, rerank_factor=8,
    )


@register(
    "similarity_topk_ivfpq",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, 5 AS k, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 10
""",
    tags=("llm", "similarity"),
)
def similarity_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via the full IVF-PQ composition (16-cell coarse
    quantizer probe-6 + 8x16 PQ/ADC scan + exact rerank of the 8k
    survivors — the FAISS index shape; operators/similarity.ivfpq_topk).
    Training is sample-dependent → the driver-checked output is the in-query
    recall contract vs the exact brute-force baseline (bound 0.3)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    bf = cosine_topk(queries, emb, k=5)
    return _ann_recall_summary(similarity_topk_ivfpq_pairs(spark, sf_dir), bf, 0.3)


@register(
    "corpus_budget_sample",
    oracle=r"""
SELECT doc_id, source, n_tokens, (cum - n_tokens) < 2000 AS kept FROM (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source
                             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS cum
  FROM (
    SELECT doc_id, source,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
    FROM documents WHERE length(trim(text)) > 0
  )
)
""",
    tags=("llm", "mixing"),
)
def corpus_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sampling: 2000 tokens per source, selected by a portable
    md5 priority hash (reproducible across engines/runs/cluster sizes — the
    oracle replays the identical selection).  One shuffle on the group key
    (operators/packing.budget_sample)."""
    from clickhouseocp_spark.operators.packing import budget_sample

    return budget_sample(load_table(spark, sf_dir, "documents"), 2000)


@register(
    "fulltext_index_search",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '[^a-zA-Z0-9]+'),
                     t -> t <> '') AS tk
  FROM documents
),
flags AS (
  SELECT doc_id,
         list_contains(tk, 'vector') AS has_vector,
         list_contains(tk, 'stream') AS has_stream
  FROM toks
)
SELECT doc_id,
       (has_vector AND has_stream) AS has_all
FROM flags
WHERE has_vector OR has_stream
""",
    tags=("llm", "text", "index"),
)
def fulltext_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text (inverted) index — the CH 25.x experimental ``full_text``
    skipping-index analog (operators/fulltext.py): build the postings table
    (token_bucket, token, doc_id) from the documents corpus, then answer an
    ANY-of and an ALL-of search for {vector, stream} FROM THE POSTINGS
    ALONE — the document table is never rescanned; the two searches
    semi-join on doc_id.  The bucket key makes a persisted index
    partition-prunable (pytest pins the parquet round trip + pruned scan);
    the oracle replays with per-document token membership — exactly the
    scan the index avoids.  Plan: one explode + distinct builds the
    postings; each search is one filtered aggregate over them."""
    from clickhouseocp_spark.operators.fulltext import (
        build_fulltext_index,
        search_fulltext,
    )

    docs = load_table(spark, sf_dir, "documents")
    idx = build_fulltext_index(docs)
    any_hits = search_fulltext(idx, ["vector", "stream"], mode="any")
    all_hits = search_fulltext(idx, ["vector", "stream"], mode="all").withColumn(
        "has_all", F.lit(True)
    )
    return any_hits.join(all_hits, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("has_all"), F.lit(False)).alias("has_all")
    )


@register(
    "embedding_pca_project",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors, 4 AS k,
       TRUE AS var_order_ok, TRUE AS ortho_ok, TRUE AS recon_ok
FROM embeddings
""",
    tags=("llm", "similarity", "pca"),
)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA over the embedding column (operators/pca.py): one partial-Gram
    mapInPandas pass (O(batches·d²) to the driver, data never leaves the
    scan), d×d eigh, then a streaming BLAS projection.  Like the ANN
    queries, the driver-checked output is an in-query CONTRACT, since
    eigenvector values are solver-dependent: (a) eigenvalues descending,
    (b) components orthonormal, and (c) the distributed mean reconstruction
    residual with k=4 equals the tail eigenvalue mass Σ_{j>k} λ_j — the
    Eckart-Young identity, which only holds if the fit AND the projection
    are both correct.  The oracle pins n_vectors and asserts every
    contract."""
    import numpy as np

    from clickhouseocp_spark.operators.pca import (
        pca_fit,
        pca_project,
        reconstruction_residual_sq,
    )

    k = 4
    emb = load_table(spark, sf_dir, "embeddings")
    model = pca_fit(emb, "embedding", k)
    proj = pca_project(emb, "embedding", model, out_col="pca")
    w = model.components  # (k, d)

    stats = proj.agg(
        F.count("*").alias("n_vectors"),
        F.avg(reconstruction_residual_sq(model, "embedding", "pca")).alias(
            "avg_resid"
        ),
    ).first()
    ev = model.explained_variance
    tail_mass = model.total_variance - float(ev.sum())
    var_order_ok = bool(np.all(np.diff(ev) <= 1e-12))
    ortho_ok = bool(np.max(np.abs(w @ w.T - np.eye(k))) < 1e-8)
    recon_ok = bool(
        abs(stats.avg_resid - tail_mass) <= 1e-6 * max(model.total_variance, 1e-30)
    )
    return local_frame(
        spark, [(int(stats.n_vectors), k, var_order_ok, ortho_ok, recon_ok)],
        "n_vectors bigint, k int, var_order_ok boolean, ortho_ok boolean, "
        "recon_ok boolean",
    )


@register(
    "embedding_int8_quantize",
    oracle="""
WITH s AS (
  SELECT vec_id,
         list_max(list_transform(embedding,
                                 x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
  FROM embeddings
)
SELECT e.vec_id,
       ROUND(s.scale, 6) AS scale6,
       array_to_string(list_transform(e.embedding,
         x -> CAST(CAST(GREATEST(-127.0, LEAST(127.0,
                FLOOR(CAST(x AS DOUBLE) / s.scale + 0.5))) AS BIGINT)
              AS VARCHAR)), ',') AS q,
       list_max(list_transform(e.embedding,
         x -> abs(CAST(x AS DOUBLE)
                  - GREATEST(-127.0, LEAST(127.0,
                      FLOOR(CAST(x AS DOUBLE) / s.scale + 0.5))) * s.scale)))
         <= s.scale * 0.5000001 AS err_ok
FROM embeddings e JOIN s USING (vec_id)
""",
    tags=("llm", "similarity", "quantize"),
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (functions/vector.int8_quantize)
    — the storage tier a 100 TB ANN corpus keeps (4× smaller than float32).
    The portable floor(x/scale + 0.5) rounding rule makes the CODES exact
    across engines: the oracle re-derives every int8 code and the
    scale/2 error bound independently.  All-JVM higher-order functions; no
    shuffle.  Codes are emitted comma-joined (the repo's
    driver-output-shape convention: list cells never reach the driver
    hash)."""
    from clickhouseocp_spark.functions.vector import int8_dequantize, int8_quantize

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.select("vec_id", "embedding", int8_quantize("embedding").alias("qs"))
    deq = qs.withColumn("dq", int8_dequantize("qs"))
    return deq.select(
        "vec_id",
        F.round(F.col("qs.scale"), 6).alias("scale6"),
        F.array_join(
            F.transform(F.col("qs.q"), lambda x: x.cast("string")), ","
        ).alias("q"),
        (
            F.aggregate(
                F.zip_with(
                    "embedding", "dq",
                    lambda x, y: F.abs(x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, e: F.greatest(acc, e),
            )
            <= F.col("qs.scale") * 0.5000001
        ).alias("err_ok"),
    )


@register(
    "dsir_select_topk",
    oracle="""
WITH tok_r AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 1024 AS b
  FROM (SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                  x -> x <> '')) AS t
        FROM documents)
),
tok_t AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 1024 AS b
  FROM (SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                  x -> x <> '')) AS t
        FROM documents WHERE lang = 'en')
),
ct AS (SELECT b, COUNT(*) AS ct FROM tok_t GROUP BY b),
cr AS (SELECT b, COUNT(*) AS cr FROM tok_r GROUP BY b),
tot AS (SELECT (SELECT COUNT(*) FROM tok_r) AS nr,
               (SELECT COUNT(*) FROM tok_t) AS nt),
ratio AS (
  SELECT cr.b,
         CAST(ROUND(LN((COALESCE(ct.ct, 0) + 1.0) / (cr.cr + 1.0)), 6)
              AS DECIMAL(18,6)) AS term
  FROM cr LEFT JOIN ct ON cr.b = ct.b
),
c0 AS (SELECT CAST(ROUND(LN((nr + 1024.0) / (nt + 1024.0)), 6)
               AS DECIMAL(18,6)) AS c0 FROM tot),
doc AS (
  SELECT tok_r.doc_id, COUNT(*) AS n_tokens, SUM(ratio.term) AS s
  FROM tok_r JOIN ratio ON tok_r.b = ratio.b
  GROUP BY tok_r.doc_id
),
scored AS (
  SELECT doc_id, n_tokens,
         CAST(s + n_tokens * (SELECT c0 FROM c0) AS DOUBLE) AS logw,
         CAST(s + n_tokens * (SELECT c0 FROM c0)
              + CAST(ROUND(-LN(-LN(
                  (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) + 0.5) / 4294967296.0)), 6)
                     AS DECIMAL(18,6)) AS DOUBLE) AS key
  FROM doc
)
SELECT doc_id, n_tokens, logw, key FROM scored
ORDER BY key DESC, doc_id LIMIT 50
""",
    tags=("llm", "selection"),
)
def dsir_select_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (operators/dsir.py — Xie et al. 2023, hashed
    unigram instance): fit target(lang='en')/raw bucket log-ratios, score
    every document, Gumbel-top-50 resample.  Every stage is portable-exact
    (md5-prefix feature hash, DECIMAL-summed rounded log terms,
    md5-seeded Gumbel noise), so the oracle replays fit + scoring +
    selection bit-for-bit.  Plan: ONE token hash-agg (the target is a
    subset of raw, so its fit counts are a flag-conditional sum over the
    shared (doc, bucket) pre-agg — no second tokenization), one 1024-row
    broadcast, one doc-keyed agg, distributed TakeOrdered."""
    from clickhouseocp_spark.operators.dsir import dsir_select

    docs = load_table(spark, sf_dir, "documents")
    # the target is a SUBSET of raw → fit rides the raw tokenization's
    # (doc, bucket) pre-agg via a membership flag instead of tokenizing
    # the 'en' slice a second time (identical integer counts)
    return dsir_select(
        docs, None, k=50, target_flag=F.col("lang") == "en"
    )


@register(
    "minhash_lsh_tuning",
    oracle="""
WITH grid AS (
  SELECT b.b, r.r FROM (SELECT unnest([4, 8, 16, 32]) AS b) b
  CROSS JOIN (SELECT unnest([2, 4, 8]) AS r) r
)
SELECT b, r, b * r AS signature_len,
       ROUND(pow(1.0 / b, 1.0 / r), 6) AS threshold,
       ROUND(1 - pow(1 - pow(0.8, r), b), 6) AS p_detect_at_80,
       ROUND(1 - pow(1 - pow(0.5, r), b), 6) AS p_detect_at_50
FROM grid
""",
    tags=("llm", "dedup", "design"),
)
def minhash_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bands×rows DESIGN TABLE for the MinHash-LSH dedup tier
    (dedup_minhash_lsh): for each (b, r) config, the S-curve threshold
    s* = (1/b)^(1/r) where detection probability crosses 1/2, and the
    closed-form detection probabilities 1-(1-s^r)^b at Jaccard 0.8 / 0.5 —
    the exact published LSH analysis (Leskovec-Rajaraman-Ullman, Mining of
    Massive Datasets ch.3), which is how the production banding in
    operators/dedup_text.py was chosen.  Pure arithmetic on both engines;
    a 100 TB deployment reads this table to pick banding for its target
    similarity, no sweep required."""
    grid = (
        local_frame(spark, [(4,), (8,), (16,), (32,)], "b int")
        .crossJoin(local_frame(spark, [(2,), (4,), (8,)], "r int"))
    )
    b, r = F.col("b").cast("double"), F.col("r").cast("double")

    def p_detect(s: float):
        return F.round(1 - F.pow(1 - F.pow(F.lit(s), r), b), 6)

    return grid.select(
        "b", "r",
        (F.col("b") * F.col("r")).alias("signature_len"),
        F.round(F.pow(1.0 / b, 1.0 / r), 6).alias("threshold"),
        p_detect(0.8).alias("p_detect_at_80"),
        p_detect(0.5).alias("p_detect_at_50"),
    )


def synthetic_crawl_url(d):
    """Planted crawl-URL generator shared by the batch and streaming URL
    dedup queries: case/port/param-order/slash/fragment variants that the
    canonicalizer must collapse, all pure functions of the id."""
    return F.concat(
        F.lit("https://"),
        F.when(d % 3 == 0, F.lit("WWW.Example.COM"))
        .when(d % 3 == 1, F.lit("www.example.com"))
        .otherwise(F.lit("blog.example.com")),
        F.lit(":443/Posts/"),
        (d % 40).cast("string"),
        F.when(d % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit("?utm_source=x&b=2&a=1"))
        .when(d % 5 == 1, F.lit("?a=1&b=2&fbclid=zzz"))
        .when(d % 5 == 2, F.lit("?b=2&a=1"))
        .otherwise(F.lit("")),
        F.when(d % 7 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )


@register(
    "url_canonical_dedup",
    oracle="""
WITH c AS (
  SELECT doc_id,
         'https://'
           || CASE WHEN doc_id % 3 = 2 THEN 'blog.example.com'
                   ELSE 'www.example.com' END
           || '/Posts/' || CAST(doc_id % 40 AS VARCHAR)
           || CASE WHEN doc_id % 5 IN (0, 1, 2) THEN '?a=1&b=2' ELSE '' END
           AS canonical_url
  FROM documents WHERE doc_id < 400
)
SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_dups,
       MIN(doc_id) AS keeper
FROM c GROUP BY canonical_url
""",
    tags=("llm", "dedup", "url"),
)
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the standard FIRST tier of a web
    pipeline (before any content hashing): lowercase scheme+host, strip
    default ports, drop fragments and tracking params (utm_*/gclid/fbclid/
    ref), sort surviving params, trim the trailing slash
    (functions/text.py::canonicalize_url — all parse_url + array
    combinators, zero Python), then exact-dedup by the canonical string
    with a min-id survivor.  One hash-agg shuffle on the canonical URL —
    the same scale shape as dedup_exact.  The fixture plants URLs whose
    case/port/params/slash/fragment variants must collapse; the oracle
    states the expected canonical CLOSED-FORM from the generator
    arithmetic, so any canonicalization slip breaks parity."""
    from clickhouseocp_spark.functions.text import canonicalize_url

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    url = synthetic_crawl_url(F.col("doc_id"))
    return (
        docs.select("doc_id", canonicalize_url(url).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keeper"),
        )
    )


@register(
    "cluster_balanced_sample",
    oracle="""
WITH counts AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_c FROM embeddings GROUP BY label
),
norm AS (
  SELECT list_reduce(
           list_transform(list_sort(list({'c': label, 'n': n_c})),
                          e -> sqrt(CAST(e.n AS DOUBLE))),
           (a, b) -> a + b) AS s
  FROM counts
),
budgets AS (
  SELECT c.label, c.n_c,
         least(c.n_c, greatest(1, CAST(floor(200.0 * sqrt(CAST(c.n_c AS DOUBLE))
                                             / n.s) AS BIGINT))) AS budget_c
  FROM counts c CROSS JOIN norm n
),
ranked AS (
  SELECT e.vec_id, e.label, b.n_c, b.budget_c,
         row_number() OVER (PARTITION BY e.label
                            ORDER BY md5(CAST(e.vec_id AS VARCHAR))) AS rk
  FROM embeddings e JOIN budgets b USING (label)
)
SELECT CAST(vec_id AS BIGINT) AS vec_id, label, n_c, budget_c,
       CAST(rk AS INTEGER) AS rk
FROM ranked WHERE rk <= budget_c
""",
    tags=("llm", "sampling", "mix"),
)
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-balanced cluster sampling (α=0.5, budget 200 over the
    embedding labels) — the corpus-mix op that flattens head clusters
    (operators/packing.py::cluster_balanced_sample).  Deterministic
    throughout: the α-normalizer folds per-cluster counts in SORTED order
    (one canonical double-summation order, bitwise-identical across
    engines), budgets floor the same IEEE quotient, and members are the
    budget smallest-md5(id) rows.  One count shuffle + one per-cluster
    window; the budget table broadcasts."""
    from clickhouseocp_spark.operators.packing import cluster_balanced_sample

    emb = load_table(spark, sf_dir, "embeddings")
    out = cluster_balanced_sample(emb, "label", "vec_id", total_budget=200)
    return out.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        "label",
        "n_c",
        "budget_c",
        F.col("rk").cast("int").alias("rk"),
    )


@register(
    "text_bigram_logprob",
    oracle="""
WITH docs AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                i -> {'p': w[CAST(i AS INTEGER)],
                      'c': w[CAST(i AS INTEGER) + 1]})) AS b
  FROM docs
),
c2 AS (SELECT b.p AS p, b.c AS c, COUNT(*) AS n2 FROM bg GROUP BY b.p, b.c),
c1 AS (SELECT p, SUM(n2) AS n1 FROM c2 GROUP BY p),
vv AS (SELECT COUNT(DISTINCT u) AS v
       FROM (SELECT unnest(w) AS u FROM docs)),
scored AS (
  SELECT bg.doc_id,
         CAST(ROUND(ln((c2.n2 + 1.0) / (c1.n1 + (SELECT v FROM vv))), 6)
              AS DECIMAL(38,12)) AS logp
  FROM bg JOIN c2 ON bg.b.p = c2.p AND bg.b.c = c2.c
  JOIN c1 ON bg.b.p = c1.p
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(CAST(SUM(logp) AS DOUBLE) / COUNT(*), 6) AS avg_logp
FROM scored GROUP BY doc_id
""",
    tags=("llm", "text", "quality"),
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity proxy with Laplace smoothing — the next tier
    above text_unigram_logprob in the KenLM-style quality ladder:
    P(w_i | w_{i-1}) = (c2+1) / (c1+V), scored as the per-doc mean log-prob
    over bigram positions.  Bigram pairs come straight from the token
    ARRAY (a transform over sequence) — no positional self-join; the model
    is two map-side-combinable hash aggs (bigram and context counts, the
    context table derived from the bigram table so the corpus is scanned
    once) plus a 1-row broadcast vocab size; scoring is token-keyed joins.
    Per-pair log-probs round(6) then decimal-sum so the per-doc mean is
    order-independent (the unigram query's parity discipline)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # bind the token array to a COLUMN before the per-element lambdas touch
    # it: element_at over the raw split() expression re-evaluates the split
    # per element (O(tokens²) regex work, measured 4× slower at sf0.1)
    dw = d.withColumn("w", whitespace_tokens(F.col("text")))
    w = F.col("w")
    bg = dw.select(
        "doc_id",
        F.explode(
            F.when(
                F.size(w) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.size(w) - 1, F.lit(1))),
                    lambda i: F.struct(
                        F.element_at(w, i).alias("p"),
                        F.element_at(w, i + 1).alias("c"),
                    ),
                ),
            ).otherwise(F.expr("array()").cast("array<struct<p:string,c:string>>"))
        ).alias("b"),
    ).select("doc_id", F.col("b.p").alias("p"), F.col("b.c").alias("c"))
    # pre-aggregate per (doc, bigram): repeated bigrams inside a doc collapse
    # map-side BEFORE any join, and the scoring join ships one row per
    # distinct (doc, bigram) instead of one per position.  Persisted: it
    # feeds both the model derivation and the scoring join — without the
    # persist Spark re-runs the corpus explode per consumer.
    bgc = (
        bg.groupBy("doc_id", "p", "c")
        .agg(F.count(F.lit(1)).alias("k"))
        .persist()
    )
    c2 = bgc.groupBy("p", "c").agg(F.sum("k").alias("n2"))
    c1 = c2.groupBy("p").agg(F.sum("n2").alias("n1"))
    vv = dw.select(F.explode(w).alias("u")).agg(
        F.countDistinct("u").alias("v")
    )
    # score the MODEL table (bigram-vocab-sized), not the corpus — the
    # corpus then needs exactly ONE scoring join
    model = (
        c2.join(c1, "p")
        .join(F.broadcast(vv))
        .select(
            "p",
            "c",
            F.round(
                F.log((F.col("n2") + 1.0) / (F.col("n1") + F.col("v"))), 6
            )
            .cast("decimal(38,12)")
            .alias("logp"),
        )
    )
    scored = bgc.join(model, ["p", "c"]).select(
        "doc_id", "k", (F.col("logp") * F.col("k")).alias("wlogp")
    )
    return scored.groupBy("doc_id").agg(
        F.sum("k").cast("bigint").alias("n_bigrams"),
        F.round(
            F.sum("wlogp").cast("double") / F.sum("k"), 6
        ).alias("avg_logp"),
    )


@register(
    "multimodal_video_frames",
    oracle="""
WITH p AS (
  SELECT doc_id, CAST(2 + doc_id % 3 AS INTEGER) AS nf
  FROM documents WHERE doc_id < 150
)
SELECT doc_id, CAST(f.i AS INTEGER) AS frame_idx,
       CAST(16 + doc_id % 32 AS INTEGER) AS width,
       CAST(8 + doc_id % 16 AS INTEGER) AS height,
       nf AS n_frames, CAST(10.0 AS DOUBLE) AS fps,
       TRUE AS bounded_ok
FROM p, LATERAL (SELECT unnest(range(nf)) AS i) f
""",
    tags=("llm", "multimodal", "video"),
)
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container tier (round 7 — the former video gate, now
    genuinely decoded for MJPEG/AVI): per-doc RIFF/AVI containers are
    synthesized with 2 + id%3 real baseline-JPEG frames
    (sources/avicodec.encode_avi_mjpeg — pure stdlib RIFF framing over the
    repo's own T.81 JPEG codec), then DECODED BACK (decode_avi_mjpeg: RIFF
    chunk walk, avih/strf header parse, per-'00dc' JPEG decode) and every
    frame verified against the recomputed shifted gradient under the
    bounded-error contract.  Round 8: odd ids carry uncompressed BI_RGB
    DIB containers instead (encode_avi_dib — bottom-up BGR '00db' frames,
    bit-exact through the same RIFF walk), so both intra-frame payload
    tiers exercise in one query.  One row per frame; dims/counts/fps
    pinned by the closed-form oracle.  Plan: two chained mapInPandas
    inside the scan partition — no shuffle; frame tensors never leave the
    executor.  MP4/MKV/WebM still need ffmpeg-class inter-frame decoders
    and keep the deterministic-fake gate."""
    from clickhouseocp_spark.sources.multimodal import (
        synthesize_gradient_avi,
        verify_video_frames,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return verify_video_frames(synthesize_gradient_avi(docs))


@register(
    "quality_signals_bundle",
    oracle="""
WITH words AS (
  SELECT doc_id, w, CAST(COUNT(*) AS DOUBLE) AS c
  FROM (
    SELECT doc_id, unnest(list_filter(
             string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS w
    FROM documents WHERE doc_id < 400
  ) t GROUP BY doc_id, w
),
wstats AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_words,
         CAST(COUNT(*) AS BIGINT) AS n_unique,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
         MAX(c) AS top_c,
         SUM(length(w) * c) AS sum_len,
         CAST(SUM(CAST(ROUND(c * ln(c), 8) AS DECIMAL(38,10))) AS DOUBLE)
           AS s_clnc
  FROM words GROUP BY doc_id
),
chars AS (
  SELECT doc_id, ch, CAST(COUNT(*) AS DOUBLE) AS c
  FROM (
    SELECT doc_id, unnest(list_filter(
             string_split_regex(text, ''), x -> x <> '')) AS ch
    FROM documents WHERE doc_id < 400
  ) t GROUP BY doc_id, ch
),
cstats AS (
  SELECT doc_id,
         SUM(c) AS n_chars,
         CAST(SUM(CAST(ROUND(c * ln(c), 8) AS DECIMAL(38,10))) AS DOUBLE)
           AS s_clnc
  FROM chars GROUP BY doc_id
)
SELECT w.doc_id, w.n_words, w.n_unique,
       ROUND(w.n_unique / w.n_words, 6) AS ttr,
       ROUND(w.hapax / w.n_words, 6) AS hapax_frac,
       ROUND(w.top_c / w.n_words, 6) AS top_word_frac,
       ROUND(w.sum_len / w.n_words, 6) AS mean_word_len,
       ROUND(ln(w.n_words) - w.s_clnc / w.n_words, 6) AS word_entropy,
       ROUND(ln(c.n_chars) - c.s_clnc / c.n_chars, 6) AS char_entropy
FROM wstats w JOIN cstats c USING (doc_id)
ORDER BY w.doc_id
""",
    tags=("llm", "quality", "text"),
)
def quality_signals_bundle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity quality signals (round 8) — the RedPajama-V2-style
    per-document signal bundle a curation pipeline thresholds on:
    type-token ratio, hapax fraction, most-common-word mass, mean word
    length, and word/char Shannon entropies.  Plan: two token-keyed hash
    aggs (explode → (doc, token) count, map-side combinable — the same
    shape as tf-idf/BPE, no per-doc quadratic array work) re-aggregated to
    one row per doc.  Entropy uses the ln(n) - Σc·ln(c)/n identity so the
    per-term sum is decimal-routed (round-8 terms, exact merge) —
    partition-order-independent and bit-equal to the oracle's replay."""
    from clickhouseocp_spark.queries.stats_q import _dsum

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    words = (
        docs.select(
            "doc_id",
            F.explode(
                F.filter(
                    F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != ""
                )
            ).alias("w"),
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    wstats = words.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_words"),
        F.count(F.lit(1)).cast("bigint").alias("n_unique"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("hapax"),
        F.max("c").alias("top_c"),
        F.sum(F.length("w") * F.col("c")).alias("sum_len"),
        _dsum(F.col("c") * F.log(F.col("c")), "s_clnc"),
    )
    chars = (
        docs.select(
            "doc_id",
            F.explode(
                F.filter(F.split(F.col("text"), ""), lambda x: x != "")
            ).alias("ch"),
        )
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    cstats = chars.groupBy("doc_id").agg(
        F.sum("c").alias("n_chars"),
        _dsum(F.col("c") * F.log(F.col("c")), "s_clnc2"),
    )
    nw = F.col("n_words").cast("double")
    return (
        wstats.join(cstats, "doc_id")
        .select(
            "doc_id",
            "n_words",
            "n_unique",
            F.round(F.col("n_unique") / nw, 6).alias("ttr"),
            F.round(F.col("hapax") / nw, 6).alias("hapax_frac"),
            F.round(F.col("top_c") / nw, 6).alias("top_word_frac"),
            F.round(F.col("sum_len") / nw, 6).alias("mean_word_len"),
            F.round(F.log(nw) - F.col("s_clnc") / nw, 6).alias("word_entropy"),
            F.round(
                F.log(F.col("n_chars")) - F.col("s_clnc2") / F.col("n_chars"), 6
            ).alias("char_entropy"),
        )
        .orderBy("doc_id")
    )


@register(
    "quality_classifier_nb",
    oracle="""
WITH d AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS cls,
         string_split(text, ' ') AS w FROM documents),
tok AS (SELECT doc_id, cls, unnest(w) AS t FROM d),
cnt AS (SELECT t, SUM(cls) AS n_en, SUM(1 - cls) AS n_ot
        FROM tok GROUP BY t),
tot AS (SELECT SUM(n_en) AS te, SUM(n_ot) AS to_, COUNT(*) AS v FROM cnt),
wt AS (
  SELECT t, CAST(ROUND(ln((n_en + 1.0) / (te + v))
                 - ln((n_ot + 1.0) / (to_ + v)), 6)
            AS DECIMAL(38,12)) AS w
  FROM cnt, tot),
pri AS (
  SELECT ROUND(ln((SUM(CASE WHEN cls = 1 THEN 1 ELSE 0 END) + 1.0)
               / (SUM(CASE WHEN cls = 0 THEN 1 ELSE 0 END) + 1.0)), 6)
         AS p
  FROM (SELECT DISTINCT doc_id, cls FROM tok))
SELECT tok.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
       ROUND(CAST(SUM(wt.w) AS DOUBLE) + (SELECT p FROM pri), 6) AS score,
       (CAST(SUM(wt.w) AS DOUBLE) + (SELECT p FROM pri)) > 0 AS pred
FROM tok JOIN wt ON tok.t = wt.t
GROUP BY tok.doc_id ORDER BY tok.doc_id
""",
    tags=("llm", "text", "quality", "classifier"),
)
def quality_classifier_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive-Bayes log-odds quality/language classifier TRAINED AND
    APPLIED in one query (round 10) — the CCNet/DCLM fastText-filter
    shape: token log-odds weights w(t) = ln P(t|en) − ln P(t|rest) with
    Laplace smoothing, doc score = class prior + Σ w over token
    INSTANCES, label = score > 0.

    100 TB shape (the DSIR/bigram-LM discipline): ONE tokenize-explode
    feeds both the model (a token-keyed map-combinable hash aggregate —
    the weight table is vocabulary-sized, NOT corpus-sized) and the
    scoring join (token-keyed, broadcastable when the vocab fits); the
    1-row totals and prior broadcast.  Per-token weights round(6) then
    DECIMAL(38,12)-sum so the per-doc score is merge-order-independent
    (the parity discipline).  Cites reference Dockerfile:102-104 (the
    pinned engine serves the same filter-scoring workloads via
    groupBy/join)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return nb_classifier_scores(d)


def nb_classifier_scores(d: DataFrame) -> DataFrame:
    """The quality_classifier_nb core over any (doc_id, lang, text)
    relation — exposed for the planted-signal pytest.

    The DSIR pre-agg restructure: ONE tokenize-explode collapses to
    per-(doc, token) counts immediately, and that small relation feeds
    BOTH the model aggregate and the scoring join — the shuffle carries
    (doc, token, m) rows, never raw token instances, and Spark's
    shuffle-file reuse serves the shared stage to both consumers."""
    tok = d.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("cls"),
        F.explode(whitespace_tokens(F.col("text"))).alias("t"),
    )
    dt = tok.groupBy("doc_id", "cls", "t").agg(
        F.count(F.lit(1)).alias("m")
    )
    cnt = dt.groupBy("t").agg(
        F.sum(F.when(F.col("cls") == 1, F.col("m")).otherwise(0)).alias("n_en"),
        F.sum(F.when(F.col("cls") == 0, F.col("m")).otherwise(0)).alias("n_ot"),
    )
    tot = cnt.agg(
        F.sum("n_en").alias("te"),
        F.sum("n_ot").alias("to_"),
        F.count(F.lit(1)).alias("v"),
    )
    wt = cnt.crossJoin(F.broadcast(tot)).select(
        "t",
        F.round(
            F.log((F.col("n_en") + 1.0) / (F.col("te") + F.col("v")))
            - F.log((F.col("n_ot") + 1.0) / (F.col("to_") + F.col("v"))),
            6,
        )
        .cast("decimal(38,12)")
        .alias("w"),
    )
    pri = (
        dt.select("doc_id", "cls")
        .distinct()
        .agg(
            F.round(
                F.log(
                    (F.sum(F.when(F.col("cls") == 1, 1).otherwise(0)) + 1.0)
                    / (F.sum(F.when(F.col("cls") == 0, 1).otherwise(0)) + 1.0)
                ),
                6,
            ).alias("p")
        )
    )
    return (
        dt.join(wt, "t")
        .groupBy("doc_id")
        .agg(
            F.sum("m").alias("n_tok"),
            F.sum(F.col("w") * F.col("m").cast("decimal(18,0)")).alias("sw"),
        )
        .crossJoin(F.broadcast(pri))
        .select(
            "doc_id",
            "n_tok",
            F.round(F.col("sw").cast("double") + F.col("p"), 6).alias("score"),
            ((F.col("sw").cast("double") + F.col("p")) > 0).alias("pred"),
        )
        .orderBy("doc_id")
    )
