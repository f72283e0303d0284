"""DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
2023, public method): pick raw-corpus documents whose hashed-n-gram
distribution looks like a target corpus.  The selection step an LLM data
pipeline runs between "crawl" and "train" when a small high-quality target
set (wiki/books) should steer what survives from 100 TB of crawl.

Spark-first decomposition (matches the paper's bag-of-hashed-features
variant, unigram instance):

1. **Feature hashing** — tokens bucket by a PORTABLE md5-prefix hash
   (``conv(substr(md5(tok),1,8),16,10) % B`` — the same expression DuckDB
   evaluates as ``CAST('0x'||substr(md5(t),1,8) AS BIGINT) % B``), so
   oracles replay selection exactly.  B is small (1024): the fitted model
   is a B-row table.
2. **Fit** — bucket counts over target and raw (two hash aggregations);
   per-bucket log-ratio ``ln((ct_b+1)/(cr_b+1))`` with add-one smoothing,
   rounded to 6 dp and carried as DECIMAL(18,6) so the per-document SUM is
   exact and order-independent (the repo's fsum rule).  The normalizing
   constant ``ln((Nr+B)/(Nt+B))`` enters once per token.
3. **Score** — broadcast the B-row ratio table onto the exploded raw
   tokens; one doc-keyed aggregation yields ``log w(doc)``.
4. **Resample** — Gumbel-top-k: key = log w + Gumbel(md5(doc_id)) —
   deterministic, seedable, and equivalent to sampling without replacement
   proportionally to w (public Gumbel-max result).  ORDER BY key LIMIT k
   lowers to Spark's distributed TakeOrdered (per-partition heaps, no full
   sort).

At 100 TB: stages 1-3 are two token-keyed hash aggregations plus one
broadcast join — the model is B rows regardless of corpus size; stage 4
ships k rows per partition.  Nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: feature-hash buckets (the fitted model is this many rows)
N_BUCKETS = 1024


def _tokens(df: DataFrame, text_col: str, id_col: str, flag=None) -> DataFrame:
    """(id, bucket[, __t]) per token instance — lowercase alnum
    tokenization, portable md5-prefix bucket hash.  ``flag`` (a boolean
    Column over ``df``'s rows) rides along as ``__t`` so a target subset
    can be tagged without a second tokenization pass."""
    extra = [flag.alias("__t")] if flag is not None else []
    tok = df.select(
        F.col(id_col),
        *extra,
        F.explode(F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")).alias("t"),
    ).filter(F.col("t") != "")
    return tok.select(
        id_col,
        *(["__t"] if flag is not None else []),
        (F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("long")
         % N_BUCKETS).alias("b"),
    )


def dsir_weights(
    raw: DataFrame, target: DataFrame, text_col: str = "text",
    id_col: str = "doc_id", target_flag=None,
) -> DataFrame:
    """(id_col, n_tokens, logw): per-document log importance weight of the
    hashed-unigram target/raw model.  Docs with zero tokens drop out.

    ``target_flag``: when the target corpus is a filtered SUBSET of
    ``raw`` (the common in-pipeline case), pass the membership predicate
    as a Column over raw's rows instead of a second frame (``target`` is
    then ignored) — the target bucket counts become a conditional sum
    over the single tokenization's pre-agg, identical integers to
    tokenizing the subset again, and the second corpus scan+split+explode
    disappears."""
    if target is None and target_flag is None:
        raise ValueError("target or target_flag required")
    # per-(doc,bucket) PRE-AGG feeds BOTH the model fit and the scoring
    # join (the bigram-LM shape, SCALE.md): the corpus tokenizes ONCE —
    # without it the explode branch re-executes for each consumer — and
    # the broadcast join ships (doc,bucket,count) rows, not token
    # instances (≥10× fewer for natural text)
    if target_flag is not None:
        # __t is constant per doc, so (id, b, __t) has the cardinality of
        # (id, b): the flag adds a column, not rows, to the persisted state
        db_rt = (
            _tokens(raw, text_col, id_col, flag=target_flag)
            .groupBy(id_col, "b", "__t")
            .agg(F.count("*").alias("c"))
            .persist()
        )
        ct = (
            db_rt.filter(F.col("__t"))
            .groupBy("b")
            .agg(F.sum("c").alias("ct"))
        )
        db_r = db_rt.drop("__t")
    else:
        db_r = (
            _tokens(raw, text_col, id_col)
            .groupBy(id_col, "b")
            .agg(F.count("*").alias("c"))
            .persist()
        )
        ct = _tokens(target, text_col, id_col).groupBy("b").agg(
            F.count("*").alias("ct")
        )
    cr = db_r.groupBy("b").agg(F.sum("c").alias("cr"))
    totals = cr.agg(F.sum("cr").alias("nr")).crossJoin(
        ct.agg(F.sum("ct").alias("nt"))
    )
    ratio = (
        cr.join(ct, "b", "left")
        .select(
            "b",
            F.round(
                F.log((F.coalesce("ct", F.lit(0)) + F.lit(1.0))
                      / (F.col("cr") + F.lit(1.0))),
                6,
            ).cast("decimal(18,6)").alias("term"),
        )
    )
    scored = (
        db_r.join(F.broadcast(ratio), "b")
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("term") * F.col("c")).alias("s"),
        )
        .crossJoin(
            F.broadcast(
                totals.select(
                    F.round(
                        F.log((F.col("nr") + F.lit(float(N_BUCKETS)))
                              / (F.col("nt") + F.lit(float(N_BUCKETS)))),
                        6,
                    ).cast("decimal(18,6)").alias("c0")
                )
            )
        )
    )
    return scored.select(
        id_col,
        "n_tokens",
        (F.col("s") + F.col("n_tokens") * F.col("c0")).alias("_logw_dec"),
    ).select(
        id_col, "n_tokens", F.col("_logw_dec").cast("double").alias("logw"),
        F.col("_logw_dec").alias("_logw_dec"),
    )


def dsir_select(
    raw: DataFrame, target: DataFrame, k: int, text_col: str = "text",
    id_col: str = "doc_id", target_flag=None,
) -> DataFrame:
    """Top-k Gumbel resampling: (id_col, n_tokens, logw, key), the k raw
    documents selected ∝ importance weight, deterministically (the Gumbel
    noise derives from md5(id) — reproducible across engines and runs).
    ``target_flag``: see dsir_weights — subset targets fit from the single
    tokenization pass."""
    w = dsir_weights(raw, target, text_col, id_col, target_flag=target_flag)
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("double") + F.lit(0.5)
    ) / F.lit(4294967296.0)
    g = F.round(-F.log(-F.log(u)), 6).cast("decimal(18,6)")
    keyed = w.select(
        id_col, "n_tokens", "logw",
        (F.col("_logw_dec") + g).cast("double").alias("key"),
    )
    return keyed.orderBy(F.col("key").desc(), F.col(id_col)).limit(k)
