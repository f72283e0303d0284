"""Structured Streaming slice (SURVEY.md §2.9).

ClickHouse's streaming story as shipped by the reference image: integration
engines (Kafka/NATS/RabbitMQ) feed **materialized views** — every inserted
block is transformed and appended to a target table (the image's own
query_log flows this way, Dockerfile:225-230); WindowView adds tumble/hop
windows with WATERMARK.  The Spark-native mapping:

- engine + MV pipeline  → ``readStream`` → transform → ``writeStream``
  (:func:`materialized_view`, foreachBatch append + read-back merge)
- WindowView tumble/hop → ``F.window`` + ``withWatermark``
- (beyond CH) session windows → ``F.session_window``
- ReplacingMergeTree-on-ingest dedup → ``dropDuplicates`` with state

Tests/driver checks run bounded file streams with ``availableNow`` triggers
so streaming results are comparable to batch oracles — the same discipline
ClickHouse upstream uses for its stateless streaming tests.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from clickhouseocp_spark.catalog import parquet_schema


_STREAM_DIRS: dict[str, str] = {}


def _staged_dir(path: str) -> str:
    """The file stream source lists a DIRECTORY; the fixture is a single
    read-only file → stage a symlink inside a temp dir (no byte copy)."""
    import os

    if path not in _STREAM_DIRS:
        d = tempfile.mkdtemp(prefix="stream_src_")
        os.symlink(path, os.path.join(d, os.path.basename(path)))
        _STREAM_DIRS[path] = d
    return _STREAM_DIRS[path]


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture as a bounded file stream (same nanos handling as
    the batch catalog: read ts as int64, floor-divide to micros)."""
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    raw_schema = parquet_schema(spark, path)[0]
    stream = spark.readStream.schema(raw_schema).parquet(_staged_dir(path))
    ts_type = {f.name: f.dataType.simpleString() for f in raw_schema.fields}.get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(div(ts, 1000))"))
    elif ts_type == "timestamp_ntz":
        # watermarks require TIMESTAMP; session tz is pinned UTC so the cast
        # is the identity map on the wall-clock values
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _drain(writer) -> None:
    """Run a streaming write with a one-shot availableNow trigger until it
    has drained its bounded input.  The checkpoint lives in a temp dir that
    is removed once the query has stopped, whether it finished or failed."""
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        q = (
            writer.trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def run_available_now(stream_df: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Execute a bounded streaming query to a memory sink and return the
    result table (one-shot availableNow trigger — drains everything, then
    stops; the pattern for batch-checking streaming semantics)."""
    name = f"mv_{uuid.uuid4().hex[:12]}"
    _drain(
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
    )
    return stream_df.sparkSession.table(name)


def materialized_view(
    stream_df: DataFrame,
    target_dir: str | None = None,
) -> tuple[str, object]:
    """MaterializedView analog: every micro-batch is appended to a parquet
    target table (insert-trigger semantics, Dockerfile:225-230 pattern).
    Returns (target_dir, streaming_query_handle); read the target with
    ``spark.read.parquet(target_dir)`` and re-aggregate for the merged view
    (the AggregatingMergeTree read pattern)."""
    target_dir = target_dir or tempfile.mkdtemp(prefix="mv_target_")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("__batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(target_dir)

    q = (
        stream_df.writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .start()
    )
    return target_dir, q


def tumbling_window_counts(
    stream: DataFrame, window: str = "1 day", watermark: str = "1 hour"
) -> DataFrame:
    """WindowView tumble analog: counts + decimal sums per (event_type,
    window); watermark bounds state (late rows beyond it are dropped —
    ClickHouse instead lands them in old partitions, SURVEY §2.9)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("event_type", F.window("ts", window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"),
        )
        .select(
            "event_type",
            F.col("w.start").alias("win_start"),
            "n",
            "sum_value",
        )
    )


def hopping_window_counts(
    stream: DataFrame,
    window: str = "1 day",
    slide: str = "6 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """WindowView HOP analog (SURVEY §2.9): overlapping windows of ``window``
    length every ``slide``; each event lands in window/slide windows.  Same
    partial-agg shuffle shape as tumble — ``F.window`` expands the window set
    map-side before the combine, so the shuffle carries (type, window) partial
    rows, not events."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("event_type", F.window("ts", window, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"),
        )
        .select(
            "event_type",
            F.col("w.start").alias("win_start"),
            "n",
            "sum_value",
        )
    )


def kafka_available(spark: SparkSession) -> bool:
    """True iff the spark-sql-kafka connector jars are on the classpath.
    The reference image ships Kafka/NATS/RabbitMQ engines (SURVEY §2.1); this
    container has no connector jars, so the Kafka path is availability-gated
    exactly like the Avro format (tests skip cleanly when absent)."""
    try:
        spark.readStream.format("kafka").option(
            "kafka.bootstrap.servers", "localhost:9092"
        ).option("subscribe", "__probe__").load()
        return True
    except Exception as e:  # DATA_SOURCE_NOT_FOUND / ClassNotFound
        msg = str(e)
        if "kafka" in msg.lower() and ("NOT_FOUND" in msg or "ClassNotFound" in msg or "Failed to find" in msg):
            return False
        return True  # source resolved; broker errors surface at query start


def kafka_events_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka-engine analog (config-gated): subscribe and project the CH Kafka
    virtual-column surface (_topic/_partition/_offset/_timestamp + raw value).
    Parse the payload downstream with from_json/from_csv — the same
    JSONEachRow-style contract the reference's Kafka engine uses.  Raises a
    clear error when the connector jars are absent (``kafka_available``)."""
    if not kafka_available(spark):
        raise RuntimeError(
            "spark-sql-kafka connector not on the classpath; add the "
            "org.apache.spark:spark-sql-kafka-0-10 package to enable the "
            "Kafka source (availability-gated like Avro in this container)"
        )
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return raw.select(
        F.col("topic").alias("_topic"),
        F.col("partition").alias("_partition"),
        F.col("offset").alias("_offset"),
        F.col("timestamp").alias("_timestamp"),
        F.col("key").cast("string").alias("_key"),
        F.col("value").cast("string").alias("value"),
    )


def session_window_stats(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user (exceeds the reference — CH has no session
    windows, SURVEY §2.9)."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


def streaming_dedup_counts(stream: DataFrame) -> DataFrame:
    """ReplacingMergeTree-on-ingest analog: stateful dropDuplicates on
    (user_id, event_type), then counts per type."""
    return (
        stream.select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique_users"))
    )


def stateful_running_totals(stream: DataFrame) -> DataFrame:
    """Arbitrary stateful transform (SURVEY §2.9 last row — beyond CH's
    surface): per-event_type running (count, exact cent-sum) state carried
    across micro-batches via ``applyInPandasWithState``.  Each batch emits
    the updated cumulative totals for the keys it touched; totals are
    monotone, so the final row per key is the grand total.

    State is integer cents (2-decimal fixture values), so accumulation is
    exact and engine-independent; state size is O(#event_types) — bounded
    regardless of stream length.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int((pdf["value"] * 100).round().astype("int64").sum())
        state.update((n, cents))
        import pandas as pd

        yield pd.DataFrame(
            {"event_type": [key[0]], "n": [n], "total_cents": [cents]}
        )

    return (
        stream.select("event_type", "value")
        .groupBy("event_type")
        .applyInPandasWithState(
            update,
            outputStructType="event_type string, n bigint, total_cents bigint",
            stateStructType="n bigint, cents bigint",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_stream_interval_join(
    events: DataFrame,
    left_type: str = "click",
    right_type: str = "purchase",
    within: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition — the
    attribution shape (purchase within N minutes of a click by the same
    user).  Both sides carry watermarks so Spark can bound the join state:
    buffered left rows are dropped once the right watermark passes
    ``left.ts + within`` (state is O(rate x window), not O(stream)).
    Append-mode output; with a bounded availableNow batch the result equals
    the batch interval join (the oracle)."""
    left = (
        events.filter(F.col("event_type") == left_type)
        .select(
            F.col("user_id").alias("l_user"),
            F.col("ts").alias("l_ts"),
            F.col("event_id").alias("l_id"),
        )
        .withWatermark("l_ts", watermark)
    )
    right = (
        events.filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
            F.col("event_id").alias("r_id"),
        )
        .withWatermark("r_ts", watermark)
    )
    return left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}")),
    ).select(
        F.col("l_user").alias("user_id"),
        F.col("l_id").alias("click_id"),
        F.col("r_id").alias("purchase_id"),
    )


def foreach_batch_upsert(
    stream: DataFrame,
    target_dir: str,
    key_col: str = "user_id",
    version_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> str:
    """ReplacingMergeTree as a streaming SINK: every micro-batch is merged
    into a parquet target keeping the max-(version, tiebreak) row per key —
    the ``foreachBatch`` upsert pattern (exactly-once per batch: the merge
    is deterministic and idempotent, re-running a replayed batch converges
    to the same table).

    Merge = read current target ∪ batch → one max_by hash agg per key →
    write to a fresh directory → atomic swap.  At scale the same shape runs
    against a partitioned table with dynamic partition overwrite, merging
    only the partitions the batch touches.  Returns ``target_dir``."""
    import os

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cols = batch_df.columns
        if os.path.exists(os.path.join(target_dir, "_SUCCESS")):
            current = spark.read.parquet(target_dir)
            unioned = current.unionByName(batch_df)
        else:
            unioned = batch_df
        folded = (
            unioned.groupBy(key_col)
            .agg(
                F.max_by(
                    F.struct(*[c for c in cols if c != key_col]),
                    F.struct(version_col, tiebreak_col),
                ).alias("__row")
            )
            .select(
                key_col,
                *[F.col(f"__row.{c}").alias(c) for c in cols if c != key_col],
            )
        )
        tmp = target_dir + f".batch{batch_id}"
        folded.write.mode("overwrite").parquet(tmp)
        if os.path.exists(target_dir):
            shutil.rmtree(target_dir)
        os.replace(tmp, target_dir)

    _drain(stream.writeStream.foreachBatch(merge))
    return target_dir


def foreach_batch_sketch_rollup(
    stream: DataFrame,
    target_dir: str,
    keys: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    alpha: float = 0.01,
) -> str:
    """AggregatingMergeTree as a streaming MV (the reference's most
    distinctive streaming pattern: Kafka → materialized view →
    AggregatingMergeTree holding -State columns, estimates computed at read
    time): every micro-batch computes DDSketch partial states
    (operators/sketches.quantile_dd_partial) and merges them into a
    persistent parquet STATE table.

    The merge is exact and associative (bucket-wise count sums), so any
    batch split — replays included — converges to the same state table as a
    single batch over all rows; pytest pins that equality.  At scale the
    state table is |keys| × occupied-buckets rows regardless of stream
    volume, and the read-time estimate never rescans events."""
    import os

    from clickhouseocp_spark.operators.sketches import (
        quantile_dd_merge,
        quantile_dd_partial,
    )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        partial = quantile_dd_partial(batch_df, list(keys), value_col, alpha)
        if os.path.exists(os.path.join(target_dir, "_SUCCESS")):
            unioned = spark.read.parquet(target_dir).unionByName(partial)
        else:
            unioned = partial
        folded = quantile_dd_merge(unioned, list(keys))
        tmp = target_dir + f".batch{batch_id}"
        folded.write.mode("overwrite").parquet(tmp)
        if os.path.exists(target_dir):
            shutil.rmtree(target_dir)
        os.replace(tmp, target_dir)

    _drain(stream.writeStream.foreachBatch(merge))
    return target_dir


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents fixture as a bounded file stream (plain schema — no
    nanos handling needed)."""
    import os

    path = os.path.join(sf_dir, "documents.parquet")
    schema = parquet_schema(spark, path)[0]
    return spark.readStream.schema(schema).parquet(_staged_dir(path))


def foreach_batch_postings_rollup(
    stream: DataFrame,
    target_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> str:
    """Incrementally-maintained full-text index (the CH `full_text` index
    under a Kafka→MV pipeline): every micro-batch tokenizes its new
    documents into postings (operators/fulltext.build_fulltext_index) and
    set-unions them into a persistent parquet postings table.

    Set union is exact and associative, so any batch split — replays
    included — converges to the same postings table as one batch over all
    rows (the same contract as the DDSketch rollup, with exact instead of
    sketched state).  At 100 TB the merge is an append of the batch's
    postings partitioned by token_bucket + periodic per-bucket distinct
    compaction — here the bounded fixture uses the simpler
    union-distinct-replace."""
    import os

    from clickhouseocp_spark.operators.fulltext import build_fulltext_index

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        postings = build_fulltext_index(
            batch_df, text_col=text_col, id_col=id_col, n_buckets=n_buckets
        )
        if os.path.exists(os.path.join(target_dir, "_SUCCESS")):
            postings = spark.read.parquet(target_dir).unionByName(postings)
        folded = postings.distinct()
        tmp = target_dir + f".batch{batch_id}"
        folded.write.mode("overwrite").parquet(tmp)
        if os.path.exists(target_dir):
            shutil.rmtree(target_dir)
        os.replace(tmp, target_dir)

    _drain(stream.writeStream.foreachBatch(merge))
    return target_dir


def streaming_scan_machine(
    stream: DataFrame,
    steps: tuple[str, ...] = ("signup", "click", "purchase"),
    key: str = "user_id",
) -> DataFrame:
    """The KQL ``scan`` row machine on UNBOUNDED input (round 8): a greedy
    linear step machine per key carried across micro-batches via
    ``applyInPandasWithState`` — the streaming analog of the batch
    ``partition by k (... | scan ...)`` lowering, and the operator tier a
    real-time funnel pipeline runs on.

    State per key = (current_step, match_id) — O(1) regardless of stream
    length, no row buffering.  Each batch's rows for a key are processed in
    (ts, event_id) order; a row matching the next-needed step is emitted
    with its match ordinal, completing the last step resets the machine.

    Correctness contract (documented): rows must arrive in event order per
    key ACROSS micro-batches (in-order source, or an upstream
    watermark-buffered reorder); within a batch the kernel sorts.  The
    bounded-input drain equals the batch scan exactly — pinned by the
    registry oracle — and cross-batch state is pinned by a two-batch
    pytest."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    steps_l = list(steps)

    def update(key_t, pdfs, state: GroupState):
        import pandas as pd

        cur, mid = state.get if state.exists else (0, 0)
        out_ts, out_et, out_mid = [], [], []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for ts, et in zip(pdf["ts"], pdf["event_type"]):
                if et == steps_l[cur]:
                    out_ts.append(ts)
                    out_et.append(et)
                    out_mid.append(mid)
                    cur += 1
                    if cur == len(steps_l):
                        cur, mid = 0, mid + 1
        state.update((int(cur), int(mid)))
        yield pd.DataFrame(
            {
                key: [key_t[0]] * len(out_ts),
                "ts": out_ts,
                "event_type": out_et,
                "m": out_mid,
            }
        )

    return (
        stream.select(key, "ts", "event_id", "event_type")
        .groupBy(key)
        .applyInPandasWithState(
            update,
            outputStructType=f"{key} bigint, ts timestamp, "
            "event_type string, m bigint",
            stateStructType="cur int, mid bigint",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_scan_concurrent(
    stream: DataFrame,
    step_sets: tuple[tuple[str, ...], ...] = (
        ("signup",),
        ("click", "purchase"),
    ),
    key: str = "user_id",
) -> DataFrame:
    """The Kusto-FAITHFUL concurrent ``scan`` machine set on UNBOUNDED
    input (round 9) — the streaming twin of ``scan kind=concurrent``:
    at most one active sequence per step; per row, promotion (the
    step-(k−1) sequence matching step k's predicate) replaces whatever
    sequence sat at slot k, absorption keeps a sequence accumulating
    within its step, and step 1 starts a new sequence only into an
    empty/vacated slot; sequences never retire; match_id is unique per
    sequence, assigned at creation.

    State per key = (seq counter, one mid per slot; −1 = empty) —
    O(steps) regardless of stream length, carried across micro-batches
    by ``applyInPandasWithState``.  Same in-order-per-key arrival
    contract as the greedy streaming machine."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    sets = [frozenset(s) for s in step_sets]
    n = len(sets)

    def update(key_t, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            st = state.get
            seq, slots = st[0], list(st[1])
        else:
            seq, slots = 0, [-1] * n
        out_ts, out_et, out_mid = [], [], []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for ts, et in zip(pdf["ts"], pdf["event_type"]):
                hit = [et in s for s in sets]
                promo = [
                    k >= 1 and slots[k - 1] != -1 and hit[k]
                    for k in range(n)
                ]
                new_slots = list(slots)
                # slots last→first so promotions read pre-row state
                for k in range(n - 1, 0, -1):
                    vacated = k + 1 < n and promo[k + 1]
                    if promo[k]:
                        out_ts.append(ts)
                        out_et.append(et)
                        out_mid.append(slots[k - 1])
                        new_slots[k] = slots[k - 1]
                    elif slots[k] != -1 and not vacated and hit[k]:
                        out_ts.append(ts)
                        out_et.append(et)
                        out_mid.append(slots[k])
                vacated1 = n > 1 and promo[1]
                if slots[0] != -1 and not vacated1:
                    if hit[0]:
                        out_ts.append(ts)
                        out_et.append(et)
                        out_mid.append(slots[0])
                else:
                    if hit[0]:
                        out_ts.append(ts)
                        out_et.append(et)
                        out_mid.append(seq)
                        new_slots[0] = seq
                        seq += 1
                    elif vacated1:
                        new_slots[0] = -1
                slots = new_slots
        state.update((int(seq), [int(s) for s in slots]))
        yield pd.DataFrame(
            {
                key: [key_t[0]] * len(out_ts),
                "ts": out_ts,
                "event_type": out_et,
                "m": out_mid,
            }
        )

    return (
        stream.select(key, "ts", "event_id", "event_type")
        .groupBy(key)
        .applyInPandasWithState(
            update,
            outputStructType=f"{key} bigint, ts timestamp, "
            "event_type string, m bigint",
            stateStructType="seq bigint, slots array<bigint>",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
