"""Per-query set-up that does not depend on the query is paid once per
session: parquet schema inference, UDF registration, and list-built frames
that would otherwise start Python workers."""

import datetime as dt
import decimal
import glob
import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

from clickhouseocp_spark.catalog import load_table, local_frame


def _jobs_in(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("tests-idle", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_table_launches_no_job(spark, sf_dir):
    _jobs_in(spark, "load-first", lambda: load_table(spark, sf_dir, "orders"))
    assert _jobs_in(
        spark, "load-second", lambda: load_table(spark, sf_dir, "orders")
    ) == 0
    # the nanos-timestamp table takes the same path
    _jobs_in(spark, "ev-first", lambda: load_table(spark, sf_dir, "events"))
    assert _jobs_in(
        spark, "ev-second", lambda: load_table(spark, sf_dir, "events")
    ) == 0


def test_self_join_of_two_loads_resolves(spark, sf_dir):
    """Each load is a fresh relation with its own attribute ids, so the
    join condition compares two sides, not a column with itself."""
    from pyspark.sql import functions as F

    a = load_table(spark, sf_dir, "lineitem")
    b = load_table(spark, sf_dir, "lineitem")
    j = a.join(b, a["l_orderkey"] == b["l_orderkey"])
    per_key = a.groupBy("l_orderkey").count()
    want = per_key.agg(F.sum(F.col("count") * F.col("count"))).first()[0]
    assert j.count() == want < a.count() ** 2


def test_rewritten_file_is_read_with_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


def test_engine_registers_udfs_once_per_session(spark, sf_dir, monkeypatch):
    import clickhouseocp_spark.engine as engine
    import clickhouseocp_spark.functions.text as text

    calls = []
    real = text.register_ch_udfs
    monkeypatch.setattr(engine, "_UDF_SESSIONS", set())
    monkeypatch.setattr(
        text, "register_ch_udfs", lambda s: (calls.append(1), real(s))
    )
    engine.ChSparkEngine(sf_dir, spark)
    eng = engine.ChSparkEngine(sf_dir, spark)
    assert len(calls) == 1
    r = eng.sql("SELECT jaroSimilarity('MARTHA', 'MARHTA') AS s").first()
    assert round(r.s, 6) == 0.944444


def test_local_frame_is_a_local_relation_with_create_dataframe_rows(spark):
    schema = (
        "a bigint, b int, c boolean, d int, e array<double>, f timestamp, "
        "g decimal(18,6), h string"
    )
    rows = [
        (
            1 << 40, 7, True, None, [1.5, None, -2.0],
            dt.datetime(2024, 1, 2, 3, 4, 5, 6), decimal.Decimal("12.345678"),
            None,
        )
    ]
    df = local_frame(spark, rows, schema)
    plan = df._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    ref = spark.createDataFrame(rows, schema)
    assert df.schema == ref.schema
    assert df.collect() == ref.collect()
    assert local_frame(spark, [], "x string").collect() == []


def test_run_available_now_leaves_no_checkpoint_dir(spark, sf_dir):
    from pyspark.sql import functions as F

    from clickhouseocp_spark.streaming.pipeline import (
        events_stream,
        run_available_now,
    )

    def ckpts():
        return len(glob.glob(os.path.join(tempfile.gettempdir(), "ckpt_*")))

    before = ckpts()
    out = run_available_now(
        events_stream(spark, sf_dir).groupBy("event_type").agg(F.count("*"))
    )
    assert out.count() > 0
    assert ckpts() == before
