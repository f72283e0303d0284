"""Round-16 optimization gates: the restructured operators keep their
semantics (fixture-level equivalence) and their new plan shapes (no
collect-the-group buffers, bounded window inputs)."""

import pytest
from pyspark.sql import functions as F

from clickhouseocp_spark.plans.inspect import formatted_plan
from clickhouseocp_spark.queries import all_queries

QS = all_queries()


# ---------------------------------------------------------------------------
# quantile_dd_state_merge: rank-based exact companion
# ---------------------------------------------------------------------------


def test_quantile_dd_exact_companion_has_no_group_buffers(spark, sf_dir):
    """r15 verdict #1: the exact companion must not materialize a per-group
    array (collect_list) or value map (percentile) — order statistics come
    from the distinct-value cumulative-count window."""
    plan = formatted_plan(QS["quantile_dd_state_merge"].fn(spark, sf_dir))
    assert "collect_list(value" not in plan, plan
    assert "percentile(" not in plan, plan
    assert "Window" in plan  # the rank machinery that replaced them


def test_quantile_dd_matches_bruteforce_order_stats(spark, sf_dir):
    """The windowed rank formulation reproduces sort_array(collect_list())
    order statistics and Spark's percentile() interpolation exactly."""
    from clickhouseocp_spark.catalog import load_table

    rows = {
        r.event_type: r
        for r in QS["quantile_dd_state_merge"].fn(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    brute = {
        r.event_type: r
        for r in ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.50)"), 6).alias("q50"),
            F.round(F.expr("percentile(value, 0.90)"), 6).alias("q90"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("q99"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert set(rows) == set(brute)
    for et, r in rows.items():
        b = brute[et]
        assert (r.exact_q50, r.exact_q90, r.exact_q99, r.n) == (
            b.q50,
            b.q90,
            b.q99,
            b.n,
        )
        assert r.dd_ok is True


# ---------------------------------------------------------------------------
# topk_state_merge: salted two-level top-5 (no m=1M array states)
# ---------------------------------------------------------------------------


def test_topk_state_merge_query_has_no_array_states(spark, sf_dir):
    plan = formatted_plan(QS["topk_state_merge"].fn(spark, sf_dir))
    # no un-truncated per-group state arrays: the old path assembled
    # topk_state arrays per (event_type, day) and re-exploded them in the
    # merge; the only aggregation list left is the k<=5 render above both
    # row_number filters
    assert "topk_state" not in plan, plan
    assert "explode" not in plan, plan
    assert "row_number" in plan


def test_topk_state_merge_matches_bruteforce(spark, sf_dir):
    from clickhouseocp_spark.catalog import load_table

    got = {
        r.event_type: r.top5
        for r in QS["topk_state_merge"].fn(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    counted = (
        ev.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    per_type: dict = {}
    for r in counted:
        per_type.setdefault(r.event_type, []).append((r.user_id, r.cnt))
    for et, items in per_type.items():
        items.sort(key=lambda x: (-x[1], str(x[0])))
        want = ",".join(f"{u}:{c}" for u, c in items[:5])
        assert got[et] == want


# ---------------------------------------------------------------------------
# line_dedup_c4: viral-line skew fixture + bounded window input
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def viral_sf_dir(spark, tmp_path_factory):
    """A corpus where ONE 10-word line is shared by every document — the
    skew case the distinct-(doc, chunk) pre-agg bounds (r15 verdict #6)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = str(tmp_path_factory.mktemp("viral_sf"))
    viral = " ".join(f"viral{i}" for i in range(10))
    tbl = pa.table(
        {
            "doc_id": pa.array(range(200), pa.int64()),
            "text": [
                viral + " " + " ".join(f"u{i}w{j}" for j in range(10))
                for i in range(200)
            ],
        }
    )
    pq.write_table(tbl, f"{out}/documents.parquet")
    return out


def test_line_dedup_viral_line_dropped_everywhere(spark, viral_sf_dir):
    rows = QS["line_dedup_c4"].fn(spark, viral_sf_dir).collect()
    originals = [r for r in rows if r.doc_id < 1_000_000]
    assert len(originals) == 200
    for r in originals:
        # chunk 0 is the viral line (shared by all docs) -> dropped;
        # chunk 1 is the per-doc unique tail -> kept
        assert r.n_chunks == 2
        assert r.n_dropped == 1
        assert r.kept_text.startswith(f"u{r.doc_id}w0 ")
        assert "viral" not in r.kept_text


def test_line_dedup_window_input_is_deduplicated(spark, sf_dir):
    """The duplicate-mark window must consume the DISTINCT (doc_id, chunk)
    pre-aggregation, not raw instances: an Aggregate keyed on (doc_id,
    chunk) sits below the Window and no collect_set buffer remains."""
    plan = formatted_plan(QS["line_dedup_c4"].fn(spark, sf_dir))
    assert "collect_set" not in plan, plan
    win = plan.index("Window")
    agg_below = plan.index("Aggregate", win)
    assert agg_below > win, plan  # pre-agg feeds the window subtree


# ---------------------------------------------------------------------------
# repetition_metrics: single tagged explode
# ---------------------------------------------------------------------------


def test_repetition_metrics_single_explode(spark, sf_dir):
    plan = formatted_plan(QS["repetition_metrics"].fn(spark, sf_dir))
    import re

    assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) == 1, plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "InMemoryTableScan" not in plan  # the r15 cache is gone


# ---------------------------------------------------------------------------
# max_intersections: single window pass
# ---------------------------------------------------------------------------


def test_max_intersections_single_window_pass(spark, sf_dir):
    import re

    plan = formatted_plan(QS["max_intersections"].fn(spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 1, plan


# ---------------------------------------------------------------------------
# contamination_ngram_overlap: no id-space coupling
# ---------------------------------------------------------------------------


def test_contamination_flags_planted_posttest(spark, sf_dir):
    rows = QS["contamination_ngram_overlap"].fn(spark, sf_dir).collect()
    planted = [r for r in rows if r.doc_id >= 2_000_000]
    assert planted, "fixture must contain planted bench copies"
    for r in planted:
        assert r.contamination == 1.0 and r.flagged


# ---------------------------------------------------------------------------
# kql scan: source columns pruned to what the machine + downstream use
# ---------------------------------------------------------------------------


def test_kql_scan_source_pruning_sql_shape():
    """A bare-ident ``project`` after ``scan`` narrows the machine's input
    to the referenced columns + keys + sort keys + step-touched fields; any
    other downstream shape leaves the full row (no ``__scp`` wrapper)."""
    import re

    from clickhouseocp_spark.kql import transpile_kql

    s = transpile_kql(
        "t | sort by ts asc | scan with (step a: x == 1) | project ts, x"
    )
    m = re.search(r"\(SELECT ([\w, ]+) FROM .*?\) __scp", s, re.S)
    assert m, s
    assert m.group(1) == "ts, x", m.group(1)

    # step-only column y survives pruning even though project drops it
    s2 = transpile_kql(
        "t | sort by ts asc | scan with (step a: y > 2) | project ts"
    )
    m2 = re.search(r"\(SELECT ([\w, ]+) FROM .*?\) __scp", s2, re.S)
    assert m2 and m2.group(1) == "ts, y", s2

    # expression project → column set not enumerable → no pruning
    assert "__scp" not in transpile_kql(
        "t | sort by ts asc | scan with (step a: x == 1) "
        "| project z = strcat(tostring(ts), 'a')"
    )
    # no downstream stage → scan's full row is the output contract
    assert "__scp" not in transpile_kql(
        "t | sort by ts asc | scan with (step a: x == 1)"
    )


def test_kql_scan_source_pruning_is_case_insensitive(spark, sf_dir):
    """Spark resolves names case-insensitively, so the pruned source must
    too: ``M`` is the scan's match id ``m``, and ``Ts``/``ts`` are one
    column."""
    from collections import Counter

    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark)
    scan = (
        "| scan with_match_id=m with (step s1: event_type == 'signup'; "
        "step s2: event_type == 'click')"
    )
    ref = eng.sql(
        f"events | sort by ts asc, event_id asc {scan} | project ts, m",
        dialect="kusto",
    ).collect()
    got = eng.sql(
        f"events | sort by ts asc, event_id asc {scan} | project ts, M",
        dialect="kusto",
    ).collect()
    assert ref and Counter(map(tuple, got)) == Counter(map(tuple, ref))
    got = eng.sql(
        f"events | sort by Ts asc, event_id asc {scan} | project ts",
        dialect="kusto",
    ).collect()
    assert Counter(r[0] for r in got) == Counter(r[0] for r in ref)


def test_kql_scan_registry_queries_prune_payload_columns(spark, sf_dir):
    """The benched scan machines must not carry events.value/props through
    the exchange, the per-key sort, the row arrays and the fold: the
    parquet ReadSchema stops at the 4 referenced columns."""
    for q in ("kql_scan_steps", "kql_scan_concurrent"):
        plan = formatted_plan(QS[q].fn(spark, sf_dir))
        assert "props" not in plan, (q, plan)
        assert "value" not in plan, (q, plan)
        rs = [l for l in plan.splitlines() if "ReadSchema" in l]
        assert rs and "event_type" in rs[0], (q, rs)
