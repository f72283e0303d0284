"""Regenerate perfbench/golden.json: the value hash of every tail_sf01 query
on the benchmark's dataset, each cross-checked once against the query's
DuckDB oracle (``clickhouseocp_spark.testing.compare_query``).  Run it on a
commit whose outputs are trusted; the benchmark then counts any later
difference as a failed operation.

Usage: python3 perfbench/make_golden.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import tail  # noqa: E402


def main() -> int:
    common.check_program()
    data_dir, content_hash = common.dataset()
    common.apply_spark_env()
    from clickhouseocp_spark import get_spark
    from clickhouseocp_spark.queries import all_queries
    from clickhouseocp_spark.testing import compare_query

    spark = get_spark("perfbench-golden")
    registry = all_queries()
    hashes, oracle = {}, {}
    for q in tail.QUERIES:
        fn = registry[q].fn
        runs = {tail.value_hash(fn(spark, data_dir)) for _ in range(3)}
        if len(runs) != 1:
            raise SystemExit(f"{q}: value hash is not stable: {sorted(runs)}")
        hashes[q] = runs.pop()
        if registry[q].oracle is None:
            oracle[q] = "no oracle"
        else:
            r = compare_query(spark, q, fn, registry[q].oracle, data_dir)
            oracle[q] = "match" if r.ok else f"MISMATCH: {r.errors[:2]}"
        print(q, hashes[q], oracle[q], flush=True)
    common.stop_session(spark)
    if any(v.startswith("MISMATCH") for v in oracle.values()):
        print("an oracle disagrees; golden.json left unchanged", file=sys.stderr)
        return 1
    with open(tail.GOLDEN, "w") as f:
        json.dump(
            {"dataset_hash": content_hash, "hashes": hashes, "duckdb_oracle": oracle},
            f, indent=1, sort_keys=True,
        )
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
