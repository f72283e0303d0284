"""chspark benchmark: one command, two workloads, one JSON line.

    python3 perfbench/run.py --workload tail_sf01 --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout.  The last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.  A fuller
record (host, dataset hash, per-query numbers, spans) goes to
``perfbench/.work/last_<workload>.json``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

WORKLOADS = ("tail_sf01", "http_read")


def _benchmark_spec() -> dict:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_proc = common.process_start_time()
    try:
        common.check_program()
        spec = _benchmark_spec()
        data_dir, content_hash = common.dataset()
        if args.workload == "tail_sf01":
            import tail

            tail.check_dataset(content_hash)
        common.fresh_scratch()
    except (common.SetupError, OSError) as e:
        print(f"perfbench: cannot run here: {e}", file=sys.stderr)
        return 2
    # set-up is timed from here: the dataset build above is per checkout
    t_setup0 = time.time()
    if args.workload == "tail_sf01":
        res = tail.run(args, data_dir, t_setup0)
    else:
        import http_load

        res = http_load.run(args, data_dir, t_setup0)

    want = spec["per_layer" if args.trace else "end_to_end"]
    values = res["layers"] if args.trace else res["e2e"]
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in want
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": common.host_info(content_hash),
        "process_to_setup_start_s": t_setup0 - t_proc,
        **{k: v for k, v in res.items() if k != "spans" and not k.startswith("_")},
    }
    os.makedirs(common.WORK, exist_ok=True)
    with open(os.path.join(common.WORK, f"last_{args.workload}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if "spans" in res:
        res["spans"].dump(os.path.join(common.WORK, f"spans_{args.workload}.json"))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
