"""``python -m clickhouseocp_spark`` — the clickhouse-local / clickhouse-
server entry surface of the reference image (``Dockefile-ubuntu:52`` runs
``clickhouse-local -q``; ``Dockerfile:203-206`` exposes the HTTP server).

Modes:

- ``-q/--query SQL`` (repeatable): execute each statement in order against
  the fixture tables and print the rendered result to stdout — trailing
  ``FORMAT X`` chooses the rendering exactly like clickhouse-local; binary
  formats (Native, RowBinary, Arrow, Parquet, …) write their raw bytes.
- ``--serve``: start the HTTP analog in the foreground (port 8123 default;
  ``--port 0`` picks an ephemeral port and prints it).

Shared flags: ``--sf-dir`` (fixture directory; default $SPARK_GRAFT_SF_DIR
or /root/testdata/sf0.001), ``--dialect`` (clickhouse | spark | auto |
prql | kusto), ``--max-rows`` render cap.
"""

from __future__ import annotations

import argparse
import os
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m clickhouseocp_spark",
        description="clickhouse-local / clickhouse-server analog on Spark",
    )
    ap.add_argument("-q", "--query", action="append", default=[],
                    help="statement to execute (repeatable, run in order)")
    ap.add_argument("--serve", action="store_true",
                    help="start the HTTP server (foreground)")
    ap.add_argument("--port", type=int, default=8123)
    ap.add_argument("--host", default="0.0.0.0")
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"),
    )
    ap.add_argument("--dialect", default="auto")
    ap.add_argument("--max-rows", type=int, default=10_000)
    args = ap.parse_args(argv)
    if not args.query and not args.serve:
        ap.error("nothing to do: pass -q/--query or --serve")

    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(args.sf_dir)
    if args.serve:
        from clickhouseocp_spark.server import ChHttpServer

        srv = ChHttpServer(eng, host=args.host, port=args.port).start()
        print(f"listening on {args.host}:{srv.port}", flush=True)
        try:
            srv._thread.join()
        except KeyboardInterrupt:
            srv.shutdown()
        return 0
    for q in args.query:
        out = eng.run(q, dialect=args.dialect, max_rows=args.max_rows)
        if isinstance(out, bytes):  # a binary FORMAT: raw bytes, as-is
            sys.stdout.flush()
            sys.stdout.buffer.write(out)
        elif out:
            sys.stdout.write(out if out.endswith("\n") else out + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
