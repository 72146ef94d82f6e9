"""Run one benchmark workload and print its result.

    python3 cdcbench/run.py --workload cdc_ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository.  The workload runs in
this process against one Spark session at ``local[nproc]`` with one
client thread; ``--seconds`` sizes the fixed amount of work measured.  Lines before the last are human-readable; the last line
is the JSON result (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``).  Diagnostics (raw per-op samples, spans,
provenance, host load) go to ``.cdcbench/results/<workload>-seed<n>-trace<t>.json``.
Exits 1 if any oracle check failed, 2 if the engine is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import metrics

    if args.workload not in metrics.WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {metrics.WORKLOADS}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "cdc_demo_spark")):
        print(f"engine package cdc_demo_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    os.environ["TZ"] = "UTC"  # collected timestamps compare with DuckDB's
    import time

    time.tzset()

    import wl_corpus
    import wl_ingest
    import wl_serve
    from harness import Run

    workload = {"cdc_ingest": wl_ingest, "replica_serve": wl_serve, "llm_corpus": wl_corpus}[
        args.workload
    ]
    r = Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        measured = workload.run(r)
        result = r.finish(measured)
    finally:
        r.stop()
    r.mark("stopped")
    r.write_sidecar()
    for name, (v, unit) in {**r.e2e, **r.detail}.items():
        print(f"metric {args.workload} {name} = {v:.6g} {unit}")
    for what in r.failures[:20]:
        print(f"CHECK FAILED: {what}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
