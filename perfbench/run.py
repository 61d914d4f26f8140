"""Pipeline benchmark: one command, two workloads.

    python3 perfbench/run.py --workload stream_ingest --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Workloads (see ``manifest.json``):

- ``stream_ingest``  open loop, 5,000 ev/s into the file-source ingest stream;
- ``catalog_mix``    closed loop, passes over a fixed list of catalog entries.

With ``--trace 0`` the last stdout line carries the end-to-end metrics
named in ``BENCHMARK.json``; with ``--trace 1`` it carries the per-layer
metrics, and the spans with their self times are written to
``.perfbench/results/``.  The line before it is context: tail
percentiles, sample counts, and in a traced run the box-calibration
probes of ``bench.py``.  A failed correctness gate makes the exit code 1.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

from common import LAYERS, ROOT, Run, median

WORKLOADS = {
    "stream_ingest": "w_stream",
    "catalog_mix": "w_catalog",
}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _calibration(spark) -> dict:
    """``bench.py``'s box-calibration probes, as ungated context."""
    sys.path.insert(0, ROOT)
    import bench

    return bench._calibration(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = _spec()
    # the package under test must come from this checkout
    sys.path.insert(0, ROOT)
    pkg = importlib.import_module("event_streaming_toy_example_spark")
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        sys.exit(f"the package under test is not in this checkout: {pkg.__file__}")
    workload = importlib.import_module(WORKLOADS[args.workload])

    r = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        t = time.perf_counter()
        r.start_spark()
        session_s = time.perf_counter() - t
        res = workload.run(r)
        # set-up = session start + the workload's one-time steps + the
        # median of its repeated set-ups
        res["e2e"]["setup_s"] = session_s + res.get("setup_once_s", 0.0) + median(res["setup"])
        calibration = _calibration(r.spark) if r.trace else None
        if r.trace:
            _, by_layer = r.tracer.self_times()
            layer = dict(res.get("layer", {}))
            for name in LAYERS:
                layer[f"{name}.self_s"] = by_layer.get(name, 0.0)
            layer["trace.overhead_ratio"] = res["overhead_ratio"]
            layer["trace.spans"] = len(r.tracer.spans)
            r.tracer.dump(
                os.path.join(r.out_dir, f"trace-{args.workload}-{args.seed}.json"),
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "per_layer": layer,
                    "end_to_end_traced": res["e2e"],
                    "progress": res.get("progress", []),
                    "calibration": calibration,
                },
            )
    finally:
        r.close()

    if r.trace:
        wanted = spec["per_layer"]
        # a metric this workload's path does not exercise reads 0
        values = {m["name"]: layer.get(m["name"], 0.0) for m in wanted}
    else:
        wanted = spec["end_to_end"]
        values = {m["name"]: res["e2e"][m["name"]] for m in wanted}
    print(
        json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "trace": args.trace,
                "context": res["context"],
                "session_start_s": session_s,
                "setup_runs_s": res["setup"],
                "setup_once_s": res.get("setup_once_s", 0.0),
                "calibration": calibration,
            }
        )
    )
    print(
        json.dumps(
            {
                "correct": bool(res["correct"]),
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": {
                    m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                    for m in wanted
                },
            }
        ),
        flush=True,
    )
    return 0 if res["correct"] and res["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
