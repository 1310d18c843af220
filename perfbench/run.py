"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload catalog|stream_score \
        --seed N --seconds S --trace 0|1

Run from the repository root. The last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its
per-layer metrics with ``--trace 1``. The line before it reports the
run context and the workload's own end-to-end figures. Everything the
run writes stays under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import tempfile

import procs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("catalog", "stream_score")


def _confine(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``work`` before any of them starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    # Spark's stop-time interruption classifier can overflow the
    # default 1 MB thread stack on a stream thread; 16 MB absorbs it.
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -Xss16m"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def metric_spec(trace: bool) -> dict[str, str]:
    """Metric name -> unit, from ``BENCHMARK.json``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def _exit_on_term(signum, _frame) -> None:
    """Turn SIGTERM into an exit that runs ``finally`` blocks."""
    sys.exit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = metric_spec(bool(args.trace))

    _confine(WORK)
    sys.path.insert(0, ROOT)
    import real_time_predictive_maintenance_data_pipeline_spark  # noqa: F401  fail fast

    from common import nproc
    from measure import Tracer, median, total_by_name

    procs.become_reaper()
    signal.signal(signal.SIGTERM, _exit_on_term)
    tracer = Tracer(enabled=bool(args.trace))
    load_before = os.getloadavg()
    try:
        if args.workload == "catalog":
            import catalog

            res = catalog.run(args.seed, args.seconds, tracer)
        else:
            import streams

            res = streams.run(args.seed, args.seconds, tracer)
    finally:
        # Nothing the run started outlives it, and the JVM's shutdown
        # output lands before the result line.
        procs.stop_all(grace=30.0)

    if args.trace:
        spans = tracer.spans
        for name in ("session.start", "ml.anomaly.train"):
            res["layers"][f"{name}_s"] = total_by_name(spans, name).get(name, 0.0)
        out = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json")
        tracer.dump(out)
        values = {k: res["layers"].get(k, 0.0) for k in spec}
    else:
        values = {"setup_s": res["setup_s"], "op_p50_ms": median(res["op_ms"])}

    attempted, failed = res["attempted"], res["failed"]
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": nproc(),
        "load_avg_before": load_before,
        "load_avg_after": os.getloadavg(),
        "setup_s": res["setup_s"],
        "failed_share": failed / attempted,
        **res["report"],
    }
    if args.trace:
        context["spans"] = os.path.relpath(out, ROOT)
    print(json.dumps(context))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": values[k], "unit": u} for k, u in spec.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
