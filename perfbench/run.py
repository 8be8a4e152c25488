"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload query|docvec --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

``--tiny`` shrinks every size for the self-test's smoke runs.

Run it from the repository root.  The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end metrics, with ``--trace 1`` the
per-layer ones.  The line before it carries diagnostics that are not
metrics (host page-supply canary readings, per-check counts, sample counts).
The traced run also writes its spans and per-layer metrics under
``.perfbench_out/``.  All scratch files live under ``.perfbench_work/`` and
are removed when the run ends.

The engine runs as shipped: ``get_spark`` defaults, no ``SEISMIC_*``
variable.  Only Spark's scratch locations are pointed inside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
UNITS = {
    "setup_s": "s", "index_bytes_per_doc": "B", "serve_p50_ms": "ms",
    "serve_p99_ms": "ms", "recall_at_10": "ratio",
    "peak_rss_mb": "MB",
}


def process_start_time() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def canary() -> dict | None:
    """The repository's host page-supply reading (diagnostic only)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        from canary import measure
    except ImportError:
        return None
    finally:
        sys.path.pop(0)
    return measure()


def layer_units(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith((".s", "_s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("ratio", "_ratio")):
        return "ratio"
    if name == "index.bytes":
        return "B"
    return "count"


def isolate_scratch(work: str, event_log: str | None) -> None:
    """Point Spark's, the JVM's and Python's scratch files into ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    if event_log:
        os.makedirs(event_log)
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
            "--conf", "spark.eventLog.enabled=true",
            "--conf", shlex.quote(f"spark.eventLog.dir=file://{event_log}"),
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "pyspark-shell",
        ])


def main() -> int:
    t_process = process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["query", "docvec"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--tiny", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "seismic_spark", "__init__.py")):
        print("perfbench: run from the repository root (no seismic_spark/ here)",
              file=sys.stderr)
        return 2
    if not args.selftest and args.workload is None:
        ap.error("--workload is required")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    trace = bool(args.trace) and not args.selftest
    event_log = os.path.join(work, "eventlog") if trace else None
    isolate_scratch(work, event_log)
    try:
        if args.selftest:
            import selftest

            return selftest.main(work)
        return measure(args, trace, work, event_log, t_process)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, trace: bool, work: str, event_log: str | None,
            t_process: float) -> int:
    import workload

    diag = {"canary_before": canary()}
    checks, m, tr, layer, run_diag = workload.run(
        args.workload, args.seed, args.seconds, trace, work, t_process,
        workload.TINY if args.tiny else None,
    )
    diag["canary_after"] = canary()
    diag.update(run_diag)
    diag["checks"] = {
        k: {"attempted": checks.attempted[k], "failed": checks.failed[k]}
        for k in checks.attempted
    }
    if trace:
        metrics = dict(layer)
        metrics.update(tr.report(event_log, workload.JOB_SPANS))
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        stem = os.path.join(out, f"{args.workload}-seed{args.seed}")
        tr.dump(stem + ".spans.jsonl")
        with open(stem + ".layers.json", "w") as f:
            json.dump(metrics, f, indent=1, sort_keys=True)
        missing = sorted(set(workload.per_layer_names()) - set(metrics))
        if missing:
            raise RuntimeError(f"traced run produced no value for {missing}")
        metrics = {k: metrics[k] for k in workload.per_layer_names()}
        metrics = {k: {"value": v, "unit": layer_units(k)} for k, v in metrics.items()}
    else:
        metrics = {k: {"value": m[k], "unit": UNITS[k]} for k in UNITS}
    attempted = sum(checks.attempted.values())
    failed = sum(checks.failed.values())
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
