#!/usr/bin/env python3
"""Run one benchmark workload and print one JSON result line.

Usage, from the repository root::

    python3 perfbench/run.py --workload star_daily --seed 1 --seconds 20 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs with
spans, a py4j counter, a Spark event log and a streaming listener, and
prints the per-layer metrics. Every file the program writes goes to a
per-run directory under ``.perfbench/runs/`` that is removed at exit;
traced runs leave their spans in ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import tempfile
import time
from pathlib import Path

T_PROCESS = time.time()
ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench import metrics  # noqa: E402
from perfbench.trace import (  # noqa: E402
    p50, peak_rss_mb, read_event_log, span_totals)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _launch_env(run_dir: Path, trace: bool) -> None:
    """Point every scratch location of Spark and of the package at the
    run directory, and enable the event log for traced runs. All of it is
    launch configuration: the package's session factory is unchanged."""
    tmp, local = run_dir / "tmp", run_dir / "local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    args = ["--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={run_dir / 'warehouse'}",
            "--driver-java-options",
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir / 'derby'}"]
    if trace:
        (run_dir / "eventlog").mkdir()
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{run_dir / 'eventlog'}",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        shlex.quote(a) for a in args + ["pyspark-shell"])
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"


def _stop_jvm() -> None:
    """Stop the SparkContext and the JVM it launched, and wait for both."""
    import subprocess
    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = gw.proc
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _op_cpu(run) -> list[float]:
    return [sum(c.values()) for c in run.op_cpu]


def _end_to_end(run) -> dict[str, float]:
    op_cpu = _op_cpu(run)
    return {
        "setup_s": sum(run.setup_start.values()) + sum(run.setup_warm.values()),
        "op_cpu_s": p50(op_cpu),
        "readings_per_cpu_s": (sum(run.readings) / sum(op_cpu)
                               if sum(op_cpu) else 0.0),
        "bytes_per_user_byte": p50(run.written_ratio),
    }


# span name -> per-layer metric holding its total seconds per op
_SPAN_METRICS = {
    "sources.ingest": "sources.ingest_s",
    "sources.stage": "sources.stage_s",
    "operators.txlog.commit": "operators.txlog.commit_s",
    "operators.txlog.read": "operators.txlog.read_s",
    "plans.star_lakehouse.fold": "plans.star_lakehouse.fold_s",
    "plans.star_lakehouse.rollup": "plans.star_lakehouse.rollup_s",
    "plans.star_lakehouse.optimize": "plans.star_lakehouse.optimize_s",
    "plans.runner.checks": "plans.runner.checks_s",
}


def _per_layer(run, clock, tracer, rss_mb: float, event_log: Path,
               untraced_op_cpu: float | None) -> dict[str, float]:
    n = max(len(run.op_s), 1)
    op_cpu_p50 = p50(_op_cpu(run))
    values = {name: 0.0 for name in metrics.PER_LAYER}
    values["session.start_s"] = sum(run.setup_start.values())
    values["session.warm_artifacts_s"] = sum(run.setup_warm.values())
    values["memory.peak_rss_mb"] = rss_mb
    for part, key in (("driver", "plans.driver_cpu_s"),
                      ("jvm", "spark.jvm_cpu_s"),
                      ("workers", "spark.pyworker_cpu_s")):
        values[key] = sum(c[part] for c in run.op_cpu) / n
    for name, total in span_totals(tracer.spans).items():
        if name in _SPAN_METRICS:
            values[_SPAN_METRICS[name]] = total / n
    commits = [s for s in tracer.spans
               if s["name"] == "operators.txlog.commit" and s["op"] is not None]
    values["operators.txlog.commits"] = len(commits) / n
    values["operators.txlog.files_added"] = sum(
        s.get("files_added", 0) for s in commits) / n
    values["operators.txlog.bytes_added"] = sum(
        s.get("bytes_added", 0) for s in commits) / n
    values["plans.py4j_calls"] = tracer.py4j_calls / n
    for key, v in read_event_log(str(event_log), clock.windows).items():
        values[key] = v / n
    for key in ("entries", "mem_bytes", "disk_bytes"):
        values[f"spark.cache.{key}"] = max((c[key] for c in run.cache),
                                           default=0)
    values.update(run.layer)
    values["trace.op_wall_p50_s"] = p50(run.op_s)
    values["trace.op_cpu_s"] = op_cpu_p50
    if untraced_op_cpu:
        values["trace.overhead_frac"] = op_cpu_p50 / untraced_op_cpu - 1
    values["trace.spans"] = len(tracer.spans)
    return values


def _untraced_op_cpu(state: Path, workload: str, seed: int) -> float | None:
    """``op_cpu_s`` of the untraced run of the same workload and seed in
    this checkout, else of the latest untraced run of the workload."""
    same = state / f"untraced-{workload}-{seed}.json"
    refs = sorted(state.glob(f"untraced-{workload}-*.json"),
                  key=lambda p: p.stat().st_mtime)
    path = same if same.exists() else (refs[-1] if refs else None)
    if path is None:
        print("perfbench: no untraced run of this workload in this checkout "
              "yet; trace.overhead_frac reads 0", file=sys.stderr)
        return None
    return json.loads(path.read_text())["op_cpu_s"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full",
                    help="input size: full, or tiny for the benchmark's tests")
    ap.add_argument("--tamper-expected", action="store_true",
                    help="test hook: corrupt one expected value, so the "
                         "output check must fail")
    args = ap.parse_args(argv)

    try:
        import meteomatics_e2e_data_pipeline_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not in {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    from perfbench import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; expected one "
              f"of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    state = Path.cwd() / ".perfbench"
    run_dir = state / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        _launch_env(run_dir, bool(args.trace))
        run, clock, tracer = workloads.WORKLOADS[args.workload](
            str(run_dir), args.seed, args.seconds,
            workloads.SIZES[args.size], bool(args.trace), T_PROCESS,
            tamper=args.tamper_expected)
        from pyspark import SparkContext
        rss = peak_rss_mb(SparkContext._gateway.proc.pid)
        _stop_jvm()
        if tracer is not None:
            tracer.dump(str(state / "traces"
                            / f"{args.workload}-{args.seed}.jsonl"))
        if args.trace:
            values = _per_layer(
                run, clock, tracer, rss, run_dir / "eventlog",
                _untraced_op_cpu(state, args.workload, args.seed))
            units = metrics.PER_LAYER
        else:
            values, units = _end_to_end(run), metrics.END_TO_END
        result = {
            "correct": run.failed == 0 and bool(run.op_s),
            "attempted": max(len(run.op_s), 1),
            "failed": run.failed if run.op_s else 1,
            "metrics": {name: {"value": float(values[name]), "unit": unit}
                        for name, unit in units.items()},
        }
    finally:
        _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    if not args.trace:
        (state / f"untraced-{args.workload}-{args.seed}.json").write_text(
            json.dumps({"op_cpu_s": result["metrics"]["op_cpu_s"]["value"]}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
