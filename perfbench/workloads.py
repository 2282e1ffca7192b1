"""The benchmark workloads. One closed-loop client: each op starts when
the previous one has finished, in this driver process.

A workload sets up once (session start, which launches the JVM, plus its
warm step), then runs timed ops until ``seconds`` have passed and at least
``min_ops`` have run, then checks the program's outputs outside the timed
region. Set-up is not repeated inside a run: a restarted SparkContext in
the same JVM slows the next op by half again, which would distort it.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

from . import inputs
from .trace import (Clock, Tracer, cache_state, cpu_delta, cpu_s, dir_bytes,
                    p50, steal_s)

# An op is not started after this many seconds of the run, whatever
# ``min_ops`` says, so a run always ends well inside its time limit.
HARD_STOP_S = 130.0


@dataclass(frozen=True)
class Size:
    star_locations: int
    star_min_ops: int
    backlog_locations: int
    backlog_min_ops: int


SIZES = {
    "full": Size(star_locations=3, star_min_ops=1, backlog_locations=32,
                 backlog_min_ops=3),
    # the benchmark's own tests: 1 location, 2 cycles, 2 micro-batches
    "tiny": Size(star_locations=1, star_min_ops=2, backlog_locations=17,
                 backlog_min_ops=1),
}


@dataclass
class Run:
    """What a workload measured; ``run.py`` turns it into metrics."""
    setup_start: dict = field(default_factory=dict)
    setup_warm: dict = field(default_factory=dict)
    op_s: list = field(default_factory=list)
    op_cpu: list = field(default_factory=list)
    readings: list = field(default_factory=list)
    written_ratio: list = field(default_factory=list)
    failed: int = 0
    layer: dict = field(default_factory=dict)
    cache: list = field(default_factory=list)


def _call(tracer, name, fn, *args, **kwargs):
    if tracer is None:
        return fn(*args, **kwargs)
    return tracer.span(name, fn, *args, **kwargs)


def _setup(run: Run, warm):
    """Start the session (launching the JVM), then run the warm step;
    each part is measured in CPU seconds of the driver process tree."""
    from meteomatics_e2e_data_pipeline_spark.session import get_spark
    c0, t0 = cpu_s(None), time.perf_counter()
    spark = get_spark("perfbench")
    jvm_pid = spark.sparkContext._gateway.proc.pid
    c1, t1 = cpu_s(jvm_pid), time.perf_counter()
    if warm is not None:
        warm(spark)
    c2, t2 = cpu_s(jvm_pid), time.perf_counter()
    run.setup_start = cpu_delta(c1, c0)
    run.setup_warm = cpu_delta(c2, c1)
    print(f"perfbench: set-up took {t1 - t0:.3f} + {t2 - t1:.3f} s, "
          f"{sum(run.setup_start.values()):.2f} + "
          f"{sum(run.setup_warm.values()):.2f} CPU s",
          file=sys.stderr, flush=True)
    return spark


def _loop(run: Run, clock: Clock, spark, seconds: float, min_ops: int,
          max_ops: int, t_process: float, op, after=None):
    """Closed loop: time ``op(i)`` until ``seconds`` have passed. Between
    ops the session cache is cleared, after recording what it held."""
    t_start = time.time()
    jvm_pid = spark.sparkContext._gateway.proc.pid
    i = 0
    while i < max_ops:
        now = time.time()
        if i >= min_ops and now - t_start >= seconds:
            break
        if i > 0 and now - t_process > HARD_STOP_S:
            break
        c0, st0 = cpu_s(jvm_pid), steal_s()
        t0 = time.perf_counter()
        try:
            out = clock.run(i, lambda: op(i))
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            traceback.print_exc()
            run.failed += 1
            out = None
        run.op_s.append(time.perf_counter() - t0)
        run.op_cpu.append(cpu_delta(cpu_s(jvm_pid), c0))
        print(f"perfbench: op {i} took {run.op_s[-1]:.3f} s, "
              f"{sum(run.op_cpu[-1].values()):.2f} CPU s, host stole "
              f"{steal_s() - st0:.2f} s", file=sys.stderr, flush=True)
        run.cache.append(cache_state(spark))
        spark.catalog.clearCache()
        if after is not None:
            after(i, out)
        i += 1
        if out is None:
            break


# ---------------------------------------------------------------- star_daily
def star_daily(run_dir: str, seed: int, seconds: float, size: Size,
               trace: bool, t_process: float, tamper: bool = False):
    """The reference's daily DAG pair on the txlog star: ingest the day
    (fetch, validate with a quarantine channel, land raw JSON), then one
    ``run_star_pipeline`` cycle (stage new files, fold into the star, roll
    up, compact, run the schema checks)."""
    from meteomatics_e2e_data_pipeline_spark.plans import star_lakehouse as sl
    from meteomatics_e2e_data_pipeline_spark.sources import ingest

    inp = inputs.star_inputs(seed, size.star_locations)
    bronze = os.path.join(run_dir, "bronze")
    bronze_glob = os.path.join(bronze, "*", "*", "*.json")
    star_root = os.path.join(run_dir, "star")
    quarantine = os.path.join(run_dir, "quarantine")
    run_date, name = inp.corrupt
    city, country = ingest.slug_location(name)
    fetcher = inputs.CorruptingFetcher(
        ingest.FixtureFetcher(), (city, country, run_date))

    run = Run()
    clock = Clock()
    spark = _setup(run, lambda spark: sl.create_weather_star(spark, star_root))
    tracer = None
    if trace:
        tracer = Tracer(clock)
        tracer.install(spark)

    counts = {"quarantined": 0, "scanned": 0, "new": 0}
    star_bytes0 = dir_bytes(star_root)
    bronze_bytes = 0

    def op(i):
        n_ok = n_q = 0
        for run_date in inp.arrivals[i]:
            ok, q = _call(tracer, "sources.ingest", ingest.ingest, spark,
                          run_date, bronze, list(inp.location_names),
                          fetcher=fetcher, geocode_fn=inp.geocodes.__getitem__,
                          quarantine_root=quarantine)
            n_ok, n_q = n_ok + ok, n_q + q
        sl.run_star_pipeline(spark, star_root, bronze_glob, optimize_every=1,
                             as_of=inp.as_of)
        return n_ok, n_q

    def after(i, out):
        nonlocal bronze_bytes
        if out is None:
            return
        n_ok, n_q = out
        files = glob.glob(bronze_glob)
        counts["quarantined"] += n_q
        counts["scanned"] += len(files)
        counts["new"] += n_ok
        run.readings.append(n_ok * inputs.READINGS_PER_FILE)
        bronze_bytes = sum(os.path.getsize(f) for f in files)

    _loop(run, clock, spark, seconds, size.star_min_ops, len(inp.arrivals),
          t_process, op, after)
    t_check = time.perf_counter()

    if bronze_bytes:
        run.written_ratio.append(
            (dir_bytes(star_root) - star_bytes0) / bronze_bytes)
    expected_q = fetcher.injected + (1 if tamper else 0)
    if not _check_star(spark, sl, star_root, bronze_glob, inp.as_of,
                       counts["new"], counts["quarantined"], expected_q):
        run.failed = len(run.op_s)
    print(f"perfbench: checks took {time.perf_counter() - t_check:.3f} s",
          file=sys.stderr, flush=True)

    if tracer is not None:
        n = max(len(run.op_s), 1)
        run.layer.update({
            "sources.quarantined": counts["quarantined"] / n,
            "sources.files_scanned": counts["scanned"] / n,
            "sources.files_new": counts["new"] / n,
            "sources.new_file_ratio": (counts["new"] / counts["scanned"]
                                       if counts["scanned"] else 0.0),
            "operators.txlog.log_entries": len(glob.glob(
                os.path.join(star_root, "*", "_txlog", "*.json"))),
        })
    return run, clock, tracer


def _multiset_digest(df) -> tuple:
    """Row count and an order-insensitive sum of row hashes, in one job."""
    from pyspark.sql import functions as F
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
                 .alias("h")).first()
    return row["n"], row["h"]


def _check_star(spark, sl, star_root, bronze_glob, as_of, n_ok, n_q,
                expected_q) -> bool:
    """Audit is clean, staging holds every valid reading, the quarantine
    count equals the injected payloads, and every fact equals a batch
    ``build_fact`` recompute over the same bronze."""
    from meteomatics_e2e_data_pipeline_spark.plans.weather import (
        build_fact, flatten_bronze)
    from meteomatics_e2e_data_pipeline_spark.sources.bronze import read_bronze

    ok = True
    star = sl.create_weather_star(spark, star_root)
    try:
        sl.audit_star(star)
    except RuntimeError:
        traceback.print_exc()
        ok = False
    staged = star.stg.read().count()
    if staged != n_ok * inputs.READINGS_PER_FILE:
        print(f"check: staged {staged} readings, expected "
              f"{n_ok * inputs.READINGS_PER_FILE}", file=sys.stderr,
              flush=True)
        ok = False
    if n_q != expected_q:
        print(f"check: quarantined {n_q}, injected {expected_q}",
              file=sys.stderr, flush=True)
        ok = False
    stg = flatten_bronze(read_bronze(spark, bronze_glob))
    for (sun, hist), name in sl.FACT_NAMES.items():
        want = build_fact(stg, sun=sun, history=hist, as_of=as_of)
        got = star.facts[name].read().select(*want.columns)
        if _multiset_digest(want) != _multiset_digest(got):
            print(f"check: {name} differs from the batch recompute",
                  file=sys.stderr, flush=True)
            ok = False
    return ok


# ---------------------------------------------------------------- bronze_backlog
def bronze_backlog(run_dir: str, seed: int, seconds: float, size: Size,
                   trace: bool, t_process: float, tamper: bool = False):
    """A catch-up backlog of raw files through the streaming staging load:
    each op is one availableNow pass (64-file micro-batches) into a fresh
    target and checkpoint."""
    from meteomatics_e2e_data_pipeline_spark.streaming import (
        stream_bronze_to_staging)

    bronze = os.path.join(run_dir, "bronze")
    files = inputs.write_backlog(seed, bronze, size.backlog_locations)
    backlog_bytes = sum(os.path.getsize(f) for f in files)
    bronze_glob = os.path.join(bronze, "*", "*", "*.json")
    expected_rows = len(files) * inputs.READINGS_PER_FILE + (1 if tamper else 0)

    run = Run()
    clock = Clock()

    spark = _setup(run, None)
    tracer = None
    if trace:
        tracer = Tracer(clock)
        tracer.install(spark)
    marks = []

    def op(i):
        d = os.path.join(run_dir, f"pass{i}")
        if tracer is not None:
            marks.append(len(tracer.progress))
        _call(tracer, "streaming.pass", stream_bronze_to_staging, spark,
              bronze_glob, f"{d}/target", f"{d}/checkpoint")
        return d

    def after(i, d):
        if d is None:
            return
        if tracer is not None:
            tracer.wait_terminated(i + 1)
        run.readings.append(len(files) * inputs.READINGS_PER_FILE)
        run.written_ratio.append(dir_bytes(d) / backlog_bytes)
        if not _check_staged(spark, f"{d}/target", expected_rows):
            run.failed += 1
        shutil.rmtree(d, ignore_errors=True)

    _loop(run, clock, spark, seconds, size.backlog_min_ops, 1000, t_process,
          op, after)

    if tracer is not None:
        n = max(len(run.op_s), 1)
        batches = [p for p in tracer.progress[marks[0] if marks else 0:]
                   if p["rows"] > 0]

        def dur(key):
            return sum(p["duration_ms"].get(key, 0) for p in batches) / 1e3

        batch_s = [p["duration_ms"].get("triggerExecution", 0) / 1e3
                   for p in batches]
        run.layer.update({
            "streaming.batches": len(batches) / n,
            "streaming.batch_p50_s": p50(batch_s),
            "streaming.batch_s": sum(batch_s) / n,
            "streaming.getbatch_s": dur("getBatch") / n,
            "streaming.addbatch_s": dur("addBatch") / n,
            "streaming.walcommit_s": dur("walCommit") / n,
            "streaming.outside_batch_s": max(
                sum(run.op_s) - sum(batch_s), 0.0) / n,
        })
    return run, clock, tracer


def _check_staged(spark, target: str, expected_rows: int) -> bool:
    """Every reading of every file was staged, and the staging key
    (file_path, parameter, reading_datetime) is unique."""
    from pyspark.sql import functions as F
    row = (spark.read.parquet(target)
           .groupBy("file_path", "parameter", "reading_datetime").count()
           .agg(F.sum("count").alias("n"), F.max("count").alias("dup"))
           .first())
    if row["n"] != expected_rows or row["dup"] != 1:
        print(f"check: staged {row['n']} rows (expected {expected_rows}), "
              f"a key repeats up to {row['dup']} times", file=sys.stderr,
              flush=True)
        return False
    return True


WORKLOADS = {"star_daily": star_daily, "bronze_backlog": bronze_backlog}

