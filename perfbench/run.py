#!/usr/bin/env python3
"""csv2db load benchmark: CSV files loaded through ``csv2db_spark.cli.run``
into embedded Derby and into a parquet table store.

    python3 perfbench/run.py --workload load_ref_derby --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20

One process per run, on local[$SPARK_GRAFT_CPUS] (default: the
workload's ``core_share`` of the cores this process may use). The run
generates its inputs from ``--seed``, sets the workload up three times
(reporting the median, plus the one cold session start), then loads in
a closed loop with one client: one cold load, warm-up loads until the
load time stops falling (see _settled), then ``--seconds`` seconds of
measured loads. After every load, outside the timed region, the table
is checked against the generator's row count and checksums.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs each
layer separately inside spans, reports the per-layer metrics and writes
the spans as JSON. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the full record, stamped with core count, versions, commit and seed.
Everything the run writes stays under ``.perfbench_work/`` in the
checkout. ``--workload all`` runs every workload untraced and traced and
prints each metric with its unit, the tracing overhead and how far the
traced layers add up to the untraced load time.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shlex
import signal
import statistics
import subprocess
import sys
import time
import traceback
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
SETUPS = 3
MIN_STEADY_LOADS = 4
# Warm-up runs for at least WARMUP_MIN_S after the cold load and ends once
# the median of the last WARMUP_BLOCK loads is within WARMUP_TOL of the
# median of the WARMUP_BLOCK before them (the loads have stopped getting
# faster), or after WARMUP_MAX_S.
WARMUP_BLOCK = 3
WARMUP_TOL = 0.05
WARMUP_MIN_S = 8.0
WARMUP_MAX_S = 20.0
WATCHDOG_S = 170

E2E_UNITS = {
    "setup_s": "s",
    "load_p50_s": "s",
    "live_heap_mb": "MB",
}
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "cli.target_schema_s": "s",
    "sink.table_probe_s": "s",
    "ingest.read_csv.sniff_s": "s",
    "ingest.parse_s": "s",
    "ingest.cast_s": "s",
    "sink.write_jdbc_s": "s",
    "sink.write_jdbc.rows_per_s": "1/s",
    "sink.write_jdbc.partitions": "count",
    "sink.write_jdbc.batchsize": "count",
    "sink.write_jdbc.batches": "count",
    "sink.parquet_write_s": "s",
    "cli.verify_count_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "jvm.gc_s": "s",
    "trace.load_p50_s": "s",
    "trace.layer_sum_s": "s",
    "trace.untraced_load_p50_s": "s",
}
# the spans whose medians add up to one load
LOAD_LAYERS = (
    "cli.target_schema_s",
    "ingest.read_csv.sniff_s",
    "ingest.parse_s",
    "ingest.cast_s",
    "sink.write_jdbc_s",
    "sink.parquet_write_s",
    "cli.verify_count_s",
)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _configure_environment(cpus: int) -> None:
    """Keep every file Spark, Derby and the JVM write inside WORK, and run
    the session on ``cpus`` cores unless SPARK_GRAFT_CPUS is set; must run
    before pyspark is imported. The rest of the session's settings are the
    program's own (``session.get_spark``)."""
    for sub in ("tmp", "spark-local", "warehouse", "derby"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    java_opts = " ".join(
        [
            f"-Djava.io.tmpdir={WORK / 'tmp'}",
            f"-Dderby.system.home={WORK / 'derby'}",
            f"-Dderby.stream.error.file={WORK / 'derby' / 'derby.log'}",
            "-Duser.timezone=UTC",
        ]
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--conf spark.local.dir={shlex.quote(str(WORK / 'spark-local'))}",
            f"--conf spark.sql.warehouse.dir={shlex.quote(str(WORK / 'warehouse'))}",
            "--conf spark.ui.showConsoleProgress=false",
            f"--driver-java-options {shlex.quote(java_opts)}",
            "pyspark-shell",
        ]
    )


def _git_commit() -> str:
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=str(ROOT.parent))
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _gc_ms(spark) -> int:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans)


def _peak_rss_mb(spark) -> float:
    """Spark JVM high-water mark plus this Python process's."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def _live_heap_mb(spark) -> float:
    """JVM heap still in use after a full GC: what the program (with the
    session, Derby and the loaded tables) keeps between loads."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / 2**20


def _job_counts(sc, group: str) -> tuple[int, int, int]:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = [s for j in jobs if (info := st.getJobInfo(j)) for s in info.stageIds]
    tasks = sum(info.numTasks for s in stages if (info := st.getStageInfo(s)))
    return len(jobs), len(stages), tasks


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _settled(warmup: list[float]) -> bool:
    """True once the last WARMUP_BLOCK warm-up loads are, at the median,
    no more than WARMUP_TOL faster or slower than the block before."""
    if len(warmup) < 2 * WARMUP_BLOCK:
        return False
    last = _median(warmup[-WARMUP_BLOCK:])
    before = _median(warmup[-2 * WARMUP_BLOCK:-WARMUP_BLOCK])
    return abs(last / before - 1) <= WARMUP_TOL


def run_one(workload: str, seed: int, seconds: int, trace: bool) -> int:
    if not (ROOT / "csv2db_spark" / "cli.py").is_file():
        print(f"csv2db_spark not found under {ROOT}", file=sys.stderr)
        return 2
    from perfbench.workloads import DERBY_POLICY, WORKLOADS

    _configure_environment(max(1, int(nproc() * WORKLOADS[workload].core_share)))
    from perfbench.trace import Tracer

    run_id = uuid.uuid4().hex[:12]
    tr = Tracer(run_id, enabled=trace)
    wl = WORKLOADS[workload](WORK, seed)
    wl.prepare_inputs()

    from csv2db_spark.session import get_spark

    with tr.span("session.get_spark") as s:
        spark = get_spark("perfbench")
    get_spark_s = s["dur"]
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl.spark = spark
        setups = []
        for _ in range(SETUPS):
            with tr.span("setup") as s:
                wl.setup()
            setups.append(s["dur"])
        record = _measure(wl, tr, seconds, trace)
        if trace:
            record["metrics"]["session.get_spark_s"] = get_spark_s
        else:
            # the session starts once per process; the rest repeats
            record["metrics"]["setup_s"] = get_spark_s + _median(setups)
            # peak RSS follows how far G1 chose to grow the heap, and
            # spread 0.1-0.2 between runs, so it is recorded, not gated
            record["peak_rss_mb"] = _peak_rss_mb(spark)
            record["metrics"]["live_heap_mb"] = _live_heap_mb(spark)
        stamp = {
            "workload": workload,
            "seed": seed,
            "seconds": seconds,
            "trace": int(trace),
            "run_id": run_id,
            "nproc": nproc(),
            "cpus": os.environ["SPARK_GRAFT_CPUS"],
            "driver_mem": spark.conf.get("spark.driver.memory"),
            "spark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "commit": _git_commit(),
            "derby": DERBY_POLICY,
            "setups_s": setups,
            "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
    finally:
        _stop_spark(spark)
    if trace:
        tr.write(WORK / "traces" / f"{workload}_s{seed}_{run_id}.json")
    units = LAYER_UNITS if trace else E2E_UNITS
    metrics = {k: {"value": record["metrics"][k], "unit": u} for k, u in units.items()}
    full = {**stamp, **record, "metrics": metrics}
    with open(WORK / "records.jsonl", "a") as f:
        f.write(json.dumps(full) + "\n")
    print(json.dumps(full))
    ok = record["failed"] == 0
    print(json.dumps({
        "correct": ok,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0 if ok else 1


def _measure(wl, tr, seconds: int, trace: bool) -> dict:
    """The closed loop: reset, (probes,) load, check. The first load is
    the process's cold one. The warm-up loads after it are checked but not
    measured, until the load time has settled (_settled) or WARMUP_MAX_S
    has passed; the loop then runs for ``seconds`` more (to within half a
    round), and until MIN_STEADY_LOADS loads have been measured. Only the
    load is timed.

    A traced run alternates traced loads with plain ``cli.run`` loads, so
    the tracing overhead is measured in one process at one time, out of
    reach of drift between runs."""
    spark = wl.spark
    sc = spark.sparkContext
    loads: list[float] = []
    plain_loads: list[float] = []  # the untraced loads of a traced run
    measured: set[int] = set()
    errors: list[str] = []
    per_load: dict[str, list[float]] = {"spark.jobs": [], "spark.stages": [], "spark.tasks": [], "jvm.gc_s": []}
    attempted = failed = 0
    first_load = 0.0
    samples = (loads, plain_loads) if trace else (loads,)
    warmup: list[float] = []
    rounds: list[float] = []  # wall time of each measured reset, load and check
    t_warm = t_begin = t_round = None
    while True:
        now = time.perf_counter()
        if t_round is not None:
            rounds.append(now - t_round)
        if attempted == 1:
            t_warm = now
        if t_begin is None and t_warm is not None and now - t_warm >= WARMUP_MAX_S:
            t_begin = now
        # the window closes when one more round would end more than half a
        # round after it, and once MIN_STEADY_LOADS loads are in
        if (
            t_begin is not None
            and now - t_begin + _median(rounds) / 2 >= seconds
            and (failed or min(map(len, samples)) >= MIN_STEADY_LOADS)
        ):
            break
        t_round = now if t_begin is not None else None
        i = tr.load = attempted
        attempted += 1
        traced = trace and i % 2 == 0
        try:
            wl.reset()
            if traced:
                wl.probes(tr, i)
                gc0 = _gc_ms(spark)
                sc.setJobGroup(f"perfbench-load-{i}", "perfbench load")
                t0 = time.perf_counter()
                wl.traced_load(tr, i)
                dt = time.perf_counter() - t0
                sc.setLocalProperty("spark.jobGroup.id", None)
                counts = dict(zip(("spark.jobs", "spark.stages", "spark.tasks"),
                                  _job_counts(sc, f"perfbench-load-{i}")))
                counts["jvm.gc_s"] = (_gc_ms(spark) - gc0) / 1000
            else:
                t0 = time.perf_counter()
                wl.load(i)
                dt = time.perf_counter() - t0
            bad = wl.check(wl.input(i)[1])
        except Exception:  # a failed load is counted and the loop goes on
            failed += 1
            errors.append(traceback.format_exc(limit=3))
            traceback.print_exc()
            continue
        if bad:
            failed += 1
            errors.extend(bad)
            print(f"load {i} incorrect: {bad}", file=sys.stderr)
            continue
        if i == 0:
            first_load = dt
        elif t_begin is None:
            warmup.append(dt)
            if time.perf_counter() - t_warm >= WARMUP_MIN_S and _settled(warmup):
                t_begin = time.perf_counter()
        elif trace and not traced:
            plain_loads.append(dt)
        else:
            loads.append(dt)
            measured.add(i)
            if trace:
                for k, v in counts.items():
                    per_load[k].append(v)

    p50 = _median(loads)
    rows = wl.rows_per_load()
    in_bytes = wl.input(0)[1]["bytes"]
    if trace:
        metrics = _layer_metrics(wl, tr, measured, per_load, rows)
        metrics["trace.untraced_load_p50_s"] = _median(plain_loads)
    else:
        metrics = {"load_p50_s": p50}
    return {
        "attempted": attempted,
        "failed": failed,
        "errors": errors[:10],
        "rows_per_load": rows,
        "input_bytes": in_bytes,
        "first_load_s": first_load,
        # throughput at the median load: load_p50_s restated, so kept
        # out of the gated metrics
        "rows_per_s": rows / p50 if p50 else 0.0,
        "input_mb_per_s": in_bytes / 1e6 / p50 if p50 else 0.0,
        "warmup_loads_s": warmup,
        "loads_s": loads,
        # median of the second half of the measured loads over that of
        # the first: 1 when the warm-up has ended the in-run trend
        "in_run_trend": _median(loads[len(loads) // 2:]) / _median(loads[:len(loads) // 2])
        if len(loads) >= 2 else 1.0,
        "metrics": metrics,
    }


def _layer_metrics(wl, tr, measured: set[int], per_load: dict, rows: int) -> dict:
    """Medians over the measured traced loads. The sink's time is its
    span minus the same input parsed and cast into the noop sink."""

    def spans(name: str) -> list[float]:
        return tr.durations(name, measured)

    parse = spans("ingest.parse")
    parse_cast = spans("ingest.parse_cast")
    m = {
        "cli.target_schema_s": _median(spans("cli.target_schema")),
        "sink.table_probe_s": _median(spans("sink.table_probe")),
        "ingest.read_csv.sniff_s": _median(spans("ingest.read_csv.sniff")),
        "ingest.parse_s": _median(parse),
        "ingest.cast_s": _median([pc - p for pc, p in zip(parse_cast, parse)]),
        "cli.verify_count_s": _median(spans("cli.verify_count")),
        "sink.write_jdbc_s": 0.0,
        "sink.parquet_write_s": 0.0,
        "sink.write_jdbc.rows_per_s": 0.0,
        "sink.write_jdbc.partitions": 0,
        "sink.write_jdbc.batchsize": 0,
        "sink.write_jdbc.batches": 0,
        "trace.load_p50_s": _median(spans("load")),
    }
    write_s = _median([w - pc for w, pc in zip(spans(wl.sink_span), parse_cast)])
    m[f"{wl.sink_span}_s"] = write_s
    if wl.sink_span == "sink.write_jdbc":
        m["sink.write_jdbc.rows_per_s"] = rows / write_s if write_s > 0 else 0.0
        m.update(wl.write_counts())
    m.update({k: _median(v) for k, v in per_load.items()})
    m["trace.layer_sum_s"] = sum(m[k] for k in LOAD_LAYERS)
    return m


def run_all(seed: int, seconds: int) -> int:
    """Every workload, untraced then traced, each in its own process."""
    from perfbench.workloads import WORKLOADS

    results, status = {}, 0
    for name in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", name,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
            out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                sys.stderr.write(out.stderr[-4000:])
                status = 1
            # the full record (the line before the result) carries the
            # ungated figures too
            results[(name, trace)] = json.loads(lines[-2]) if len(lines) > 1 else None
    extra_units = {"first_load_s": "s", "rows_per_s": "1/s", "input_mb_per_s": "MB/s",
                   "peak_rss_mb": "MB"}
    for name in WORKLOADS:
        plain, traced = results[(name, 0)], results[(name, 1)]
        print(f"== {name}")
        for res in (plain, traced):
            if res:
                print(f"   attempted={res['attempted']} failed={res['failed']}")
                figures = {k: (m["value"], m["unit"]) for k, m in res["metrics"].items()}
                if not res["trace"]:
                    figures.update({k: (res[k], u) for k, u in extra_units.items()})
                for k, (v, u) in figures.items():
                    print(f"   {k:32s} {v:14.4f} {u}")
        if plain and traced:
            m = {k: v["value"] for k, v in traced["metrics"].items()}
            p50 = plain["metrics"]["load_p50_s"]["value"]
            same = m["trace.untraced_load_p50_s"]
            print(f"   tracing overhead, traced - untraced load_p50_s: "
                  f"{m['trace.load_p50_s'] - same:+.4f} s in the traced run, "
                  f"{m['trace.load_p50_s'] - p50:+.4f} s against the untraced run")
            print(f"   traced layers / untraced load_p50_s: {m['trace.layer_sum_s'] / same:.3f} "
                  f"in the traced run, {m['trace.layer_sum_s'] / p50:.3f} against the untraced run")
    return status


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, str(ROOT))
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of: all, {', '.join(WORKLOADS)}")

    def watchdog(signum, frame):
        raise TimeoutError(f"run exceeded {WATCHDOG_S} s")

    signal.signal(signal.SIGALRM, watchdog)
    signal.alarm(WATCHDOG_S)
    return run_one(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
