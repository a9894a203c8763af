"""The repository's benchmark: one closed-loop client, four workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--out FILE]

Run from the root of a checkout.  The first run in a checkout also primes
it (in a child process): it generates the query tables, computes every
DuckDB oracle result and builds the package's ``.scratch`` stores, so that
no measured op pays a one-time build.  Each run then

1. sets the session up three times (start + warm-up; the first start
   also launches the JVM) and reports the median as ``setup_s``;
2. runs whole passes of the workload's op list, each op only after the
   previous one finished, until ``--seconds`` have passed, at least three
   passes ran and the run has enough samples for a tail percentile;
3. checks every op's output (queries against their DuckDB oracle,
   landings against the generator's counts) and prints the run record
   (every metric) and, last, the result line with the metrics
   BENCHMARK.json lists.

``--trace 1`` additionally tags each op phase with a job group, counts
py4j calls and listens to the stream, and reports the per-layer metrics.
See README.md in this directory.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "trimet_bytes__data_engineering_project_spark"
WORK = os.path.join(ROOT, ".perfbench")
TMP = os.path.join(WORK, "tmp")
DATA_SEED = 20_261_016  # the query tables are fixed; --seed varies order and ingest
PRIME_VERSION = 2
SETUPS = 3
DRIVER_MEM = "2g"  # the package default (16g) is the whole machine
WARMUP = ("q01_count_on_date", "q11_trips_per_date_dayname")
MIN_SAMPLES = 11  # the tail rule needs more than 10 samples
# the first pass runs in a cold JVM (JIT, whole-stage codegen); with three
# or more passes every per-pass median is a warm pass
MIN_PASSES = 3

def _data_dir(sf: float) -> str:
    return os.path.join(WORK, "data", f"perfbench-sf{sf}")


def _oracle_path(sf: float, name: str) -> str:
    return os.path.join(WORK, "oracle", f"sf{sf}", f"{name}.pkl")


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _environment() -> None:
    """Benchmark-owned temp, local and warehouse dirs, wiped per run."""
    shutil.rmtree(TMP, ignore_errors=True)
    for d in ("local", "warehouse", "java", "py"):
        os.makedirs(os.path.join(TMP, d))
    os.environ["TMPDIR"] = os.path.join(TMP, "py")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(TMP, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE_DIR"] = os.path.join(TMP, "warehouse")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # keep both JVMs (spark-submit's launcher and the driver) out of /tmp
    jvm_opts = f"-Djava.io.tmpdir={os.path.join(TMP, 'java')} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "{jvm_opts}" pyspark-shell'
    os.environ["PYSPARK_PYTHON"] = sys.executable


def _session():
    from trimet_bytes__data_engineering_project_spark.session import get_session

    spark = get_session("perfbench", cpus=_cpus(), ui=True)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)


def _compare():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from run_window_check import compare

    return compare


# --- priming (child process, once per workload and checkout) ------------------


def _primed_marker(workload: str) -> str:
    return os.path.join(WORK, f"primed-{workload}.json")


def prime(workload: str) -> None:
    """Generate the tables, then for a query workload compute its oracle
    results and run each of its queries once, which builds every store the
    queries read."""
    import gen
    from workloads import QUERY_WORKLOADS, rows_to_pandas, scale

    sf = scale(workload)
    data_dir = _data_dir(sf)
    if not os.path.isdir(data_dir):
        gen.write_tables(data_dir, sf, DATA_SEED)
    names = QUERY_WORKLOADS.get(workload, [])
    if names:
        import duckdb

        from trimet_bytes__data_engineering_project_spark.plans import ORACLES, QUERIES

        os.makedirs(os.path.dirname(_oracle_path(sf, "")), exist_ok=True)
        # capped: sf 0.1 oracles otherwise take 6 GB; spills stay in the run's temp dir
        duck = {"memory_limit": "3GB", "temp_directory": os.path.join(TMP, "duckdb")}
        with duckdb.connect(config=duck) as con:
            for t in gen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
            for name in names:
                with open(_oracle_path(sf, name), "wb") as f:
                    pickle.dump(con.sql(ORACLES[name]).df(), f)
        spark = _session()
        compare = _compare()
        tz = spark.conf.get("spark.sql.session.timeZone")
        for name in names:
            # a failure is reported here and counted as a failed op by every run
            try:
                df = QUERIES[name](spark, data_dir)
                rows = df.collect()
                err = compare(name, rows_to_pandas(df.schema, rows, tz), _oracle(sf, name))
            except Exception as e:
                err = f"raised {type(e).__name__}: {e}"
            if err:
                print(f"prime: {name}: {err}", file=sys.stderr)
        _shutdown(spark)
    with open(_primed_marker(workload), "w") as f:
        json.dump({"version": PRIME_VERSION, "sf": sf, "data_seed": DATA_SEED}, f)


def _oracle(sf: float, name: str):
    with open(_oracle_path(sf, name), "rb") as f:
        return pickle.load(f)  # written by prime() above


def _ensure_primed(workload: str) -> None:
    try:
        with open(_primed_marker(workload)) as f:
            if json.load(f).get("version") == PRIME_VERSION:
                return
    except (OSError, ValueError):
        pass
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload, "--prime"]
    # the child's output is diagnostics: keep this process's stdout for the result
    subprocess.run(cmd, check=True, timeout=880, stdout=sys.stderr)


# --- one measured run ---------------------------------------------------------


def _setups(data_dir: str) -> tuple[object, list[tuple[float, float]]]:
    from trimet_bytes__data_engineering_project_spark.plans import QUERIES

    times = []
    spark = None
    for k in range(SETUPS):
        t0 = time.perf_counter()
        spark = _session()
        t1 = time.perf_counter()
        for name in WARMUP:
            QUERIES[name](spark, data_dir).collect()
        times.append((t1 - t0, time.perf_counter() - t1))
        if k < SETUPS - 1:
            spark.stop()
    return spark, times


def _ops_factory(spark, workload: str, seed: int, sf: float):
    """``(ops_for_pass(pass_no), ingest)``: the op list of each pass."""
    import gen
    from workloads import GENERATIONS, PINGS, QUERY_WORKLOADS, TRIPS_PER_GEN, IngestPass, op_order, query_ops

    if workload in QUERY_WORKLOADS:
        names = QUERY_WORKLOADS[workload]
        oracles = {n: _oracle(sf, n) for n in names}
        by_name = {op.name: op for op in query_ops(spark, names, _data_dir(sf), oracles, _compare())}
        return (lambda p: [by_name[n] for n in op_order(names, seed, p)]), None
    gens = gen.ingest_generations(seed, GENERATIONS, TRIPS_PER_GEN, PINGS)
    all_trips = sorted(set().union(*(g["valid_per_trip"] for g in gens)))
    se, se_per_trip = gen.stop_events(all_trips, seed)
    se_path = os.path.join(TMP, "stop_events.parquet")
    se.to_parquet(se_path, index=False)
    ingest = IngestPass(spark, os.path.join(TMP, "ingest"), gens, se_path, se_per_trip)

    def ops_for_pass(_p):
        ingest.reset()
        return ingest.ops()

    return ops_for_pass, ingest


def measure(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from probe import JobLedger, ProcCpu
    from stats import tail
    from workloads import scale

    sf = scale(workload)
    t_begin = time.perf_counter()
    spark, setup_times = _setups(_data_dir(sf))
    try:
        t_setup = time.perf_counter()
        jvm = ProcCpu(spark._jvm.ProcessHandle.current().pid())
        ledger = JobLedger(spark)
        try:
            ops_for_pass, ingest = _ops_factory(spark, workload, seed, sf)
            ledger.read()  # drop the warm-up's jobs
            t_start = time.perf_counter()
            log = _passes(spark, ops_for_pass, ingest, ledger, jvm, seconds, trace)
            t_measured = time.perf_counter()
        finally:
            ledger.close()
        peak_rss = ProcCpu(os.getpid()).peak_rss_mb() + jvm.peak_rss_mb()
        version = spark.version
        mf = spark._jvm.java.lang.management.ManagementFactory
        jvm_life = {  # whole JVM lifetime, set-ups included
            "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
            **{f"gc[{b.getName()}]": [b.getCollectionCount(), b.getCollectionTime() / 1e3]
               for b in mf.getGarbageCollectorMXBeans()},
        }
    finally:
        _shutdown(spark)

    lat = [s.seconds for s in log.samples]
    pct, tail_v, beyond = tail(lat)
    metrics = {
        "setup_s": statistics.median(a + b for a, b in setup_times),
        "wall_s": log.per_pass(lambda s: s.seconds),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_v,
        "executor_cpu_s": log.per_pass(lambda s: s.counters["executor_cpu_s"]),
        "jvm_cpu_s": log.per_pass(lambda s: s.counters["jvm_cpu_s"]),
        "driver_py_cpu_s": log.per_pass(lambda s: s.counters["py_cpu_s"]),
        "peak_rss_mb": peak_rss,
    }
    extra = {}
    if ingest is not None:
        # rows landed per second of landing wall, median over passes
        extra["ingest_rows_per_s"] = statistics.median(
            sum(s.counters["input_rows"] for s in p if s.kind == "land")
            / sum(s.seconds for s in p if s.kind == "land")
            for p in log.passes()
        )
    report = {
        "workload": workload, "seed": seed, "trace": int(trace), "seconds": seconds,
        "passes": len(log.passes()), "samples": len(lat), "op_tail_percentile": pct,
        "op_tail_beyond": beyond, "setups": SETUPS, "fail_frac": log.fail_frac(),
        "attempted": log.attempted, "failed": log.failed,
        "errors": sorted({f"{s.op}: {s.error}" for s in log.samples if s.error})[:20],
        "spark": version, "local_threads": _cpus(), "nproc": os.cpu_count(), "sf": sf,
        "phase_s": {
            "setups": t_setup - t_begin, "inputs": t_start - t_setup,
            "measure": t_measured - t_start, "teardown": time.perf_counter() - t_measured,
        },
        "ops": [[s.pass_no, s.op, round(s.seconds, 4)] for s in log.samples],
        "jvm": jvm_life,
    }
    layers = _layer_metrics(log, setup_times) if trace else {}
    return {"metrics": metrics, "extra": extra, "layers": layers, "report": report}


def _passes(spark, ops_for_pass, ingest, ledger, jvm, seconds: float, trace: bool):
    """Whole passes until ``seconds`` have passed, at least MIN_PASSES ran
    and there are MIN_SAMPLES samples; returns the RunLog."""
    from probe import Py4jCounter, StreamProgress, stage_totals
    from stats import RunLog, Sample
    from workloads import Phases, attempt, verdict

    py4j = Py4jCounter(spark) if trace else None
    stream = StreamProgress(spark) if trace and ingest is not None else None
    log = RunLog()
    t_start = time.perf_counter()
    pass_no = 0
    try:
        while True:
            for i, op in enumerate(ops_for_pass(pass_no)):
                op.prepare()
                files0 = ingest.written() if trace and op.kind in ("land", "replay") else None
                phases = Phases(spark, py4j, f"p{pass_no}.{i}:")
                py0, jvm0 = time.process_time(), jvm.cpu_s()
                seconds_op, result, error = attempt(op, phases)
                c = {"py_cpu_s": time.process_time() - py0, "jvm_cpu_s": jvm.cpu_s() - jvm0}
                jobs = ledger.read(detail=trace)
                c["executor_cpu_s"] = stage_totals(jobs)["task_cpu_s"]
                c["input_rows"] = op.meta.get("rows", 0)
                error = verdict(op, result, error)
                if trace:
                    c.update(_layer_counters(op, phases, jobs, files0, ingest, stream))
                log.add(Sample(pass_no, op.name, op.kind, seconds_op, error, c))
            pass_no += 1
            if (time.perf_counter() - t_start >= seconds and pass_no >= MIN_PASSES
                    and log.attempted >= MIN_SAMPLES):
                return log
    finally:
        if stream is not None:
            stream.close()
        if py4j is not None:
            py4j.close()


def _layer_counters(op, phases, jobs, files0, ingest, stream) -> dict:
    """Per-op layer counters of a traced run (summed per pass later)."""
    from probe import covered_seconds, stage_totals

    c: dict[str, float] = {}
    by_phase: dict[str, list] = {}
    for j in jobs:
        by_phase.setdefault((j.group or "").rsplit(":", 1)[-1], []).append(j)
    if op.kind in ("query", "readback"):
        build = stage_totals(by_phase.get("build", []))
        c["plans.build_s"] = phases.times.get("build", 0.0)
        c["plans.build_jobs"] = build["jobs"]
        c["plans.build_stages"] = build["stages"]
        c["plans.build_task_s"] = build["task_run_s"]
        c["plans.py4j_calls"], c["plans.py4j_s"] = phases.py4j.get("build", (0, 0.0))
        c["catalyst.plan_s"] = phases.times.get("plan", 0.0)
        c["catalyst.exchanges"] = phases.extra.get("exchanges", 0)
        c["catalyst.plan_nodes"] = phases.extra.get("plan_nodes", 0)
        collect_jobs = by_phase.get("collect", [])
        ex = stage_totals(collect_jobs)
        exec_s = phases.times.get("collect", 0.0)
        c["operators.exec_s"] = exec_s
        for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                  "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "failed_tasks"):
            c[f"operators.{k}"] = ex[k]
        c["sources.input_bytes"], c["sources.input_rows"] = ex["input_bytes"], ex["input_rows"]
        t0 = phases.extra.get("collect_t0")
        if t0 is not None:
            # job times are wall-clock epoch seconds; map the phase onto them
            lo = time.time() - (time.perf_counter() - t0)
            c["collect.s"] = max(0.0, exec_s - covered_seconds(collect_jobs, lo, lo + exec_s))
        c["collect.rows"] = phases.extra.get("rows", 0)
    else:  # land / replay
        events = stream.take() if stream is not None else []
        rows = sum(e["numInputRows"] for e in events)
        files1 = ingest.written()
        c["streaming.batches"] = sum(1 for e in events if e["numInputRows"] > 0)
        c["streaming.input_rows"] = rows
        c["streaming.jobs"] = len(jobs)
        for key, name in (("addBatch", "add_batch_s"), ("walCommit", "wal_commit_s"),
                          ("triggerExecution", "trigger_s")):
            c[f"streaming.{name}"] = sum(e["durationMs"].get(key, 0) for e in events) / 1e3
        c["streaming.replay_rows"] = rows if op.kind == "replay" else 0
        c["streaming.files_written"] = files1[0] - files0[0]
        c["streaming.written_bytes"] = files1[1] - files0[1]
        c["streaming.input_bytes"] = op.meta["bytes"]
    return c


PER_LAYER = (
    "plans.build_s", "plans.build_jobs", "plans.build_stages", "plans.build_task_s",
    "plans.py4j_calls", "plans.py4j_s", "catalyst.plan_s", "catalyst.exchanges",
    "catalyst.plan_nodes", "operators.exec_s", "operators.jobs", "operators.stages",
    "operators.tasks", "operators.task_run_s", "operators.task_cpu_s", "operators.gc_s",
    "operators.shuffle_write_bytes", "operators.shuffle_read_bytes", "operators.spill_bytes",
    "operators.failed_tasks", "sources.input_bytes", "sources.input_rows", "collect.s",
    "collect.rows", "streaming.batches", "streaming.input_rows", "streaming.jobs",
    "streaming.add_batch_s", "streaming.wal_commit_s", "streaming.trigger_s",
    "streaming.replay_rows", "streaming.files_written",
)


def _layer_metrics(log, setup_times) -> dict[str, float]:
    m = {
        "session.start_s": statistics.median(a for a, _ in setup_times),
        "session.warm_s": statistics.median(b for _, b in setup_times),
    }
    for k in PER_LAYER:
        m[k] = log.per_pass(lambda s, k=k: s.counters.get(k, 0.0))
    exec_s = m["operators.exec_s"]
    m["operators.slot_idle_frac"] = (
        1.0 - m["operators.task_run_s"] / (exec_s * _cpus()) if exec_s > 0 else 0.0
    )
    inp = log.per_pass(lambda s: s.counters.get("streaming.input_bytes", 0.0))
    out = log.per_pass(lambda s: s.counters.get("streaming.written_bytes", 0.0))
    m["streaming.bytes_per_input_byte"] = out / inp if inp else 0.0
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append the full run record (JSON line) to this file")
    ap.add_argument("--prime", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)) or not os.path.isfile(
        os.path.join(ROOT, "tools", "run_window_check.py")
    ):
        print(f"perfbench: no {PKG} package beside {HERE}; run from a repository checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: --workload must be one of {', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    if args.prime:  # only ever started by a run that holds the lock
        _environment()
        try:
            prime(args.workload)
        finally:
            shutil.rmtree(TMP, ignore_errors=True)
        return 0
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "run.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # runs share .perfbench/tmp: one at a time
        _ensure_primed(args.workload)  # a child process with its own temp dirs
        _environment()
        try:
            rec = measure(args.workload, args.seed, args.seconds, bool(args.trace))
        finally:
            shutil.rmtree(TMP, ignore_errors=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = json.load(f)["per_layer" if args.trace else "end_to_end"]
    values = rec["report"]["metrics"] = {**rec["metrics"], **rec["extra"], **rec["layers"]}
    if args.out:
        with open(args.out, "a") as f:
            f.write(json.dumps(rec["report"]) + "\n")
    print(json.dumps(rec["report"]))
    print(json.dumps({
        "correct": rec["report"]["failed"] == 0,
        "attempted": rec["report"]["attempted"],
        "failed": rec["report"]["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
