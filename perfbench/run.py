"""The repository's benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload tpch_relational --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. A run

1. writes the seed's inputs (perfbench/datagen.py) under .bench_work/;
2. hashes every operation's DuckDB oracle over those inputs (reported as
   bench.oracle_s, outside every timer);
3. sets up a session once, cold: process start and imports, get_spark
   (JVM launch), Catalog warm-up (schema checks), one throwaway action.
   That is setup_s; steps 1 and 2 are not in it;
4. runs one first pass, then warm passes until --seconds is used up,
   checking every collected result against its oracle hash outside the
   timers;
5. with --trace 1, runs one more pass with the probes of probes.py on
   and reports the per-layer metrics instead of the end-to-end ones.

The last stdout line is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
See perfbench/README.md for every metric and workload.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from typing import NamedTuple

T_START = time.perf_counter()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".bench_work")
APP = "perfbench"


def host_config() -> dict:
    """Pin Spark to this host and keep every scratch file inside WORK.

    Must run before pyspark or the program is imported: the session
    module reads SPARK_GRAFT_* at import and the JVM reads its options
    at launch."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    # the session default (24g) exceeds small hosts; a quarter of RAM,
    # at most 4 GiB, holds these inputs with room to spare
    heap_mb = max(1024, min(4096, mem_kb // 4096))
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local"), os.path.join(WORK, "cwd")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(nproc),
            "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            # -XX:-UsePerfData: no hsperfdata file under the system /tmp,
            # for the driver JVM and for spark-submit's launcher JVM
            "PYSPARK_SUBMIT_ARGS": (
                f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"'
                " pyspark-shell"
            ),
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        }
    )
    # spark-warehouse/ and other cwd-relative output stay in WORK too
    os.chdir(os.path.join(WORK, "cwd"))
    return {"nproc": nproc, "mem_total_kb": mem_kb, "driver_heap_mb": heap_mb}


def cpu_ticks() -> tuple[int, int]:
    """(steal, all) CPU ticks of this machine since boot, from /proc/stat.
    Steal is time a virtual CPU waited for its hypervisor: host noise the
    program did not cause."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def steal_frac(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    return (t1[0] - t0[0]) / max(1, t1[1] - t0[1])


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def geomean(xs: list[float]) -> float:
    return statistics.geometric_mean(xs) if xs else 0.0


def percentile(xs: list[float], p: int) -> float:
    """p-th percentile, linear between closest ranks."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


class Call(NamedTuple):
    """One timed operation call. A call that raised has the time it ran
    until the exception; ``start``/``end`` are epoch seconds, to clip
    Spark job intervals to the call."""

    build_s: float
    collect_s: float
    ok: bool
    start: float
    end: float


class Bench:
    def __init__(self, workload: str, sf_dir: str):
        import workloads

        from tools.canon import lines_of, vhash

        self.lines_of, self.vhash = lines_of, vhash
        self.sf_dir = sf_dir
        self.ops = workloads.build_ops(workload, os.path.join(WORK, "stream"))
        self.expected: dict[str, tuple] = {}
        self.spark = None
        self.attempted = 0
        self.failed = 0

    # ---- oracle -------------------------------------------------------
    def hash_oracles(self) -> float:
        import duckdb

        from uw_hadoop_aglorithms_spark.sources.catalog import TABLE_NAMES

        t0 = time.perf_counter()
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{os.path.join(WORK, 'tmp', 'duckdb')}'")
        for t in TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        for op in self.ops:
            cur = con.execute(op.oracle_sql)
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            self.expected[op.name] = self.digest(cols, rows)
        con.close()
        return time.perf_counter() - t0

    def digest(self, cols, rows) -> tuple:
        return len(rows), sorted(cols), self.vhash(self.lines_of(cols, rows))

    # ---- session set-up ---------------------------------------------------
    def setup(self) -> dict:
        from uw_hadoop_aglorithms_spark.session import get_spark
        from uw_hadoop_aglorithms_spark.sources.catalog import TABLE_NAMES, Catalog

        t0 = time.perf_counter()
        self.spark = get_spark(APP, extra_conf={"spark.ui.showConsoleProgress": "false"})
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        cat = Catalog(self.spark, self.sf_dir)
        for t in TABLE_NAMES:
            cat.table(t)
        t2 = time.perf_counter()
        cat.nation.count()
        t3 = time.perf_counter()
        return {"start_s": t1 - t0, "catalog_warm_s": t2 - t1, "total_s": t3 - t0}

    def catalog_names(self) -> set[str]:
        return {t.name for t in self.spark.catalog.listTables()}

    # ---- operations -----------------------------------------------------
    def run_op(self, op) -> Call:
        """One call, checked against its oracle outside the timer."""
        self.attempted += 1
        err, rows, t1 = None, None, None
        w0, t0 = time.time(), time.perf_counter()
        try:
            df = op.build(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            cols, rows = op.fetch(df)
        except Exception as e:  # noqa: BLE001 — one failed call costs only itself
            err = e
        t2, w2 = time.perf_counter(), time.time()
        try:
            if err is not None:
                traceback.print_exception(err)
            else:
                got = self.digest(cols, rows)
                if got != self.expected[op.name]:
                    print(f"perfbench: {op.name} result {got} != oracle "
                          f"{self.expected[op.name]}", file=sys.stderr)
                    err = AssertionError(op.name)
        finally:
            self.cleanup(op)
        if t1 is None:
            t1 = t2
        if err is not None:
            self.failed += 1
        return Call(t1 - t0, t2 - t1, err is None, w0, w2)

    def cleanup(self, op) -> None:
        """Outside every timer: per-call scratch, cached blocks,
        Python/JVM garbage (localCheckpoint RDDs and broadcasts die only
        with their Python references), and dirty pages: the write-back
        of one call's files (and the discards of its deleted scratch)
        must not land in the next call's timer."""
        if op.cleanup is not None:
            op.cleanup(self.spark)
        self.spark.catalog.clearCache()
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        os.sync()

    def run_pass(self, per_op=None) -> tuple[float, dict[str, float]]:
        """Run every operation once; return (pass seconds, op seconds).
        A failed call counts with the time it ran, so failing never reads
        as a speed-up."""
        times = {}
        for op in self.ops:
            call = self.run_op(op)
            if per_op is not None:
                per_op(call)
            times[op.name] = call.build_s + call.collect_s
        return sum(times.values()), times

    # ---- traced pass ------------------------------------------------------
    def traced_pass(self) -> dict:
        import probes

        rest = probes.SparkRest(self.spark)
        listener = probes.stream_probe(self.spark)
        spark_sums: dict[str, float] = {}
        progress: list[dict] = []
        walls = {"build_s": 0.0, "collect_s": 0.0, "idle_s": 0.0}

        def per_op(call):
            got = rest.collect()
            progress.extend(listener.drain())
            ivs = got.pop("job_intervals")
            walls["build_s"] += call.build_s
            walls["collect_s"] += call.collect_s
            a0, b0 = call.start, call.end
            clipped = [(max(a, a0), min(b, b0)) for a, b in ivs if b > a0 and a < b0]
            walls["idle_s"] += (b0 - a0) - probes.union_seconds(clipped)
            for k, v in got.items():
                spark_sums[k] = spark_sums.get(k, 0.0) + v

        try:
            with probes.Spans() as spans:
                total, _ = self.run_pass(per_op)
        finally:
            self.spark.streams.removeListener(listener)
        return {
            "pass_s": total, "spark": spark_sums, "walls": walls,
            "spans": dict(spans.stats), "progress": progress,
            "peak_heap_mb": rest.peak_heap_mb(),
        }

    def stop(self) -> None:
        """Stop Spark, then the JVM (it exits when its stdin closes) and
        wait for it, so no process outlives the run."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — never leave the JVM behind
                proc.kill()
                proc.wait()


def per_layer(bench: Bench, ops_all: list[str], setup: dict, traced: dict,
              warm_op: dict[str, list[float]], pass_s: float, extra: dict) -> dict:
    s, sp, prog = traced["spark"], traced["spans"], traced["progress"]
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    trig = [p["dur"].get("triggerExecution", 0) / 1e3 for p in prog]
    last_state: dict[str, int] = {}
    for p in prog:
        last_state[p["id"]] = p["state_rows"]
    wall = traced["walls"]["build_s"] + traced["walls"]["collect_s"]
    m = {
        "session.start_s": (setup["start_s"], "s"),
        "sources.catalog_warm_s": (setup["catalog_warm_s"], "s"),
        "sources.input_mb": (s.get("input_mb", 0.0), "MB"),
        "sources.output_mb": (s.get("output_mb", 0.0), "MB"),
        "sources.write_amp": (
            s["output_mb"] / s["input_mb"] if s.get("input_mb") else 0.0, "ratio"),
        "sources.leaked_tables": (extra["leaked_tables"], "count"),
        "operators.build_s": (traced["walls"]["build_s"], "s"),
        "operators.collect_s": (traced["walls"]["collect_s"], "s"),
        "spark.jobs": (s.get("jobs", 0), "count"),
        "spark.stages": (s.get("stages", 0), "count"),
        "spark.tasks": (s.get("tasks", 0), "count"),
        "spark.failed_tasks": (s.get("failed_tasks", 0), "count"),
        "spark.task_run_s": (s.get("task_run_s", 0.0), "s"),
        "spark.task_cpu_s": (s.get("task_cpu_s", 0.0), "s"),
        "spark.gc_s": (s.get("gc_s", 0.0), "s"),
        "spark.core_busy_frac": (
            s.get("task_run_s", 0.0) / (wall * cores) if wall else 0.0, "ratio"),
        "spark.driver_idle_s": (traced["walls"]["idle_s"], "s"),
        "spark.jvm_peak_heap_mb": (traced["peak_heap_mb"], "MB"),
        "spark.shuffle_read_mb": (s.get("shuffle_read_mb", 0.0), "MB"),
        "spark.shuffle_write_mb": (s.get("shuffle_write_mb", 0.0), "MB"),
        "spark.fetch_wait_s": (s.get("fetch_wait_s", 0.0), "s"),
        "spark.spill_mb": (s.get("spill_mb", 0.0), "MB"),
        "functions.python_run_s": (s.get("python_run_s", 0.0), "s"),
        "functions.python_boot_s": (s.get("python_boot_s", 0.0), "s"),
        "functions.python_sent_mb": (s.get("python_sent_mb", 0.0), "MB"),
        "functions.python_rows_out": (s.get("python_rows_out", 0.0), "count"),
        "plans.shared_frame_calls": (sp["shared_frame_calls"], "count"),
        "plans.shared_frame_s": (sp["shared_frame_s"], "s"),
        "plans.spread_repartitions": (sp["spread_repartitions"], "count"),
        "streaming.batches": (len(prog), "count"),
        "streaming.input_rows": (sum(p["rows"] for p in prog), "count"),
        "streaming.add_batch_s": (sum(p["dur"].get("addBatch", 0) for p in prog) / 1e3, "s"),
        "streaming.planning_s": (sum(p["dur"].get("queryPlanning", 0) for p in prog) / 1e3, "s"),
        "streaming.wal_commit_s": (sum(p["dur"].get("walCommit", 0) for p in prog) / 1e3, "s"),
        "streaming.state_rows": (sum(last_state.values()), "count"),
        "streaming.microbatch_p50_s": (percentile(trig, 50), "s"),
        "streaming.microbatch_p90_s": (percentile(trig, 90), "s"),
        "bench.failed_frac": (bench.failed / bench.attempted, "ratio"),
        "bench.oracle_s": (extra["oracle_s"], "s"),
        "bench.trace_overhead_frac": (traced["pass_s"] / pass_s - 1 if pass_s else 0.0, "ratio"),
        "bench.warm_passes": (extra["warm_passes"], "count"),
        "bench.query_samples": (extra["query_samples"], "count"),
        "bench.query_p50_s": (extra["query_p50_s"], "s"),
        "bench.query_p90_s": (extra["query_p90_s"], "s"),
    }
    for name in ops_all:
        m[f"operators.{name}_s"] = (median(warm_op.get(name, [])), "s")
    return m


def main() -> int:
    sys.path[:0] = [BENCH_DIR, ROOT]
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    host = host_config()
    run_ticks0 = cpu_ticks()
    import datagen

    # program imports are part of the set-up
    import __spark_entry__  # noqa: F401
    from tools.engineversions import engine_versions

    import_s = time.perf_counter() - T_START

    sf_dir = os.path.join(WORK, "inputs")
    shutil.rmtree(sf_dir, ignore_errors=True)
    rows = datagen.write_inputs(sf_dir, args.seed)
    bench = Bench(args.workload, sf_dir)
    oracle_s = bench.hash_oracles()
    try:
        setup = bench.setup()
        setup["import_s"] = import_s
        setup["total_s"] += import_s
        baseline_tables = bench.catalog_names()

        first_s, first_op = bench.run_pass()
        # whole warm passes until --seconds have passed: the pass count
        # is ceil(seconds / pass wall time), so it does not flip between
        # runs unless the pass time sits near seconds / k
        warm_pass: list[float] = []
        warm_op: dict[str, list[float]] = {}
        pass_steal: list[float] = []
        warm_ticks0 = cpu_ticks()
        t0 = time.perf_counter()
        while not warm_pass or time.perf_counter() - t0 < args.seconds:
            ticks0 = cpu_ticks()
            total, times = bench.run_pass()
            pass_steal.append(steal_frac(ticks0, cpu_ticks()))
            warm_pass.append(total)
            for k, v in times.items():
                warm_op.setdefault(k, []).append(v)
        warm_wall_s = time.perf_counter() - t0
        warm_steal_frac = steal_frac(warm_ticks0, cpu_ticks())
        samples = [v for vs in warm_op.values() for v in vs]
        pass_s = median(warm_pass)
        # every operation weighs the same, however long it runs
        query_geomean_s = geomean([median(vs) for vs in warm_op.values()])

        traced = bench.traced_pass() if args.trace else None
        leaked = len(bench.catalog_names() - baseline_tables)
        versions = engine_versions(bench.spark)
    finally:
        bench.stop()

    if args.trace:
        metrics = per_layer(
            bench, workloads.all_op_names(), setup, traced, warm_op, pass_s,
            {"leaked_tables": leaked, "oracle_s": oracle_s,
             "warm_passes": len(warm_pass), "query_samples": len(samples),
             "query_p50_s": percentile(samples, 50),
             "query_p90_s": percentile(samples, 90)},
        )
    else:
        metrics = {
            "setup_s": (setup["total_s"], "s"),
            "first_pass_s": (first_s, "s"),
            "pass_s": (pass_s, "s"),
            "query_geomean_s": (query_geomean_s, "s"),
        }
    print(json.dumps({
        "perfbench": {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "host": host, "versions": versions,
            "input_rows": rows, "setup": setup, "oracle_s": oracle_s,
            "first_pass_s": first_s, "first_op_s": first_op,
            "warm_passes": warm_pass, "warm_pass_steal_frac": pass_steal,
            "warm_wall_s": warm_wall_s, "warm_steal_frac": warm_steal_frac,
            "run_steal_frac": steal_frac(run_ticks0, cpu_ticks()),
            "run_wall_s": time.perf_counter() - T_START,
            "op_median_s": {k: median(v) for k, v in warm_op.items()},
            "query_samples": len(samples),
        }
    }))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    os.chdir(ROOT)
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
