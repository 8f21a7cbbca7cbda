"""One benchmark run of the spark_extensions_spark engine.

    python3 perfbench/run.py --workload kafka_io --seed 1 --seconds 15 --trace 0

Run it from the root of a source checkout. A run

1. writes the shipped fixture tables with rows permuted by ``--seed``
   (``datagen.py``, outside every timing);
2. sets up the session the program ships: imports the package, calls
   ``get_spark`` with only the master set to ``local[<cores>]``, loads
   the tables and runs a warm-up query;
3. runs a cold pass over the workload's queries in their listed order,
   as a pipeline would, collecting each result, then compares every
   result with its DuckDB oracle on the same files (outside every
   timing);
4. runs warm passes in the same order, each query sunk to ``noop``.
   The order is fixed because a query's warm time depends on the query
   run before it, which a seeded order would add to the spread. The
   number of passes is fixed by ``--seconds`` and the workload's nominal
   pass time (``workloads.PASS_S``), not by the host's speed.
   ``warm_s`` is the median pass.

``setup_s`` is step 2's time in the fresh process: the package import,
the JVM launch inside ``get_spark``, ``load_tables`` and the warm-up.

Load is a closed loop with one client: each query starts only when the
previous one has returned. The queries' temp files go to a directory
of the run, removed when it ends; ``stored_mb`` is its growth in a
pass. ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps
the layers (``tracing.py``), alternates untraced and traced warm passes
and prints the per-layer metrics. The last line of standard output is
the result; the line before it describes the environment.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

T_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SF = 0.01
RUN_LIMIT_S = 170.0  # the run aborts, printing no result, past this
STOP_RESERVE_S = 15.0  # time kept for stopping the JVM
ORACLE_TIMEOUT_S = 30.0
ORACLE_TEMP_CAP = "2GiB"
MIB = 1024.0 * 1024.0

sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from workloads import PASS_S, WORKLOADS  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "pass_ratio": "ratio",
}

PER_LAYER = {
    "session.import_s": "s",
    "session.get_spark_s": "s",
    "session.load_tables_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_s": "s",
    "spark.shuffle_read_mb": "MiB",
    "spark.shuffle_write_mb": "MiB",
    "spark.spill_mb": "MiB",
    "driver.gap_s": "s",
    "driver.gap_frac": "ratio",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.add_batch_frac": "ratio",
    "filekafka.segments": "count",
    "filekafka.log_mb": "MiB",
    "confluent.call_s": "s",
    "incremental.apply_cdc_batch_s": "s",
    "incremental.apply_cdc_batch_calls": "count",
    "incremental.read_cdc_state_s": "s",
    "sketches.bloom_s": "s",
    "graph.pagerank_s": "s",
    "graph.jobs": "count",
    "graph.jobs_per_round": "count",
    "stored_mb": "MiB",
    "peak_rss_mb": "MiB",
    "trace.overhead_frac": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--sf", type=float, default=SF,
                   help="fixture scale factor: 0.01, or 0.001 for the self-test")
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - T_START:6.1f}s] {msg}", file=sys.stderr, flush=True)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def vm_hwm_kib(pid: int | str) -> int:
    """Peak resident set size of a process, from /proc, in KiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def reset_peak_rss() -> None:
    """Restart this process's VmHWM count from its current RSS."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def oracle_results(data_dir: str, queries, duck_dir: str, tables) -> dict:
    """Each query's DuckDB oracle over the generated files: name ->
    (columns, rows), or an error string on raise or timeout."""
    import duckdb

    out = {}
    con = duckdb.connect(config={
        "temp_directory": duck_dir,
        "max_temp_directory_size": ORACLE_TEMP_CAP,
        "memory_limit": "2GB",
        "threads": 2,
    })
    try:
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for q in queries:
            timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
            timer.start()
            try:
                res = con.sql(q.oracle)
                out[q.name] = (list(res.columns), res.fetchall())
            except duckdb.Error as e:
                out[q.name] = f"oracle failed: {e}"
            finally:
                timer.cancel()
    finally:
        con.close()
    return out


class Run:
    def __init__(self, args, data_dir: str, dirs: dict[str, str]) -> None:
        self.args = args
        self.data_dir = data_dir
        self.dirs = dirs
        self.cores = len(os.sched_getaffinity(0))
        self.master = f"local[{self.cores}]"
        self.attempted = 0
        self.failed = 0
        self.spark = None

    # -- session -----------------------------------------------------
    def setup_session(self) -> tuple[float, float, float]:
        """(get_spark s, load_tables s, whole set-up s) of one set-up."""
        from spark_extensions_spark.session import ALL_TABLES, get_spark, load_tables

        t0 = time.perf_counter()
        self.spark = get_spark(master=self.master)
        t1 = time.perf_counter()
        load_tables(self.spark, self.data_dir, *ALL_TABLES)
        t2 = time.perf_counter()
        self.spark.range(1000).selectExpr("sum(id)").collect()
        t3 = time.perf_counter()
        return t1 - t0, t2 - t1, t3 - t0

    # -- passes ------------------------------------------------------
    def run_query(self, q, sink):
        """Build and sink one query; the DataFrame, or None if it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            df = q.spark(self.spark, self.data_dir)
            sink(df)
            log(f"  {q.name} {time.perf_counter() - t0:.2f}s")
            return df
        except Exception:  # a failing query is counted, and the run goes on
            self.failed += 1
            log(f"{q.name} raised:\n{traceback.format_exc()}")
            return None

    def tmp_bytes(self) -> int:
        return dir_bytes(self.dirs["tmp"])

    def cold_pass(self, queries) -> tuple[float, dict]:
        results = {}

        t0 = time.perf_counter()
        for q in queries:
            holder = {}

            def collect(df, holder=holder):
                holder["rows"] = [tuple(r) for r in df.collect()]

            df = self.run_query(q, collect)
            if df is not None:
                results[q.name] = (list(df.columns), holder["rows"])
        return time.perf_counter() - t0, results

    def warm_pass(self, queries, trace=None) -> tuple[float, dict]:
        before = self.tmp_bytes()

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        if trace is not None:
            trace.begin_pass()
        dfs = []
        t0 = time.perf_counter()
        for q in queries:
            if trace is not None:
                trace.begin_query()
            df = self.run_query(q, noop)
            if trace is not None:
                trace.end_query()
            if df is not None:
                dfs.append(df)
        wall = time.perf_counter() - t0
        layers = {}
        if trace is not None:
            layers = trace.end_pass(wall, dfs, self.dirs["tmp"])
        layers["stored_mb"] = (self.tmp_bytes() - before) / MIB
        return wall, layers

    def time_left(self) -> float:
        return RUN_LIMIT_S - (time.monotonic() - T_START)

    # -- the run -----------------------------------------------------
    def execute(self) -> tuple[dict, dict]:
        args = self.args
        traced = bool(args.trace)
        # set-up: package import, then the session in a fresh JVM
        t0 = time.perf_counter()
        spans = None
        if traced:
            import tracing

            spans = tracing.Spans()
            spans.install()  # before the registry binds operators
        from spark_extensions_spark.queries import registry
        import spark_extensions_spark.session  # noqa: F401

        import_s = time.perf_counter() - t0
        by_name = {q.name: q for q in registry()}
        queries = [by_name[n] for n in WORKLOADS[args.workload]]
        get_spark_s, load_tables_s, session_s = self.setup_session()
        log(f"setup: import {import_s:.2f}s, get_spark {get_spark_s:.2f}s, "
            f"load_tables {load_tables_s:.2f}s, session {session_s:.2f}s")

        cold_s, cold_rows = self.cold_pass(queries)
        log(f"cold pass {cold_s:.2f}s")
        # the oracle's memory is the benchmark's, not the program's
        py_peak_kib = vm_hwm_kib("self")
        from spark_extensions_spark.session import ALL_TABLES
        from spark_extensions_spark.testing import compare_result_sets

        oracles = oracle_results(self.data_dir, queries, self.dirs["duckdb"], ALL_TABLES)
        reset_peak_rss()
        for q in queries:
            if q.name not in cold_rows:
                continue  # it raised, and was counted then
            want = oracles[q.name]
            got = cold_rows[q.name]
            problems = (
                [want] if isinstance(want, str)
                else compare_result_sets(got[0], got[1], want[0], want[1])
            )
            if problems:
                self.failed += 1
                log(f"{q.name} does not match its oracle: {problems}")

        trace = None
        listener = None
        if traced:
            listener = tracing.progress_listener()
            trace = tracing.PassTrace(self.spark, spans, listener)

        passes = max(1, round(args.seconds / PASS_S[args.workload]))
        if traced:
            passes = max(1, passes // 2)  # a round: one untraced, one traced pass
        warm, traced_walls, layer_passes = [], [], []
        while True:
            wall, layers = self.warm_pass(queries)
            warm.append(wall)
            if traced:
                t_wall, layers = self.warm_pass(queries, trace)
                traced_walls.append(t_wall)
            layer_passes.append(layers)
            log(f"warm pass {len(warm)}: {wall:.2f}s")
            next_pass = wall + (traced_walls[-1] if traced else 0.0)
            if len(warm) >= passes or self.time_left() - STOP_RESERVE_S < 2 * next_pass:
                break
        if traced:
            # untraced passes on both sides of the traced ones, so that
            # passes still speeding up do not bias trace.overhead_frac
            wall, _ = self.warm_pass(queries)
            warm.append(wall)

        jvm = self.spark.sparkContext._jvm
        jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
        peak_kib = vm_hwm_kib(jvm_pid) + max(py_peak_kib, vm_hwm_kib("self"))
        env = self.environment(jvm, len(warm))

        if traced:
            metrics = {
                name: statistics.median(p[name] for p in layer_passes)
                for name in layer_passes[0]
            }
            metrics["session.import_s"] = import_s
            metrics["session.get_spark_s"] = get_spark_s
            metrics["session.load_tables_s"] = load_tables_s
            metrics["peak_rss_mb"] = peak_kib / 1024.0
            metrics["trace.overhead_frac"] = (
                statistics.median(traced_walls) / statistics.median(warm) - 1.0
            )
            units = PER_LAYER
        else:
            metrics = {
                "setup_s": import_s + session_s,
                "cold_s": cold_s,
                "warm_s": statistics.median(warm),
                "pass_ratio": (self.attempted - self.failed) / self.attempted,
            }
            units = END_TO_END
        result = {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                name: {"value": float(metrics[name]), "unit": unit}
                for name, unit in units.items()
            },
        }
        return result, env

    def environment(self, jvm, warm_passes: int) -> dict:
        import duckdb
        import pyspark

        sc = self.spark.sparkContext
        return {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "traced": bool(self.args.trace),
            "scale_factor": self.args.sf,
            "warm_passes": warm_passes,
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "nproc": self.cores,
            "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0],
            "git_sha": git_sha(),
        }


def stop_jvm() -> None:
    """Stop the session and the JVM the gateway launched; wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # the JVM may already be gone; it is waited for below
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def abort(run_dir: str) -> None:
    """Past the run limit: kill the JVM, remove the run's files and exit
    without a result."""
    log(f"run exceeded {RUN_LIMIT_S:.0f}s; aborting")
    try:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait(timeout=10)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        os._exit(3)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "spark_extensions_spark", "session.py")):
        log(f"no spark_extensions_spark package in {ROOT}; run from a source checkout")
        return 2

    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "spark_local", "duckdb")}
    for d in dirs.values():
        os.makedirs(d)
    # everything the run writes stays in its own directory
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark_local"]
    os.environ["SPARK_CONF_DIR"] = os.path.join(HERE, "conf")
    # (no hsperfdata files in the system temp directory either)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None

    watchdog = threading.Timer(RUN_LIMIT_S, abort, args=(run_dir,))
    watchdog.daemon = True
    watchdog.start()
    try:
        import datagen

        data_dir = os.path.join(ROOT, ".perfbench_data", f"sf{args.sf}-seed{args.seed}")
        datagen.write_tables(data_dir, args.sf, args.seed)
        reset_peak_rss()
        run = Run(args, data_dir, dirs)
        result, env = run.execute()
    finally:
        stop_jvm()
        watchdog.cancel()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"environment": env}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
