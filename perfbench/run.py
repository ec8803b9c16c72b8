"""Closed-loop benchmark of the engine's registered queries.

    python3 perfbench/run.py --workload sql_olap --seed 1 --seconds 10 --trace 0

One client runs one query at a time, each query being
`registry.all_queries()[name].fn(spark, sf_dir)` written to the noop
sink, on a session from `session.build_session` with the engine's
defaults.  A run is:

1. set-up: session build and an untimed warm-up pass that collects
   every query's result;
2. timed passes, each in a seed-permuted query order, until
   `--seconds` have elapsed (at least one pass);
3. with `--trace 1`: one more pass with spans around every layer entry
   point and one Spark job group per query, then a scan of each table
   the pass loaded, then the Spark event log parsed per query;
4. the warm-up results compared to each query's DuckDB oracle.

The last stdout line is one JSON object: end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`.  README.md describes
the workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

T0 = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
GROUP = "perfbench.q:"
MB = 1024 * 1024

WORKLOADS = {
    "sql_olap": [
        "tpch_q1",
        "tpch_q3",
        "tpch_q6",
        "agg_groupby_quantile",
        "events_view_to_purchase_conversion",
        "part_skyline_frontier",
        "orders_pareto_concentration",
    ],
    "text_dedup": ["dedup_connected_components", "udf_grouped_agg"],
}

# Each changes the program being measured (shared graph edges, the
# armed broadcast guard's O(iterations^2) counts, coalescing policy,
# shuffle width, core count).
REFUSED_ENV = (
    "SPARK_GRAFT_SHARED_EDGES",
    "SPARK_GRAFT_CHECK_BROADCAST",
    "SPARK_GRAFT_PARALLELISM_FIRST",
    "SPARK_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_CPUS",
)

# Layer figures printed in the report but left out of the JSON line:
# each reads exactly 0 on a workload that never reaches the layer (or,
# in local mode, on most runs: GC and fetch wait), so it cannot be
# compared across runs.
REPORT_ONLY = frozenset({
    "exec.gc_s",
    "exchange.fetch_wait_s",
    "operators.quantile.s",
    "operators.rank.s",
    "operators.asof.s",
    "operators.graphcc.s",
})


class Outcomes:
    """Query executions attempted and failed, across every pass."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[str] = []

    def fail(self, name: str, phase: str, err: BaseException) -> None:
        msg = f"{type(err).__name__}: {err}".splitlines()[0][:300]
        self.failures.append(f"{phase} {name}: {msg}")


@dataclass
class Pass:
    wall: float = 0.0
    total: dict[str, float] = field(default_factory=dict)  # fn + write
    fn_s: dict[str, float] = field(default_factory=dict)
    # (rdds, bytes) retained after each query, traced pass only
    storage: list[tuple[int, int]] = field(default_factory=list)


def run_pass(spark, queries, sf_dir, order, outcomes, traced=False) -> Pass:
    """One closed-loop pass into the noop sink.  `traced` runs each query
    under its own job group and records the storage it leaves behind."""
    from ondemand_dask_spark.operators import checkpoint

    sc = spark.sparkContext
    p = Pass()
    t_pass = time.perf_counter()
    for name in order:
        # as bench.py: no query is timed under another's storage blocks
        checkpoint.evict_all_retained()
        spark.catalog.clearCache()
        if traced:
            sc.setJobGroup(GROUP + name, name)
        outcomes.attempted += 1
        t0 = time.perf_counter()
        try:
            df = queries[name].fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # a failing query is counted, the pass goes on
            outcomes.fail(name, "timed", e)
            continue
        p.total[name] = time.perf_counter() - t0
        p.fn_s[name] = t1 - t0
        if traced:
            infos = sc._jsc.sc().getRDDStorageInfo()
            p.storage.append((len(infos), sum(i.memSize() + i.diskSize() for i in infos)))
    p.wall = time.perf_counter() - t_pass
    if traced:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return p


def warmup_pass(spark, queries, sf_dir, order, outcomes) -> dict:
    """Untimed first pass: collect every result for the oracle check."""
    from ondemand_dask_spark.operators import checkpoint

    results = {}
    for name in order:
        checkpoint.evict_all_retained()
        spark.catalog.clearCache()
        outcomes.attempted += 1
        try:
            results[name] = queries[name].fn(spark, sf_dir).toPandas()
        except Exception as e:
            outcomes.fail(name, "warm-up", e)
    return results


def scan_tables(spark, sf_dir, tables) -> tuple[float, int]:
    """io.load_table + noop write of each table: (seconds, parquet bytes)."""
    from ondemand_dask_spark.io import load_table

    sc = spark.sparkContext
    seconds = 0.0
    for t in sorted(tables):
        sc.setJobGroup(f"perfbench.scan:{t}", t)
        t0 = time.perf_counter()
        load_table(spark, sf_dir, t).write.format("noop").mode("overwrite").save()
        seconds += time.perf_counter() - t0
    sc.setLocalProperty("spark.jobGroup.id", None)
    return seconds, sum(os.path.getsize(f"{sf_dir}/{t}.parquet") for t in tables)


def oracle_results(queries, sf_dir, names) -> dict:
    """DuckDB oracle result per query, cached under the work directory
    keyed by the oracle SQL and the input files."""
    import pandas as pd

    from ondemand_dask_spark.io import TABLES

    stamp = "".join(
        f"{t}:{st.st_size}:{st.st_mtime_ns};"
        for t in TABLES
        for st in [os.stat(f"{sf_dir}/{t}.parquet")]
    )
    cache = os.path.join(WORK, "oracle")
    os.makedirs(cache, exist_ok=True)
    out, con = {}, None
    for name in names:
        key = hashlib.sha256((stamp + queries[name].oracle).encode()).hexdigest()
        path = os.path.join(cache, f"{name}-{key[:16]}.pkl")
        if not os.path.exists(path):
            if con is None:
                import duckdb

                con = duckdb.connect()
                # the views exactly as tests/conftest.py builds them
                for t in TABLES:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')"
                    )
            con.execute(queries[name].oracle).fetchdf().to_pickle(path + ".tmp")
            os.replace(path + ".tmp", path)
        out[name] = pd.read_pickle(path)
    if con is not None:
        con.close()
    return out


def tests_module(name: str):
    """A module of the repository's test suite, imported from its file."""
    spec = importlib.util.spec_from_file_location(
        f"perfbench_{name}", os.path.join(ROOT, "tests", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def cpu_calibration_s() -> float:
    """A fixed pure-CPU job, recorded as host context only."""
    t0 = time.perf_counter()
    h = b"perfbench"
    for _ in range(200_000):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t0


def source_context() -> dict:
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except OSError:
        sha = None
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(os.path.join(ROOT, "ondemand_dask_spark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return {"git_sha": sha, "engine_sha256": h.hexdigest()[:16]}


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits on EOF
        gateway.proc.wait(timeout=60)


def geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def layer_metrics(traced: Pass, tracer, per_group, untraced_pass_s, nproc) -> dict:
    """The traced pass's per-layer figures, name -> (value, unit)."""
    from eventlog import GroupStats

    ex = GroupStats()
    for g in per_group.values():
        ex.add(g)
    fn_s = sum(traced.fn_s.values())
    m = {
        "io.load_calls": (tracer.calls["io"], "count"),
        "queries.fn_s": (fn_s, "s"),
        "queries.write_s": (sum(traced.total.values()) - fn_s, "s"),
        "queries.jobs": (ex.jobs, "count"),
        "queries.stages": (ex.stages, "count"),
        "queries.tasks": (ex.tasks, "count"),
        "queries.single_task_stages": (ex.single_task_stages, "count"),
        "exec.task_s": (ex.task_s, "s"),
        "exec.core_util": (ex.task_s / (traced.wall * nproc), "ratio"),
        "exec.gc_s": (ex.gc_s, "s"),
        "exchange.shuffle_write_mb": (ex.shuffle_write_bytes / MB, "MB"),
        "exchange.shuffle_read_mb": (ex.shuffle_read_bytes / MB, "MB"),
        "exchange.fetch_wait_s": (ex.fetch_wait_s, "s"),
        "exchange.spill_mb": (ex.spill_bytes / MB, "MB"),
        "python.bytes_to_worker_mb": (ex.python_sent_bytes / MB, "MB"),
    }
    for op in ("quantile", "rank", "asof", "graphcc"):
        m[f"operators.{op}.s"] = (tracer.seconds[f"operators.{op}"], "s")
        m[f"operators.{op}.calls"] = (tracer.calls[f"operators.{op}"], "count")
    m.update({
        "operators.checkpoint.local_checkpoints": (tracer.local_checkpoints, "count"),
        "operators.checkpoint.evict_s": (tracer.seconds["operators.checkpoint"], "s"),
        "operators.checkpoint.retained_mb_max": (
            max((b for _, b in traced.storage), default=0) / MB, "MB"
        ),
        "operators.checkpoint.retained_rdds_max": (
            max((n for n, _ in traced.storage), default=0), "count"
        ),
        "trace.pass_s": (traced.wall, "s"),
        "trace.overhead_s": (traced.wall - untraced_pass_s, "s"),
    })
    return m


def bench(args, run_dir: str) -> int:
    sys.path.insert(0, ROOT)
    from ondemand_dask_spark import registry, session

    assert_results_match = tests_module("compare").assert_results_match
    # the bench scale factor beside the test suite's testdata
    sf_dir = os.path.join(os.path.dirname(tests_module("conftest").SF_DIR), "sf0.1")
    if not os.path.isdir(sf_dir):
        print(f"input data {sf_dir} not found", file=sys.stderr)
        return 2
    names = WORKLOADS[args.workload]
    queries = registry.all_queries()
    rng = random.Random(args.seed)

    def order():
        o = list(names)
        rng.shuffle(o)
        return o

    nproc = len(os.sched_getaffinity(0))
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir}/tmp",
    }
    log_dir = os.path.join(run_dir, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    outcomes = Outcomes()
    report: dict[str, tuple] = {}  # name -> (value, unit), printed
    t_build = time.perf_counter()
    spark = session.build_session(
        app_name="perfbench", master=f"local[{nproc}]", extra_conf=extra
    )
    report["session.build_s"] = (time.perf_counter() - t_build, "s")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        results = warmup_pass(spark, queries, sf_dir, order(), outcomes)
        report["setup_s"] = (time.perf_counter() - T0, "s")

        passes = []
        t_timed = time.perf_counter()
        while not passes or time.perf_counter() - t_timed < args.seconds:
            passes.append(run_pass(spark, queries, sf_dir, order(), outcomes))
        pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        report["peak_rss_mb"] = (vm_hwm_mb(pid), "MB")

        if args.trace:
            from tracer import Tracer

            tracer = Tracer()
            tracer.install(type(spark.range(1)))
            try:
                traced = run_pass(spark, queries, sf_dir, order(), outcomes, traced=True)
            finally:
                tracer.uninstall()
            scan_s, scan_bytes = scan_tables(spark, sf_dir, tracer.loaded_tables)
            report["io.scan_s"] = (scan_s, "s")
            report["io.scan_mb_per_s"] = (scan_bytes / MB / scan_s, "MB/s")
        # the session's conf after the queries ran (some set keys at run time)
        sql_conf = {k: v for k, v in spark.conf.getAll.items() if k.startswith("spark.sql.")}
    finally:
        stop_spark(spark)

    oracles = oracle_results(queries, sf_dir, names)
    for name, pdf in results.items():
        try:
            assert_results_match(pdf, oracles[name], name)
        except AssertionError as e:
            outcomes.fail(name, "oracle", e)

    context = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": nproc,
        "sf_dir": sf_dir,
        "queries": names,
        "timed_passes": len(passes),
        "cpu_calibration_s": cpu_calibration_s(),
        "spark_sql_conf": dict(sorted(sql_conf.items())),
        **source_context(),
    }
    print("context " + json.dumps(context, sort_keys=True))
    for f in outcomes.failures:
        print("FAILED " + f)
    print(f"error_rate {len(outcomes.failures)}/{outcomes.attempted} query executions")

    pass_s = statistics.median(p.wall for p in passes)
    if args.trace:
        from eventlog import parse_file

        (log,) = os.listdir(log_dir)
        per_group = parse_file(os.path.join(log_dir, log), GROUP)
        shutil.rmtree(log_dir)
        report.update(layer_metrics(traced, tracer, per_group, pass_s, nproc))
        for name in names:
            if name in traced.total:
                print(
                    f"q.{name}.s {traced.total[name]:.4f} s  "
                    f"q.{name}.fn_s {traced.fn_s[name]:.4f} s  "
                    f"{per_group.get(GROUP + name)}"
                )
        keep = [k for k in report if k not in REPORT_ONLY and k != "setup_s"]
    else:
        medians = []
        for name in names:
            samples = [p.total[name] for p in passes if name in p.total]
            if samples:
                medians.append(statistics.median(samples))
                print(f"q.{name}.s {medians[-1]:.4f} s")
        report["pass_s"] = (pass_s, "s")
        report["query_geomean_s"] = (geomean(medians), "s")
        keep = ["setup_s", "pass_s", "query_geomean_s"]

    for k, (v, unit) in report.items():
        print(f"{k} {v} {unit}")
    print(json.dumps({
        "correct": not outcomes.failures,
        "attempted": outcomes.attempted,
        "failed": len(outcomes.failures),
        "metrics": {k: {"value": report[k][0], "unit": report[k][1]} for k in keep},
    }))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    knobs = [k for k in REFUSED_ENV if k in os.environ]
    if knobs:
        print(f"refusing to run with {', '.join(knobs)} set", file=sys.stderr)
        return 2

    # Everything the run writes stays under perfbench/_work/.
    run_dir = os.path.join(WORK, str(os.getpid()))
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(run_dir, "warehouse")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    try:
        return bench(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
