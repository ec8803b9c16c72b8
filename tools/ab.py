"""A/B timing of query arms, identity-checked against the registered query.

    python tools/ab.py ARM [ARM ...] [--sf DIR] [--runs N] [--fresh]

An arm is a registered query name (`graph_pagerank`), or a variant with
the registered `(spark, sf_dir) -> DataFrame` signature given as
`package.module:function` or `path/to/file.py:function`, either one
optionally followed by runtime conf overrides, each `@key=value`
(`tpch_q6@spark.sql.adaptive.enabled=false`).

Before any timing, each arm that is not a bare registered name must
match its registered query at sf0.01 (`tests.compare`): a conf arm its
own query, a `module:function` arm the first registered arm given.  A
mismatch exits 1.

Default mode: one warm session, one untimed warm-up per arm, then
`--runs` rounds whose arm order rotates, so two arms alternate which
runs first.  Every run starts from empty storage, runs under the job
group `ab.arm:<arm>` and ends in a noop write.  Per arm: wall median,
quartiles and wins (rounds in which it was fastest), and per run the
jobs, stages, tasks, single-task stages, task seconds and shuffle MB
written that `perfbench.eventlog` folds out of the event log, plus
core utilization Σtask-s ÷ (Σwall × cores).  `--fresh`: the isolated
protocol (`measure`) on a fresh session.  The last stdout line is JSON.
Default `--sf`: `sf0.1` beside the test suite's testdata.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import runpy
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import contextmanager
from typing import NamedTuple

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from ondemand_dask_spark.operators.checkpoint import evict_all_retained  # noqa: E402
from ondemand_dask_spark.registry import all_queries  # noqa: E402
from ondemand_dask_spark.session import build_session  # noqa: E402
from perfbench.eventlog import parse_file  # noqa: E402
from tests.compare import assert_results_match  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402

GROUP = "ab.arm:"
TESTDATA = os.path.dirname(SF_DIR)


class Arm(NamedTuple):
    spec: str
    fn: object  # (spark, sf_dir) -> DataFrame
    conf: dict[str, str]
    query: str | None  # the registered query it is, if it is one


def parse_arm(spec: str) -> Arm:
    head, *overrides = spec.split("@")
    qs, (mod, _, fn) = all_queries(), head.rpartition(":")
    if not (head in qs or mod) or not all("=" in o for o in overrides):
        raise SystemExit(f"{spec!r}: not QUERY or MODULE:FUNCTION, then @key=value...")
    conf = dict(o.split("=", 1) for o in overrides)
    if head in qs:
        return Arm(spec, qs[head].fn, conf, head)
    if mod.endswith(".py"):
        return Arm(spec, runpy.run_path(mod)[fn], conf, None)
    return Arm(spec, getattr(importlib.import_module(mod), fn), conf, None)


@contextmanager
def armed(spark, arm: Arm):
    """Empty storage and the arm's conf overrides for one run."""
    evict_all_retained()
    spark.catalog.clearCache()
    old = {k: spark.conf.get(k, None) for k in arm.conf}
    for k, v in arm.conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)


def run_once(spark, arm: Arm, sf_dir: str, group: str) -> float:
    """Seconds to run the arm into the noop sink under job group `group`."""
    sc = spark.sparkContext
    with armed(spark, arm):
        sc.setJobGroup(group, arm.spec)
        try:
            t0 = time.perf_counter()
            arm.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)


def collect(spark, arm: Arm, sf_dir: str):
    with armed(spark, arm):
        return arm.fn(spark, sf_dir).toPandas()


def check_identity(spark, arms: list[Arm]) -> bool:
    """Each arm against its registered query at sf0.01; True if all match."""
    sf_dir = os.path.join(TESTDATA, "sf0.01")
    first = next((a.query for a in arms if a.query), None)
    for arm in arms:
        if arm.query and not arm.conf:
            continue  # the registered query itself
        ref = arm.query or first
        if ref is None:
            print(f"{arm.spec}: no registered arm to check against", file=sys.stderr)
            return False
        expected = collect(spark, parse_arm(ref), sf_dir)
        try:
            assert_results_match(collect(spark, arm, sf_dir), expected, arm.spec)
        except AssertionError as e:
            print(f"IDENTITY MISMATCH vs {ref} at {sf_dir}: {e}", file=sys.stderr)
            return False
        print(f"{arm.spec}: identical to {ref} at {sf_dir}", file=sys.stderr)
    return True


def calibrate(spark) -> tuple[float, float]:
    """bench.py's two host-drift calibration jobs, best of 3 after a
    warm-up: a CPU-bound codegen sum and a bandwidth-bound sort of a
    stored frame."""

    def timed(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    cpu = spark.range(1_000_000_000).selectExpr("sum(CAST(id AS DOUBLE) * id) AS s")
    bw = spark.range(30_000_000).select(F.xxhash64("id").alias("k")).persist()
    bw.count()
    out = []
    for df in (cpu, bw.orderBy("k")):
        timed(df)
        out.append(round(min(timed(df) for _ in range(3)), 4))
    bw.unpersist()
    return out[0], out[1]


def measure(spark, names: list[str], sf_dir: str, runs: int = 5) -> dict:
    """The isolated protocol on the GIVEN (fresh) session: `calibrate`,
    then 1 warm-up + `runs` timed runs per arm with full eviction
    between runs.  bench.py's per-round `isolated` block and
    tools/scale_curve.py call it, so their numbers and this tool stay
    one instrument."""
    arms = [parse_arm(n) for n in names]
    cpu, bwv = calibrate(spark)
    out: dict[str, dict] = {}
    for arm in arms:
        group = GROUP + arm.spec
        run_once(spark, arm, sf_dir, group)  # warm-up
        ts = [round(run_once(spark, arm, sf_dir, group), 4) for _ in range(runs)]
        out[arm.spec] = {"best": min(ts), "all": ts}
        print(f"{arm.spec}: best {min(ts):.2f}s of {ts}", file=sys.stderr)

    return {"calib_sec": cpu, "calib_bw_sec": bwv, "queries": out}


def interleave(spark, arms: list[Arm], sf_dir: str, runs: int) -> dict[str, list]:
    for arm in arms:
        run_once(spark, arm, sf_dir, "ab.warmup")
    times: dict[str, list[float]] = {a.spec: [] for a in arms}
    for r in range(runs):
        for arm in arms[r % len(arms):] + arms[: r % len(arms)]:
            t = run_once(spark, arm, sf_dir, GROUP + arm.spec)
            times[arm.spec].append(round(t, 4))
            print(f"round {r + 1} {arm.spec}: {t:.3f}s", file=sys.stderr)
    return times


def report(times: dict[str, list], log_path: str, cores: int) -> dict:
    per_group = parse_file(log_path, GROUP)
    rounds = list(zip(*times.values()))
    arms = {}
    for i, (spec, ts) in enumerate(times.items()):
        g, n = per_group[GROUP + spec], len(ts)
        q1, med, q3 = statistics.quantiles(ts, n=4, method="inclusive") if n > 1 else ts * 3
        per_run = {"jobs": g.jobs, "stages": g.stages, "tasks": g.tasks,
                   "single_task_stages": g.single_task_stages, "task_s": g.task_s,
                   "shuffle_mb": g.shuffle_write_bytes / 2**20}
        arms[spec] = {
            "median_s": round(med, 4), "q1_s": round(q1, 4), "q3_s": round(q3, 4),
            "wins": sum(r[i] == min(r) for r in rounds),
            **{k: round(v / n, 3) for k, v in per_run.items()},
            "core_util": round(g.task_s / (sum(ts) * cores), 3),
            "runs_s": ts,
        }
    cols = list(arms[spec])[:-1]
    print("arm", *cols, sep="\t")
    for spec, a in arms.items():
        print(spec, *(round(a[c], 3) for c in cols), sep="\t")
    return arms


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("arms", nargs="+", metavar="ARM")
    ap.add_argument("--sf", default=os.path.join(TESTDATA, "sf0.1"), help="sf dir to time")
    ap.add_argument("--runs", type=int, default=5, help="timed rounds (per arm)")
    ap.add_argument("--fresh", action="store_true", help="the isolated protocol")
    args = ap.parse_args(argv)
    arms = [parse_arm(s) for s in args.arms]

    log_dir = tempfile.mkdtemp(prefix="ab_eventlog_")
    extra = {"spark.ui.showConsoleProgress": "false"} | ({} if args.fresh else {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    try:
        # bench.py's shuffle width, which every A/B script before this one used
        width = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "8"))
        spark = build_session(app_name="ab", shuffle_partitions=width, extra_conf=extra)
        spark.sparkContext.setLogLevel("ERROR")
        try:
            if not check_identity(spark, arms):
                return 1
            if args.fresh:
                print(json.dumps(measure(spark, args.arms, args.sf, args.runs)))
                return 0
            cores = spark.sparkContext.defaultParallelism
            times = interleave(spark, arms, args.sf, args.runs)
        finally:
            spark.stop()  # closes the event log
        (log,) = os.listdir(log_dir)
        arms_out = report(times, os.path.join(log_dir, log), cores)
    finally:
        shutil.rmtree(log_dir)
    print(json.dumps({"sf_dir": args.sf, "runs": args.runs, "cores": cores,
                      "arms": arms_out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
