"""tools/ab.py end to end at the test SF: conf-override arms report
their jobs from the event log, a variant whose result differs from the
registered query fails the identity check before any timing, and
`--fresh` keeps the isolated protocol's JSON shape."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")

VARIANT = '''
from ondemand_dask_spark.registry import all_queries


def q6_empty(spark, sf_dir):
    return all_queries()["tpch_q6"].fn(spark, sf_dir).limit(0)
'''

# `--fresh` with its two calibration jobs (about 45 s on 4 cores) stubbed:
# what is checked is the CLI path and the JSON it returns.
FRESH = f"""import sys
sys.path.insert(0, {TOOLS!r})
import ab
ab.calibrate = lambda spark: (0.0, 0.0)
sys.exit(ab.main())
"""


@pytest.fixture(scope="module")
def ab_runs(tmp_path_factory, sf_dir):
    """name -> (exit code, stdout, stderr) of three ab.py invocations,
    run side by side."""
    tmp = tmp_path_factory.mktemp("ab")
    (tmp / "variant.py").write_text(VARIANT)
    ab = [sys.executable, os.path.join(TOOLS, "ab.py")]
    argvs = {
        "pair": [*ab, "tpch_q6", "tpch_q6@spark.sql.adaptive.enabled=false"],
        "mismatch": [*ab, "tpch_q6", f"{tmp / 'variant.py'}:q6_empty"],
        "fresh": [sys.executable, "-c", FRESH, "--fresh", "tpch_q6"],
    }
    procs = {
        name: subprocess.Popen(
            [*argv, "--sf", sf_dir, "--runs", "1"],
            stdout=open(tmp / f"{name}.out", "w"),
            stderr=open(tmp / f"{name}.err", "w"),
        )
        for name, argv in argvs.items()
    }
    return {
        name: (p.wait(timeout=600), (tmp / f"{name}.out").read_text(),
               (tmp / f"{name}.err").read_text())
        for name, p in procs.items()
    }


def _last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def test_conf_override_arms_report_jobs_from_the_event_log(ab_runs):
    rc, out, err = ab_runs["pair"]
    assert rc == 0, err[-2000:]
    arms = _last_json(out)["arms"]
    assert set(arms) == {"tpch_q6", "tpch_q6@spark.sql.adaptive.enabled=false"}
    for stats in arms.values():
        assert stats["jobs"] >= 1 and stats["tasks"] >= 1, stats


def test_a_differing_variant_fails_before_any_timing(ab_runs):
    rc, out, err = ab_runs["mismatch"]
    assert rc == 1, err[-2000:]
    assert "IDENTITY MISMATCH" in err and "row count" in err
    assert "round 1" not in err and not out.strip()


def test_fresh_keeps_the_isolated_protocol_json(ab_runs):
    rc, out, err = ab_runs["fresh"]
    assert rc == 0, err[-2000:]
    res = _last_json(out)
    assert set(res) == {"calib_sec", "calib_bw_sec", "queries"}
    assert set(res["queries"]) == {"tpch_q6"}
    assert len(res["queries"]["tpch_q6"]["all"]) == 1
