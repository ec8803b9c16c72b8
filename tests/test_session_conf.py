"""One engine-config table for both session entry points.

`build_session` (bench, tests) and `ensure_session_conf` (a session
the driver built) must leave every runtime-settable engine key at the
same value — the same check spark-rapids makes by running one query
under two session configs, applied here to the configs themselves.
The environment variables `build_session` reads are validated before
any Spark conf is set.
"""

from __future__ import annotations

import pytest

from ondemand_dask_spark.session import (
    ENGINE_CONF,
    build_session,
    ensure_session_conf,
)

# a valid value for each table value that is NOT the table's
_OTHER = {"true": "false", "UTC": "America/Los_Angeles", "64MB": "10MB"}


def test_ensure_session_conf_matches_build_session(spark):
    fresh = spark.newSession()
    for k, v in ENGINE_CONF.items():
        fresh.conf.set(k, _OTHER[v])
        assert fresh.conf.get(k) != v, k
    ensure_session_conf(fresh)
    for k, v in ENGINE_CONF.items():
        assert fresh.conf.get(k) == v, k
        assert fresh.conf.get(k) == spark.conf.get(k), k


@pytest.mark.parametrize(
    "var", ["SPARK_GRAFT_CPUS", "SPARK_SHUFFLE_PARTITIONS"]
)
@pytest.mark.parametrize("bad", ["0", "-1", "abc", "1.5", ""])
def test_build_session_rejects_bad_env(monkeypatch, var, bad):
    monkeypatch.setenv(var, bad)
    with pytest.raises(ValueError, match=var):
        build_session()
