"""Pins perfbench/eventlog.py against a small recorded Spark 4.1 event log.

The fixture is the traced pass of `udf_grouped_agg` (job group
`perfbench.q:udf_grouped_agg`) plus one job outside any group, cut from
a real `--trace 1` run: large fields the parser does not read were
dropped, every event it reads is as Spark wrote it.

    python3 -m pytest perfbench/tests
"""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from eventlog import parse_file  # noqa: E402

LOG = os.path.join(HERE, "data", "udf_grouped_agg.eventlog")
GROUP = "perfbench.q:udf_grouped_agg"


def test_stages_and_tasks_are_keyed_by_job_group():
    groups = parse_file(LOG, "perfbench.q:")
    assert list(groups) == [GROUP]
    g = groups[GROUP]
    # jobs 45-47; job 47 skips stage 76 (its shuffle output is reused)
    assert (g.jobs, g.stages, g.tasks, g.single_task_stages) == (3, 3, 7, 1)
    assert abs(g.task_s - 1.346) < 1e-9  # 13+6+7+239+336+356+389 ms


def test_exchange_and_python_bytes():
    g = parse_file(LOG)[GROUP]
    assert g.shuffle_write_bytes == 6102853
    assert g.shuffle_read_bytes == 2032744 + 2035555 + 2034554
    assert g.python_sent_bytes == 3251632 + 3256304 + 3254688
    assert (g.gc_s, g.fetch_wait_s, g.spill_bytes) == (0.0, 0.0, 0)


def test_other_prefixes_and_ungrouped_jobs_are_ignored():
    assert parse_file(LOG, "perfbench.scan:") == {}
