"""Tests for the status-store reader.

    python3 -m pytest perfbench/test_status.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.mixes import DATA_DIR  # noqa: E402
from perfbench.status import Delta, StatusStore  # noqa: E402


def test_job_cover_merges_overlaps_and_clips():
    delta = Delta(jobs=[(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (9.0, 12.0)])
    # [1,4] + [6,7] + [9,10] inside the window [0, 10]
    assert delta.job_covered_s(0.0, 10.0) == pytest.approx(5.0)
    assert delta.job_covered_s(3.5, 6.5) == pytest.approx(1.0)


@pytest.fixture(scope="module")
def spark():
    from oculus_data_pipeline_spark.session import get_spark

    s = get_spark(
        "perfbench-status-test",
        cpus=4,
        extra_conf={"spark.ui.showConsoleProgress": "false", "spark.driver.memory": "1g"},
    )
    yield s
    s.stop()


def test_query_counts_repeat_exactly(spark):
    """A warm query runs the same stages, tasks and bytes every time."""
    from oculus_data_pipeline_spark.queries import get_queries

    query = get_queries()["q01_pricing_summary"]
    store = StatusStore(spark)
    counts = []
    for _ in range(3):
        spark.catalog.clearCache()
        mark = store.mark()
        query(spark, DATA_DIR).write.format("noop").mode("overwrite").save()
        delta = store.since(mark)
        counts.append(
            {
                k: v
                for k, v in delta.counts().items()
                if k in ("stages", "single_task_stages", "tasks", "shuffle_write_bytes", "input_bytes")
            }
        )
        assert delta.jobs, "the action ran no job"
    assert counts[1]["stages"] > 0 and counts[1]["shuffle_write_bytes"] > 0
    assert counts[1] == counts[2]
