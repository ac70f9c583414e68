"""The benchmark's own test: job attribution in a traced run.

    python -m pytest perfbench/test_perfbench.py -q

Runs two tiny queries (sf0.001) with spans and job groups on, as a traced
run does, and checks that plan-build jobs and action jobs land in separate
groups and that the event-log reducer counts the jobs Spark's status tracker
reports for every group.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import datagen  # noqa: E402
import eventlog  # noqa: E402
import runner  # noqa: E402
import spans  # noqa: E402
from workloads import DATA_SEED  # noqa: E402

QUERIES = ("q01_project_arith", "x30_dup_clusters")
BUILD_LAYERS = ("contract", "io", "ops", "pipeline")


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    data = tmp_path_factory.mktemp("sf0.001")
    datagen.write(str(data), 0.001, DATA_SEED)
    work = tmp_path_factory.mktemp("work")
    conf = runner.session_conf(str(work), 2)
    conf.update(runner.event_log_conf(str(work)))
    spark = runner.start_session(conf)
    try:
        entry = runner.import_contract()
        tracer = spans.Tracer(spark.sparkContext)
        tracer.install()
        try:
            execs = [runner._execute(entry.queries()[q], spark, str(data), q, 1, tracer)
                     for q in QUERIES]
        finally:
            tracer.uninstall()
        tracker = spark.sparkContext.statusTracker()
        tracked = {}
        for e in execs:
            for phase, layers in (("build", BUILD_LAYERS), ("action", ("action",))):
                for layer in layers:
                    g = spans.group_id(e.qid, phase, layer)
                    tracked[g] = set(tracker.getJobIdsForGroup(g))
        app = spark.sparkContext.applicationId
    finally:
        spark.stop()
    return execs, tracked, eventlog.reduce_log(str(work / "eventlog" / app))


def _ids(tracked, qid, phase):
    return set().union(*(ids for g, ids in tracked.items()
                         if spans.parse_group(g)[:2] == (qid, phase)))


def test_build_and_action_jobs_land_in_separate_groups(traced):
    execs, tracked, _ = traced
    for e in execs:
        assert e.error is None, e.error
        build, action = _ids(tracked, e.qid, "build"), _ids(tracked, e.qid, "action")
        assert build, f"{e.case}: no plan-build job recorded"
        assert action, f"{e.case}: no action job recorded"
        # every build job was submitted before the first action job
        assert max(build) < min(action), (e.case, build, action)


def test_event_log_job_counts_match_status_tracker(traced):
    _, tracked, groups = traced
    for g, ids in tracked.items():
        logged = groups[g].jobs if g in groups else 0
        assert logged == len(ids), g
    assert set(groups) <= set(tracked)
