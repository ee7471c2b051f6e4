"""tools/plan_digest.py digests what a refactor must keep: its plan column
does not depend on the scratch root, its inlined-plan column sees the
subtree below a ``localCheckpoint``, and its jobs column counts the jobs a
build starts."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import plan_digest  # noqa: E402


def test_plans_differing_only_in_the_scratch_root_digest_alike():
    plan = (
        "StateTable [stateCkptLocation=file:{}/pws-session-0123456789ab/"
        "pws_s14t_ckpt/state, batchId=0]"
    )
    a = plan_digest.normalize_plan(plan.format("/dev/shm"), "/dev/shm")
    b = plan_digest.normalize_plan(plan.format("/var/tmp/scratch"), "/var/tmp/scratch")
    assert a == b
    assert plan_digest._sha(a) == plan_digest._sha(b)


def test_inlined_plan_sees_below_a_checkpoint(spark):
    def build():
        return spark.range(7).selectExpr("id * 3 AS x").localCheckpoint().filter("x > 2")

    assert "LogicalRDD" in plan_digest.optimized_plan(build())
    with plan_digest.checkpoints_inlined():
        inlined = plan_digest.optimized_plan(build())
    assert "LogicalRDD" not in inlined
    assert "Range (0, 7" in inlined
    assert "LogicalRDD" in plan_digest.optimized_plan(build())  # patch undone


def test_jobs_column_counts_an_eager_checkpoint_and_not_a_lazy_one(spark):
    def build(eager):
        return lambda s, _: s.range(7).selectExpr("id * 3 AS x").localCheckpoint(eager=eager)

    _, eager_jobs = plan_digest.built(build(True), spark, None)
    _, lazy_jobs = plan_digest.built(build(False), spark, None)
    assert (eager_jobs, lazy_jobs) == (1, 0)
