"""Build and action jobs are attributed through Spark job groups: a job
fired while a plan is built lands in the build group, the write in the
action group, and the counts repeat exactly."""

import argparse
import os

import pytest

import layers
import run
from workloads import Op


@pytest.fixture(scope="module")
def traced_run(tmp_path_factory):
    from pyspark.sql import SparkSession

    tmp = str(tmp_path_factory.mktemp("attribution"))
    events = os.path.join(tmp, "events")
    os.makedirs(events)
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-attribution")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{events}")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    r = run.Run(argparse.Namespace(workload="fixture", seed=0, trace=1), tmp)
    r.spark = spark
    yield r, events
    spark.stop()


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _eager_build(spark):
    spark.range(3).count()  # a job while the plan is built
    return spark.range(0, 1000, 1, 4)


def _lazy_build(spark):
    return spark.range(0, 1000, 1, 4).selectExpr("id % 3 AS k").groupBy("k").count()


OPS = [
    Op("eager", build=_eager_build, action=_noop, warm_action=_noop),
    Op("lazy", build=_lazy_build, action=_noop, warm_action=_noop),
]


def test_build_and_action_jobs_land_in_their_groups(traced_run):
    r, events = traced_run
    sc = r.spark.sparkContext
    for p in ("p0", "p1"):
        for op in OPS:
            assert r.attempt(op, op.action, p, True) is not None
    assert not r.failures
    groups = [f"{o.name}|{p}|{s}" for o in OPS for p in ("p0", "p1") for s in ("build", "action")]
    counts = {g: layers.group_counts(sc, g) for g in groups}
    assert counts["eager|p0|build"]["jobs"] == 1
    assert counts["lazy|p0|build"]["jobs"] == 0
    assert counts["eager|p0|action"]["jobs"] == 1
    assert counts["lazy|p0|action"]["stages"] == 2
    for op in OPS:
        for s in ("build", "action"):
            assert counts[f"{op.name}|p0|{s}"] == counts[f"{op.name}|p1|{s}"]
    # the event log sees the same tasks as the status tracker
    app = sc.applicationId
    groups = {g for g in counts if g.startswith("lazy|")}
    r.spark.stop()
    ex = layers.event_log_exec(events, app, groups)
    assert ex["tasks"] == sum(counts[g]["tasks"] for g in groups)
    assert ex["shuffle_mb"] > 0
