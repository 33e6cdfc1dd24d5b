"""Committed tables: footer-derived snapshot counts, the snapshot schema,
and the Spark jobs a commit and a read may cost."""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import functions as F

from redpajama_v2_processing_spark.tableio import (
    Stage, _live_data_dir, commit_table, read_table, run_stages,
)


def _jobs_issued(spark, action) -> int:
    """Spark jobs ``action()`` submits from this thread, read from the
    status tracker once the listener bus has delivered every event."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_empty_partitioned_commit(spark, tmp_path, pages_small):
    """Spark writes no data file for an empty partitioned frame; the
    commit, the read and a following stage must not need one."""
    src = pages_small.select("url", "lang")
    tdir = str(tmp_path / "empty")
    snap = commit_table(src.where("false"), tdir, partition_by=("lang",))
    assert snap["rows"] == 0 and snap["partitions"] == {}
    back = read_table(spark, tdir)
    assert back.count() == 0 and back.columns == src.columns

    stages = [
        Stage("drop_all", lambda df: df.where("false"), ("lang",)),
        Stage("tag", lambda df: df.withColumn("seen", F.lit(1)), ("lang",)),
    ]
    out, recs = run_stages(spark, src, stages, str(tmp_path / "wh"))
    assert [r["skipped"] for r in recs] == [False, False]
    assert [r["rows_out"] for r in recs] == [0, 0]
    assert recs[1]["rows_in"] == 0
    assert out.count() == 0 and out.columns == ["url", "seen", "lang"]


def test_footer_partition_keys_match_read_back(spark, tmp_path):
    """Keys built from ``k=v`` directory names equal the ``str()`` of the
    read-back partition values: null, path-escaped values and a derived
    date partition included."""
    rows = [
        (f"https://h/{i}", lang, f"2024-01-0{1 + i % 3} 12:00:00")
        for i, lang in enumerate(
            [None, None, "a/b", "x y=z", "x y=z", "en", "en", "en", "50%"]
        )
    ]
    df = spark.createDataFrame(rows, "url string, lang string, ts string").select(
        "url", "lang", F.to_timestamp("ts").alias("warc_ts"))
    tdir = str(tmp_path / "keys")
    snap = commit_table(df, tdir, partition_by=("lang",), derive_date_from="warc_ts")

    back = read_table(spark, tdir)
    want = {
        "|".join(str(r[p]) for p in ("lang", "date")): r["count"]
        for r in back.groupBy("lang", "date").count().collect()
    }
    assert snap["partitions"] == want
    assert snap["rows"] == back.count() == len(rows)
    # the recorded schema is the one Spark's inferring reader yields
    assert back.schema == spark.read.parquet(_live_data_dir(tdir)).schema


def test_commit_and_read_job_budget(spark, tmp_path, pages_small):
    """A commit costs no more jobs than writing the same frame; a read
    costs none. Bookkeeping happens on the driver."""
    df = pages_small.select("url", "lang").cache()
    df.count()
    try:
        plain = _jobs_issued(spark, lambda: df.write.partitionBy("lang").parquet(
            str(tmp_path / "plain")))
        tdir = str(tmp_path / "budget")
        committed = _jobs_issued(
            spark, lambda: commit_table(df, tdir, partition_by=("lang",)))
        assert plain >= 1
        assert committed <= plain
        assert _jobs_issued(spark, lambda: read_table(spark, tdir)) == 0
    finally:
        df.unpersist()


def test_time_travel_across_schema_change(spark, tmp_path, pages_small):
    """A time-travel read takes the selected snapshot's schema, and a
    snapshot without a recorded schema is still readable."""
    tdir = str(tmp_path / "evolve")
    commit_table(pages_small.select("url"), tdir, keep_versions=2)
    commit_table(pages_small.select("url", "lang"), tdir, keep_versions=2)
    assert read_table(spark, tdir, version=1).columns == ["url"]
    assert read_table(spark, tdir).columns == ["url", "lang"]

    snap_path = os.path.join(tdir, "_snapshot.json")
    with open(snap_path) as f:
        snap = json.load(f)
    del snap["schema"]
    with open(snap_path, "w") as f:
        json.dump(snap, f)
    legacy = read_table(spark, tdir)
    assert legacy.columns == ["url", "lang"]
    assert legacy.count() == pages_small.count()
