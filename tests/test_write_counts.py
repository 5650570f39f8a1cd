"""Counts and file lists come from the action that writes.

- The Orchestrator's lane counts are observed on the eager checkpoint of
  the tagged rows, and a count reconciliation observes ``expected`` on the
  target write and reads ``written`` from parquet footers or delta-lite
  add stats, so a lost row still shows.
- A delta-lite DML whose stats leave one candidate file stages that file's
  rewrite at once and counts its match on the staging write; MERGE
  computes its source key range only when it can prune, or when a lost
  commit race needs it to check the winners.
- SCD2 reconciliation compares the snapshot's distinct keys with the
  target's current rows.
- Delta-lite target writes put their commit statistics in the run record.
- ``bench.py`` counts failed tasks of every job group.
"""

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.config import TargetSpec
from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.operators.scd2 import (
    scd2_merge,
)
from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.sinks import writers
from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.sources import (
    delta_lite as dl,
)

from conftest import jobs_started


def _one_file_history(spark, tp, n=200):
    """An SCD2 delta-lite table of keys 0..n-1 in one data file."""
    snap = spark.range(n).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    merged = scd2_merge(None, snap, ["k"], effective_ts="2024-01-01 00:00:00")
    dl.write_delta_lite(merged.coalesce(1), tp)
    assert len(dl.load_snapshot(tp).files) == 1


def _commit(tp, version):
    with open(os.path.join(tp, dl.LOG_DIR, f"{version:020d}.json")) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _parquet_on_disk(tp):
    return {
        os.path.relpath(os.path.join(root, f), tp)
        for root, _dirs, files in os.walk(tp)
        if dl.LOG_DIR not in root
        for f in files
        if f.endswith(".parquet")
    }


def _scd2_spec(tp, fmt="deltalake", reconciliation=False):
    return TargetSpec(
        data_target="local", dataframe_name="snap", load_type="scdType2Insert",
        path=tp, file_format=fmt, scd2_keys=["k"], reconciliation=reconciliation,
        scd2_effective_col="2024-01-02 00:00:00",
    )


def test_daily_scd2_merge_into_one_file_table_job_count(spark, tmp_path):
    """statusTracker pin: a daily SCD2 load (not reconciled) into a
    one-file delta-lite table takes at most 5 Spark jobs — the staged
    rewrite alone, with no key-range bound and no matched-file collect
    (the two-pass shape with an up-front bound takes 10)."""
    tp = str(tmp_path / "h")
    _one_file_history(spark, tp, n=2000)
    src = str(tmp_path / "snap.parquet")
    spark.range(2000).select(
        F.col("id").alias("k"), ((F.col("id") + (F.col("id") % 10 == 0).cast("long")) % 7).alias("v")
    ).coalesce(1).write.parquet(src)
    snap = spark.read.parquet(src)
    results = []
    jobs = jobs_started(spark, lambda: results.append(writers.write_target(spark, snap, _scd2_spec(tp))))
    assert results[0]["matchedFiles"] == 1
    cur = dl.read_delta_lite(spark, tp).filter("is_current")
    assert cur.count() == 2000
    assert cur.filter("k = 10").collect()[0]["v"] == 4  # (10 + 1) % 7
    assert len(jobs) <= 5, sorted(jobs)


def test_one_file_dml_with_no_match_moves_nothing(spark, tmp_path):
    """A DELETE that matches no row and a MERGE that brings only new
    keys stage the one candidate file's rewrite, see no hit, and discard
    it: no existing file moves, nothing unreferenced is left on disk, and
    the commit reads ``matchedFiles: 0``."""
    tp = str(tmp_path / "t")
    dl.write_delta_lite(
        spark.range(100).select(F.col("id").alias("k"), F.lit("a").alias("v")).coalesce(1), tp
    )
    (orig,) = dl.load_snapshot(tp).files
    v = dl.delete_delta_lite(spark, tp, "k > 500")
    ci = next(a["commitInfo"] for a in _commit(tp, v) if "commitInfo" in a)
    assert ci["operationParameters"]["matchedFiles"] == 0
    assert not [a for a in _commit(tp, v) if "remove" in a or "add" in a]
    assert _parquet_on_disk(tp) == {orig}

    src = spark.range(300, 310).select(F.col("id").alias("k"), F.lit("n").alias("v"))
    v = dl.merge_delta_lite(spark, tp, src, ["k"], when_matched_update={"v": "src_v"})
    actions = _commit(tp, v)
    ci = next(a["commitInfo"] for a in actions if "commitInfo" in a)
    assert ci["operationParameters"]["matchedFiles"] == 0
    assert not [a for a in actions if "remove" in a]
    assert orig in dl.load_snapshot(tp).files
    assert _parquet_on_disk(tp) == set(dl.load_snapshot(tp).files)
    out = dl.read_delta_lite(spark, tp)
    assert out.count() == 110 and out.filter("v = 'n'").count() == 10


@pytest.mark.parametrize("rival_key,conflicts", [(55, True), (1000, False)])
def test_one_file_merge_checks_racing_appends_against_the_key_range(
    spark, tmp_path, monkeypatch, rival_key, conflicts
):
    """A one-file MERGE never computes its source key range up front; a
    lost commit race computes it, so a racing append whose stats fall
    inside the range still raises and one outside it still commutes."""
    tp = str(tmp_path / "t")
    dl.write_delta_lite(
        spark.range(200).select(F.col("id").alias("k"), F.lit("a").alias("v")).coalesce(1), tp
    )
    real_commit = dl._commit
    raced = []

    def commit(path, version, actions):
        if not raced:
            raced.append(version)  # a rival appends first
            dl.write_delta_lite(spark.createDataFrame([(rival_key, "r")], "k long, v string"), tp)
        return real_commit(path, version, actions)

    monkeypatch.setattr(dl, "_commit", commit)
    src = spark.range(50, 61).select(F.col("id").alias("k"), F.lit("m").alias("v"))
    merge = lambda: dl.merge_delta_lite(spark, tp, src, ["k"], when_matched_update={"v": "src_v"})  # noqa: E731
    if conflicts:
        with pytest.raises(dl.DeltaConcurrentWriteError, match="may match"):
            merge()
        assert dl.load_snapshot(tp).version == raced[0]
    else:
        v = merge()
        assert v == raced[0] + 1
        out = dl.read_delta_lite(spark, tp)
        assert out.count() == 201 and out.filter("v = 'm'").count() == 11


def _drop_row(monkeypatch, fn_name):
    """Make ``writers.<fn_name>`` lose the source row with k = 3."""
    real = getattr(writers, fn_name)
    if fn_name == "_scd2_write":

        def lossy(spark, df, *args):
            return real(spark, df.filter("k != 3"), *args)
    else:

        def lossy(df, *args):
            return real(df.filter("k != 3"), *args)

    monkeypatch.setattr(writers, fn_name, lossy)


@pytest.mark.parametrize("fmt", ["parquet", "deltalake"])
def test_count_reconciliation_sees_a_lost_row(spark, tmp_path, monkeypatch, fmt):
    """``expected`` is observed where the source enters the write and
    ``written`` comes from footers or add stats: a writer that loses a
    row still fails the count reconciliation."""
    spec = TargetSpec(
        data_target="local", dataframe_name="out", load_type="truncateInsert",
        path=str(tmp_path / "out"), file_format=fmt, reconciliation=True,
    )
    df = spark.range(10).select(F.col("id").alias("k"))
    assert writers.write_target(spark, df, spec)["reconciliation"]["ok"]
    _drop_row(monkeypatch, "_write_file")
    rec = writers.write_target(spark, df, spec)["reconciliation"]
    assert (rec["expected"], rec["written"], rec["ok"]) == (10, 9, False)


@pytest.mark.parametrize("fmt", ["parquet", "deltalake"])
def test_scd2_reconciliation_counts_business_keys(spark, tmp_path, monkeypatch, fmt):
    """SCD2 reconciliation compares the snapshot's distinct keys with the
    target's current rows: a snapshot with a duplicated key reconciles
    (3 snapshot rows against 2 table rows would fail it), and a later load
    that loses a key fails although history rows keep the table's total
    row count above the snapshot's (a whole-table count would pass it)."""
    tp = str(tmp_path / "h")
    day1 = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], "k int, v string")
    rec = writers.write_target(spark, day1, _scd2_spec(tp, fmt, True))["reconciliation"]
    assert (rec["expected"], rec["written"], rec["ok"]) == (2, 2, True)
    day2 = spark.createDataFrame([(1, "x"), (2, "c"), (3, "d")], "k int, v string")
    _drop_row(monkeypatch, "_scd2_write")
    rec = writers.write_target(spark, day2, _scd2_spec(tp, fmt, True))["reconciliation"]
    assert (rec["expected"], rec["written"], rec["ok"]) == (3, 2, False)


def test_delta_lite_run_record_equals_the_commit(spark, tmp_path):
    """A delta-lite target write's run record carries its commit's
    version, files added and removed, bytes added and matched files, as
    the commit's log entry records them."""
    tp = str(tmp_path / "h")
    _one_file_history(spark, tp)
    snap = spark.range(200).select(F.col("id").alias("k"), (F.col("id") % 5).alias("v"))
    rec = writers.write_target(spark, snap, _scd2_spec(tp))
    actions = _commit(tp, rec["version"])
    adds = [a["add"] for a in actions if "add" in a]
    ci = next(a["commitInfo"] for a in actions if "commitInfo" in a)
    assert rec["version"] == 1
    assert rec["filesAdded"] == len(adds) >= 1
    assert rec["filesRemoved"] == len([a for a in actions if "remove" in a]) == 1
    assert rec["bytesAdded"] == sum(a["size"] for a in adds)
    assert rec["matchedFiles"] == ci["operationParameters"]["matchedFiles"] == 1

    spec = TargetSpec(data_target="local", dataframe_name="o", load_type="simpleInsert",
                      path=str(tmp_path / "t"), file_format="deltalake")
    rec = writers.write_target(spark, snap, spec)
    adds = [a["add"] for a in _commit(spec.path, rec["version"]) if "add" in a]
    assert (rec["version"], rec["filesAdded"], rec["filesRemoved"], rec["matchedFiles"]) == (
        0, len(adds), 0, None)
    assert rec["bytesAdded"] == sum(a["size"] for a in adds)


def test_bench_failed_task_count_sees_grouped_jobs(spark):
    """``bench._failed_tasks`` walks only ungrouped jobs; the all-jobs
    count also sees a task that fails inside a job group."""
    import bench

    sc = spark.sparkContext
    before_all = bench._failed_tasks_all_jobs(sc)
    before_ungrouped = bench._failed_tasks(sc)

    def boom(x):
        raise ValueError("injected task failure")

    errors = []

    def run():
        sc.setJobGroup("failing-group", "one failing task")
        try:
            spark.range(1, numPartitions=1).select(F.udf(boom, "long")("id")).collect()
        except Exception as e:  # noqa: BLE001 - the failure is the point
            errors.append(e)

    th = threading.Thread(target=run)
    th.start()
    th.join(timeout=120)
    assert not th.is_alive() and errors
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert bench._failed_tasks_all_jobs(sc) - before_all == 1
    assert bench._failed_tasks(sc) - before_ungrouped == 0


def test_scd2_merge_closes_a_null_key_in_either_shape(spark, tmp_path):
    """The SCD2 merge pairs business keys null-safely, so a snapshot
    carrying a NULL key closes the table's current NULL-key row whether
    the merge takes the one-file single pass or the two-pass shape (a
    plain ``=`` semi-join in the two-pass match misses the file and leaves
    two current NULL-key rows)."""
    day1 = spark.createDataFrame([(None, "a"), (1, "b"), (2, "c"), (3, "d")], "k int, v string")
    day2 = spark.createDataFrame([(None, "z")], "k int, v string")
    for files in (1, 2):
        tp = str(tmp_path / f"h{files}")
        merged = scd2_merge(None, day1, ["k"], effective_ts="2024-01-01 00:00:00")
        dl.write_delta_lite(merged.repartitionByRange(files, "k"), tp)
        assert len(dl.load_snapshot(tp).files) == files
        dl.merge_scd2_delta_lite(spark, tp, day2, ["k"], effective_ts="2024-01-02 00:00:00")
        cur = dl.read_delta_lite(spark, tp).filter("is_current AND k IS NULL")
        assert [r["v"] for r in cur.collect()] == ["z"], files
