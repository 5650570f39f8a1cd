"""Engine lanes through the config dialect: error quarantine + threshold
gate (V4/W11, spark.json:7,97-101), duplicate-run ledger (V5, spark.json:8),
input archival (W12, spark.json:10-12), single-file output with prefix
(W3, spark.json:77-78,89-90), and compression (W4, spark.json:93)."""

import glob
import os

import pytest

from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.plans.engine import (
    Orchestrator,
    ThresholdExceeded,
)

from conftest import jobs_started


def _base_config(name, src_path, out_path, **configs_extra):
    return {
        "configs": {
            "name": name,
            "phase_1": {
                "input_data": {
                    "dataSource": "local",
                    "dataFrameName": "src",
                    "path": src_path,
                    "fileProperties": {"fileFormat": "parquet"},
                }
            },
            **configs_extra,
        },
        "phase_2": {
            "data_transformations": [
                {
                    "functionName": "ident",
                    "sqlQuery": "SELECT * FROM src",
                    "outputDFName": "out",
                }
            ]
        },
        "phase_3": {
            "target_record_insert": [
                {
                    "dataTarget": "local",
                    "dataFrameName": "out",
                    "loadType": "truncateInsert",
                    "path": out_path,
                    "outputDataProperties": {"fileFormat": "parquet"},
                }
            ]
        },
    }


@pytest.fixture
def dirty_src(spark, tmp_path):
    """6 rows: 2 null-PK, 2 sharing a PK (1 dup) → 3 bad of 6."""
    path = str(tmp_path / "dirty_src")
    spark.createDataFrame(
        [
            (None, "2024-01-01", "a"),
            (None, "2024-01-02", "b"),
            (1, "2024-01-01", "c"),
            (1, "2024-01-02", "d"),
            (2, "2024-01-01", "e"),
            (3, "2024-01-01", "f"),
        ],
        "pk int, ts string, v string",
    ).write.parquet(path)
    return path


def _with_validation(cfg):
    cfg["phase_2"]["data_validation_required"] = "true"
    cfg["phase_2"]["data_validations"] = {
        "nullValueValidation": "true",
        "nullValueCheck": {"primaryKeys": ["pk"]},
        "duplicateRecordValidation": "true",
        "duplicateRecordCheck": {"primaryKeys": ["pk"], "orderByCols": ["ts"]},
    }
    return cfg


def test_error_lane_quarantine_and_threshold_pass(spark, tmp_path, dirty_src):
    """3/6 bad rows with a 60% threshold: job passes, quarantine holds the
    bad rows tagged with the failing validation."""
    out, err = str(tmp_path / "out"), str(tmp_path / "errors")
    cfg = _with_validation(
        _base_config("lanes_ok", dirty_src, out, thresholdLimit="60%")
    )
    cfg["phase_3"]["ErrorRecordInsert"] = {"fileTarget": "local", "targetS3Location": err}
    result = Orchestrator(spark).run(cfg)
    assert result.bad_count == 3
    good = spark.read.parquet(out)
    assert good.count() == 3  # pks 1 (survivor), 2, 3
    assert good.filter("pk IS NULL").count() == 0
    quarantined = spark.read.parquet(err)
    reasons = {r["__error_reason"] for r in quarantined.select("__error_reason").collect()}
    assert reasons == {"null_primary_key", "duplicate_record"}
    assert quarantined.count() == 3


def test_threshold_exceeded_fails_job(spark, tmp_path, dirty_src):
    """Same 50% bad share with a 30% threshold → ThresholdExceeded."""
    cfg = _with_validation(
        _base_config("lanes_fail", dirty_src, str(tmp_path / "out2"), thresholdLimit="30%")
    )
    with pytest.raises(ThresholdExceeded):
        Orchestrator(spark).run(cfg)


def test_duplicate_run_ledger_skips_second_run(spark, tmp_path, dirty_src):
    out = str(tmp_path / "out3")
    cfg = _base_config(
        "ledger_job",
        dirty_src,
        out,
        duplicateRunCheck="true",
        s3TempPath=str(tmp_path / "scratch"),
    )
    orch = Orchestrator(spark)
    first = orch.run(cfg)
    assert not first.skipped_duplicate_run
    n_files = len(glob.glob(os.path.join(out, "part-*")))
    second = orch.run(cfg)
    assert second.skipped_duplicate_run
    assert len(glob.glob(os.path.join(out, "part-*"))) == n_files  # nothing rewritten


def test_archival_copies_input(spark, tmp_path, dirty_src):
    archive = str(tmp_path / "archive")
    cfg = _base_config(
        "archive_job",
        dirty_src,
        str(tmp_path / "out4"),
        archiveInputFile="true",
        archiveS3Path=archive,
    )
    Orchestrator(spark).run(cfg)
    archived = os.path.join(archive, os.path.basename(dirty_src))
    assert os.path.isdir(archived)
    assert spark.read.parquet(archived).count() == 6
    assert os.path.isdir(dirty_src)  # deleteSourceAfterArchival not set


def test_unknown_target_view_raises_keyerror(spark, tmp_path, dirty_src):
    cfg = _base_config("bad_view", dirty_src, str(tmp_path / "nowhere"))
    cfg["phase_3"]["target_record_insert"][0]["dataFrameName"] = "no_such_view"
    with pytest.raises(KeyError, match="no_such_view"):
        Orchestrator(spark).run(cfg)


def test_unsupported_format_raises(spark, tmp_path, dirty_src):
    cfg = _base_config("bad_fmt", dirty_src, str(tmp_path / "nowhere2"))
    cfg["configs"]["phase_1"]["input_data"]["fileProperties"] = {"fileFormat": "avro-nope"}
    with pytest.raises(ValueError, match="fileFormat"):
        Orchestrator(spark).run(cfg)


def test_streaming_with_validation_raises(spark, tmp_path):
    src = str(tmp_path / "sv_src")
    spark.createDataFrame([(1, "a")], "k int, v string").write.parquet(src)
    cfg = _base_config("sv_job", src, str(tmp_path / "sv_out"), s3TempPath=str(tmp_path / "t"))
    cfg["configs"]["phase_1"]["input_data"]["streaming"] = "true"
    cfg["phase_2"]["data_validation_required"] = "true"
    cfg["phase_2"]["data_validations"] = {
        "nullValueValidation": "true",
        "nullValueCheck": {"primaryKeys": ["k"]},
    }
    with pytest.raises(NotImplementedError, match="bounded"):
        Orchestrator(spark).run(cfg)


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv"])
def test_writer_format_roundtrip(spark, tmp_path, dirty_src, fmt):
    """W1: every file-sink format writes and reads back the full row set."""
    out = str(tmp_path / f"rt_{fmt}")
    cfg = _base_config(f"rt_{fmt}", dirty_src, out)
    cfg["phase_3"]["target_record_insert"][0]["outputDataProperties"] = {
        "fileFormat": fmt,
        "header": "true",
    }
    Orchestrator(spark).run(cfg)
    reader = spark.read.option("header", "true").option("inferSchema", "true")
    assert reader.format(fmt).load(out).count() == 6


def test_streaming_config_job_is_incremental(spark, tmp_path):
    """`"streaming": "true"` on the input runs the same JSON job as a
    checkpointed Structured Streaming job: a re-run after new data arrives
    processes ONLY the unseen files (the streaming-native form of
    duplicateRunCheck), appending instead of reprocessing."""
    src = str(tmp_path / "stream_in")
    out = str(tmp_path / "stream_out")
    spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, v double").write.mode(
        "append"
    ).parquet(src)

    cfg = {
        "configs": {
            "name": "incr_job",
            "s3TempPath": str(tmp_path / "scratch"),
            "phase_1": {
                "input_data": {
                    "dataSource": "local",
                    "dataFrameName": "src",
                    "path": src,
                    "streaming": "true",
                    "fileProperties": {"fileFormat": "parquet"},
                }
            },
        },
        "phase_2": {
            "data_transformations": [
                {
                    "functionName": "double_v",
                    "sqlQuery": "SELECT k, v * 2 AS v2 FROM src",
                    "outputDFName": "doubled",
                }
            ]
        },
        "phase_3": {
            "target_record_insert": [
                {
                    "dataTarget": "local",
                    "dataFrameName": "doubled",
                    "loadType": "simpleInsert",
                    "path": out,
                    "outputDataProperties": {"fileFormat": "parquet"},
                }
            ]
        },
    }
    orch = Orchestrator(spark)
    r1 = orch.run(cfg)
    assert r1.write_results[0]["streaming"]
    assert spark.read.parquet(out).count() == 2

    # second run with one new file: only the new row lands
    spark.createDataFrame([(3, 30.0)], "k int, v double").write.mode("append").parquet(src)
    orch.run(cfg)
    rows = {r["k"]: r["v2"] for r in spark.read.parquet(out).collect()}
    assert rows == {1: 20.0, 2: 40.0, 3: 60.0}  # no reprocessing of k=1,2


def test_single_file_csv_with_prefix_and_compression(spark, tmp_path, dirty_src):
    out = str(tmp_path / "export")
    cfg = _base_config("export_job", dirty_src, out)
    cfg["phase_3"]["target_record_insert"][0]["outputDataProperties"] = {
        "fileFormat": "csv",
        "singleFile": "true",
        "outputFileNamePrefix": "daily_export",
        "header": "true",
        "compression": "gzip",
    }
    Orchestrator(spark).run(cfg)
    # the codec suffix must survive the rename or the file reads back as garbage
    assert os.path.isfile(os.path.join(out, "daily_export.csv.gz"))
    df = spark.read.option("header", "true").csv(os.path.join(out, "daily_export.csv.gz"))
    assert df.count() == 6


def _quarantine_config(name, src_path, out_path, err_path, threshold):
    cfg = _with_validation(_base_config(name, src_path, out_path, thresholdLimit=threshold))
    cfg["phase_3"]["ErrorRecordInsert"] = {"fileTarget": "local", "targetS3Location": err_path}
    return cfg


def test_threshold_failure_publishes_nothing(spark, tmp_path, dirty_src):
    """The V4 gate is decided from counts before any write: a failing run
    leaves neither the quarantine nor the target on disk."""
    out, err = str(tmp_path / "out_f"), str(tmp_path / "errors_f")
    cfg = _quarantine_config("lanes_fail_quiet", dirty_src, out, err, "30%")
    with pytest.raises(ThresholdExceeded, match="3/6"):
        Orchestrator(spark).run(cfg)
    assert not os.path.exists(err)
    assert not os.path.exists(out)


def test_validated_run_job_count(spark, tmp_path, dirty_src):
    """statusTracker pin: both validation lanes, an error sink, one SQL
    transform and a reconciled truncateInsert take at most 5 Spark jobs —
    the eager checkpoint of the tagged rows (which observes the lane
    counts), one quarantine write and the target write (which observes
    the expected count; the written count comes from parquet footers)."""
    out, err = str(tmp_path / "out_n"), str(tmp_path / "errors_n")
    cfg = _quarantine_config("lanes_jobs", dirty_src, out, err, "60%")
    cfg["phase_3"]["target_record_insert"][0]["reconciliation"] = "true"
    orch = Orchestrator(spark)
    results = []
    jobs = jobs_started(spark, lambda: results.append(orch.run(cfg)))
    result = results[0]
    assert (result.input_count, result.bad_count) == (3, 3)
    assert sorted(result.views) == ["out", "src"]
    assert result.write_results[0]["reconciliation"]["ok"]
    assert len(jobs) <= 5, sorted(jobs)


def test_valid_rows_replace_the_primary_view(spark, tmp_path, dirty_src):
    """A target that names the primary input view directly writes only
    the valid rows, as a SQL step reading that view sees them."""
    out = str(tmp_path / "out_direct")
    cfg = _with_validation(_base_config("direct_src", dirty_src, out))
    cfg["phase_3"]["target_record_insert"][0]["dataFrameName"] = "src"
    result = Orchestrator(spark).run(cfg)
    assert result.input_count == 3
    assert [r["pk"] for r in spark.read.parquet(out).orderBy("pk").collect()] == [1, 2, 3]
