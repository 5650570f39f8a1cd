"""One metaData path in delta-lite, and the smaller fixes that ride with it.

- ``_metadata_actions`` makes every ``protocol`` and ``metaData`` action:
  the protocol declares what the metaData uses, whichever operation
  commits it.
- WRITE, MERGE and replaceWhere line rows up with the table through one
  rule (``_align``).
- A DELETE or UPDATE that matches nothing stages no rewrite.
- A checkpoint interrupted mid-write leaves the table readable.
- Streams of column-mapped tables deliver what the batch reader reads.
"""

import json
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.sources import (
    delta_lite as dl,
)
from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.sources.delta_stream import (
    read_delta_lite_stream,
)

from conftest import jobs_started
from test_column_mapping import PHYS, _mk_mapped_table, _schema_string

_LEGACY = {"minReaderVersion": 1, "minWriterVersion": 2}


def _meta(fields=(("k", "long"),), conf=None, invariant=None):
    schema = {
        "type": "struct",
        "fields": [
            {
                "name": n,
                "type": t,
                "nullable": True,
                "metadata": {"delta.invariants": invariant} if invariant and i == 0 else {},
            }
            for i, (n, t) in enumerate(fields)
        ],
    }
    return {"schemaString": json.dumps(schema), "partitionColumns": [], "configuration": conf or {}}


def _protocol(actions):
    assert [next(iter(a)) for a in actions][-1] == "metaData"
    return actions[0]["protocol"] if len(actions) == 2 else None


def test_protocol_declares_what_the_metadata_uses():
    """No Spark: the one function's protocol decisions, input by input."""
    ntz = (("k", "long"), ("ts", "timestamp_ntz"))
    # a new table always gets a protocol, and a fresh id and createdTime
    acts = dl._metadata_actions(None, _meta())
    assert _protocol(acts) == _LEGACY
    assert acts[1]["metaData"]["id"] and acts[1]["metaData"]["createdTime"] > 0
    assert _protocol(dl._metadata_actions(None, _meta(ntz))) == {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": ["timestampNtz"],
        "writerFeatures": ["appendOnly", "invariants", "timestampNtz"],
    }
    # nothing new to declare: metaData alone
    assert _protocol(dl._metadata_actions(_LEGACY, _meta(conf={"delta.appendOnly": "true"}))) is None
    assert _protocol(dl._metadata_actions(_LEGACY, _meta(invariant="x"))) is None
    # a CHECK constraint bumps a legacy writer to 3, never down again
    con = _meta(conf={"delta.constraints.kp": "k > 0"})
    assert _protocol(dl._metadata_actions(_LEGACY, con)) == {"minReaderVersion": 1, "minWriterVersion": 3}
    v3 = {"minReaderVersion": 1, "minWriterVersion": 3}
    assert _protocol(dl._metadata_actions(v3, _meta())) is None
    # a (1,3) table evolving an ntz column lists what writer 3 implied
    assert _protocol(dl._metadata_actions(v3, _meta(ntz)))["writerFeatures"] == [
        "appendOnly", "checkConstraints", "invariants", "timestampNtz",
    ]
    # a table-features table lists each feature it starts to use
    v7 = {"minReaderVersion": 1, "minWriterVersion": 7, "writerFeatures": ["invariants"]}
    assert _protocol(dl._metadata_actions(v7, _meta(conf={"delta.appendOnly": "true"}))) == {
        "minReaderVersion": 1,
        "minWriterVersion": 7,
        "writerFeatures": ["appendOnly", "invariants"],
    }
    assert _protocol(dl._metadata_actions(v7, _meta())) is None
    # CLONE: a new table that keeps the source's protocol as it is
    src = {"minReaderVersion": 3, "minWriterVersion": 7,
           "readerFeatures": ["timestampNtz"], "writerFeatures": ["timestampNtz", "invariants"]}
    acts = dl._metadata_actions(src, {**_meta(ntz), "id": "src-id"}, new_table=True)
    assert _protocol(acts) == src and acts[1]["metaData"]["id"] != "src-id"


def test_rows_line_up_with_the_table_through_one_rule(spark, tmp_path):
    tp = str(tmp_path / "t")
    dl.write_delta_lite(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").coalesce(1), tp)
    wide = spark.createDataFrame([(1, "x", 5)], "k int, v string, n int")
    with pytest.raises(ValueError, match="merge_schema"):
        dl.write_delta_lite(wide, tp, mode="overwrite", replace_where="k = 1")
    # replaceWhere evolves additively with merge_schema, in one commit
    v = dl.write_delta_lite(wide, tp, mode="overwrite", replace_where="k = 1", merge_schema=True)
    got = dl.read_delta_lite(spark, tp)
    assert got.schema.simpleString() == "struct<k:bigint,v:string,n:int>"
    assert sorted(tuple(r) for r in got.collect()) == [(1, "x", 5), (2, "b", None)]
    assert [next(iter(a)) for a in dl.commit_actions(tp, v)][:2] == ["commitInfo", "metaData"]
    # MERGE inserts rows as they are: a source missing a column is refused
    keys_only = spark.createDataFrame([(2, "B"), (3, "C")], "k long, v string")
    with pytest.raises(ValueError, match="schema mismatch"):
        dl.merge_delta_lite(spark, tp, keys_only, ["k"], when_matched_update={"v": "src_v"})
    # without inserts it needs only the keys and the columns it reads
    dl.merge_delta_lite(
        spark, tp, keys_only, ["k"], when_matched_update={"v": "src_v"},
        when_not_matched_insert=False,
    )
    assert sorted(tuple(r) for r in dl.read_delta_lite(spark, tp).collect()) == [
        (1, "x", 5), (2, "B", None),
    ]


def test_dml_that_matches_nothing_stages_nothing(spark, tmp_path):
    """statusTracker pin: stats that prune every file leave nothing to
    read or stage (0 jobs); a one-file DELETE or UPDATE with no hit runs
    only its single-pass staging write (1 job); the commit removes and
    adds nothing."""
    tp = str(tmp_path / "t")
    dl.write_delta_lite(
        spark.range(100).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v")).coalesce(1), tp
    )
    cases = [
        (0, lambda: dl.delete_delta_lite(spark, tp, "k < 0")),
        (1, lambda: dl.delete_delta_lite(spark, tp, "k % 1000 = 999")),
        (0, lambda: dl.update_delta_lite(spark, tp, "k > 500", {"v": "0"})),
        (1, lambda: dl.update_delta_lite(spark, tp, "k % 1000 = 999", {"v": "0"})),
    ]
    for want, op in cases:
        jobs = jobs_started(spark, op)
        assert len(jobs) == want, (want, jobs)
        kinds = [next(iter(a)) for a in dl.commit_actions(tp, dl.table_version(tp))]
        assert kinds == ["commitInfo"]
    assert dl.read_delta_lite(spark, tp).count() == 100


def test_interrupted_checkpoint_leaves_the_table_readable(spark, tmp_path, monkeypatch):
    tp = str(tmp_path / "t")
    dl.write_delta_lite(spark.createDataFrame([(1,), (2,)], "k long"), tp)
    dl.write_delta_lite(spark.createDataFrame([(3,)], "k long"), tp, mode="append")

    def torn(table, where, *args, **kwargs):
        sink = open(where, "wb") if isinstance(where, str) else where
        sink.write(b"PAR1 torn")
        if isinstance(where, str):
            sink.close()
        raise OSError("injected crash while writing the checkpoint")

    monkeypatch.setattr(pq, "write_table", torn)
    with pytest.raises(OSError, match="injected"):
        dl.checkpoint_delta_lite(tp)
    monkeypatch.undo()
    log = os.path.join(tp, dl.LOG_DIR)
    assert sorted(os.listdir(log)) == [f"{v:020d}.json" for v in (0, 1)]
    assert dl.load_snapshot(tp).version == 1
    assert sorted(r.k for r in dl.read_delta_lite(spark, tp).collect()) == [1, 2, 3]
    assert dl.checkpoint_delta_lite(tp) == 1
    assert sorted(r.k for r in dl.read_delta_lite(spark, tp).collect()) == [1, 2, 3]


def _drain(spark, df, name, checkpoint):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sorted(tuple(r) for r in spark.table(name).drop("_commit_version").collect())


def test_stream_of_mapped_table_equals_batch(spark, tmp_path):
    """A 'name'-mode table whose key was renamed: the append feed equals
    the batch read, and the change feed of a hand-committed rewrite (ids
    1-2 rewritten, 3 gone) equals the batch ``delta_changes``."""
    tp = _mk_mapped_table(spark, tmp_path)
    log = os.path.join(tp, dl.LOG_DIR)
    with open(os.path.join(log, f"{1:020d}.json"), "w") as fh:
        meta = {**dl.load_snapshot(tp).metadata, "schemaString": _schema_string(id_name="order_id")}
        fh.write(json.dumps({"metaData": meta}) + "\n")
    batch = sorted(tuple(r) for r in dl.read_delta_lite(spark, tp).collect())
    assert len(batch) == 6 and (11, 1100, "y") in batch
    assert _drain(spark, read_delta_lite_stream(spark, tp), "mapped_append", str(tmp_path / "cp1")) == batch

    stage = str(tmp_path / "stage_f3")
    spark.createDataFrame([(1, 100), (2, 222)], "a long, b long").coalesce(1).select(
        F.col("a").alias(PHYS["id"]), F.col("b").alias(PHYS["v"])
    ).write.parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    shutil.move(os.path.join(stage, part), os.path.join(tp, "f3.parquet"))
    with open(os.path.join(log, f"{2:020d}.json"), "w") as fh:
        for action in (
            {"remove": {"path": "f1.parquet", "dataChange": True}},
            {"add": {"path": "f3.parquet", "partitionValues": {PHYS["pt"]: "x"},
                     "size": os.path.getsize(os.path.join(tp, "f3.parquet")),
                     "modificationTime": 1700000000000, "dataChange": True}},
        ):
            fh.write(json.dumps(action) + "\n")
    changes = sorted(tuple(r) for r in dl.delta_changes(spark, tp, 1, 2).collect())
    assert changes == [(2, 200, "x", "delete"), (2, 222, "x", "insert"), (3, 300, "x", "delete")]
    cdf = read_delta_lite_stream(spark, tp, readChangeFeed="true", startingVersion=2)
    assert _drain(spark, cdf, "mapped_cdf", str(tmp_path / "cp2")) == changes
