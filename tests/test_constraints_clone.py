"""Round-11 second wave: CHECK constraints / invariants / appendOnly
(delta writer protocol 3, enforced on every mutating path) and SHALLOW
CLONE (zero-copy fork via absolute-path add actions).

Reference parity: the reference names deltalake as a first-class format
(reference spark.json:19); constraints and clones are the delta-spark
surface a user of that lane would reach for next. Everything here is
implemented from the PUBLIC delta protocol (delta-io/delta PROTOCOL.md).
"""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.sources import (
    delta_lite as dl,
)


def _mk(spark, n=20, mod=7):
    return spark.range(n).select("id", (F.col("id") % mod).alias("v"))


def _log_actions(tp, version):
    with open(os.path.join(tp, dl.LOG_DIR, f"{version:020d}.json")) as fh:
        return [json.loads(l) for l in fh if l.strip()]


# -- CHECK constraints -----------------------------------------------------


def test_add_constraint_validates_existing_rows(spark, tmp_path):
    tp = str(tmp_path / "t")
    dl.write_delta_lite(_mk(spark), tp)
    with pytest.raises(ValueError, match="existing row"):
        dl.add_check_constraint(spark, tp, "impossible", "v > 100")
    assert dl.load_snapshot(tp).version == 0  # nothing committed
    v = dl.add_check_constraint(spark, tp, "v_ok", "v >= 0")
    assert v == 1
    assert dl.table_constraints(tp) == {"v_ok": "v >= 0"}


def test_constraint_bumps_writer_protocol_to_3(spark, tmp_path):
    tp = str(tmp_path / "t")
    dl.write_delta_lite(_mk(spark), tp)
    dl.add_check_constraint(spark, tp, "v_ok", "v >= 0")
    snap = dl.load_snapshot(tp)
    assert snap.protocol["minWriterVersion"] == 3
    assert snap.protocol["minReaderVersion"] == 1  # old readers keep reading


def test_violating_append_refused_table_untouched(spark, tmp_path):
    tp = str(tmp_path / "t")
    dl.write_delta_lite(_mk(spark), tp)
    dl.add_check_constraint(spark, tp, "v_ok", "v >= 0")
    bad = spark.createDataFrame([(100, -1)], "id bigint, v bigint")
    with pytest.raises(ValueError, match="v_ok CHECK"):
        dl.write_delta_lite(bad, tp, mode="append")
    snap = dl.load_snapshot(tp)
    assert snap.version == 1
    assert dl.read_delta_lite(spark, tp).count() == 20
    # the refused staged files were unlinked — disk holds exactly the
    # referenced file set (no vacuum debt from a refused commit)
    on_disk = {
        os.path.relpath(p, tp).replace(os.sep, "/")
        for p in glob.glob(os.path.join(tp, "**", "*.parquet"), recursive=True)
        if dl.LOG_DIR not in p
    }
    assert on_disk == set(snap.files)


def test_null_result_counts_as_violation(spark, tmp_path):
    """delta-spark's CheckDeltaInvariant: a row where the expression
    evaluates to NULL violates (only TRUE passes)."""
    tp = str(tmp_path / "t")
    dl.write_delta_lite(_mk(spark), tp)
    dl.add_check_constraint(spark, tp, "v_ok", "v >= 0")
    null_row = spark.createDataFrame([(100, None)], "id bigint, v bigint")
    with pytest.raises(ValueError, match="v_ok"):
        dl.write_delta_lite(null_row, tp, mode="append")


def test_violating_update_and_merge_refused(spark, tmp_path):
    tp = str(tmp_path / "t")
    dl.write_delta_lite(_mk(spark), tp)
    dl.add_check_constraint(spark, tp, "v_ok", "v >= 0")
    with pytest.raises(ValueError, match="UPDATE .* violates v_ok"):
        dl.update_delta_lite(spark, tp, "id = 5", {"v": "-9"})
    # matched-update lane
    src = spark.createDataFrame([(3, -5)], "id bigint, v bigint")
    with pytest.raises(ValueError, match="MERGE .* violates v_ok"):
        dl.merge_delta_lite(spark, tp, src, ["id"], when_matched_update={"v": "src_v"})
    # not-matched-insert lane
    ins = spark.createDataFrame([(1000, -3)], "id bigint, v bigint")
    with pytest.raises(ValueError, match="MERGE .* violates v_ok"):
        dl.merge_delta_lite(spark, tp, ins, ["id"])
    assert dl.load_snapshot(tp).version == 1
    assert dl.read_delta_lite(spark, tp).filter("v < 0").count() == 0
    # a satisfying merge still lands
    good = spark.createDataFrame([(3, 50), (1000, 9)], "id bigint, v bigint")
    dl.merge_delta_lite(spark, tp, good, ["id"], when_matched_update={"v": "src_v"})
    got = {r.id: r.v for r in dl.read_delta_lite(spark, tp).collect()}
    assert got[3] == 50 and got[1000] == 9


def test_drop_constraint(spark, tmp_path):
    tp = str(tmp_path / "t")
    dl.write_delta_lite(_mk(spark), tp)
    dl.add_check_constraint(spark, tp, "v_ok", "v >= 0")
    with pytest.raises(ValueError, match="no such constraint"):
        dl.drop_check_constraint(tp, "nope")
    assert dl.drop_check_constraint(tp, "nope", if_exists=True) == 1  # no-op
    dl.drop_check_constraint(tp, "v_ok")
    assert dl.table_constraints(tp) == {}
    # the rule is gone; a previously-violating append lands
    dl.write_delta_lite(
        spark.createDataFrame([(100, -1)], "id bigint, v bigint"), tp, mode="append"
    )
    assert dl.read_delta_lite(spark, tp).filter("v < 0").count() == 1
    # protocol stays at 3 (downgrades are never safe)
    assert dl.load_snapshot(tp).protocol["minWriterVersion"] == 3


def test_duplicate_constraint_refused(spark, tmp_path):
    tp = str(tmp_path / "t")
    dl.write_delta_lite(_mk(spark), tp)
    dl.add_check_constraint(spark, tp, "v_ok", "v >= 0")
    with pytest.raises(ValueError, match="already exists"):
        dl.add_check_constraint(spark, tp, "V_OK", "v >= 1")


def test_constraint_survives_checkpoint_only_replay(spark, tmp_path):
    tp = str(tmp_path / "t")
    dl.write_delta_lite(_mk(spark), tp)
    dl.add_check_constraint(spark, tp, "v_ok", "v >= 0")
    dl.checkpoint_delta_lite(tp)
    for f in glob.glob(os.path.join(tp, dl.LOG_DIR, "*.json")):
        os.unlink(f)  # simulate log vacuum: checkpoint is all that's left
    snap = dl.load_snapshot(tp)
    assert snap.protocol["minWriterVersion"] == 3  # not downgraded
    assert dl.table_constraints(tp) == {"v_ok": "v >= 0"}
    with pytest.raises(ValueError, match="v_ok"):
        dl.write_delta_lite(
            spark.createDataFrame([(1, -1)], "id bigint, v bigint"), tp, mode="append"
        )


def test_column_invariant_from_foreign_schema_enforced(spark, tmp_path):
    """delta.invariants in the schema field metadata (writer protocol 2's
    feature, the protocol's JSON shape) — a foreign table carrying one
    is enforced exactly like a CHECK constraint."""
    tp = str(tmp_path / "t")
    dl.write_delta_lite(_mk(spark), tp)
    log0 = os.path.join(tp, dl.LOG_DIR, f"{0:020d}.json")
    actions = [json.loads(l) for l in open(log0) if l.strip()]
    for a in actions:
        if a.get("metaData"):
            sch = json.loads(a["metaData"]["schemaString"])
            for fld in sch["fields"]:
                if fld["name"] == "v":
                    fld["metadata"] = {
                        "delta.invariants": json.dumps(
                            {"expression": {"expression": "v < 50"}}
                        )
                    }
            a["metaData"]["schemaString"] = json.dumps(sch)
    with open(log0, "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
    with pytest.raises(ValueError, match=r"invariant\(v\)"):
        dl.write_delta_lite(
            spark.createDataFrame([(1, 99)], "id bigint, v bigint"), tp, mode="append"
        )
    dl.write_delta_lite(
        spark.createDataFrame([(1, 49)], "id bigint, v bigint"), tp, mode="append"
    )


def test_constraint_racing_dml_raises(spark, tmp_path, monkeypatch):
    """A DML losing its commit race to an ADD CONSTRAINT must raise
    (metadata changes never commute — delta's MetadataChangedException),
    never land rows that skipped the new rule."""
    tp = str(tmp_path / "t")
    dl.write_delta_lite(_mk(spark), tp)
    orig = dl._commit
    state = {"fired": False}

    def hooked(table_path, version, actions):
        if not state["fired"]:
            state["fired"] = True
            dl.add_check_constraint(spark, tp, "late", "v >= 0")
        return orig(table_path, version, actions)

    monkeypatch.setattr(dl, "_commit", hooked)
    with pytest.raises(dl.DeltaConcurrentWriteError, match="metadata"):
        dl.delete_delta_lite(spark, tp, "id = 3")


# -- writer-version gate ---------------------------------------------------


def test_foreign_writer_version_gate(spark, tmp_path):
    tp = str(tmp_path / "t")
    dl.write_delta_lite(_mk(spark), tp)
    log0 = os.path.join(tp, dl.LOG_DIR, f"{0:020d}.json")
    actions = [json.loads(l) for l in open(log0) if l.strip()]

    def _set_protocol(proto):
        for a in actions:
            if a.get("protocol"):
                a["protocol"] = proto
        with open(log0, "w") as fh:
            fh.write("\n".join(json.dumps(a) for a in actions) + "\n")

    _set_protocol({"minReaderVersion": 1, "minWriterVersion": 4})
    assert dl.read_delta_lite(spark, tp).count() == 20  # reads still fine
    with pytest.raises(ValueError, match="writer"):
        dl.write_delta_lite(_mk(spark, 2), tp, mode="append")
    with pytest.raises(ValueError, match="writer"):
        dl.delete_delta_lite(spark, tp, "id = 1")
    # table-features protocol with only features we implement: allowed
    _set_protocol(
        {
            "minReaderVersion": 1,
            "minWriterVersion": 7,
            "writerFeatures": ["appendOnly", "invariants", "checkConstraints"],
        }
    )
    dl.write_delta_lite(_mk(spark, 2), tp, mode="append")
    # an unimplemented feature: refused, named
    _set_protocol(
        {
            "minReaderVersion": 1,
            "minWriterVersion": 7,
            "writerFeatures": ["deletionVectors"],
        }
    )
    with pytest.raises(ValueError, match="deletionVectors"):
        dl.write_delta_lite(_mk(spark, 2), tp, mode="append")


# -- appendOnly ------------------------------------------------------------


def test_append_only_blocks_exactly_data_removes(spark, tmp_path):
    tp = str(tmp_path / "t")
    dl.write_delta_lite(_mk(spark), tp)
    dl.set_table_properties(tp, {"delta.appendOnly": "true"})
    dl.write_delta_lite(_mk(spark, 3), tp, mode="append")  # appends fine
    with pytest.raises(ValueError, match="appendOnly"):
        dl.delete_delta_lite(spark, tp, "id = 1")
    with pytest.raises(ValueError, match="appendOnly"):
        dl.update_delta_lite(spark, tp, "id = 1", {"v": "0"})
    with pytest.raises(ValueError, match="appendOnly"):
        dl.write_delta_lite(_mk(spark, 2), tp, mode="overwrite")
    base_version = dl.load_snapshot(tp).version
    with pytest.raises(ValueError, match="appendOnly"):
        dl.restore_delta_lite(tp, 0)
    # protocol-exact: a DML that removes NOTHING is legal
    dl.delete_delta_lite(spark, tp, "id = -999")
    # OPTIMIZE removes carry dataChange=false: allowed
    dl.optimize_delta_lite(tp, spark, target_files=1)
    assert dl.read_delta_lite(spark, tp).count() == 23
    assert dl.load_snapshot(tp).version == base_version + 2
    # unset restores full DML
    dl.set_table_properties(tp, unset=["delta.appendOnly"])
    dl.delete_delta_lite(spark, tp, "id = 1")


def test_set_table_properties_guard_rails(spark, tmp_path):
    tp = str(tmp_path / "t")
    dl.write_delta_lite(_mk(spark), tp)
    with pytest.raises(ValueError, match="add_check_constraint"):
        dl.set_table_properties(tp, {"delta.constraints.x": "v > 0"})
    with pytest.raises(ValueError, match="true/false"):
        dl.set_table_properties(tp, {"delta.appendOnly": "maybe"})
    dl.set_table_properties(tp, {"team": "data-eng"})
    assert dl.load_snapshot(tp).configuration["team"] == "data-eng"


# -- shallow CLONE ---------------------------------------------------------


def test_clone_is_zero_copy_and_equal(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    dl.write_delta_lite(_mk(spark, 100).repartitionByRange(4, "id"), src)
    dl.clone_delta_lite(src, dst)
    assert sorted(map(tuple, dl.read_delta_lite(spark, dst).collect())) == sorted(
        map(tuple, dl.read_delta_lite(spark, src).collect())
    )
    # not one data byte under the clone
    data = [
        p
        for p in glob.glob(os.path.join(dst, "**", "*.parquet"), recursive=True)
        if dl.LOG_DIR not in p
    ]
    assert data == []
    # per-file stats carried over: data skipping prunes from first read
    snap = dl.load_snapshot(dst)
    cand = dl._candidate_files(snap, dl._parse_conjuncts("id = 3"))
    assert len(cand) < len(snap.files)


def test_clone_fork_isolation(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    dl.write_delta_lite(_mk(spark, 100), src)
    dl.clone_delta_lite(src, dst)
    # append lands inside the clone only
    dl.write_delta_lite(_mk(spark, 5), dst, mode="append")
    assert dl.read_delta_lite(spark, dst).count() == 105
    assert dl.read_delta_lite(spark, src).count() == 100
    # DML on the clone rewrites into the clone; source files untouched
    src_files_before = {
        p for p in glob.glob(os.path.join(src, "**", "*.parquet"), recursive=True)
    }
    dl.delete_delta_lite(spark, dst, "v = 3")
    assert dl.read_delta_lite(spark, src).count() == 100
    assert (
        {p for p in glob.glob(os.path.join(src, "**", "*.parquet"), recursive=True)}
        == src_files_before
    )
    # and the clone's vacuum can never reach outside its own directory
    dl.vacuum_delta_lite(dst)
    assert dl.read_delta_lite(spark, src).count() == 100


def test_clone_partitioned_prunes_and_rewrites(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.range(200).select(
        "id", (F.col("id") % 4).alias("p"), (F.col("id") % 9).alias("x")
    )
    dl.write_delta_lite(df, src, partition_by=["p"])
    dl.clone_delta_lite(src, dst)
    assert dl.read_delta_lite(spark, dst).count() == 200
    assert dl.read_delta_lite(spark, dst, predicate="p = 2").count() == 50
    # partition pruning on the clone: only p=2's files are candidates
    snap = dl.load_snapshot(dst)
    cand = dl._candidate_files(snap, dl._parse_conjuncts("p = 2"))
    assert all("p=2" in c for c in cand) and cand
    dl.delete_delta_lite(spark, dst, "p = 1")
    assert dl.read_delta_lite(spark, dst).count() == 150
    assert dl.read_delta_lite(spark, src).count() == 200


def test_clone_as_of_version(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    dl.write_delta_lite(_mk(spark, 50), src)
    dl.write_delta_lite(_mk(spark, 10), src, mode="append")
    dl.clone_delta_lite(src, dst, version=0)
    assert dl.read_delta_lite(spark, dst).count() == 50


def test_clone_carries_constraints_and_protocol(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    dl.write_delta_lite(_mk(spark), src)
    dl.add_check_constraint(spark, src, "v_ok", "v >= 0")
    dl.clone_delta_lite(src, dst)
    assert dl.table_constraints(dst) == {"v_ok": "v >= 0"}
    assert dl.load_snapshot(dst).protocol["minWriterVersion"] == 3
    with pytest.raises(ValueError, match="v_ok"):
        dl.write_delta_lite(
            spark.createDataFrame([(1, -1)], "id bigint, v bigint"), dst, mode="append"
        )


def test_clone_refuses_bad_inputs(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    dl.write_delta_lite(_mk(spark), src)
    dl.clone_delta_lite(src, dst)
    with pytest.raises(ValueError, match="already a delta table"):
        dl.clone_delta_lite(src, dst)
    # a vacuumed source file is caught at CLONE time, not first read
    dl.write_delta_lite(_mk(spark, 5), src, mode="overwrite")
    dl.vacuum_delta_lite(src)  # v0's files are gone
    with pytest.raises(ValueError, match="no longer exists"):
        dl.clone_delta_lite(src, str(tmp_path / "dst2"), version=0)


def test_optimize_materializes_clone(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    dl.write_delta_lite(_mk(spark, 100).repartition(3), src)
    dl.clone_delta_lite(src, dst)
    dl.optimize_delta_lite(dst, spark, target_files=1)
    snap = dl.load_snapshot(dst)
    assert all(not os.path.isabs(p) for p in snap.files)  # fully local now
    # now even deleting the SOURCE's files cannot hurt the clone
    for p in glob.glob(os.path.join(src, "**", "*.parquet"), recursive=True):
        if dl.LOG_DIR not in p:
            os.unlink(p)
    assert dl.read_delta_lite(spark, dst).count() == 100


def test_clone_time_travel_and_changes(spark, tmp_path):
    """CDC and time travel across the clone boundary: version 0 is the
    clone commit; post-clone DML diffs normally."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    dl.write_delta_lite(_mk(spark, 40), src)
    dl.clone_delta_lite(src, dst)
    dl.delete_delta_lite(spark, dst, "v = 3")
    changes = dl.delta_changes(spark, dst, from_version=0, to_version=1)
    rows = changes.collect()
    assert all(r["_change_type"] == "delete" for r in rows)
    assert {r.v for r in rows} == {3}
    assert dl.read_delta_lite(spark, dst, version=0).count() == 40


def test_streaming_source_reads_clone(spark, tmp_path):
    """A fresh stream on a clone serves the snapshot (absolute-path
    files) as its first batch, then tails the clone's own commits."""
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.sources.delta_stream import (
        read_delta_lite_stream,
    )

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    dl.write_delta_lite(
        spark.range(30).select(
            "id", (F.col("id") % 3).alias("p"), (F.col("id") % 5).alias("v")
        ),
        src,
        partition_by=["p"],
    )
    dl.clone_delta_lite(src, dst)
    stream = read_delta_lite_stream(spark, dst)
    q = (
        stream.writeStream.format("memory")
        .queryName("clone_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(tuple(r) for r in spark.table("clone_stream").collect())
    want = sorted(tuple(r) for r in dl.read_delta_lite(spark, dst).collect())
    assert got == want


# -- config steps -----------------------------------------------------------


def test_registry_delta_constraint_and_properties_steps(spark, tmp_path):
    """Config steps deltaConstraint (add/drop) and deltaProperties:
    the constraint blocks a later simpleInsert-shaped append; drop
    re-admits it; appendOnly set/unset round-trips."""
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.operators.registry import (
        OPERATORS,
    )

    tp = str(tmp_path / "t")
    anchor = spark.createDataFrame([(0,)], "x int")
    dl.write_delta_lite(spark.createDataFrame([(1, 10)], "k int, v int"), tp)
    out = OPERATORS["deltaConstraint"](
        anchor, table_path=tp, name="v_pos", expr="v > 0"
    )
    assert out.count() == 1
    assert dl.table_constraints(tp) == {"v_pos": "v > 0"}
    with pytest.raises(ValueError, match="v_pos"):
        dl.write_delta_lite(
            spark.createDataFrame([(2, -1)], "k int, v int"), tp, mode="append"
        )
    OPERATORS["deltaConstraint"](anchor, table_path=tp, name="v_pos", action="drop")
    dl.write_delta_lite(
        spark.createDataFrame([(2, -1)], "k int, v int"), tp, mode="append"
    )
    OPERATORS["deltaProperties"](
        anchor, table_path=tp, properties_json='{"delta.appendOnly": "true"}'
    )
    with pytest.raises(ValueError, match="appendOnly"):
        dl.delete_delta_lite(spark, tp, "k = 1")
    OPERATORS["deltaProperties"](anchor, table_path=tp, unset="delta.appendOnly")
    dl.delete_delta_lite(spark, tp, "k = 1")
    assert dl.read_delta_lite(spark, tp).count() == 1


def test_registry_delta_clone_step(spark, tmp_path):
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.operators.registry import (
        OPERATORS,
    )

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    dl.write_delta_lite(spark.createDataFrame([(1, 10), (2, 20)], "k int, v int"), src)
    dl.write_delta_lite(
        spark.createDataFrame([(3, 30)], "k int, v int"), src, mode="append"
    )
    anchor = spark.createDataFrame([(0,)], "x int")
    out = OPERATORS["deltaClone"](anchor, source_path=src, table_path=dst, version=0)
    assert sorted(tuple(r) for r in out.collect()) == [(1, 10), (2, 20)]
    out2 = OPERATORS["deltaClone"](
        anchor, source_path=src, table_path=str(tmp_path / "dst2")
    )
    assert out2.count() == 3


# -- round-11 parity extras --------------------------------------------------


def test_vacuum_retention_hours(spark, tmp_path):
    """RETAIN n HOURS: versions committed inside the window keep their
    files (time travel works); a 0-hour window degenerates to the
    versions-only rule. The knobs compose (either rule retains)."""
    tp = str(tmp_path / "t")
    dl.write_delta_lite(_mk(spark, 10), tp)
    dl.write_delta_lite(_mk(spark, 5), tp, mode="overwrite")
    dl.write_delta_lite(_mk(spark, 3), tp, mode="overwrite")
    # everything was committed seconds ago: a 1-hour window keeps all
    assert dl.vacuum_delta_lite(tp, retention_hours=1.0) == []
    assert dl.read_delta_lite(spark, tp, version=0).count() == 10
    assert dl.read_delta_lite(spark, tp, version=1).count() == 5
    # 0-hour window: only the current snapshot survives
    removed = dl.vacuum_delta_lite(tp, retention_hours=0.0)
    assert removed
    assert dl.read_delta_lite(spark, tp).count() == 3


def test_stream_starting_timestamp(spark, tmp_path):
    """startingTimestamp: the stream reads every commit AT OR AFTER the
    timestamp; a timestamp past the last commit tails only the future.
    Mutually exclusive with startingVersion."""
    import json as _json

    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.sources.delta_stream import (
        read_delta_lite_stream,
    )

    tp = str(tmp_path / "t")
    dl.write_delta_lite(spark.createDataFrame([(1,)], "k int"), tp)  # v0
    dl.write_delta_lite(spark.createDataFrame([(2,)], "k int"), tp, mode="append")
    dl.write_delta_lite(spark.createDataFrame([(3,)], "k int"), tp, mode="append")
    # rewrite commit timestamps so versions are an hour apart
    base_ms = 1_600_000_000_000
    for v in range(3):
        f = os.path.join(tp, dl.LOG_DIR, f"{v:020d}.json")
        actions = [_json.loads(l) for l in open(f) if l.strip()]
        for a in actions:
            if a.get("commitInfo"):
                a["commitInfo"]["timestamp"] = base_ms + v * 3_600_000
        with open(f, "w") as fh:
            fh.write("\n".join(_json.dumps(a) for a in actions) + "\n")

    def drain(name, **opts):
        q = (
            read_delta_lite_stream(spark, tp, **opts)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / ("cp_" + name)))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(r.k for r in spark.table(name).collect())

    # timestamp exactly at v1's commit -> commits v1, v2 (at-or-after)
    import datetime as _dt

    t_v1 = _dt.datetime.utcfromtimestamp((base_ms + 3_600_000) / 1000).strftime(
        "%Y-%m-%d %H:%M:%S"
    )
    assert drain("st_mid", startingTimestamp=t_v1) == [2, 3]
    # timestamp past every commit -> nothing (tail-only)
    t_future = _dt.datetime.utcfromtimestamp(
        (base_ms + 10 * 3_600_000) / 1000
    ).strftime("%Y-%m-%d %H:%M:%S")
    assert drain("st_future", startingTimestamp=t_future) == []
    with pytest.raises(Exception, match="mutually exclusive"):
        drain("st_both", startingTimestamp=t_v1, startingVersion=0)


def test_restore_reverts_constraints_with_metadata(spark, tmp_path):
    """RESTORE re-commits the target version's metaData (delta's
    behavior: schema AND configuration travel with the restore), so
    restoring past an ADD CONSTRAINT drops the rule — and the protocol
    stays at writer 3 (protocol actions are never restored)."""
    tp = str(tmp_path / "t")
    dl.write_delta_lite(_mk(spark), tp)  # v0
    dl.add_check_constraint(spark, tp, "v_ok", "v >= 0")  # v1
    with pytest.raises(ValueError, match="v_ok"):
        dl.write_delta_lite(
            spark.createDataFrame([(1, -1)], "id bigint, v bigint"), tp, mode="append"
        )
    dl.restore_delta_lite(tp, 0)  # v2: pre-constraint state
    assert dl.table_constraints(tp) == {}
    assert dl.load_snapshot(tp).protocol["minWriterVersion"] == 3
    dl.write_delta_lite(  # the rule is gone with the metadata
        spark.createDataFrame([(1, -1)], "id bigint, v bigint"), tp, mode="append"
    )
    dl.restore_delta_lite(tp, 1)  # forward again: rule comes back...
    assert dl.table_constraints(tp) == {"v_ok": "v >= 0"}
    # ...but RESTORE is data+metadata, not a validator: the negative row
    # from the lawless interval is NOT resurrected (v1's file set wins)
    assert dl.read_delta_lite(spark, tp).filter("v < 0").count() == 0
    with pytest.raises(ValueError, match="v_ok"):
        dl.write_delta_lite(
            spark.createDataFrame([(2, -2)], "id bigint, v bigint"), tp, mode="append"
        )


def test_blind_append_racing_constraint_add_raises(spark, tmp_path, monkeypatch):
    """A blind append that loses its commit race to an ADD CONSTRAINT
    must NOT re-aim: its staged rows were validated against the OLD
    rules (none), so retrying would land rows the new rule never saw —
    delta's MetadataChangedException shape. (The schema is unchanged by
    a constraint, so a schema-only compare would wrongly commute.)"""
    tp = str(tmp_path / "t")
    dl.write_delta_lite(_mk(spark), tp)
    orig = dl._commit
    state = {"fired": False}

    def hooked(table_path, version, actions):
        if not state["fired"]:
            state["fired"] = True
            dl.add_check_constraint(spark, tp, "late", "v >= 0")
        return orig(table_path, version, actions)

    monkeypatch.setattr(dl, "_commit", hooked)
    with pytest.raises(dl.DeltaConcurrentWriteError):
        dl.write_delta_lite(
            spark.createDataFrame([(99, 9)], "id bigint, v bigint"), tp, mode="append"
        )
    # nothing landed past the new rule
    assert dl.read_delta_lite(spark, tp).count() == 20


def test_checkpoint_preserves_feature_lists(spark, tmp_path):
    """A checkpoint of a table-features table (protocol (x,7)) must carry
    readerFeatures/writerFeatures: a protocol action declaring
    minWriterVersion 7 with no writerFeatures list is invalid per the
    delta protocol, and once replay is checkpoint-bounded the feature
    lists would otherwise be lost forever."""
    tp = str(tmp_path / "t")
    dl.write_delta_lite(_mk(spark), tp)
    log0 = os.path.join(tp, dl.LOG_DIR, f"{0:020d}.json")
    actions = [json.loads(l) for l in open(log0) if l.strip()]
    feats = {
        "minReaderVersion": 1,
        "minWriterVersion": 7,
        "writerFeatures": ["appendOnly", "checkConstraints", "invariants"],
    }
    for a in actions:
        if a.get("protocol"):
            a["protocol"] = feats
    with open(log0, "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
    dl.write_delta_lite(_mk(spark, 3), tp, mode="append")
    cp_version = dl.checkpoint_delta_lite(tp)
    # the checkpoint parquet itself declares the features
    import pyarrow.parquet as pq

    cp = os.path.join(tp, dl.LOG_DIR, f"{cp_version:020d}.checkpoint.parquet")
    protos = [r["protocol"] for r in pq.read_table(cp).to_pylist() if r.get("protocol")]
    assert protos and protos[0]["minWriterVersion"] == 7
    assert sorted(protos[0]["writerFeatures"]) == sorted(feats["writerFeatures"])
    assert protos[0]["readerFeatures"] is None  # absent stays absent
    # checkpoint-bounded replay (pre-checkpoint commits deleted) still
    # sees the full protocol and still enforces the feature gate
    for v in range(cp_version):
        os.remove(os.path.join(tp, dl.LOG_DIR, f"{v:020d}.json"))
    snap = dl.load_snapshot(tp)
    assert snap.protocol["minWriterVersion"] == 7
    assert sorted(snap.protocol["writerFeatures"]) == sorted(feats["writerFeatures"])
    assert "readerFeatures" not in snap.protocol  # null field dropped on read
    dl.write_delta_lite(_mk(spark, 2), tp, mode="append")  # still writable
    assert dl.read_delta_lite(spark, tp).count() == 25


# -- SCD2 MERGE rides the shared DML path ----------------------------------


def _scd2_table(spark, tp, n=20, **kw):
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.operators.scd2 import (
        scd2_initial,
    )

    dl.write_delta_lite(
        scd2_initial(_mk(spark, n).withColumnRenamed("id", "k"), "2024-01-01 00:00:00"),
        tp,
        **kw,
    )


def test_scd2_merge_refuses_check_violation(spark, tmp_path):
    """An SCD2 load that would commit a row violating a CHECK constraint
    raises and commits nothing, called directly or as an scdType2Insert
    target of a config job."""
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.plans.engine import (
        Orchestrator,
    )

    tp = str(tmp_path / "t")
    _scd2_table(spark, tp)
    dl.add_check_constraint(spark, tp, "v_ok", "v >= 0")
    bad = spark.createDataFrame([(3, -5)], "k bigint, v bigint")
    with pytest.raises(ValueError, match="MERGE .* violates v_ok"):
        dl.merge_scd2_delta_lite(spark, tp, bad, ["k"], effective_ts="2024-02-01 00:00:00")
    assert dl.load_snapshot(tp).version == 1

    src = str(tmp_path / "incoming.parquet")
    bad.write.parquet(src)
    cfg = {
        "configs": {
            "name": "scd2_constrained",
            "phase_1": {
                "input_data": {
                    "dataSource": "local",
                    "dataFrameName": "snapshot",
                    "path": src,
                    "fileProperties": {"fileFormat": "parquet"},
                }
            },
        },
        "phase_3": {
            "target_record_insert": [
                {
                    "dataTarget": "local",
                    "dataFrameName": "snapshot",
                    "loadType": "scdType2Insert",
                    "scd2Keys": ["k"],
                    "scd2EffectiveCol": "2024-02-01 00:00:00",
                    "path": tp,
                    "outputDataProperties": {"fileFormat": "deltalake"},
                }
            ]
        },
    }
    with pytest.raises(ValueError, match="violates v_ok"):
        Orchestrator(spark).run(cfg)
    assert dl.load_snapshot(tp).version == 1
    assert dl.read_delta_lite(spark, tp).filter("v < 0").count() == 0


def test_scd2_merge_respects_append_only(spark, tmp_path):
    """Closing a current row removes its file: refused on an appendOnly
    table. A merge that only inserts new keys removes nothing and lands."""
    tp = str(tmp_path / "t")
    _scd2_table(spark, tp)
    dl.set_table_properties(tp, {"delta.appendOnly": "true"})
    changed = spark.createDataFrame([(3, 6)], "k bigint, v bigint")
    with pytest.raises(ValueError, match="appendOnly"):
        dl.merge_scd2_delta_lite(spark, tp, changed, ["k"], effective_ts="2024-02-01 00:00:00")
    assert dl.load_snapshot(tp).version == 1
    before = set(dl.load_snapshot(tp).files)
    new = spark.createDataFrame([(100, 1)], "k bigint, v bigint")
    v = dl.merge_scd2_delta_lite(spark, tp, new, ["k"], effective_ts="2024-02-01 00:00:00")
    assert v == 2 and before <= set(dl.load_snapshot(tp).files)
    assert dl.read_delta_lite(spark, tp).count() == 21


def test_scd2_merge_into_shallow_clone(spark, tmp_path):
    """The clone's add actions carry absolute paths; the merge must remove
    exactly the clone's reference to the matched source file, leaving one
    current row per key and the source table untouched."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    _scd2_table(spark, src, n=100)
    src_rows = sorted(map(tuple, dl.read_delta_lite(spark, src).collect()))
    dl.clone_delta_lite(src, dst)
    changed = spark.createDataFrame([(7, 99)], "k bigint, v bigint")
    dl.merge_scd2_delta_lite(spark, dst, changed, ["k"], effective_ts="2024-02-01 00:00:00")
    got = dl.read_delta_lite(spark, dst)
    assert got.count() == 101
    assert got.filter("is_current").count() == 100
    assert {(r.v, r.is_current) for r in got.filter("k = 7").collect()} == {
        (0, False),
        (99, True),
    }
    assert sorted(map(tuple, dl.read_delta_lite(spark, src).collect())) == src_rows
