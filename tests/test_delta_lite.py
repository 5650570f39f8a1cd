"""S9/W5-delta executed for real: the delta_lite transaction log.

The reference names ``deltalake`` as a first-class format and SCD2 as its
flagship load mode (reference ``spark.json:19,73,91``); delta-spark is not
installed here, so these tests drive the in-repo implementation of the
public Delta protocol — log replay, time travel, checkpoints, partitioned
layout, optimistic-concurrency conflict, file-pruned MERGE — and assert
the on-disk log is PROTOCOL-SHAPED (action JSON an external Delta reader
would accept), which is the interop evidence available without network.
"""

import json
import os

import pytest

from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.config import (
    InputSpec,
    TargetSpec,
)
from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.operators.scd2 import (
    scd2_initial,
)
from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.sinks.writers import (
    write_target,
)
from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.sources import (
    delta_lite as dl,
)
from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.sources.readers import (
    read_input,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_create_append_overwrite_time_travel(spark, tmp_path):
    tp = str(tmp_path / "t")
    df0 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    assert dl.write_delta_lite(df0, tp, mode="overwrite") == 0
    df1 = spark.createDataFrame([(3, "c")], "id int, v string")
    assert dl.write_delta_lite(df1, tp, mode="append") == 1
    assert _rows(dl.read_delta_lite(spark, tp)) == [(1, "a"), (2, "b"), (3, "c")]
    # time travel to every version
    assert _rows(dl.read_delta_lite(spark, tp, version=0)) == [(1, "a"), (2, "b")]
    assert dl.write_delta_lite(df1, tp, mode="overwrite") == 2
    assert _rows(dl.read_delta_lite(spark, tp)) == [(3, "c")]
    assert _rows(dl.read_delta_lite(spark, tp, version=1)) == [
        (1, "a"),
        (2, "b"),
        (3, "c"),
    ]


def test_error_and_ignore_modes(spark, tmp_path):
    tp = str(tmp_path / "t")
    df = spark.createDataFrame([(1,)], "id int")
    dl.write_delta_lite(df, tp)
    with pytest.raises(ValueError, match="already exists"):
        dl.write_delta_lite(df, tp, mode="errorifexists")
    v = dl.write_delta_lite(df, tp, mode="ignore")
    assert v == 0 and _rows(dl.read_delta_lite(spark, tp)) == [(1,)]


def test_schema_mismatch_refused(spark, tmp_path):
    tp = str(tmp_path / "t")
    dl.write_delta_lite(spark.createDataFrame([(1, "a")], "id int, v string"), tp)
    with pytest.raises(ValueError, match="schema mismatch"):
        dl.write_delta_lite(spark.createDataFrame([(2,)], "id int"), tp, mode="append")


def test_partitioned_roundtrip_with_null_partition(spark, tmp_path):
    tp = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "US", 5), (2, "DE", 6), (3, None, 7)], "id int, country string, n int"
    )
    dl.write_delta_lite(df, tp, partition_by=["country"])
    got = dl.read_delta_lite(spark, tp)
    # declared schema preserved (partition col type pinned, order too)
    assert got.schema.simpleString() == "struct<id:int,country:string,n:int>"
    assert _rows(got.select("id", "country", "n")) == [
        (1, "US", 5),
        (2, "DE", 6),
        (3, None, 7),
    ]
    # appends must keep the table's partitioning
    with pytest.raises(ValueError, match="partition columns"):
        dl.write_delta_lite(df, tp, mode="append", partition_by=["n"])
    # hive-style layout on disk (what partition discovery / external
    # readers expect)
    snap = dl.load_snapshot(tp)
    assert all(
        p.split("/")[0].startswith("country=") for p in snap.files
    ), sorted(snap.files)


def test_checkpoint_bounds_replay(spark, tmp_path):
    tp = str(tmp_path / "t")
    df = spark.createDataFrame([(1,)], "id int")
    dl.write_delta_lite(df, tp)
    for _ in range(3):
        dl.write_delta_lite(df, tp, mode="append")
    assert dl.checkpoint_delta_lite(tp) == 3
    # deleting pre-checkpoint commits must not break reads (replay starts
    # at the checkpoint)
    log = os.path.join(tp, dl.LOG_DIR)
    for v in range(3):
        os.unlink(os.path.join(log, f"{v:020d}.json"))
    dl.write_delta_lite(df, tp, mode="append")
    assert dl.read_delta_lite(spark, tp).count() == 5
    # but time travel to a vacuumed version now honestly fails
    with pytest.raises(ValueError, match="not available"):
        dl.load_snapshot(tp, version=1)


def test_concurrent_commit_conflict(spark, tmp_path):
    tp = str(tmp_path / "t")
    dl.write_delta_lite(spark.createDataFrame([(1,)], "id int"), tp)
    # simulate a racing writer that takes version 1 first
    dl._commit(tp, 1, [{"commitInfo": {"operation": "WRITE"}}])
    with pytest.raises(dl.DeltaConcurrentWriteError):
        dl._commit(tp, 1, [{"commitInfo": {"operation": "WRITE"}}])


def test_log_is_protocol_shaped(spark, tmp_path):
    """The interop check: every commit line is a single-action JSON record
    with the fields PROTOCOL.md requires for protocol (1,2) tables."""
    tp = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a")], "id int, v string")
    dl.write_delta_lite(df, tp)
    dl.write_delta_lite(df, tp, mode="overwrite")
    log = os.path.join(tp, dl.LOG_DIR)
    seen = set()
    for fname in sorted(os.listdir(log)):
        if not fname.endswith(".json"):
            continue
        with open(fname if os.path.isabs(fname) else os.path.join(log, fname)) as fh:
            for line in fh:
                action = json.loads(line)
                assert len(action) == 1  # one action per line
                kind = next(iter(action))
                seen.add(kind)
                body = action[kind]
                if kind == "protocol":
                    assert body == {"minReaderVersion": 1, "minWriterVersion": 2}
                elif kind == "metaData":
                    assert body["format"]["provider"] == "parquet"
                    assert {"id", "schemaString", "partitionColumns"} <= set(body)
                    # schemaString is a Spark StructType JSON document
                    assert json.loads(body["schemaString"])["type"] == "struct"
                elif kind == "add":
                    assert {"path", "partitionValues", "size", "modificationTime", "dataChange"} <= set(body)
                    assert os.path.exists(os.path.join(tp, body["path"])) or any(
                        json.loads(l2).get("remove", {}).get("path") == body["path"]
                        for f2 in sorted(os.listdir(log)) if f2.endswith(".json")
                        for l2 in open(os.path.join(log, f2))
                    )
                    assert json.loads(body["stats"])["numRecords"] == 1
                elif kind == "remove":
                    assert {"path", "deletionTimestamp", "dataChange"} <= set(body)
    assert {"protocol", "metaData", "add", "remove", "commitInfo"} <= seen


def test_unsupported_features_gate(spark, tmp_path):
    tp = str(tmp_path / "t")
    dl.write_delta_lite(spark.createDataFrame([(1,)], "id int"), tp)
    # reader-protocol-3 table (deletion vectors etc.) must refuse, not
    # return wrong rows
    dl._commit(tp, 1, [{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7}}])
    with pytest.raises(ValueError, match="reader protocol"):
        dl.load_snapshot(tp)
    # column mapping: 'name'-mode READS are supported since round 12
    # (tests/test_column_mapping.py); 'id' mode still refuses by name
    tp2 = str(tmp_path / "t2")
    dl.write_delta_lite(spark.createDataFrame([(1,)], "id int"), tp2)
    snap = dl.load_snapshot(tp2)
    md = dict(snap.metadata)
    md["configuration"] = {"delta.columnMapping.mode": "name"}
    dl._commit(tp2, 1, [{"metaData": md}])
    assert dl.read_delta_lite(spark, tp2).count() == 1  # physical==logical fallback
    md2 = dict(md)
    md2["configuration"] = {"delta.columnMapping.mode": "id"}
    dl._commit(tp2, 2, [{"metaData": md2}])
    with pytest.raises(ValueError, match="columnMapping mode 'id'"):
        dl.load_snapshot(tp2)


def test_merge_rewrites_only_matched_files(spark, tmp_path):
    """The at-scale MERGE property: files without a matched current key
    survive the merge untouched (same physical path in the new snapshot)."""
    tp = str(tmp_path / "t")
    init = scd2_initial(
        spark.createDataFrame([(i, f"v{i}") for i in range(8)], "k int, v string"),
        "2024-01-01 00:00:00",
    )
    # force several files so pruning has something to prune
    dl.write_delta_lite(init.repartition(4, "k"), tp)
    before = dl.load_snapshot(tp)
    assert len(before.files) >= 2
    inc = spark.createDataFrame([(3, "CHANGED")], "k int, v string")
    dl.merge_scd2_delta_lite(
        spark, tp, inc, ["k"], effective_ts="2024-02-01 00:00:00"
    )
    after = dl.load_snapshot(tp)
    surviving = set(before.files) & set(after.files)
    # at least one untouched file carried over byte-identical; the file
    # holding k=3 was rewritten
    assert surviving, "merge rewrote every file — pruning is not working"
    assert set(after.files) != set(before.files)
    got = {
        (r.k, r.v, r.is_current)
        for r in dl.read_delta_lite(spark, tp).collect()
    }
    assert (3, "v3", False) in got and (3, "CHANGED", True) in got
    assert (5, "v5", True) in got
    # one current row per key
    cur = [r for r in got if r[2]]
    assert len(cur) == 8


def test_merge_insert_only_touches_nothing(spark, tmp_path):
    tp = str(tmp_path / "t")
    init = scd2_initial(
        spark.createDataFrame([(1, "a")], "k int, v string"), "2024-01-01 00:00:00"
    )
    dl.write_delta_lite(init, tp)
    before = dl.load_snapshot(tp)
    dl.merge_scd2_delta_lite(
        spark,
        tp,
        spark.createDataFrame([(9, "new")], "k int, v string"),
        ["k"],
        effective_ts="2024-02-01 00:00:00",
    )
    after = dl.load_snapshot(tp)
    assert set(before.files) <= set(after.files)  # nothing removed
    assert dl.read_delta_lite(spark, tp).count() == 2


def test_config_dialect_delta_lanes(spark, tmp_path):
    """deltalake rides the same InputSpec/TargetSpec surface as every
    other format (reference ``spark.json:19``): simpleInsert appends,
    versionAsOf time-travels, scdType2Insert merges."""
    tp = str(tmp_path / "t")
    for rows in ([(1, "a"), (2, "b")], [(3, "c")]):
        write_target(
            spark,
            spark.createDataFrame(rows, "id int, v string"),
            TargetSpec.from_dict(
                {
                    "dataTarget": "local",
                    "dataFrameName": "t",
                    "path": tp,
                    "fileFormat": "deltalake",
                    "loadType": "simpleInsert",
                }
            ),
        )
    got = read_input(
        spark,
        InputSpec.from_dict(
            {"dataSource": "local", "path": tp, "fileFormat": "deltalake"}
        ),
    )
    assert got.count() == 3
    v0 = read_input(
        spark,
        InputSpec.from_dict(
            {
                "dataSource": "local",
                "path": tp,
                "fileFormat": "deltalake",
                "options": {"versionAsOf": "0"},
            }
        ),
    )
    assert _rows(v0) == [(1, "a"), (2, "b")]

    scd = str(tmp_path / "scd")
    for eff, rows in [
        ("2024-01-01 00:00:00", [(1, "x"), (2, "y")]),
        ("2024-02-01 00:00:00", [(2, "y2"), (3, "z")]),
    ]:
        write_target(
            spark,
            spark.createDataFrame(rows, "k int, v string"),
            TargetSpec.from_dict(
                {
                    "dataTarget": "local",
                    "dataFrameName": "d",
                    "path": scd,
                    "fileFormat": "deltalake",
                    "loadType": "scdType2Insert",
                    "scd2Keys": ["k"],
                    "scd2EffectiveCol": eff,
                }
            ),
        )
    hist = {
        (r.k, r.v, r.is_current)
        for r in read_input(
            spark,
            InputSpec.from_dict(
                {"dataSource": "local", "path": scd, "fileFormat": "deltalake"}
            ),
        ).collect()
    }
    assert hist == {
        (1, "x", True),
        (2, "y", False),
        (2, "y2", True),
        (3, "z", True),
    }


def test_delta_target_reconciliation_reads_the_log_not_a_glob(spark, tmp_path):
    """V6 read-back on a deltalake target must route through the
    transaction log: ``spark.read.format('delta')`` needs delta-spark
    (absent here), and a raw parquet glob would double-count removed
    files. Covers the overwrite read-back AND the append pre-count
    (which reconciles the count DELTA against a non-empty target)."""
    tp = str(tmp_path / "t")

    def _spec():
        return TargetSpec.from_dict(
            {
                "dataTarget": "local",
                "dataFrameName": "t",
                "path": tp,
                "fileFormat": "deltalake",
                "loadType": "simpleInsert",
                "reconciliation": "true",
            }
        )

    r1 = write_target(
        spark, spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"), _spec()
    )
    assert r1["reconciliation"]["ok"] is True
    # second append: pre-count 2 must come from the DELTA read-back, so
    # the delta (expected=1, written=3-2) reconciles
    r2 = write_target(
        spark, spark.createDataFrame([(3, "c")], "id int, v string"), _spec()
    )
    assert r2["reconciliation"]["ok"] is True, r2["reconciliation"]
    # overwrite rewrites the table; removed files stay on disk — only a
    # log-aware read-back counts 1 here
    spec = _spec()
    spec.load_type = "truncateInsert"
    r3 = write_target(spark, spark.createDataFrame([(9, "z")], "id int, v string"), spec)
    assert r3["reconciliation"]["ok"] is True, r3["reconciliation"]
    assert r3["reconciliation"]["written"] == 1


def test_scd2_refuses_non_scd2_delta_table(spark, tmp_path):
    tp = str(tmp_path / "t")
    dl.write_delta_lite(spark.createDataFrame([(1, "a")], "k int, v string"), tp)
    with pytest.raises(ValueError, match="lacks the SCD2 meta columns"):
        write_target(
            spark,
            spark.createDataFrame([(1, "b")], "k int, v string"),
            TargetSpec.from_dict(
                {
                    "dataTarget": "local",
                    "dataFrameName": "d",
                    "path": tp,
                    "fileFormat": "deltalake",
                    "loadType": "scdType2Insert",
                    "scd2Keys": ["k"],
                }
            ),
        )


def test_partitioned_scd2_merge_with_partition_move(spark, tmp_path):
    """MERGE on a hive-partitioned table: only partitions holding matched
    current keys are rewritten, and a key whose partition VALUE changes
    closes in the old partition and inserts into the new one."""
    tp = str(tmp_path / "t")
    init = scd2_initial(
        spark.createDataFrame(
            [(1, "US", "a"), (2, "US", "b"), (3, "DE", "c"), (4, "FR", "d")],
            "k int, country string, v string",
        ),
        "2024-01-01 00:00:00",
    )
    dl.write_delta_lite(init, tp, partition_by=["country"])
    before = dl.load_snapshot(tp)
    inc = spark.createDataFrame(
        [(2, "DE", "b"), (5, "US", "e")], "k int, country string, v string"
    )
    dl.merge_scd2_delta_lite(spark, tp, inc, ["k"], effective_ts="2024-02-01 00:00:00")
    after = dl.load_snapshot(tp)
    # the FR partition had no matched key: its file survives untouched
    fr_files = {p for p in before.files if p.startswith("country=FR")}
    assert fr_files and fr_files <= set(after.files)
    got = {
        (r.k, r.country, r.v, r.is_current)
        for r in dl.read_delta_lite(spark, tp).collect()
    }
    assert (2, "US", "b", False) in got       # closed in old partition
    assert (2, "DE", "b", True) in got        # current in new partition
    assert (5, "US", "e", True) in got        # brand-new key
    assert (4, "FR", "d", True) in got        # untouched
    assert sum(1 for g in got if g[0] == 2) == 2


def test_vacuum_removes_only_unreferenced(spark, tmp_path):
    tp = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a")], "id int, v string")
    dl.write_delta_lite(df, tp)                       # v0
    dl.write_delta_lite(df, tp, mode="overwrite")     # v1 — v0's file unreferenced
    dl.write_delta_lite(df, tp, mode="append")        # v2
    on_disk = lambda: {  # noqa: E731
        os.path.relpath(os.path.join(r, f), tp)
        for r, _d, fs in os.walk(tp)
        for f in fs
        if f.endswith(".parquet") and dl.LOG_DIR not in r
    }
    assert len(on_disk()) == 3
    # retain one prior version: nothing referenced by v1/v2 is deleted
    removed = dl.vacuum_delta_lite(tp, retain_versions=1)
    assert len(removed) == 1  # only v0's overwritten file
    assert dl.read_delta_lite(spark, tp).count() == 2
    assert dl.read_delta_lite(spark, tp, version=1).count() == 1
    # v0 data is gone: reading it now fails at scan time, not silently
    import py4j.protocol

    with pytest.raises(Exception):
        dl.read_delta_lite(spark, tp, version=0).count()


def test_auto_checkpoint_interval(spark, tmp_path):
    tp = str(tmp_path / "t")
    df = spark.createDataFrame([(1,)], "id int")
    dl.write_delta_lite(df, tp, checkpoint_interval=3)
    for _ in range(4):
        dl.write_delta_lite(df, tp, mode="append", checkpoint_interval=3)
    log = os.path.join(tp, dl.LOG_DIR)
    cps = [f for f in os.listdir(log) if f.endswith(".checkpoint.parquet")]
    assert cps == ["00000000000000000003.checkpoint.parquet"]
    assert json.load(open(os.path.join(log, "_last_checkpoint")))["version"] == 3
    assert dl.read_delta_lite(spark, tp).count() == 5


def test_txn_idempotent_writes(spark, tmp_path):
    """The protocol's txn action: replaying a (appId, version) write is a
    no-op — the exactly-once half of the streaming contract."""
    tp = str(tmp_path / "t")
    df = spark.createDataFrame([(1,)], "id int")
    dl.write_delta_lite(df, tp, txn=("job-a", 0))
    v = dl.write_delta_lite(df, tp, mode="append", txn=("job-a", 0))  # replay
    assert v == 0 and dl.read_delta_lite(spark, tp).count() == 1
    dl.write_delta_lite(df, tp, mode="append", txn=("job-a", 1))
    assert dl.read_delta_lite(spark, tp).count() == 2
    # a DIFFERENT app's version counter is independent
    dl.write_delta_lite(df, tp, mode="append", txn=("job-b", 0))
    assert dl.read_delta_lite(spark, tp).count() == 3
    assert dl.load_snapshot(tp).txns == {"job-a": 1, "job-b": 0}
    # a replaceWhere reload carries its txn through the DML commit
    for _replay in range(2):
        v = dl.write_delta_lite(
            df, tp, mode="overwrite", replace_where="id = 1", txn=("job-a", 2)
        )
    assert v == 3 and dl.read_delta_lite(spark, tp).count() == 1
    assert dl.load_snapshot(tp).txns == {"job-a": 2, "job-b": 0}


def test_txn_watermark_survives_checkpoint(spark, tmp_path):
    tp = str(tmp_path / "t")
    df = spark.createDataFrame([(1,)], "id int")
    dl.write_delta_lite(df, tp, txn=("app", 7))
    dl.checkpoint_delta_lite(tp)
    log = os.path.join(tp, dl.LOG_DIR)
    os.unlink(os.path.join(log, f"{0:020d}.json"))  # vacuumed commit
    dl.write_delta_lite(df, tp, mode="append")  # forces replay from cp
    v = dl.write_delta_lite(df, tp, mode="append", txn=("app", 7))  # replay
    assert dl.read_delta_lite(spark, tp).count() == 2  # no double write
    assert dl.load_snapshot(tp).txns == {"app": 7}


def test_streaming_delta_sink_exactly_once(spark, tmp_path):
    """foreachBatch -> delta-lite: file-source stream lands in the table;
    a manual batch replay (same batch id) commits nothing."""
    src = str(tmp_path / "src")
    tp = str(tmp_path / "t")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string").write.parquet(src)
    q = dl.streaming_delta_sink(
        spark.readStream.schema("id long, v string").parquet(src),
        tp,
        app_id="stream-1",
        checkpoint_location=str(tmp_path / "cp"),
    )
    q.processAllAvailable()
    q.stop()
    assert dl.read_delta_lite(spark, tp).count() == 2
    # simulate the failure-replay of batch 0
    dl.write_delta_lite(
        spark.createDataFrame([(1, "a")], "id long, v string"),
        tp,
        mode="append",
        txn=("stream-1", 0),
    )
    assert dl.read_delta_lite(spark, tp).count() == 2


def test_optimize_compacts_without_data_change(spark, tmp_path):
    tp = str(tmp_path / "t")
    df = spark.createDataFrame([(i, f"v{i}") for i in range(20)], "id int, v string")
    dl.write_delta_lite(df.repartition(8, "id"), tp)
    before = dl.load_snapshot(tp)
    assert len(before.files) > 1
    dl.optimize_delta_lite(tp, spark, target_files=1)
    after = dl.load_snapshot(tp)
    assert len(after.files) == 1
    assert _rows(dl.read_delta_lite(spark, tp)) == _rows(df)
    # pre-OPTIMIZE time travel still works; OPTIMIZE commit flags no data change
    assert dl.read_delta_lite(spark, tp, version=before.version).count() == 20
    with open(os.path.join(tp, dl.LOG_DIR, f"{after.version:020d}.json")) as fh:
        actions = [json.loads(l) for l in fh if l.strip()]
    assert all(
        a["remove"]["dataChange"] is False for a in actions if "remove" in a
    )
    assert all(a["add"]["dataChange"] is False for a in actions if "add" in a)
    # vacuum now reclaims the compacted-away files
    removed = dl.vacuum_delta_lite(tp)
    assert set(removed) == set(before.files)


def test_randomized_op_sequences_match_model(spark, tmp_path):
    """Model-based check: random operation sequences (append / overwrite /
    SCD2 merge / optimize / checkpoint / vacuum / RESTORE) against a
    plain-Python model of the CURRENT-state semantics. Catches
    interaction bugs no single-feature test covers (the
    checkpoint-only-log bug came from exactly such an interaction).
    RESTORE resets the model to the state remembered for the target
    version — or, if vacuum already reclaimed that version's files, the
    call must REFUSE and leave both table and model untouched."""
    import random

    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.operators.scd2 import (
        scd2_merge,
    )

    for seed in (1, 7, 23):
        rng = random.Random(seed)
        tp = str(tmp_path / f"t{seed}")

        def mk(rows):
            return spark.createDataFrame(rows, "k int, v string")

        dl.write_delta_lite(
            scd2_merge(None, mk([(0, "init")]), ["k"], effective_ts="2024-01-01 00:00:00"),
            tp,
            checkpoint_interval=3,
        )
        current = {0: "init"}
        closed = 0
        # per-version snapshot of the MODEL, for restore targets
        state_by_version = {0: (dict(current), closed)}
        for step in range(12):
            op = rng.choice(
                ["merge", "merge", "optimize", "checkpoint", "vacuum", "restore"]
            )
            if op == "merge":
                inc = [
                    (rng.randrange(8), f"v{seed}.{step}.{i}")
                    for i in range(rng.randrange(1, 4))
                ]
                # model: last dedup survivor per key wins (greatest row
                # under the non-key total order = max v string)
                by_key = {}
                for k, v in inc:
                    if k not in by_key or v > by_key[k]:
                        by_key[k] = v
                dl.merge_scd2_delta_lite(
                    spark, tp, mk(inc), ["k"],
                    effective_ts=f"2024-02-{step + 1:02d} 00:00:00",
                )
                for k, v in by_key.items():
                    if current.get(k) not in (v,):
                        if k in current:
                            closed += 1
                        current[k] = v
            elif op == "optimize":
                dl.optimize_delta_lite(tp, spark, target_files=1)
            elif op == "checkpoint":
                dl.checkpoint_delta_lite(tp)
            elif op == "restore":
                target_v = rng.choice(sorted(state_by_version))
                try:
                    dl.restore_delta_lite(tp, version=target_v)
                except ValueError as exc:
                    # only the vacuumed-files refusal is acceptable, and
                    # it must be a clean no-op
                    assert "no longer exist" in str(exc)
                else:
                    current, closed = (
                        dict(state_by_version[target_v][0]),
                        state_by_version[target_v][1],
                    )
            else:
                dl.vacuum_delta_lite(tp)
            v_now = dl.load_snapshot(tp).version
            state_by_version[v_now] = (dict(current), closed)
            got_cur = {
                r.k: r.v
                for r in dl.read_delta_lite(spark, tp).filter("is_current").collect()
            }
            assert got_cur == current, f"seed {seed} step {step} op {op}"
        got_closed = (
            dl.read_delta_lite(spark, tp).filter("NOT is_current").count()
        )
        assert got_closed == closed, f"seed {seed}: closed-history count"


def test_schema_evolution_additive(spark, tmp_path):
    tp = str(tmp_path / "t")
    dl.write_delta_lite(spark.createDataFrame([(1, "a")], "id int, v string"), tp)
    wide = spark.createDataFrame([(2, "b", 9)], "id int, v string, n int")
    with pytest.raises(ValueError, match="merge_schema"):
        dl.write_delta_lite(wide, tp, mode="append")
    dl.write_delta_lite(wide, tp, mode="append", merge_schema=True)
    got = dl.read_delta_lite(spark, tp)
    assert got.schema.simpleString() == "struct<id:int,v:string,n:int>"
    assert _rows(got) == [(1, "a", None), (2, "b", 9)]  # old rows read NULL
    # v0 time travel keeps the ORIGINAL schema
    assert dl.read_delta_lite(spark, tp, version=0).columns == ["id", "v"]
    # dropping columns still refuses
    with pytest.raises(ValueError, match="schema mismatch"):
        dl.write_delta_lite(
            spark.createDataFrame([(3,)], "id int"), tp, mode="append",
            merge_schema=True,
        )


def test_delta_changes_cdc(spark, tmp_path):
    tp = str(tmp_path / "t")
    dl.write_delta_lite(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id int, v string"),
        tp,
    )
    # v1: rewrite id=2 (delete+insert) and add id=4 via overwrite
    dl.write_delta_lite(
        spark.createDataFrame(
            [(1, "a"), (2, "B2"), (3, "c"), (4, "d")], "id int, v string"
        ),
        tp,
        mode="overwrite",
    )
    changes = {
        (r.id, r.v, r._change_type)
        for r in dl.delta_changes(spark, tp, 0, 1).collect()
    }
    assert changes == {
        (2, "b", "delete"),
        (2, "B2", "insert"),
        (4, "d", "insert"),
    }
    # OPTIMIZE between versions must produce ZERO changes
    dl.optimize_delta_lite(tp, spark, target_files=1)
    assert dl.delta_changes(spark, tp, 1, 2).count() == 0
    # shared-file pruning: appends leave v0's files shared, so the scan
    # only touches the appended file
    dl.write_delta_lite(
        spark.createDataFrame([(9, "z")], "id int, v string"), tp, mode="append"
    )
    got = dl.delta_changes(spark, tp, 2, 3)
    assert [tuple(r) for r in got.collect()] == [(9, "z", "insert")]
    # and across a schema evolution
    dl.write_delta_lite(
        spark.createDataFrame([(10, "y", 5)], "id int, v string, n int"),
        tp,
        mode="append",
        merge_schema=True,
    )
    got = {(r.id, r.v, r.n, r._change_type) for r in dl.delta_changes(spark, tp, 3, 4).collect()}
    assert got == {(10, "y", 5, "insert")}


def test_delete_rewrites_only_matching_files(spark, tmp_path):
    tp = str(tmp_path / "t")
    dl.write_delta_lite(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(8)], "k int, v string"
        ).repartition(4, "k"),
        tp,
    )
    before = dl.load_snapshot(tp)
    dl.delete_delta_lite(spark, tp, "k = 3")
    after = dl.load_snapshot(tp)
    assert set(before.files) & set(after.files), "DELETE rewrote every file"
    got = {r.k for r in dl.read_delta_lite(spark, tp).collect()}
    assert got == set(range(8)) - {3}
    # delete with no matches: version still commits, rows unchanged
    dl.delete_delta_lite(spark, tp, "k = 99")
    assert dl.read_delta_lite(spark, tp).count() == 7


def test_update_where(spark, tmp_path):
    tp = str(tmp_path / "t")
    dl.write_delta_lite(
        spark.createDataFrame([(1, 10, "a"), (2, 20, "b"), (3, 30, "c")],
                              "k int, n int, v string"),
        tp,
    )
    dl.update_delta_lite(spark, tp, "k >= 2", {"n": "n + 100", "v": "upper(v)"})
    got = {(r.k, r.n, r.v) for r in dl.read_delta_lite(spark, tp).collect()}
    assert got == {(1, 10, "a"), (2, 120, "B"), (3, 130, "C")}
    # SET sees the PRE-update row: swap two columns referencing each other
    tp2 = str(tmp_path / "t2")
    dl.write_delta_lite(spark.createDataFrame([(1, 2)], "a int, b int"), tp2)
    dl.update_delta_lite(spark, tp2, "a = 1", {"a": "b", "b": "a"})
    assert _rows(dl.read_delta_lite(spark, tp2)) == [(2, 1)]


def test_general_merge_upsert_delete(spark, tmp_path):
    tp = str(tmp_path / "t")
    dl.write_delta_lite(
        spark.createDataFrame(
            [(1, 10, "keep"), (2, 20, "upd"), (3, 30, "del"), (4, 40, "keep")],
            "k int, n int, tag string",
        ).repartition(4, "k"),
        tp,
    )
    before = dl.load_snapshot(tp)
    src = spark.createDataFrame(
        [(2, 999, "x"), (3, 0, "x"), (9, 90, "new")], "k int, n int, tag string"
    )
    v = dl.merge_delta_lite(
        spark,
        tp,
        src,
        ["k"],
        when_matched_update={"n": "src_n", "tag": "'updated'"},
        when_matched_delete="tag = 'del'",
        when_not_matched_insert=True,
    )
    got = {(r.k, r.n, r.tag) for r in dl.read_delta_lite(spark, tp).collect()}
    assert got == {
        (1, 10, "keep"),          # untouched key
        (2, 999, "updated"),      # matched update from src_n
        (4, 40, "keep"),          # untouched key
        (9, 90, "new"),           # not-matched insert
    }
    # one atomic commit for the whole merge
    assert v == before.version + 1
    assert dl.load_snapshot(tp).version == v
    # time travel to pre-merge still shows the old rows
    assert dl.read_delta_lite(spark, tp, version=before.version).count() == 4


def test_merge_insert_only_and_update_only(spark, tmp_path):
    tp = str(tmp_path / "t")
    dl.write_delta_lite(spark.createDataFrame([(1, 1)], "k int, n int"), tp)
    # insert-only merge (matched rows carried unchanged)
    dl.merge_delta_lite(
        spark, tp,
        spark.createDataFrame([(1, 99), (2, 2)], "k int, n int"),
        ["k"], when_not_matched_insert=True,
    )
    assert _rows(dl.read_delta_lite(spark, tp)) == [(1, 1), (2, 2)]
    # conditional update-only merge
    dl.merge_delta_lite(
        spark, tp,
        spark.createDataFrame([(1, 100), (2, 200)], "k int, n int"),
        ["k"],
        when_matched_update={"n": "src_n"},
        matched_condition="k = 2",
        when_not_matched_insert=False,
    )
    assert _rows(dl.read_delta_lite(spark, tp)) == [(1, 1), (2, 200)]


def test_corrupt_checkpoint_is_valueerror(spark, tmp_path):
    tp = str(tmp_path / "t")
    dl.write_delta_lite(spark.createDataFrame([(1,)], "id int"), tp)
    dl.checkpoint_delta_lite(tp)
    cp = os.path.join(tp, dl.LOG_DIR, f"{0:020d}.checkpoint.parquet")
    with open(cp, "wb") as fh:
        fh.write(b"PAR1 this is not a checkpoint")
    with pytest.raises(ValueError, match="corrupt delta checkpoint"):
        dl.load_snapshot(tp)


def _disk_parquets(tp):
    out = set()
    for root, dirs, names in os.walk(tp):
        dirs[:] = [d for d in dirs if d != dl.LOG_DIR and not d.startswith(".")]
        out |= {
            os.path.relpath(os.path.join(root, n), tp)
            for n in names
            if n.endswith(".parquet")
        }
    return out


def test_history_and_commit_timestamps(spark, tmp_path):
    tp = str(tmp_path / "t")
    dl.write_delta_lite(spark.createDataFrame([(1,), (2,)], "id int"), tp)
    dl.write_delta_lite(spark.createDataFrame([(3,)], "id int"), tp, mode="append")
    dl.delete_delta_lite(spark, tp, "id = 2")
    hist = dl.history_delta_lite(tp)
    assert [h["version"] for h in hist] == [2, 1, 0]  # newest-first
    assert [h["operation"] for h in hist] == ["DELETE", "WRITE", "WRITE"]
    stamps = dl.commit_timestamps(tp)
    assert sorted(stamps) == [0, 1, 2]
    # strictly monotonic even under same-millisecond commits
    assert stamps[0] < stamps[1] < stamps[2]
    assert hist[0]["timestamp"] == stamps[2]
    # protocol field actually present in the raw commit JSON
    with open(os.path.join(tp, dl.LOG_DIR, f"{0:020d}.json")) as fh:
        first = json.loads(fh.readline())
    assert isinstance(first["commitInfo"]["timestamp"], int)


def test_timestamp_time_travel(spark, tmp_path):
    tp = str(tmp_path / "t")
    dl.write_delta_lite(spark.createDataFrame([(1, "a")], "id int, v string"), tp)
    dl.write_delta_lite(
        spark.createDataFrame([(2, "b")], "id int, v string"), tp, mode="overwrite"
    )
    stamps = dl.commit_timestamps(tp)
    assert _rows(dl.read_delta_lite(spark, tp, timestamp=stamps[0])) == [(1, "a")]
    assert _rows(dl.read_delta_lite(spark, tp, timestamp=stamps[1])) == [(2, "b")]
    # a time between the two commits resolves to the EARLIER version
    if stamps[1] - stamps[0] > 1:
        mid = stamps[0] + (stamps[1] - stamps[0]) // 2
        assert _rows(dl.read_delta_lite(spark, tp, timestamp=mid)) == [(1, "a")]
    # delta-spark's contract: out-of-range timestamps raise, both sides
    with pytest.raises(ValueError, match="before the earliest"):
        dl.read_delta_lite(spark, tp, timestamp=stamps[0] - 10)
    with pytest.raises(ValueError, match="after the latest"):
        dl.read_delta_lite(spark, tp, timestamp=stamps[1] + 10)
    with pytest.raises(ValueError, match="not both"):
        dl.load_snapshot(tp, version=0, timestamp=stamps[0])
    # float = epoch seconds form accepted
    assert _rows(
        dl.read_delta_lite(spark, tp, timestamp=stamps[0] / 1000.0)
    ) == [(1, "a")]


def test_restore_to_version_is_log_only(spark, tmp_path):
    tp = str(tmp_path / "t")
    dl.write_delta_lite(
        spark.createDataFrame([(i, i * 10) for i in range(8)], "k int, n int")
        .repartition(4, "k"),
        tp,
    )
    dl.write_delta_lite(
        spark.createDataFrame([(99, 990)], "k int, n int"), tp, mode="overwrite"
    )
    dl.delete_delta_lite(spark, tp, "k = 99")
    before_disk = _disk_parquets(tp)
    v0_files = len(dl.load_snapshot(tp, 0).files)
    assert v0_files > 1  # several files so data skipping is observable
    v0_rows = _rows(dl.read_delta_lite(spark, tp, version=0))
    metrics = dl.restore_delta_lite(tp, version=0)
    assert metrics["version"] == 3
    assert metrics["restored_source_version"] == 0
    assert metrics["num_restored_files"] == v0_files
    # RESTORE moved no data: byte-level parquet set on disk is unchanged
    assert _disk_parquets(tp) == before_disk
    assert _rows(dl.read_delta_lite(spark, tp)) == v0_rows
    # pre-restore versions still time-travelable (RESTORE is just a commit)
    assert _rows(dl.read_delta_lite(spark, tp, version=1)) == [(99, 990)]
    assert dl.read_delta_lite(spark, tp, version=2).count() == 0
    hist = dl.history_delta_lite(tp)
    assert hist[0]["operation"] == "RESTORE"
    assert hist[0]["operationParameters"]["version"] == 0
    # stats rode along with the re-added files: a keyed DELETE after the
    # restore still data-skips (candidateFiles < total files)
    dl.delete_delta_lite(spark, tp, "k = 3")
    with open(os.path.join(tp, dl.LOG_DIR, f"{4:020d}.json")) as fh:
        ci = json.loads(fh.readline())["commitInfo"]
    assert ci["operationParameters"]["candidateFiles"] < v0_files


def test_restore_by_timestamp_and_schema(spark, tmp_path):
    tp = str(tmp_path / "t")
    dl.write_delta_lite(spark.createDataFrame([(1,)], "k int"), tp)
    dl.write_delta_lite(
        spark.createDataFrame([(2, "x")], "k int, extra string"),
        tp,
        mode="append",
        merge_schema=True,
    )
    assert "extra" in {f.name for f in dl.load_snapshot(tp).schema.fields}
    stamps = dl.commit_timestamps(tp)
    dl.restore_delta_lite(tp, timestamp=stamps[0])
    snap = dl.load_snapshot(tp)
    # RESTORE restored the metadata too: the evolved column is gone
    assert [f.name for f in snap.schema.fields] == ["k"]
    assert _rows(dl.read_delta_lite(spark, tp)) == [(1,)]


def test_restore_refuses_after_vacuum(spark, tmp_path):
    tp = str(tmp_path / "t")
    dl.write_delta_lite(spark.createDataFrame([(1,)], "k int"), tp)
    dl.write_delta_lite(
        spark.createDataFrame([(2,)], "k int"), tp, mode="overwrite"
    )
    removed = dl.vacuum_delta_lite(tp)  # v0's file physically deleted
    assert removed
    with pytest.raises(ValueError, match="no longer exist"):
        dl.restore_delta_lite(tp, version=0)
    # and nothing was committed by the failed attempt
    assert dl.load_snapshot(tp).version == 1


def test_timestamp_as_of_config_read_and_restore_step(spark, tmp_path):
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.operators.registry import (
        OPERATORS,
    )

    tp = str(tmp_path / "t")
    dl.write_delta_lite(spark.createDataFrame([(1,)], "k int"), tp)
    dl.write_delta_lite(
        spark.createDataFrame([(2,)], "k int"), tp, mode="overwrite"
    )
    stamps = dl.commit_timestamps(tp)
    df = read_input(
        spark,
        InputSpec(
            path=tp, file_format="deltalake", options={"timestampAsOf": stamps[0]}
        ),
    )
    assert _rows(df) == [(1,)]
    anchor = spark.createDataFrame([(0,)], "x int")
    out = OPERATORS["deltaRestore"](anchor, table_path=tp, version="0")
    assert _rows(out) == [(1,)]
    # deltaVacuum drops the files only the pre-restore v1 referenced
    out2 = OPERATORS["deltaVacuum"](anchor, table_path=tp, retain_versions=0)
    assert _rows(out2) == [(1,)]
    with pytest.raises(ValueError, match="no longer exist"):
        dl.restore_delta_lite(tp, version=1)


def test_delta_optimize_step_compacts_with_zorder(spark, tmp_path):
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.operators.registry import (
        OPERATORS,
    )

    tp = str(tmp_path / "t")
    dl.write_delta_lite(
        spark.createDataFrame(
            [(i, (i * 37) % 100, i % 50) for i in range(400)],
            "k int, x int, y int",
        ).repartition(8),
        tp,
    )
    assert len(dl.load_snapshot(tp).files) == 8
    anchor = spark.createDataFrame([(0,)], "z int")
    out = OPERATORS["deltaOptimize"](
        anchor, table_path=tp, target_files="2", zorder_by="x,y"
    )
    assert out.count() == 400
    snap = dl.load_snapshot(tp)
    assert len(snap.files) <= 2
    # the OPTIMIZE commit is dataChange=false end to end
    with open(os.path.join(tp, dl.LOG_DIR, f"{1:020d}.json")) as fh:
        actions = [json.loads(l) for l in fh if l.strip()]
    assert all(
        not a["add"]["dataChange"] for a in actions if "add" in a
    ) and all(
        not a["remove"]["dataChange"] for a in actions if "remove" in a
    )
    assert actions[0]["commitInfo"]["operationParameters"]["zOrderBy"] == ["x", "y"]


def test_concurrent_appends_auto_retry(spark, tmp_path):
    """Blind appends commute: racing appenders re-aim at the next
    version slot instead of surfacing DeltaConcurrentWriteError (the
    delta-spark commit-loop behavior). Overwrites still raise — their
    remove set was computed against a stale snapshot."""
    import threading

    tp = str(tmp_path / "t")
    dl.write_delta_lite(spark.createDataFrame([(0,)], "k int"), tp)
    frames = [spark.createDataFrame([(i,)], "k int") for i in range(1, 5)]
    barrier = threading.Barrier(4)
    errors = []

    def appender(df):
        try:
            barrier.wait()
            dl.write_delta_lite(df, tp, mode="append")
        except Exception as exc:  # noqa: BLE001 - collected for assert
            errors.append(exc)

    threads = [threading.Thread(target=appender, args=(f,)) for f in frames]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert _rows(dl.read_delta_lite(spark, tp)) == [(i,) for i in range(5)]
    assert dl.load_snapshot(tp).version == 4  # one commit per appender


def test_losing_overwrite_still_raises(spark, tmp_path, monkeypatch):
    """An overwrite that loses the commit race must surface the conflict
    (its remove set came from a stale snapshot); a losing append under
    the same sabotage silently re-aims."""
    tp = str(tmp_path / "t")
    dl.write_delta_lite(spark.createDataFrame([(0,)], "k int"), tp)
    real_commit = dl._commit

    def sabotage_once():
        done = {"d": False}

        def commit(path, version, actions):
            if not done["d"]:
                done["d"] = True  # a rival takes the slot first
                real_commit(path, version, [{"commitInfo": {"operation": "WRITE"}}])
            return real_commit(path, version, actions)

        return commit

    monkeypatch.setattr(dl, "_commit", sabotage_once())
    with pytest.raises(dl.DeltaConcurrentWriteError):
        dl.write_delta_lite(
            spark.createDataFrame([(9,)], "k int"), tp, mode="overwrite"
        )
    monkeypatch.setattr(dl, "_commit", sabotage_once())
    v = dl.write_delta_lite(spark.createDataFrame([(5,)], "k int"), tp, mode="append")
    assert v == dl.load_snapshot(tp).version
    assert (5,) in _rows(dl.read_delta_lite(spark, tp))


def test_delta_changes_step_with_timestamp_bounds(spark, tmp_path):
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.operators.registry import (
        OPERATORS,
    )

    tp = str(tmp_path / "t")
    dl.write_delta_lite(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), tp)
    dl.write_delta_lite(
        spark.createDataFrame([(1, "a"), (2, "B2"), (3, "c")], "k int, v string"),
        tp,
        mode="overwrite",
    )
    anchor = spark.createDataFrame([(0,)], "x int")
    out = OPERATORS["deltaChanges"](anchor, table_path=tp, from_version="0")
    got = sorted((r["k"], r["v"], r["_change_type"]) for r in out.collect())
    assert got == [(2, "B2", "insert"), (2, "b", "delete"), (3, "c", "insert")]
    # timestamp bound resolves like timestampAsOf
    stamps = dl.commit_timestamps(tp)
    out2 = OPERATORS["deltaChanges"](
        anchor, table_path=tp, from_timestamp=stamps[0]
    )
    assert sorted((r["k"], r["v"], r["_change_type"]) for r in out2.collect()) == got
    with pytest.raises(ValueError, match="exactly one"):
        OPERATORS["deltaChanges"](anchor, table_path=tp)


def test_parse_conjuncts_ignores_keywords_inside_string_literals(spark, tmp_path):
    """Review finding: the IS NULL / OR / BETWEEN / paren structural
    regexes must never match text INSIDE a quoted value — a row whose
    string column contains 'col1 IS NULL' was generating a bogus
    isnull conjunct that over-pruned (silent wrong DELETE/read)."""
    assert dl._parse_conjuncts("note = 'col1 IS NULL'") == [
        ("note", "=", "col1 IS NULL")
    ]
    assert dl._parse_conjuncts("note = 'a OR b'") == [("note", "=", "a OR b")]
    assert dl._parse_conjuncts("'a' = 'b'") == []  # no fabricated column
    assert dl._parse_conjuncts("a = 'oops") == []  # unbalanced quote: bail
    # end-to-end: the row whose VALUE contains "IS NULL" survives a
    # predicate read and is the one deleted by its own equality
    tp = str(tmp_path / "t")
    dl.write_delta_lite(
        spark.createDataFrame(
            [(1, "col1 IS NULL"), (2, "plain")], "k int, note string"
        ).repartition(2, "k"),
        tp,
    )
    got = _rows(
        dl.read_delta_lite(spark, tp, predicate="note = 'col1 IS NULL'")
    )
    assert got == [(1, "col1 IS NULL")]
    dl.delete_delta_lite(spark, tp, "note = 'col1 IS NULL'")
    assert _rows(dl.read_delta_lite(spark, tp)) == [(2, "plain")]


def test_timestamp_ntz_feature_roundtrip(spark, tmp_path):
    """TIMESTAMP_NTZ columns: a new table declares the timestampNtz
    READER+WRITER feature (protocol (3,7) — delta-spark refuses ntz
    tables that do not), values round-trip as timestamp_ntz, appends
    stay allowed, and LATER feature needs (constraints, appendOnly) are
    LISTED on the v7 protocol instead of version-bumped."""
    tp = str(tmp_path / "t")
    df = spark.sql(
        "SELECT id AS k, TIMESTAMP_NTZ '2024-03-01 10:30:00' + "
        "make_interval(0, 0, 0, 0, 0, 0, id) AS ts FROM range(5)"
    )
    dl.write_delta_lite(df, tp)
    proto = dl.load_snapshot(tp).protocol
    assert (proto["minReaderVersion"], proto["minWriterVersion"]) == (3, 7)
    assert "timestampNtz" in proto["readerFeatures"]
    assert "timestampNtz" in proto["writerFeatures"]
    back = dl.read_delta_lite(spark, tp)
    assert dict(back.dtypes)["ts"] == "timestamp_ntz"
    assert back.count() == 5
    dl.write_delta_lite(df, tp, mode="append")
    assert dl.read_delta_lite(spark, tp).count() == 10
    # constraint on a v7 table: feature listed, not a version change
    dl.add_check_constraint(spark, tp, "k_pos", "k >= 0")
    p2 = dl.load_snapshot(tp).protocol
    assert p2["minWriterVersion"] == 7
    assert "checkConstraints" in p2["writerFeatures"]
    # appendOnly on a v7 table: ditto
    dl.set_table_properties(tp, {"delta.appendOnly": "true"})
    p3 = dl.load_snapshot(tp).protocol
    assert "appendOnly" in p3["writerFeatures"]
    with pytest.raises(ValueError, match="appendOnly"):
        dl.delete_delta_lite(spark, tp, "k = 1")


def test_ntz_schema_evolution_upgrades_protocol(spark, tmp_path):
    """Evolving a TIMESTAMP_NTZ column into a legacy (1,2) table must
    declare timestampNtz in the SAME commit (plus the legacy-implied
    writer features, per the table-features upgrade rule)."""
    tp = str(tmp_path / "t")
    dl.write_delta_lite(spark.createDataFrame([(1,)], "k long"), tp)
    assert dl.load_snapshot(tp).protocol == {
        "minReaderVersion": 1,
        "minWriterVersion": 2,
    }
    evolved = spark.sql(
        "SELECT CAST(2 AS LONG) AS k, TIMESTAMP_NTZ '2024-01-01 00:00:00' AS ts"
    )
    dl.write_delta_lite(evolved, tp, mode="append", merge_schema=True)
    proto = dl.load_snapshot(tp).protocol
    assert (proto["minReaderVersion"], proto["minWriterVersion"]) == (3, 7)
    assert proto["readerFeatures"] == ["timestampNtz"]
    assert set(proto["writerFeatures"]) == {
        "appendOnly",
        "invariants",
        "timestampNtz",
    }
    got = {(r["k"], r["ts"] is None) for r in dl.read_delta_lite(spark, tp).collect()}
    assert got == {(1, True), (2, False)}  # old rows read NULL ntz


def test_multipart_checkpoint_read(spark, tmp_path):
    """Big foreign tables shard classic checkpoints into
    ``V.checkpoint.NNNNNNNNNN.MMMMMMMMMM.parquet`` parts; replay must
    union all parts, prefer a complete single file, and IGNORE an
    incomplete part set (reading half a checkpoint would silently drop
    adds)."""
    import pyarrow.parquet as pq

    tp = str(tmp_path / "t")
    for batch in range(3):
        dl.write_delta_lite(
            spark.createDataFrame([(batch * 10 + i,) for i in range(5)], "v long"),
            tp,
            mode="append",
        )
    v = dl.checkpoint_delta_lite(tp)
    log = os.path.join(tp, dl.LOG_DIR)
    single = os.path.join(log, f"{v:020d}.checkpoint.parquet")
    table = pq.read_table(single)
    # shard row-wise into 3 parts with the same schema
    n = table.num_rows
    cuts = [0, n // 3, 2 * n // 3, n]
    for i in range(3):
        pq.write_table(
            table.slice(cuts[i], cuts[i + 1] - cuts[i]),
            os.path.join(log, f"{v:020d}.checkpoint.{i + 1:010d}.{3:010d}.parquet"),
        )
    os.unlink(single)
    for j in range(v + 1):  # checkpoint-bounded replay only
        os.unlink(os.path.join(log, f"{j:020d}.json"))
    assert dl.is_delta_table(tp)
    got = sorted(r["v"] for r in dl.read_delta_lite(spark, tp).collect())
    assert got == sorted(b * 10 + i for b in range(3) for i in range(5))
    # an INCOMPLETE part set must not be treated as a checkpoint
    os.unlink(os.path.join(log, f"{v:020d}.checkpoint.{2:010d}.{3:010d}.parquet"))
    with pytest.raises(ValueError, match="empty delta log|missing commit"):
        dl.load_snapshot(tp)


def test_variant_feature_roundtrip(spark, tmp_path):
    """VARIANT columns: the variantType reader+writer feature is
    declared on new tables, values round-trip through the parquet
    binary encoding, and VARIANT_GET works on the read-back."""
    tp = str(tmp_path / "t")
    df = spark.sql(
        "SELECT id AS k, PARSE_JSON(CONCAT('{\"a\":', id, ',\"s\":\"x\"}')) AS v "
        "FROM range(4)"
    )
    dl.write_delta_lite(df, tp)
    proto = dl.load_snapshot(tp).protocol
    assert (proto["minReaderVersion"], proto["minWriterVersion"]) == (3, 7)
    assert "variantType" in proto["readerFeatures"]
    assert "variantType" in proto["writerFeatures"]
    back = dl.read_delta_lite(spark, tp)
    assert dict(back.dtypes)["v"] == "variant"
    back.createOrReplaceTempView("vt_back")
    got = sorted(
        (r["k"], r["a"])
        for r in spark.sql(
            "SELECT k, CAST(VARIANT_GET(v, '$.a') AS LONG) AS a FROM vt_back"
        ).collect()
    )
    assert got == [(0, 0), (1, 1), (2, 2), (3, 3)]
    spark.catalog.dropTempView("vt_back")
    # appends allowed; a (3,7) variant table refuses nothing it supports
    dl.write_delta_lite(df, tp, mode="append")
    assert dl.read_delta_lite(spark, tp).count() == 8


def test_log_store_seam_racing_writer(spark, tmp_path):
    """The commit primitive is a pluggable LogStore (put-if-absent
    contract; S3 stores swap in an arbiter). A store that injects a
    RACING writer's commit just before ours must surface as a lost
    race; disjoint DML then retries into the next slot and BOTH commits
    land."""
    tp = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "x" if i < 5 else "y", i * 10) for i in range(10)],
        "id int, pt string, v int",
    )
    dl.write_delta_lite(df, tp, partition_by=["pt"])

    class RacingStore(dl.LocalLogStore):
        """First write_commit: commit a competing pt='y'-only DELETE
        under the target version first (another writer winning), then
        delegate — which must raise DeltaConcurrentWriteError."""

        def __init__(self):
            self.raced = False

        def write_commit(self, log_dir, version, payload):
            if not self.raced:
                self.raced = True
                snap = dl.load_snapshot(tp)
                removes = [
                    {"remove": {"path": rel, "deletionTimestamp": 1700000000000,
                                "dataChange": True,
                                "partitionValues": add.get("partitionValues")}}
                    for rel, add in snap.files.items()
                    if (add.get("partitionValues") or {}).get("pt") == "y"
                ]
                assert removes
                super().write_commit(
                    log_dir, version,
                    "".join(__import__("json").dumps(a) + "\n" for a in removes),
                )
            super().write_commit(log_dir, version, payload)

    store = RacingStore()
    prev = dl.set_log_store(store)
    try:
        # our DELETE touches only pt='x' — disjoint from the racer's
        # pt='y' wipe, so the commute check must let the retry land
        dl.delete_delta_lite(spark, tp, "pt = 'x' AND id = 1")
    finally:
        dl.set_log_store(prev)
    assert store.raced
    snap = dl.load_snapshot(tp)
    assert snap.version == 2  # racer at v1, our retry at v2
    rows = {(r["id"], r["pt"]) for r in dl.read_delta_lite(spark, tp).collect()}
    assert rows == {(i, "x") for i in range(5) if i != 1}  # y gone, id=1 gone


@pytest.mark.parametrize("op", ["delete", "update", "merge", "optimize"])
def test_dml_writes_checkpoint_every_interval(spark, tmp_path, op):
    """DELETE, UPDATE, MERGE and OPTIMIZE commit through the one commit
    path, which checkpoints every CHECKPOINT_INTERVAL commits like a
    write does."""
    tp = str(tmp_path / "t")
    dl.write_delta_lite(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), tp)
    for i in range(dl.CHECKPOINT_INTERVAL - 1):  # log-only commits
        dl.set_table_properties(tp, {"n": str(i)})
    if op == "delete":
        v = dl.delete_delta_lite(spark, tp, "k = 1")
    elif op == "update":
        v = dl.update_delta_lite(spark, tp, "k = 1", {"v": "'z'"})
    elif op == "optimize":
        v = dl.optimize_delta_lite(tp, spark)
    else:
        src = spark.createDataFrame([(1, "m")], "k int, v string")
        v = dl.merge_delta_lite(spark, tp, src, ["k"], when_matched_update={"v": "src_v"})
    assert v == dl.CHECKPOINT_INTERVAL
    assert dl._checkpoint_versions(os.path.join(tp, dl.LOG_DIR)) == [v]


class _FaultStore(dl.LocalLogStore):
    """Raises once: at the first ``write_commit``, or at the second
    ``publish_data_file`` (one staged file already moved into the table)."""

    def __init__(self, fault):
        self.fault, self.publishes, self.raised = fault, 0, False

    def write_commit(self, log_dir, version, payload):
        if self.fault == "commit" and not self.raised:
            self.raised = True
            raise OSError("injected: commit write failed")
        super().write_commit(log_dir, version, payload)

    def publish_data_file(self, src, dest):
        self.publishes += 1
        if self.fault == "publish" and not self.raised and self.publishes == 2:
            self.raised = True
            raise OSError("injected: publish failed")
        super().publish_data_file(src, dest)


def _fault_op(spark, tp, op):
    """One data-removing DML that rewrites the files of both partitions."""
    cond = "k >= 2 AND k <= 3"
    if op == "delete":
        return dl.delete_delta_lite(spark, tp, cond)
    if op == "update":
        return dl.update_delta_lite(spark, tp, cond, {"v": "'u'"})
    rows = spark.createDataFrame([(2, "a", "n2"), (3, "b", "n3")], "k int, p string, v string")
    if op == "scd2":
        return dl.merge_scd2_delta_lite(spark, tp, rows, ["k"], effective_ts="2024-02-01 00:00:00")
    full = scd2_initial(rows, "2024-02-01 00:00:00")
    if op == "merge":
        return dl.merge_delta_lite(spark, tp, full, ["k"], when_matched_update={"v": "src_v"})
    return dl.write_delta_lite(full, tp, mode="overwrite", replace_where=cond)


@pytest.mark.parametrize("fault", ["commit", "publish"])
@pytest.mark.parametrize("op", ["delete", "update", "merge", "replace_where", "scd2"])
def test_dml_fault_leaves_old_version(spark, tmp_path, op, fault):
    """A LogStore primitive failing mid-transaction leaves the table at its
    old version with the same rows and no staged file referenced; the
    retry then commits."""
    tp = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(k, "a" if k < 3 else "b", f"v{k}") for k in range(6)], "k int, p string, v string"
    )
    dl.write_delta_lite(
        scd2_initial(base, "2024-01-01 00:00:00").coalesce(1), tp, partition_by=["p"]
    )
    before = dl.load_snapshot(tp)
    rows_before = _rows(dl.read_delta_lite(spark, tp))
    store = _FaultStore(fault)
    prev = dl.set_log_store(store)
    try:
        with pytest.raises(OSError, match="injected"):
            _fault_op(spark, tp, op)
        assert store.raised and (fault == "commit" or store.publishes == 2)
        after = dl.load_snapshot(tp)
        assert after.version == before.version
        assert set(after.files) == set(before.files)
        assert _rows(dl.read_delta_lite(spark, tp)) == rows_before
        assert _fault_op(spark, tp, op) == before.version + 1
    finally:
        dl.set_log_store(prev)
    assert _rows(dl.read_delta_lite(spark, tp)) != rows_before


def _commit_fault_op(spark, tp, op, tmp_path):
    """One non-DML mutating operation; returns the version it committed."""
    rows = spark.createDataFrame([(9, "z")], "k int, v string")
    if op in ("append", "overwrite"):
        return dl.write_delta_lite(rows, tp, mode=op)
    if op == "optimize":
        return dl.optimize_delta_lite(tp, spark)
    if op == "properties":
        return dl.set_table_properties(tp, {"owner": "etl"})
    if op == "constraint":
        return dl.add_check_constraint(spark, tp, "k_nonneg", "k >= 0")
    if op == "restore":
        return dl.restore_delta_lite(tp, version=0)["version"]
    if op == "clone":
        return dl.clone_delta_lite(tp, str(tmp_path / "clone"))
    return dl.convert_to_delta(spark, str(tmp_path / "pq"))


@pytest.mark.parametrize(
    "op",
    ["append", "overwrite", "optimize", "properties", "constraint", "restore", "clone", "convert"],
)
def test_commit_fault_leaves_old_version(spark, tmp_path, op):
    """A failing ``write_commit`` under any non-DML operation leaves the
    table at its old version with the same rows (CLONE and CONVERT leave
    no table at all); the retry then commits."""
    tp = str(tmp_path / "t")
    dl.write_delta_lite(spark.createDataFrame([(0, "a"), (1, "b")], "k int, v string"), tp)
    dl.write_delta_lite(spark.createDataFrame([(2, "c")], "k int, v string"), tp, mode="append")
    spark.createDataFrame([(5, "p")], "k int, v string").write.parquet(str(tmp_path / "pq"))
    before = dl.load_snapshot(tp)
    rows_before = _rows(dl.read_delta_lite(spark, tp))
    created = {"clone": str(tmp_path / "clone"), "convert": str(tmp_path / "pq")}.get(op)
    store = _FaultStore("commit")
    prev = dl.set_log_store(store)
    try:
        with pytest.raises(OSError, match="injected"):
            _commit_fault_op(spark, tp, op, tmp_path)
        assert store.raised
        after = dl.load_snapshot(tp)
        assert after.version == before.version
        assert set(after.files) == set(before.files)
        assert after.metadata == before.metadata
        assert _rows(dl.read_delta_lite(spark, tp)) == rows_before
        if created:
            assert not dl.is_delta_table(created)
        expected = 0 if created else before.version + 1
        assert _commit_fault_op(spark, tp, op, tmp_path) == expected
    finally:
        dl.set_log_store(prev)
    assert dl.load_snapshot(created or tp).version == expected
