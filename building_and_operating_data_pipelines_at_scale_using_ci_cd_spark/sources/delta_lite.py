"""S9/W5-delta executed for REAL: a minimal Delta Lake transaction log.

The reference names ``deltalake`` as a first-class file format and SCD2 as
its flagship load mode (reference ``spark.json:19,73,91``), but delta-spark
is not in this container — rounds 1-7 could only pin that lane with contract
doubles. This module implements the PUBLIC Delta transaction-log protocol
(delta-io/delta PROTOCOL.md) directly over Spark parquet + JSON, so the
delta read/write/MERGE paths execute and are testable here:

  - a Delta table is a directory of parquet data files plus ``_delta_log/``
    holding ordered commits ``%020d.json`` (newline-delimited action records:
    ``protocol``, ``metaData``, ``add``, ``remove``, ``commitInfo``) and
    optional ``%020d.checkpoint.parquet`` snapshots referenced by
    ``_last_checkpoint``.
  - the table state at version V = replay actions 0..V: latest ``metaData``
    wins; a file is live iff its last action ≤V is ``add``.
  - commits are atomic by file creation: we stage the JSON then ``os.link``
    it into place, which FAILS if the version already exists — that failed
    link IS the optimistic-concurrency conflict signal (the same mutual
    exclusion delta-spark gets from its LogStore on HDFS/local).
  - every mutating operation (WRITE, which also carries the streaming
    sink's ``txn`` appends; DELETE, UPDATE, MERGE, replaceWhere and SCD2
    MERGE through ``_pruned_rewrite``; OPTIMIZE, SET TBLPROPERTIES,
    ADD/DROP CONSTRAINT, RESTORE, CONVERT and CLONE) commits through
    one function, ``_transact``: it writes the ``commitInfo``, publishes
    through the ``LogStore``, applies the one conflict rule on a lost
    race, and checkpoints every ``CHECKPOINT_INTERVAL`` versions.

Honest scope gate (checked, not assumed): CHECK constraints
(``delta.constraints.*``), column invariants (``delta.invariants``
schema metadata) and ``delta.appendOnly`` are ENFORCED on every mutating
path, and TIMESTAMP_NTZ / VARIANT columns are declared as table
features; every commit that creates a table or changes its metaData
takes its ``protocol`` and ``metaData`` actions from one function,
``_metadata_actions``, which declares what the metaData uses. Deletion
vectors and 'name'-mode column mapping are READ (batch and streaming);
writes to tables that use them, 'id'-mode mapping, and generated
columns are not implemented, and such tables raise ValueError (reads at
replay, writes via ``_check_writable``) instead of returning or
corrupting rows.

Scale notes:
  - the log replay touches only ``_delta_log`` (KBs per commit) and the
    active-file LIST, never data; checkpoints bound replay length the same
    way they do in delta-spark.
  - reads hand Spark the live file list with an explicit schema; for
    partitioned tables the hive-style ``key=value`` layout delta writes is
    recovered via ``basePath`` partition discovery, so partition pruning on
    the read is Catalyst-native.
  - MERGE rewrites ONLY the files that contain a matched current business
    key (found with one ``input_file_name()`` semi-join, driver traffic
    bounded by the file COUNT; a single candidate file is staged straight
    away and its match counted on the staging write) — the at-scale
    property that makes Delta MERGE cheaper than the full-table overwrite
    the file sink does.
  - every ``add`` action records per-file ``stats`` (numRecords +
    min/maxValues/nullCount from the parquet footers — the public
    protocol field), and DELETE/UPDATE/MERGE + predicate reads use them
    for DATA SKIPPING: files whose recorded ranges (or partition
    values) prove a predicate or the source-key range unsatisfiable are
    never read even to look for matches, so keyed DML on an
    unpartitioned key touches the overlapping files, not the table.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import shutil
import tempfile
import time
import urllib.parse
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .readers import parquet_footer_schema

LOG_DIR = "_delta_log"
_PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


class DeltaConcurrentWriteError(RuntimeError):
    """Another writer committed this version first (optimistic-concurrency
    loss). Callers may reload the snapshot and retry."""


@dataclass
class DeltaSnapshot:
    path: str
    version: int
    metadata: dict
    files: dict = field(default_factory=dict)  # rel path -> add action
    txns: dict = field(default_factory=dict)  # appId -> highest version
    protocol: dict = field(default_factory=lambda: dict(_PROTOCOL))

    @property
    def schema(self) -> StructType:
        return _schema(self.metadata)

    @property
    def partition_columns(self) -> list:
        return list(self.metadata.get("partitionColumns") or [])

    @property
    def configuration(self) -> dict:
        return dict(self.metadata.get("configuration") or {})


def _schema(metadata: dict) -> StructType:
    return StructType.fromJson(json.loads(metadata["schemaString"]))


def _log_path(table_path: str) -> str:
    return os.path.join(table_path, LOG_DIR)


def is_delta_table(table_path: str) -> bool:
    # a checkpoint with every earlier commit vacuumed is still a live
    # table — detecting only .json commits would misread it as absent
    # and a subsequent "create" would shadow the checkpointed state
    log = _log_path(table_path)
    return os.path.isdir(log) and any(
        (f.endswith(".json") or (".checkpoint." in f and f.endswith(".parquet")))
        and f[:20].isdigit()
        for f in os.listdir(log)
    )


def _commit_versions(log: str) -> list:
    out = []
    for f in os.listdir(log):
        if f.endswith(".json") and len(f) == 25 and f[:20].isdigit():
            out.append(int(f[:20]))
    return sorted(out)


def _commit_path(table_path: str, version: int) -> str:
    return os.path.join(_log_path(table_path), f"{version:020d}.json")


def commit_actions(table_path: str, version: int) -> list | None:
    """The actions of the commit at ``version``, in log order; None when
    its file is absent (each caller says what that means for it)."""
    try:
        with open(_commit_path(table_path, version), encoding="utf-8") as fh:
            return [json.loads(line) for line in fh if line.strip()]
    except FileNotFoundError:
        return None


def _checkpoint_files(log: str, version: int | None = None) -> dict:
    """Classic checkpoints on disk, single-file AND multi-part
    (``V.checkpoint.parquet`` / ``V.checkpoint.NNNNNNNNNN.MMMMMMMMMM.
    parquet`` — big foreign tables shard theirs): ``{version: [paths in
    part order]}``, INCOMPLETE multi-part sets excluded (a checkpoint
    missing a shard must not be replayed — half its adds would silently
    vanish). ``version`` filters to one version."""
    singles: dict = {}
    parts: dict = {}
    for f in os.listdir(log):
        if not f.endswith(".parquet") or not f[:20].isdigit():
            continue
        v = int(f[:20])
        if version is not None and v != version:
            continue
        rest = f[20:]
        if rest == ".checkpoint.parquet":
            singles[v] = [os.path.join(log, f)]
            continue
        seg = rest.split(".")
        # ['', 'checkpoint', NNNNNNNNNN, MMMMMMMMMM, 'parquet']
        if (
            len(seg) == 5
            and seg[1] == "checkpoint"
            and seg[2].isdigit()
            and seg[3].isdigit()
            and seg[4] == "parquet"
        ):
            parts.setdefault((v, int(seg[3])), {})[int(seg[2])] = os.path.join(
                log, f
            )
    out = dict(singles)
    for (v, n), got in parts.items():
        if v in out:
            continue  # a complete single-file checkpoint wins
        if sorted(got) == list(range(1, n + 1)):
            out[v] = [got[i] for i in range(1, n + 1)]
    return out


def _checkpoint_versions(log: str) -> list:
    return sorted(_checkpoint_files(log))


#: reader features this engine implements — the gate for foreign tables
#: declaring the table-features reader protocol (3, 7)
_SUPPORTED_READER_FEATURES = {
    "columnMapping",
    "deletionVectors",
    "timestampNtz",
    "variantType",
}


def _check_protocol(action: dict) -> None:
    r = int(action.get("minReaderVersion", 1))
    if r <= 2:
        # 2 = column mapping; 'name'-mode reads are implemented (physical
        # parquet names + partitionValues from the add actions), 'id'
        # mode is refused at the metadata gate below
        return
    feats = action.get("readerFeatures")
    if r == 3 and feats is not None and set(feats) <= _SUPPORTED_READER_FEATURES:
        return
    # NB: version 3 REQUIRES a readerFeatures list per the protocol — a
    # featureless v3 table is malformed and refused, never guessed at
    unsupported = sorted(set(feats or []) - _SUPPORTED_READER_FEATURES) or (
        f"version {r} with no readerFeatures list"
    )
    raise ValueError(
        "delta_lite cannot read this table: it requires reader protocol "
        f"features it does not implement ({unsupported}); supported: "
        f"minReaderVersion <= 2 or reader features "
        f"{sorted(_SUPPORTED_READER_FEATURES)}"
    )


def _check_metadata(meta: dict) -> None:
    conf = meta.get("configuration") or {}
    mode = conf.get("delta.columnMapping.mode", "none")
    if mode in ("", "none", "name"):
        # 'name' mode reads are implemented; WRITES to mapped tables are
        # refused by _check_writable (they require writer version 5 / the
        # columnMapping writer feature, neither of which this engine
        # claims), so a rename can never be silently corrupted
        return
    raise ValueError(
        f"delta_lite does not support columnMapping mode {mode!r} "
        "(only 'name'-mode reads; 'id' mode needs parquet field-id "
        "resolution)"
    )


#: writer features this engine actually implements — the gate for foreign
#: tables declaring the table-features protocol (3, 7)
_SUPPORTED_WRITER_FEATURES = {
    "appendOnly",
    "invariants",
    "checkConstraints",
    "timestampNtz",
    "variantType",
}

#: the writer features a table's metaData can use, each with the legacy
#: writer version that implies it (delta PROTOCOL.md "Table Features")
_LEGACY_VERSION = {"appendOnly": 2, "invariants": 2, "checkConstraints": 3}

#: data types whose mere presence in the schema requires a declared
#: reader+writer table feature (delta PROTOCOL.md: readers/writers that
#: do not understand the type must refuse the table)
_TYPE_FEATURES = {"timestamp_ntz": "timestampNtz", "variant": "variantType"}


def _schema_type_features(node) -> set:
    """Table features the schema-JSON node's TYPES require (nested
    structs/arrays/maps included) — e.g. timestampNtz for TIMESTAMP_NTZ
    columns, variantType for VARIANT columns."""
    if isinstance(node, str):
        f = _TYPE_FEATURES.get(node)
        return {f} if f else set()
    if isinstance(node, dict):
        t = node.get("type")
        if t == "struct":
            out: set = set()
            for fld in node.get("fields", []):
                out |= _schema_type_features(fld["type"])
            return out
        if t == "array":
            return _schema_type_features(node["elementType"])
        if t == "map":
            return _schema_type_features(node["keyType"]) | _schema_type_features(
                node["valueType"]
            )
    return set()


def _metadata_actions(protocol: dict | None, metadata: dict, new_table: bool = False) -> list:
    """The ``protocol`` and ``metaData`` actions of a commit that sets
    ``metadata`` on a table whose protocol is ``protocol`` (the source's
    for CLONE; None for a new table, which starts from the legacy (1,2)
    default); the only place a commit's protocol or metaData is made.

    Every feature comes from ``metadata`` itself: TIMESTAMP_NTZ and
    VARIANT columns need reader+writer features, ``delta.appendOnly``,
    column invariants and CHECK constraints writer features. A legacy
    table bumps its writer version to the one implying what it uses;
    a feature-typed schema moves it to the table-features protocol (3,7),
    listing the features its old writer version implied; a (3,7) table
    lists every feature it uses. The ``protocol`` action comes first,
    and only when something new must be declared — a new table
    (``protocol`` None, or ``new_table``) always gets one, and its
    metaData a fresh ``id`` and ``createdTime``."""
    new_table = new_table or protocol is None
    if new_table:
        metadata = {
            "format": {"provider": "parquet", "options": {}},
            "configuration": {},
            **metadata,
            "id": str(uuid.uuid4()),
            "createdTime": int(time.time() * 1000),
        }
    have = dict(protocol or _PROTOCOL)
    r, w = int(have.get("minReaderVersion", 1)), int(have.get("minWriterVersion", 2))
    schema = json.loads(metadata["schemaString"])
    conf = metadata.get("configuration") or {}
    types = _schema_type_features(schema)
    used = set(types)
    if str(conf.get("delta.appendOnly", "")).lower() == "true":
        used.add("appendOnly")
    if any((f.get("metadata") or {}).get("delta.invariants") for f in schema.get("fields", [])):
        used.add("invariants")
    if any(k.startswith(_CONSTRAINT_PREFIX) for k in conf):
        used.add("checkConstraints")
    if w != 7 and not types:
        want = {
            "minReaderVersion": r,
            "minWriterVersion": max([w] + [_LEGACY_VERSION[f] for f in used]),
        }
    else:
        implied = {f for f, v in _LEGACY_VERSION.items() if v <= w}
        wf = set(have.get("writerFeatures") or []) if w == 7 else implied
        want = {**have, "minWriterVersion": 7, "writerFeatures": sorted(wf | used)}
        if types or r == 3:
            rf = set(have.get("readerFeatures") or []) | types
            want.update(minReaderVersion=3, readerFeatures=sorted(rf))

    def declared(p: dict) -> tuple:
        return (
            int(p.get("minReaderVersion", 1)),
            int(p.get("minWriterVersion", 2)),
            set(p.get("readerFeatures") or []),
            set(p.get("writerFeatures") or []),
        )

    if declared(want) == declared(have):
        if not new_table:
            return [{"metaData": metadata}]
        want = have
    return [{"protocol": want}, {"metaData": metadata}]


def _check_writable(snap: "DeltaSnapshot") -> None:
    """Refuse to WRITE to a table whose protocol demands writer features
    this engine does not implement (reading such tables may still be
    fine — the reader gate is separate and checked at replay). Writer
    version 3 = CHECK constraints, which :func:`_rule_observe` enforces
    inside the staging write of every row-adding path (``write_delta_lite``
    and :func:`_pruned_rewrite`, which every data-removing DML shares);
    anything newer (generated columns, CDF files, column mapping,
    deletion vectors) would be silently violated by a blind write, so it
    raises instead."""
    proto = snap.protocol or _PROTOCOL
    w = int(proto.get("minWriterVersion", 2))
    if w <= 3:
        return
    feats = set(proto.get("writerFeatures") or [])
    if w == 7 and feats <= _SUPPORTED_WRITER_FEATURES:
        return
    unsupported = sorted(feats - _SUPPORTED_WRITER_FEATURES) or f"version {w}"
    raise ValueError(
        f"delta_lite cannot write to {snap.path}: table requires writer "
        f"protocol features it does not implement ({unsupported}); "
        f"supported: minWriterVersion <= 3 or table features "
        f"{sorted(_SUPPORTED_WRITER_FEATURES)}"
    )


def _check_append_only(snap: "DeltaSnapshot", operation: str) -> None:
    """``delta.appendOnly=true`` (a writer-version-2 table property this
    engine already claims): any transaction that would REMOVE live data
    (dataChange=true removes — DELETE/UPDATE/MERGE rewrites, overwrite,
    replaceWhere, RESTORE) refuses. OPTIMIZE stays allowed — its
    removes carry dataChange=false, same as delta-spark."""
    if snap.configuration.get("delta.appendOnly", "").lower() == "true":
        raise ValueError(
            f"table {snap.path} is delta.appendOnly=true: {operation} "
            f"would remove existing rows (unset the property to allow it)"
        )


def _apply_action(state: "DeltaSnapshot", action: dict) -> None:
    if "protocol" in action and action["protocol"]:
        _check_protocol(action["protocol"])
        state.protocol = dict(action["protocol"])
    if "metaData" in action and action["metaData"]:
        _check_metadata(action["metaData"])
        state.metadata = action["metaData"]
    if "add" in action and action["add"]:
        add = action["add"]
        state.files[urllib.parse.unquote(add["path"])] = add
    if "remove" in action and action["remove"]:
        # action reconciliation keys on (path, deletionVector uniqueId)
        # per the protocol: a DV update commits remove(path, dv_old) +
        # add(path, dv_new) in UNSPECIFIED order, so a remove must only
        # drop the entry whose DV identity it names — a blind pop would
        # delete the freshly-added (path, dv_new) when the add sorts
        # first. Paths are unique per live snapshot, so the dict stays
        # path-keyed and the remove checks the DV id.
        from .dv import dv_unique_id

        rm = action["remove"]
        rel = urllib.parse.unquote(rm["path"])
        cur = state.files.get(rel)
        if cur is not None and dv_unique_id(cur.get("deletionVector")) == dv_unique_id(
            rm.get("deletionVector")
        ):
            state.files.pop(rel, None)
    if "txn" in action and action["txn"]:
        txn = action["txn"]
        app = txn.get("appId")
        if app is not None:
            state.txns[app] = max(state.txns.get(app, -1), int(txn["version"]))


def _normalize_map(v):
    """pyarrow map columns round-trip as [(k, v), ...]; JSON as dict."""
    if v is None:
        return {}
    if isinstance(v, dict):
        return v
    return dict(v)


def _read_checkpoint(path: str, state: DeltaSnapshot) -> None:
    import pyarrow.parquet as pq

    try:
        rows = pq.read_table(path).to_pylist()
    except Exception as exc:  # pyarrow raises ArrowInvalid/OSError — keep
        # the module's one corrupt-input class (json lines already raise
        # JSONDecodeError, a ValueError subclass)
        raise ValueError(f"corrupt delta checkpoint {path}: {exc}") from exc
    for row in rows:
        action = {}
        if row.get("protocol"):
            # drop null-valued struct fields (absent feature lists read
            # back as None) so the snapshot protocol matches the shape a
            # json commit would have produced
            action["protocol"] = {
                k: v for k, v in dict(row["protocol"]).items() if v is not None
            }
        if row.get("metaData"):
            md = dict(row["metaData"])
            md["configuration"] = _normalize_map(md.get("configuration"))
            action["metaData"] = md
        if row.get("add"):
            add = dict(row["add"])
            add["partitionValues"] = _normalize_map(add.get("partitionValues"))
            dv = add.get("deletionVector")
            if not dv or (isinstance(dv, dict) and dv.get("storageType") is None):
                add.pop("deletionVector", None)  # absent column / null struct
            else:
                add["deletionVector"] = dict(dv)
            action["add"] = add
        if row.get("remove"):
            action["remove"] = dict(row["remove"])
        if row.get("txn"):
            action["txn"] = dict(row["txn"])
        _apply_action(state, action)


def _commit_heads(table_path: str) -> dict:
    """One pass over the log: per version ``(timestamp_ms, operation,
    operationParameters)`` from the first commitInfo action (file mtime
    fallback for foreign logs), timestamps repaired STRICTLY MONOTONIC
    (``max(ts, prev + 1)``) — the same later-commit-never-reports-an-
    earlier-time repair delta-spark applies to its file-mtime history,
    so timestamp resolution is a well-defined floor search even under
    clock skew or same-millisecond commits."""
    log = _log_path(table_path)
    if not os.path.isdir(log):
        raise ValueError(f"not a delta table (no {LOG_DIR}): {table_path}")
    out: dict = {}
    prev = -1
    for v in _commit_versions(log):
        actions = commit_actions(table_path, v) or []
        ci = next((a["commitInfo"] for a in actions if "commitInfo" in a), {})
        ts = ci.get("timestamp")
        if ts is None:
            ts = int(os.path.getmtime(_commit_path(table_path, v)) * 1000)
        ts = max(int(ts), prev + 1)
        out[v] = (ts, ci.get("operation"), ci.get("operationParameters", {}))
        prev = ts
    return out


def commit_timestamps(table_path: str) -> dict:
    """Per-version commit time in epoch ms (see :func:`_commit_heads`
    for the sourcing and monotonicity repair)."""
    return {v: h[0] for v, h in _commit_heads(table_path).items()}


def _timestamp_ms(ts) -> int:
    """Normalize a caller timestamp to epoch ms: int = epoch ms, float =
    epoch seconds, str = ISO local time (``YYYY-MM-DD HH:MM:SS[.ffffff]``),
    datetime = as-is (naive means local, like SQL TIMESTAMP literals)."""
    if isinstance(ts, bool):
        raise TypeError("timestamp must be int ms, float s, str, or datetime")
    if isinstance(ts, int):
        return ts
    if isinstance(ts, float):
        return int(ts * 1000)
    if isinstance(ts, str):
        # config options arrive stringified: a pure-digit string is
        # epoch ms (JSON configs can't always keep ints as ints)
        if ts.strip().isdigit():
            return int(ts.strip())
        ts = _dt.datetime.fromisoformat(ts)
    if isinstance(ts, _dt.datetime):
        return int(ts.timestamp() * 1000)
    raise TypeError(f"unsupported timestamp type: {type(ts).__name__}")


def _resolve_timestamp(table_path: str, ts) -> int:
    """``timestampAsOf`` resolution: the LATEST version committed at or
    before ``ts``. Mirrors delta-spark's contract — a timestamp before
    the earliest commit or after the latest raises (the error names the
    usable range) instead of silently snapping."""
    ms = _timestamp_ms(ts)
    stamps = commit_timestamps(table_path)
    if not stamps:
        raise ValueError(f"empty delta log: {table_path}")
    lo, hi = min(stamps.values()), max(stamps.values())
    if ms < lo:
        raise ValueError(
            f"timestamp {ms} is before the earliest commit ({lo}) of {table_path}"
        )
    if ms > hi:
        raise ValueError(
            f"timestamp {ms} is after the latest commit ({hi}) of {table_path}; "
            f"omit timestampAsOf to read the current snapshot"
        )
    return max(v for v, t in stamps.items() if t <= ms)


def table_version(table_path: str) -> int:
    """The latest version of the table at ``table_path``; -1 when there
    is no table there yet. Reads the log directory listing only."""
    log = _log_path(table_path)
    if not os.path.isdir(log):
        return -1
    return max(_commit_versions(log) + _checkpoint_versions(log), default=-1)


def commit_stats(table_path: str, version: int) -> dict:
    """What the commit at ``version`` did, from its log entry alone (no
    Spark job): ``version``, ``filesAdded``, ``filesRemoved``,
    ``bytesAdded``, and the ``matchedFiles`` its commitInfo records
    (None for operations that record none)."""
    out = {"version": version, "filesAdded": 0, "filesRemoved": 0,
           "bytesAdded": 0, "matchedFiles": None}
    actions = commit_actions(table_path, version)
    if actions is None:
        raise FileNotFoundError(f"no commit {version} in {_log_path(table_path)}")
    for action in actions:
        if "add" in action:
            out["filesAdded"] += 1
            out["bytesAdded"] += int(action["add"].get("size") or 0)
        elif "remove" in action:
            out["filesRemoved"] += 1
        elif "commitInfo" in action:
            params = action["commitInfo"].get("operationParameters") or {}
            out["matchedFiles"] = params.get("matchedFiles")
    return out


def live_row_count(table_path: str) -> int | None:
    """Rows of the table's latest snapshot from its add stats alone:
    each add's ``numRecords`` less its deletion vector's cardinality.
    None when an add records no row count."""
    total = 0
    for add in load_snapshot(table_path).files.values():
        rows = json.loads(add.get("stats") or "{}").get("numRecords")
        if rows is None or rows < 0:
            return None
        total += rows - int((add.get("deletionVector") or {}).get("cardinality") or 0)
    return total


def history_delta_lite(table_path: str) -> list:
    """DESCRIBE HISTORY: newest-first ``[{version, timestamp, operation,
    operationParameters}]`` from one log pass (:func:`_commit_heads` —
    timestamps monotonic and usable directly as ``timestampAsOf``
    arguments). Log-only — never touches data."""
    heads = _commit_heads(table_path)
    return [
        {
            "version": v,
            "timestamp": heads[v][0],
            "operation": heads[v][1],
            "operationParameters": heads[v][2],
        }
        for v in sorted(heads, reverse=True)
    ]


def load_snapshot(
    table_path: str, version: int | None = None, timestamp=None
) -> DeltaSnapshot:
    """Replay the log up to ``version`` (time travel), to the version
    current at ``timestamp`` (``timestampAsOf``), or to the latest."""
    if version is not None and timestamp is not None:
        raise ValueError("pass version OR timestamp, not both")
    if timestamp is not None:
        version = _resolve_timestamp(table_path, timestamp)
    log = _log_path(table_path)
    if not os.path.isdir(log):
        raise ValueError(f"not a delta table (no {LOG_DIR}): {table_path}")
    jsons = _commit_versions(log)
    all_cps = _checkpoint_versions(log)
    if not jsons and not all_cps:
        raise ValueError(f"empty delta log: {table_path}")
    latest = max(jsons[-1] if jsons else -1, all_cps[-1] if all_cps else -1)
    target = latest if version is None else int(version)

    state = DeltaSnapshot(path=table_path, version=target, metadata={})
    start = 0
    cps = [v for v in all_cps if v <= target]
    if cps:
        cp = cps[-1]
        for part in _checkpoint_files(log, cp)[cp]:
            _read_checkpoint(part, state)
        start = cp + 1
    for v in range(start, target + 1):
        actions = commit_actions(table_path, v)
        if actions is None:
            # commits before a checkpoint may legally be vacuumed; only
            # versions whose replay tail still exists are reachable
            raise ValueError(
                f"version {target} not available (missing commit {v}) for "
                f"{table_path}"
            )
        for action in actions:
            _apply_action(state, action)
    if not state.metadata:
        raise ValueError(f"delta log has no metaData action: {table_path}")
    return state


def _hive_anchor(path: str, n_pcols: int) -> str:
    """The directory ``n_pcols + 1`` components above a hive-laid-out data
    file — the ``basePath`` Spark's partition discovery needs. For a
    shallow-cloned file this recovers the SOURCE table root, so
    discovery re-attaches partition columns exactly as it does for the
    table's own files."""
    anchor = path
    for _ in range(n_pcols + 1):
        anchor = os.path.dirname(anchor)
    return anchor


#: hidden helper columns carrying file identity + row position for DV
#: filtering (projected from Spark's ``_metadata`` file source column)
_DL_FILE, _DL_POS = "__dl_file", "__dl_pos"


def _meta_cols(with_meta: bool) -> list:
    if not with_meta:
        return []
    return [
        F.col("_metadata.file_path").alias(_DL_FILE),
        F.col("_metadata.row_index").alias(_DL_POS),
    ]


def _read_data_files(
    spark: SparkSession,
    base_path: str,
    schema: StructType,
    pcols: list,
    files: list,
    with_meta: bool = False,
) -> DataFrame:
    """Read delta data files with the declared schema. ``files`` are the
    snapshot's add-action paths: table-relative for files this table
    owns, ABSOLUTE for files referenced across tables (shallow CLONE).
    Partition columns are recovered from the hive layout (delta data
    files do not contain them); absolute files group by their own hive
    anchor so discovery works across table roots; casts pin the declared
    types over the discovery's inference. ``with_meta`` appends the
    file-identity/row-position columns deletion-vector filtering joins
    against."""
    paths = [os.path.join(base_path, p) for p in sorted(files)]
    if not paths:
        return spark.createDataFrame([], schema)
    if not pcols:
        df = spark.read.schema(schema).parquet(*paths)
        if not with_meta:
            return df
        return df.select("*", *_meta_cols(True))
    data_schema = StructType([f for f in schema.fields if f.name not in pcols])
    by_type = {f.name: f.dataType for f in schema.fields}
    groups: dict = {}
    for p in paths:
        anchor = base_path if _is_under(p, base_path) else _hive_anchor(
            p, len(pcols)
        )
        groups.setdefault(anchor, []).append(p)
    out = None
    for anchor in sorted(groups):
        df = (
            spark.read.schema(data_schema)
            .option("basePath", anchor)
            .parquet(*groups[anchor])
        ).select(
            *[
                F.col(f.name).cast(by_type[f.name]).alias(f.name)
                for f in schema.fields
            ],
            *_meta_cols(with_meta),
        )
        out = df if out is None else out.unionByName(df)
    return out


def _is_under(path: str, base: str) -> bool:
    return os.path.commonpath(
        [os.path.abspath(path), os.path.abspath(base)]
    ) == os.path.abspath(base)


#: schema-field metadata key carrying a column's physical parquet name
#: (delta column mapping, delta-io/delta PROTOCOL.md "Column Mapping")
_CM_PHYSICAL = "delta.columnMapping.physicalName"


def _column_mapping_mode(metadata: dict) -> str:
    return (
        (metadata.get("configuration") or {}).get("delta.columnMapping.mode")
        or "none"
    )


def _rename_physical(t):
    """Schema-JSON node with every struct field renamed to its
    ``delta.columnMapping.physicalName`` (recursively — nested structs,
    array elements, and map values carry their own physical names).
    Field metadata is blanked: the physical schema exists only to read
    parquet by the on-disk names."""
    if isinstance(t, dict):
        if t.get("type") == "struct":
            return {
                "type": "struct",
                "fields": [
                    {
                        "name": (f.get("metadata") or {}).get(_CM_PHYSICAL, f["name"]),
                        "type": _rename_physical(f["type"]),
                        "nullable": f.get("nullable", True),
                        "metadata": {},
                    }
                    for f in t.get("fields", [])
                ],
            }
        if t.get("type") == "array":
            return {**t, "elementType": _rename_physical(t["elementType"])}
        if t.get("type") == "map":
            return {
                **t,
                "keyType": _rename_physical(t["keyType"]),
                "valueType": _rename_physical(t["valueType"]),
            }
    return t


def _physical_schema(metadata: dict) -> StructType:
    return StructType.fromJson(
        _rename_physical(json.loads(metadata["schemaString"]))
    )


def _column_mapping(metadata: dict) -> dict:
    """Top-level ``{logical name: physical name}``, or ``{}`` when the
    table is unmapped. Stats and partitionValues in mapped tables are
    keyed by PHYSICAL names — pruning translates through this."""
    if _column_mapping_mode(metadata) in ("", "none"):
        return {}
    out = {}
    for f in json.loads(metadata["schemaString"]).get("fields", []):
        out[f["name"]] = (f.get("metadata") or {}).get(_CM_PHYSICAL, f["name"])
    return out


def _read_files_mapped(
    spark: SparkSession,
    snap: DeltaSnapshot,
    rel_files: list,
    with_meta: bool = False,
) -> DataFrame:
    """Column-mapping ('name' mode) read: parquet columns live under
    physical names, and mapped tables make NO guarantee about hive
    directory layout — the protocol requires partition values to come
    from the add actions' ``partitionValues`` (keyed by physical name).
    Files group by their partition tuple; each group reads the physical
    non-partition schema and attaches its partition values as typed
    literals; the final select renames/casts back to the LOGICAL schema
    (struct casts rename nested physical fields positionally). A rename
    (logical name change, physical name stable) therefore costs zero
    data rewrites and still reads correctly."""
    logical = snap.schema
    pcols = set(snap.partition_columns)
    if not rel_files:
        return spark.createDataFrame([], logical)
    phys_full = _physical_schema(snap.metadata)
    l2p = {lf.name: pf.name for lf, pf in zip(logical.fields, phys_full.fields)}
    phys_data = StructType(
        [pf for lf, pf in zip(logical.fields, phys_full.fields) if lf.name not in pcols]
    )
    groups: dict = {}
    for rel in sorted(rel_files):
        add = snap.files.get(rel) or {}
        pv = _normalize_map(add.get("partitionValues"))
        key = tuple(sorted(pv.items()))
        groups.setdefault(key, []).append(os.path.join(snap.path, rel))
    out = None
    for key in sorted(groups):
        pv = dict(key)
        df = spark.read.schema(phys_data).parquet(*groups[key])
        cols = []
        for lf in logical.fields:
            if lf.name in pcols:
                cols.append(F.lit(pv.get(l2p[lf.name])).cast(lf.dataType).alias(lf.name))
            else:
                cols.append(F.col(l2p[lf.name]).cast(lf.dataType).alias(lf.name))
        df = df.select(*cols, *_meta_cols(with_meta))
        out = df if out is None else out.unionByName(df)
    return out


def _dv_file_key(base_path: str, rel: str) -> str:
    """The string ``_metadata.file_path`` reports for a data file —
    descriptor rows join against scan rows on exactly this key."""
    full = os.path.abspath(os.path.join(base_path, rel))
    return f"file:{full}" if full.startswith("/") else full


def _strip_dv_rows(
    spark: SparkSession, snap: DeltaSnapshot, df: DataFrame, dv_rels: list
) -> DataFrame:
    """Drop the row positions each file's deletion vector marks deleted.

    Descriptors (tiny — one row per DV file, straight from the log
    replay) fan out to executors, where an Arrow ``mapInPandas`` kernel
    decodes each bitmap (``dv.dv_positions`` — CRC/size/cardinality
    checked) into ``(file, position)`` rows; the scan side carries
    Spark's ``_metadata`` file identity + row index, and a LEFT ANTI
    join removes the deleted positions. The positions side is bounded
    by the DVs' total cardinality — typically a sliver of the table —
    so AQE broadcasts it; the table side never collects or re-shuffles
    beyond that join."""
    table_path = snap.path
    rows = [
        (_dv_file_key(table_path, rel), json.dumps(snap.files[rel]["deletionVector"]))
        for rel in sorted(dv_rels)
    ]
    desc = spark.createDataFrame(rows, f"{_DL_FILE} string, __dv_json string")

    def _explode(batches):
        import numpy as np
        import pandas as pd

        from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.sources.dv import (
            dv_positions,
        )

        for pdf in batches:
            for file_key, dv_json in zip(pdf[_DL_FILE], pdf["__dv_json"]):
                poss = np.asarray(
                    dv_positions(table_path, json.loads(dv_json)), dtype=np.int64
                )
                yield pd.DataFrame(
                    {_DL_FILE: np.repeat(file_key, len(poss)), _DL_POS: poss}
                )

    pos = desc.repartition(min(len(rows), 64), _DL_FILE).mapInPandas(
        _explode, f"{_DL_FILE} string, {_DL_POS} long"
    )
    # the descriptors DECLARE the positions side's exact size
    # (cardinality) — when it is broadcast-sized, say so up front
    # instead of waiting for AQE to discover it post-shuffle
    total_card = sum(
        int((snap.files[rel]["deletionVector"]).get("cardinality") or 0)
        for rel in dv_rels
    )
    if 0 < total_card <= 2_000_000:
        pos = F.broadcast(pos)
    return df.join(pos, [_DL_FILE, _DL_POS], "left_anti").drop(_DL_FILE, _DL_POS)


def _read_files(
    spark: SparkSession, snap: DeltaSnapshot, rel_files: list
) -> DataFrame:
    """Read a subset of a snapshot's data files with the declared schema
    (partition columns recovered from the hive layout and cast).
    Files whose add action carries a deletion vector are read with row
    positions attached and anti-joined against the decoded DV positions
    (:func:`_strip_dv_rows`); DV-free files take the plain path."""
    mapped = _column_mapping_mode(snap.metadata) not in ("", "none")

    def _reader(rels: list, with_meta: bool) -> DataFrame:
        if mapped:
            return _read_files_mapped(spark, snap, rels, with_meta=with_meta)
        return _read_data_files(
            spark,
            snap.path,
            snap.schema,
            snap.partition_columns,
            rels,
            with_meta=with_meta,
        )

    dv_rels = [
        r for r in rel_files if (snap.files.get(r) or {}).get("deletionVector")
    ]
    if not dv_rels:
        return _reader(rel_files, False)
    live = _strip_dv_rows(spark, snap, _reader(dv_rels, True), dv_rels)
    plain_rels = [r for r in rel_files if r not in set(dv_rels)]
    if not plain_rels:
        return live
    return _reader(plain_rels, False).unionByName(live)


_CONSTRAINT_PREFIX = "delta.constraints."


def _row_rules(metadata: dict) -> list:
    """Every row-level rule the table's metadata declares, as
    ``(label, sql_expr)`` pairs:

      - CHECK constraints — ``delta.constraints.<name>`` configuration
        keys (writer protocol 3);
      - column invariants — ``delta.invariants`` entries in the schema
        fields' metadata (writer protocol 2, the protocol's JSON shape
        ``{"expression": {"expression": "<sql>"}}``).

    Both are enforced identically: a row violates when the expression
    is not TRUE (false or NULL — delta-spark's CheckDeltaInvariant)."""
    rules = []
    schema = json.loads(metadata["schemaString"])
    for fld in schema.get("fields", []):
        inv = (fld.get("metadata") or {}).get("delta.invariants")
        if not inv:
            continue
        expr = json.loads(inv)["expression"]["expression"]
        rules.append((f"invariant({fld['name']})", expr))
    conf = metadata.get("configuration") or {}
    for key in sorted(conf):
        if key.startswith(_CONSTRAINT_PREFIX):
            rules.append((key[len(_CONSTRAINT_PREFIX):], conf[key]))
    return rules


def read_delta_lite(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    predicate: str | None = None,
    timestamp=None,
) -> DataFrame:
    """Read a Delta table (optionally a past version — by number or by
    ``timestampAsOf`` timestamp) as a DataFrame.

    ``predicate`` (a SQL condition string) is applied as a row filter
    AND used for data skipping first: files whose per-file min/max
    stats or partition values prove it unsatisfiable are never handed
    to Spark's reader at all (delta's stats-based skipping, the layer
    BELOW parquet row-group pushdown — whole files skip listing/open).
    The result is identical to reading everything then filtering."""
    snap = load_snapshot(table_path, version, timestamp=timestamp)
    if predicate is None:
        return _read_files(spark, snap, list(snap.files))
    cand = _candidate_files(snap, _parse_conjuncts(predicate))
    return _read_files(spark, snap, cand).filter(F.expr(predicate))


def _schema_string(df: DataFrame) -> str:
    return json.dumps(df.schema.jsonValue())


def _decode_hive_dir(component: str) -> tuple:
    key, _, raw = component.partition("=")
    if raw == _HIVE_NULL:
        return key, None
    return key, urllib.parse.unquote(raw)


#: longest string recorded in per-file min/max stats.  Real Delta
#: TRUNCATES long strings (with a last-char+1 trick on max); recording
#: only short strings in full keeps the pruning logic trivially exact —
#: a column whose value exceeds the cap simply isn't prunable.
_STATS_MAX_STR = 64


def _json_stat_value(v):
    """JSON-encodable stats value, or None if the type isn't one the
    pruner can compare exactly (bytes, nested, over-long strings)."""
    import datetime

    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, str):
        return v if len(v) <= _STATS_MAX_STR else None
    if isinstance(v, datetime.datetime):
        # SPACE separator, not the 'T' default: SQL timestamp literals
        # ('2024-01-01 12:00:00') compare lexicographically against
        # these strings in _file_may_match, and ' ' < 'T' would make a
        # genuinely-matching file prune away
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return None


def _file_stats(full: str):
    """Per-file ``stats`` per the public protocol: numRecords +
    min/maxValues + nullCount for top-level comparable columns,
    aggregated across the parquet row groups' own statistics (no data
    read — footer metadata only)."""
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(full).metadata
    except Exception:
        # logical types newer than this pyarrow (e.g. parquet VARIANT)
        # fail the whole footer parse — commit the file WITHOUT stats
        # (optional per the protocol; -1 = row count unknown, so the
        # empty-file skip does not apply) rather than fail the write
        return -1, {}
    n_rows = md.num_rows
    mins, maxs, nulls, bad = {}, {}, {}, set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name or name in bad:
                continue  # nested leaves: top-level stats only
            try:
                st = col.statistics
                if st is None or not st.has_min_max:
                    bad.add(name)
                    continue
                mn, mx = _json_stat_value(st.min), _json_stat_value(st.max)
            except Exception:
                # pyarrow RAISES (ArrowNotImplementedError) on footer
                # stats for types it can't decode — INT96 timestamps,
                # Spark's DEFAULT timestamp encoding, raise from the
                # .min/.max accessors. No stats for that column, never
                # a failed write.
                bad.add(name)
                continue
            if mn is None or mx is None:
                bad.add(name)
                continue
            if name in mins:
                mins[name] = min(mins[name], mn)
                maxs[name] = max(maxs[name], mx)
            else:
                mins[name], maxs[name] = mn, mx
            if st.null_count is not None and name not in nulls:
                nulls[name] = 0
            if st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
    for name in bad:
        mins.pop(name, None)
        maxs.pop(name, None)
    stats = {"numRecords": n_rows}
    if mins:
        stats["minValues"] = mins
        stats["maxValues"] = maxs
        stats["nullCount"] = {k: nulls.get(k, 0) for k in mins}
    return n_rows, stats


def _collect_staged_files(stage: str, pcols: list) -> list:
    """(relative hive path, partitionValues, size, numRecords, stats)
    per data file."""
    out = []
    for root, _dirs, names in os.walk(stage):
        for name in names:
            if not name.endswith(".parquet") or name.startswith("."):
                continue
            full = os.path.join(root, name)
            rel_dir = os.path.relpath(root, stage)
            pvals = {}
            parts = [] if rel_dir == "." else rel_dir.split(os.sep)
            for comp in parts:
                k, v = _decode_hive_dir(comp)
                pvals[k] = v
            if sorted(pvals) != sorted(pcols):
                raise ValueError(
                    f"staged layout {rel_dir!r} does not match partition columns {pcols}"
                )
            n_rows, stats = _file_stats(full)
            if n_rows == 0:
                continue  # empty shuffle partitions produce 0-row parts;
                # committing them would only bloat the log and every scan
            out.append((full, parts, pvals, os.path.getsize(full), stats))
    return out


class LogStore:
    """The two storage primitives every delta commit reduces to,
    extracted so object stores can swap in their own implementations
    (delta-spark's ``LogStore`` plays the same role).

    The contract an implementation must honor:

      - :meth:`write_commit` is **put-if-absent**: the commit file for
        ``version`` becomes visible atomically, and a second writer
        targeting the same version MUST get
        :class:`DeltaConcurrentWriteError`, never a partial or
        overwritten file. On POSIX/HDFS an atomic rename/link gives
        this for free; **S3 has no atomic rename or putIfAbsent**, so
        an S3 store needs an external arbiter (conditional PUT
        If-None-Match where available, else a DynamoDB-style
        lock table keyed by ``(log_dir, version)`` — exactly what
        delta's S3SingleDriverLogStore/S3DynamoDBLogStore do).
      - :meth:`publish_data_file` moves a staged parquet into the
        table. Data files are uuid-named so visibility-before-commit is
        harmless (uncommitted files are invisible to replay and
        vacuumable); it only needs completed-object visibility, which
        plain S3 PUT provides.
    """

    def write_commit(self, log_dir: str, version: int, payload: str) -> None:
        raise NotImplementedError

    def publish_data_file(self, src: str, dest: str) -> None:
        raise NotImplementedError


class LocalLogStore(LogStore):
    """POSIX/HDFS-semantics implementation: stage + hard-link for the
    put-if-absent commit (link fails with EEXIST when another writer
    won), plain rename for data-file publish."""

    def write_commit(self, log_dir: str, version: int, payload: str) -> None:
        os.makedirs(log_dir, exist_ok=True)
        final = os.path.join(log_dir, f"{version:020d}.json")
        fd, tmp = tempfile.mkstemp(dir=log_dir, suffix=".tmp")
        try:
            with os.fdopen(fd, "w", encoding="utf-8") as fh:
                fh.write(payload)
            try:
                os.link(tmp, final)
            except FileExistsError:
                raise DeltaConcurrentWriteError(
                    f"version {version} already committed at "
                    f"{os.path.dirname(log_dir)}"
                ) from None
        finally:
            os.unlink(tmp)

    def publish_data_file(self, src: str, dest: str) -> None:
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.move(src, dest)


_LOG_STORE: LogStore = LocalLogStore()


def set_log_store(store: LogStore) -> LogStore:
    """Install a LogStore (returns the previous one, for restore)."""
    global _LOG_STORE
    prev = _LOG_STORE
    _LOG_STORE = store
    return prev


def _commit(table_path: str, version: int, actions: list) -> None:
    """Atomic publish of one commit through the LogStore seam; a taken
    version slot means another writer won the race. Every commitInfo is
    stamped with the protocol's ``timestamp`` field (epoch ms) here, so
    timestamp time travel / DESCRIBE HISTORY never depend on file mtimes
    for tables this writer produced (mtime stays as the fallback for
    foreign logs)."""
    for action in actions:
        ci = action.get("commitInfo")
        if ci is not None and "timestamp" not in ci:
            ci["timestamp"] = int(time.time() * 1000)
    payload = "".join(
        json.dumps(action, separators=(",", ":")) + "\n" for action in actions
    )
    _LOG_STORE.write_commit(_log_path(table_path), version, payload)


def _assert_commutes(
    table_path: str,
    from_version: int,
    to_version: int,
    read_set: set,
    conjuncts: list | None,
    types: dict,
) -> None:
    """Raise :class:`DeltaConcurrentWriteError` unless every winner
    commit in ``(from_version, to_version]`` provably commutes with a
    transaction that scanned the files in ``read_set`` and whose row
    predicate is bounded by ``conjuncts`` (pre-normalized; ``None`` for
    a blind append, which has no predicate). The winner commutes only
    when it

      - carries no ``metaData``/``protocol`` action (a racing schema,
        constraint or protocol change invalidates our staged parquet,
        which was cast and validated under the old metadata), AND
      - removed no file we read (our matched rows / planned removes all
        live inside the read set — a removed read file means our
        rewrite was computed against rows that no longer exist), AND
      - added no file whose stats/partition values might satisfy our
        predicate (delta-spark's ConcurrentAppendException: rows landing
        in our key/predicate range would be missed by our match scan
        and anti-join).

    ``_file_may_match`` is stats-conservative, so anything unprovable
    conflicts — partition-disjoint DML (the common real case) and blind
    appends commute, everything doubtful raises."""
    for v in range(from_version + 1, to_version + 1):
        actions = commit_actions(table_path, v)
        if actions is None:
            raise DeltaConcurrentWriteError(
                f"concurrent commit {v} of {table_path} is unreadable"
            )
        for action in actions:
            if action.get("metaData") or action.get("protocol"):
                raise DeltaConcurrentWriteError(
                    f"concurrent metadata/protocol change in commit {v} "
                    f"of {table_path}"
                )
            rm = action.get("remove")
            if rm and urllib.parse.unquote(rm["path"]) in read_set:
                raise DeltaConcurrentWriteError(
                    f"concurrent commit {v} removed a file this "
                    f"transaction read: {rm['path']}"
                )
            add = action.get("add")
            if add and conjuncts is not None and _file_may_match(add, conjuncts, types):
                raise DeltaConcurrentWriteError(
                    f"concurrent commit {v} added a file that may "
                    f"match this transaction's predicate: {add['path']}"
                )


#: like delta-spark's default: a parquet checkpoint every N commits bounds
#: log-replay length for long-lived tables
CHECKPOINT_INTERVAL = 10

#: how many version slots a losing transaction re-aims at before
#: surfacing the conflict (delta-spark's commit loop has the same shape)
_COMMIT_RETRIES = 10

_ENGINE_INFO = "delta-lite (PySpark analytics engine)"


def _remove(path: str, data_change: bool = True) -> dict:
    """The ``remove`` action for the file an ``add`` recorded at
    ``path``, stamped with the current time."""
    return {
        "remove": {
            "path": path,
            "deletionTimestamp": int(time.time() * 1000),
            "dataChange": data_change,
        }
    }


def _transact(
    table_path: str,
    version: int,
    operation: str,
    params: dict,
    actions: list,
    conflicts: tuple | None = None,
    txn: tuple | None = None,
    checkpoint_interval: int | None = CHECKPOINT_INTERVAL,
) -> int:
    """Commit ``actions`` (``protocol``/``metaData``/``remove``/``add``)
    as ``version`` of the table; the one commit path of every mutating
    operation. Returns the committed version. It

      - heads the commit with the ``commitInfo`` of ``operation`` and
        its ``params`` (:func:`_commit` stamps its ``timestamp``), plus
        the ``txn`` action of ``txn=(app_id, app_version)``;
      - publishes through the module's :func:`_commit`, looked up at
        call time;
      - on a lost race: raises when ``conflicts`` is None; otherwise
        returns the latest version if a winner already applied our
        ``txn`` (an idempotent replay), and re-aims at the next slot
        once every winner commutes with ``conflicts=(read_set,
        conjuncts)`` (:func:`_assert_commutes`; each winner is checked
        once across retries). ``conflicts`` may also be a function
        returning that pair, called on the first lost race only;
      - checkpoints every ``checkpoint_interval`` versions."""
    head = [
        {
            "commitInfo": {
                "operation": operation,
                "operationParameters": params,
                "engineInfo": _ENGINE_INFO,
            }
        }
    ]
    if txn is not None:
        head.append({"txn": {"appId": str(txn[0]), "version": int(txn[1])}})
    actions = head + actions
    checked_to = version - 1
    for attempt in range(_COMMIT_RETRIES + 1):
        try:
            _commit(table_path, version, actions)
            break
        except DeltaConcurrentWriteError:
            if conflicts is None or attempt == _COMMIT_RETRIES:
                raise
            latest = load_snapshot(table_path)
            if txn is not None and latest.txns.get(str(txn[0]), -1) >= int(txn[1]):
                # the winner was our own replay; our staged files stay
                # unreferenced (vacuum-able)
                return latest.version
            if callable(conflicts):
                conflicts = conflicts()
            read_set, conjuncts = conflicts
            types = _schema_types(latest)
            if conjuncts is not None:
                conjuncts = _normalize_conjuncts(types, conjuncts)
            _assert_commutes(
                table_path, checked_to, latest.version, read_set, conjuncts, types
            )
            checked_to = latest.version
            version = latest.version + 1
    _maybe_checkpoint(table_path, version, checkpoint_interval)
    return version


def _rule_observe(df: DataFrame, rules: list):
    """Wrap ``df`` so the table's CHECK constraints / invariants are
    evaluated per row INSIDE the staging write job itself (round 13,
    guide §1.2 — one pass, not two): a ``CollectMetrics`` node
    (``df.observe``) counts violating rows and keeps one sample row's
    violated rule name(s) + JSON, which :func:`_stage_and_adds` reads
    AFTER the write action and turns into the user-facing ValueError.
    This replaces the former post-write probe that re-read every staged
    file as a SECOND Spark job per constrained commit. A violation
    aborts while the files are still in the hidden stage dir — the
    table directory is never touched, strictly earlier than the old
    unlink-after-publish path. Observation is used instead of a per-row
    ``assert_true`` on purpose: an assert fails the task, and on a
    cluster with ``spark.task.maxFailures=4`` every violating partition
    would be rewritten and re-failed four times (and pollute task
    failure metrics) before the job aborts; the metrics node costs one
    row-level projection and no failures."""
    viols = [
        (~F.coalesce(F.expr(expr), F.lit(False))).alias(f"__v{i}")
        for i, (_label, expr) in enumerate(rules)
    ]
    any_viol = viols[0]
    for v in viols[1:]:
        any_viol = any_viol | v
    labels = [
        F.when(v, F.lit(f"{label} CHECK ({expr})"))
        for v, (label, expr) in zip(viols, rules)
    ]
    detail = F.when(
        any_viol,
        F.concat(
            F.concat_ws("; ", *labels),
            F.lit(" — sample row "),
            F.to_json(F.struct(*[F.col(c) for c in df.columns])),
        ),
    )
    obs = Observation()
    return (
        df.observe(
            obs,
            F.sum(any_viol.cast("long")).alias("n_bad"),
            F.min(detail).alias("detail"),
        ),
        obs,
    )


def _stage_and_adds(
    df: DataFrame,
    table_path: str,
    pcols: list,
    rules: list | None = None,
    operation: str = "WRITE",
    gate=None,
) -> list | None:
    """Stage ``df`` through Spark's parquet writer, move the part files
    into the table (hive dirs preserved for partitioned layouts) and
    return their ``add`` actions. ``rules`` (the table's row-level
    CHECK constraints / invariants from :func:`_row_rules`) are
    enforced inside the staging write itself — see :func:`_rule_observe`.
    ``gate()``, when given, runs after the staging write and before the
    rules are checked: False discards the staged files and returns None
    (it may also raise); nothing is published either way."""
    os.makedirs(table_path, exist_ok=True)
    stage = tempfile.mkdtemp(prefix=".delta_stage_", dir=table_path)
    obs = None
    if rules:
        df, obs = _rule_observe(df, rules)
    try:
        writer = df.write.mode("overwrite")
        if pcols:
            writer = writer.partitionBy(*pcols)
        writer.parquet(stage)
        if gate is not None and not gate():
            return None
        if obs is not None:
            metrics = obs.get
            if metrics["n_bad"]:
                raise ValueError(
                    f"{operation} to {table_path} violates "
                    f"{metrics['detail']}; no commit was made"
                )

        adds = []
        for full, parts, pvals, size, stats in _collect_staged_files(stage, pcols):
            base = f"part-{uuid.uuid4().hex}.snappy.parquet"
            rel = "/".join(parts + [base]) if parts else base
            dest = os.path.join(table_path, *parts, base)
            _LOG_STORE.publish_data_file(full, dest)
            adds.append(
                {
                    "add": {
                        "path": urllib.parse.quote(rel),
                        "partitionValues": pvals,
                        "size": size,
                        "modificationTime": int(os.path.getmtime(dest) * 1000),
                        "dataChange": True,
                        "stats": json.dumps(stats),
                    }
                }
            )
        return adds
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def _maybe_checkpoint(table_path: str, version: int, interval: int | None) -> None:
    if interval and version and version % interval == 0:
        checkpoint_delta_lite(table_path)


def write_delta_lite(
    df: DataFrame,
    table_path: str,
    mode: str = "append",
    partition_by: list | None = None,
    checkpoint_interval: int | None = CHECKPOINT_INTERVAL,
    txn: tuple | None = None,
    merge_schema: bool = False,
    replace_where: str | None = None,
) -> int:
    """Write ``df`` as a Delta commit; returns the committed version.

    ``replace_where`` (delta-spark's ``option("replaceWhere", ...)``,
    only with ``mode='overwrite'``): atomically replace ONLY the rows
    matching the predicate with ``df`` — the daily partition/range
    reload. Incoming rows must all satisfy the predicate (checked with
    one bounded job, delta's constraint); files whose stats prove the
    predicate unsatisfiable are never read OR rewritten, and the
    delete+insert lands as one commit through the same pruned-rewrite
    skeleton as DML, so two reloads of provably disjoint ranges from
    independent pipelines commute instead of raising.

    ``merge_schema=True`` allows ADDITIVE evolution on append, overwrite
    and replaceWhere (:func:`_align`): new columns join the table schema
    (a new ``metaData`` action, with any protocol upgrade a new column's
    type needs, rides the commit); rows in old files read back NULL for
    them — exactly Spark's missing-column parquet semantics, so no
    rewrite happens. Dropping or retyping columns still refuses (that's
    a rewrite, not an evolution).

    ``mode``: ``append`` | ``overwrite`` | ``errorifexists`` | ``ignore``.
    The data files are staged with Spark's own parquet writer (so file
    sizing/layout is whatever the session's partitioning produced), then
    moved into the table and recorded in one commit. Every
    ``checkpoint_interval`` commits a parquet checkpoint is written so
    replay cost stays bounded on long-lived tables (None disables).

    ``txn=(app_id, version)`` records the protocol's ``txn`` action for
    IDEMPOTENT writers (Structured Streaming foreachBatch: pass the
    batch id): if the table has already committed this app's version —
    e.g. the batch is replayed after a failure — the write is a NO-OP,
    the exactly-once half of the streaming→delta contract. Watermarks
    survive checkpoints.
    """
    if replace_where is not None and mode != "overwrite":
        raise ValueError("replace_where requires mode='overwrite'")
    exists = is_delta_table(table_path)
    snap = load_snapshot(table_path) if exists else None
    if exists and mode == "ignore":
        return snap.version
    if exists and mode in ("error", "errorifexists"):
        raise ValueError(f"delta table already exists: {table_path}")
    metadata = None
    if snap is not None:
        _check_writable(snap)
        if mode == "overwrite" and replace_where is None and snap.files:
            _check_append_only(snap, "overwrite WRITE")
        if txn is not None and snap.txns.get(str(txn[0]), -1) >= int(txn[1]):
            return snap.version  # already applied — idempotent replay
        if partition_by and list(partition_by) != snap.partition_columns:
            raise ValueError(
                f"partition columns {partition_by} do not match table's "
                f"{snap.partition_columns}"
            )
        df, metadata = _align(snap, df, merge_schema, "write")
    if replace_where is not None:
        # NULL counts as a violation: such a row would not be replace-able
        if df.filter(~F.coalesce(F.expr(replace_where), F.lit(False))).limit(1).count():
            raise ValueError(
                f"replaceWhere violation: input rows do not all satisfy "
                f"{replace_where!r}"
            )
        if snap is not None:
            return _replace_where(
                df, table_path, snap, metadata, replace_where, checkpoint_interval, txn
            )
        # on a fresh table there is nothing to replace: a plain create

    pcols = list(partition_by or (snap.partition_columns if snap else []))
    adds = _stage_and_adds(
        df, table_path, pcols,
        rules=_row_rules(metadata or snap.metadata) if snap is not None else None,
        operation=f"WRITE ({mode})",
    )
    if snap is None:
        actions = _metadata_actions(
            None, {"schemaString": _schema_string(df), "partitionColumns": pcols}
        )
    else:
        actions = _metadata_actions(snap.protocol, metadata) if metadata else []
        if mode == "overwrite":
            actions += [_remove(snap.files[rel]["path"]) for rel in sorted(snap.files)]
    # Blind appends COMMUTE (delta-spark auto-retries them too): the
    # staged files are already inside the table dir and the actions
    # reference nothing a winner touched, so a lost race re-aims unless
    # a winner changed metadata or protocol. Create, overwrite (its
    # removes came from a stale snapshot) and schema evolution raise.
    blind_append = mode == "append" and snap is not None and metadata is None
    return _transact(
        table_path,
        snap.version + 1 if snap else 0,
        "WRITE",
        {"mode": mode.upper()},
        actions + adds,
        conflicts=(set(), None) if blind_append else None,
        txn=txn,
        checkpoint_interval=checkpoint_interval,
    )


def _align(
    snap: DeltaSnapshot, df: DataFrame, merge_schema: bool, what: str, inserts: bool = True
):
    """Line ``df`` up with the table of ``snap``, the one schema rule of
    WRITE, MERGE and replaceWhere: columns the table lacks are refused
    unless ``merge_schema``, which evolves the table additively (they join
    its schema in ``df``'s order); columns ``df`` lacks are refused when
    its rows are inserted as they are (``inserts``); values are cast to
    the table's types. Returns ``(df, metadata)``: ``df`` cast to the
    (evolved) schema when ``inserts``, as given otherwise, and the evolved
    metaData (None when the schema is unchanged)."""
    declared = snap.schema
    names = set(declared.fieldNames())
    extra = [c for c in df.columns if c not in names]
    missing = inserts and names - set(df.columns)
    if (extra and not merge_schema) or missing:
        raise ValueError(
            f"schema mismatch: table has {sorted(names)}, {what} has {df.columns}"
            + (" (pass merge_schema=True to add columns)" if extra and not missing else "")
        )
    schema = StructType(declared.fields + [df.schema[c] for c in extra])
    if inserts:
        df = df.select(*[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields])
    if not extra:
        return df, None
    return df, {**snap.metadata, "schemaString": json.dumps(schema.jsonValue())}


def convert_to_delta(
    spark: SparkSession, dir_path: str, checkpoint: bool = False
) -> int:
    """``CONVERT TO DELTA``: turn an existing parquet directory (flat or
    hive-partitioned) into a delta-lite table IN PLACE — no data moves
    or copies; commit 0 references the files where they already are,
    with per-file stats gathered from the parquet footers so data
    skipping works from the first read. Partition columns and their
    types come from Spark's own partition discovery over the layout
    (schema inference reads footers, never data). Idempotent: an
    already-delta directory returns its current version untouched.

    At 100 TB this is the migration path: the conversion cost is one
    footer pass over the files (executor-free, driver walks the
    listing) plus one commit — not a table rewrite."""
    if is_delta_table(dir_path):
        return load_snapshot(dir_path).version
    data_files = []
    for root, dirs, names in os.walk(dir_path):
        dirs[:] = [d for d in dirs if d != LOG_DIR and not d.startswith(".")]
        for name in names:
            if name.endswith(".parquet") and not name.startswith((".", "_")):
                data_files.append(os.path.join(root, name))
    if not data_files:
        raise ValueError(f"CONVERT TO DELTA: no parquet files under {dir_path}")
    # full schema: data columns from the footer, typed partition columns
    # via Spark's discovery
    footer = parquet_footer_schema(spark, dir_path)
    reader = spark.read.option("basePath", dir_path)
    schema = (reader.schema(footer.schema) if footer else reader).parquet(dir_path).schema
    sample_rel = os.path.relpath(data_files[0], dir_path)
    pcols = [
        comp.partition("=")[0]
        for comp in sample_rel.split(os.sep)[:-1]
        if "=" in comp
    ]
    actions = _metadata_actions(
        None, {"schemaString": json.dumps(schema.jsonValue()), "partitionColumns": pcols}
    )
    for full_path in sorted(data_files):
        rel = os.path.relpath(full_path, dir_path).replace(os.sep, "/")
        pvals = {}
        for comp in rel.split("/")[:-1]:
            k, v = _decode_hive_dir(comp)
            pvals[k] = v
        if sorted(pvals) != sorted(pcols):
            raise ValueError(
                f"CONVERT TO DELTA: inconsistent hive layout — {rel!r} does "
                f"not match partition columns {pcols}"
            )
        n_rows, stats = _file_stats(full_path)
        if n_rows == 0:
            continue
        actions.append(
            {
                "add": {
                    "path": urllib.parse.quote(rel),
                    "partitionValues": pvals,
                    "size": os.path.getsize(full_path),
                    "modificationTime": int(os.path.getmtime(full_path) * 1000),
                    "dataChange": True,
                    "stats": json.dumps(stats),
                }
            }
        )
    _transact(dir_path, 0, "CONVERT", {"numFiles": len(data_files)}, actions)
    if checkpoint:
        checkpoint_delta_lite(dir_path)
    return 0


def set_table_properties(
    table_path: str, properties: dict | None = None, unset: list | None = None
) -> int:
    """``ALTER TABLE ... SET/UNSET TBLPROPERTIES``: commit a metaData
    action whose ``configuration`` merges ``properties`` in and drops
    the ``unset`` keys. Log-only — no data moves, cost is one commit.

    Guard rails: ``delta.constraints.*`` must go through
    :func:`add_check_constraint` (which validates EXISTING rows first
    and bumps the writer protocol — setting the raw key here would skip
    both, exactly the hole delta-spark closes the same way);
    ``delta.appendOnly`` must be ``true``/``false``. A concurrent
    metadata race raises — property changes never auto-retry."""
    snap = load_snapshot(table_path)
    _check_writable(snap)
    conf = snap.configuration
    for k, v in (properties or {}).items():
        if k.startswith(_CONSTRAINT_PREFIX):
            raise ValueError(
                f"set {k!r} via add_check_constraint (it validates existing "
                f"rows and upgrades the writer protocol)"
            )
        if k == "delta.appendOnly" and str(v).lower() not in ("true", "false"):
            raise ValueError(f"delta.appendOnly must be true/false, got {v!r}")
        conf[k] = str(v)
    for k in unset or []:
        if k.startswith(_CONSTRAINT_PREFIX):
            raise ValueError(f"unset {k!r} via drop_check_constraint")
        conf.pop(k, None)
    return _transact(
        table_path,
        snap.version + 1,
        "SET TBLPROPERTIES",
        {"properties": sorted((properties or {}).keys()), "unset": sorted(unset or [])},
        _metadata_actions(snap.protocol, {**snap.metadata, "configuration": conf}),
    )


def add_check_constraint(
    spark: SparkSession, table_path: str, name: str, expr: str
) -> int:
    """``ALTER TABLE ... ADD CONSTRAINT name CHECK (expr)`` (delta's
    writer-protocol-3 feature): from this commit on, EVERY row-adding
    transaction (append, overwrite, MERGE, UPDATE, replaceWhere, the
    streaming sink) validates its staged rows against ``expr`` and
    refuses to commit a violation (:func:`_rule_observe`).

    Like delta-spark, the EXISTING rows are validated first (one
    bounded job — ``LIMIT 1`` over the violating filter); a table that
    already breaks the rule refuses the constraint, naming a sample
    row. The commit carries the constraint in ``configuration``
    (``delta.constraints.<name>``) plus a protocol upgrade to
    ``minWriterVersion 3`` when the table is still at 2 — old readers
    keep reading (reader stays 1), old WRITERS that don't know
    constraints are fenced out, which is the protocol's whole point."""
    snap = load_snapshot(table_path)
    _check_writable(snap)
    name = name.strip()
    if not name or not name.replace("_", "").isalnum():
        raise ValueError(f"constraint name must be alphanumeric: {name!r}")
    key = _CONSTRAINT_PREFIX + name
    conf = snap.configuration
    if any(k.lower() == key.lower() for k in conf):
        raise ValueError(f"constraint {name!r} already exists on {table_path}")
    # one bounded validation job over the CURRENT rows (stats cannot
    # prune an arbitrary expression, so this is an honest full scan —
    # the same scan delta-spark's ALTER TABLE ADD CONSTRAINT runs)
    current = _read_files(spark, snap, list(snap.files))
    bad = current.filter(~F.coalesce(F.expr(expr), F.lit(False))).limit(1).collect()
    if bad:
        raise ValueError(
            f"cannot add constraint {name!r}: existing row(s) violate "
            f"CHECK ({expr}), e.g. {bad[0].asDict()!r}"
        )
    conf[key] = expr
    return _transact(
        table_path,
        snap.version + 1,
        "ADD CONSTRAINT",
        {"name": name, "expr": expr},
        _metadata_actions(snap.protocol, {**snap.metadata, "configuration": conf}),
    )


def drop_check_constraint(
    table_path: str, name: str, if_exists: bool = False
) -> int:
    """``ALTER TABLE ... DROP CONSTRAINT [IF EXISTS] name``: log-only
    metaData commit; the writer protocol stays at 3 (delta-spark keeps
    it too — downgrades are never safe against concurrent readers of
    old versions)."""
    snap = load_snapshot(table_path)
    _check_writable(snap)
    key = _CONSTRAINT_PREFIX + name.strip()
    conf = snap.configuration
    if key not in conf:
        if if_exists:
            return snap.version
        raise ValueError(f"no such constraint {name!r} on {table_path}")
    conf.pop(key)
    return _transact(
        table_path,
        snap.version + 1,
        "DROP CONSTRAINT",
        {"name": name},
        _metadata_actions(snap.protocol, {**snap.metadata, "configuration": conf}),
    )


def table_constraints(table_path: str) -> dict:
    """The table's CHECK constraints, name → SQL expression (the
    ``delta.constraints.*`` configuration entries)."""
    snap = load_snapshot(table_path)
    return {
        k[len(_CONSTRAINT_PREFIX):]: v
        for k, v in snap.configuration.items()
        if k.startswith(_CONSTRAINT_PREFIX)
    }


def clone_delta_lite(
    src_path: str,
    dst_path: str,
    version: int | None = None,
    timestamp=None,
) -> int:
    """``CREATE TABLE ... SHALLOW CLONE src [VERSION/TIMESTAMP AS OF]``:
    a zero-copy fork. The clone's commit 0 references the source
    snapshot's data files IN PLACE (absolute-path ``add`` actions — the
    protocol explicitly allows them), copying their per-file stats, so
    the clone costs one log write no matter how big the table is and
    data skipping works from the first read.

    The fork is REAL from the first write: appends land inside the
    clone's own directory; DML rewrites matched source files into the
    clone (removing only the clone's REFERENCE — the source table and
    its files are never touched); OPTIMIZE materializes the clone
    fully. The clone's VACUUM walks only the clone's directory, so it
    can never delete source data. Table properties (constraints,
    appendOnly) and the writer protocol carry over.

    The one delta-documented hazard carries over too: VACUUM on the
    SOURCE can delete files a shallow clone still references — run
    OPTIMIZE on the clone first to materialize it if the source's
    retention is shorter than the clone's life."""
    if is_delta_table(dst_path):
        raise ValueError(f"clone destination is already a delta table: {dst_path}")
    src_snap = load_snapshot(src_path, version, timestamp=timestamp)
    src_root = os.path.abspath(src_path)
    pcols = src_snap.partition_columns
    adds = []
    for rel in sorted(src_snap.files):
        src_add = src_snap.files[rel]
        full = (
            rel if os.path.isabs(rel) else os.path.join(src_root, rel)
        )
        if not os.path.exists(full):
            raise ValueError(
                f"cannot CLONE {src_path}@v{src_snap.version}: referenced "
                f"data file no longer exists (vacuumed?): {rel}"
            )
        if pcols:
            # partition recovery on the clone's reads uses the hive
            # layout, so it must actually be present (our writer and
            # delta-spark both produce it; refuse honestly otherwise)
            comps = full.split(os.sep)[-(len(pcols) + 1):-1]
            keys = [c.partition("=")[0] for c in comps]
            if sorted(keys) != sorted(pcols):
                raise ValueError(
                    f"SHALLOW CLONE of a partitioned table requires "
                    f"hive-layout data files; {rel!r} does not encode "
                    f"partition columns {pcols}"
                )
        clone_add = {
            **src_add,
            "path": urllib.parse.quote(full),
            "dataChange": True,
        }
        dv = src_add.get("deletionVector")
        if dv and dv.get("storageType") == "u":
            # relative-UUID DV storage resolves against the TABLE ROOT,
            # which changes under a clone — pin it to the source file's
            # absolute path ('p' storage), exactly what delta-spark's
            # shallow clone does
            from .dv import resolve_dv_path

            clone_add["deletionVector"] = {
                **dv,
                "storageType": "p",
                "pathOrInlineDv": resolve_dv_path(src_root, dv),
            }
        adds.append({"add": clone_add})
    os.makedirs(dst_path, exist_ok=True)
    return _transact(
        dst_path,
        0,
        "CLONE",
        {"source": src_root, "sourceVersion": src_snap.version},
        _metadata_actions(src_snap.protocol, src_snap.metadata, new_table=True) + adds,
    )


def streaming_delta_sink(
    stream_df: DataFrame,
    table_path: str,
    app_id: str,
    checkpoint_location: str,
    partition_by: list | None = None,
):
    """Structured Streaming → delta-lite: a ``foreachBatch`` writer whose
    per-batch append carries ``txn=(app_id, batch_id)``, so a batch
    REPLAYED after a failure (the at-least-once half Spark's checkpoint
    gives) commits exactly once — together: exactly-once into the table.
    Returns the started StreamingQuery; caller awaits/stops it.
    """

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_delta_lite(
            batch_df,
            table_path,
            mode="append",
            partition_by=partition_by,
            txn=(app_id, batch_id),
        )

    return (
        stream_df.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint_location)
        .start()
    )


def optimize_delta_lite(
    table_path: str,
    spark: SparkSession,
    target_files: int = 1,
    zorder_by: list | None = None,
) -> int:
    """OPTIMIZE (bin-packing compaction): rewrite the current snapshot's
    data into ``target_files`` files per partition and commit
    remove+add with ``dataChange: false`` — readers see identical rows,
    small-file scan overhead goes away, and concurrent streaming readers
    can tell no new data arrived (the dataChange flag is exactly for
    this). Time travel to pre-OPTIMIZE versions still works until those
    files are vacuumed.

    ``zorder_by`` (delta's ``OPTIMIZE ... ZORDER BY``): instead of a
    plain coalesce, range-partition + sort on the Morton key of the
    named integer columns (``operators/scale.zorder_layout``), so every
    rewritten file covers a compact range in EVERY clustering column —
    which is what makes the per-file min/max ``stats`` this writer
    records actually PRUNE on those columns (pinned by test: a keyed
    DELETE on an interleaved table touches all files before OPTIMIZE
    ZORDER, one file after)."""
    snap = load_snapshot(table_path)
    _check_writable(snap)
    if not snap.files:
        return snap.version
    df = read_delta_lite(spark, table_path)
    if zorder_by:
        from ..operators.scale import zorder_layout

        df = zorder_layout(
            df, list(zorder_by), num_partitions=max(1, int(target_files))
        )
    else:
        df = df.coalesce(max(1, int(target_files)))
    adds = _stage_and_adds(df, table_path, snap.partition_columns)
    for a in adds:
        a["add"]["dataChange"] = False
    return _transact(
        table_path,
        snap.version + 1,
        "OPTIMIZE",
        {
            "inputFiles": len(snap.files),
            **({"zOrderBy": list(zorder_by)} if zorder_by else {}),
        },
        [_remove(snap.files[rel]["path"], data_change=False) for rel in sorted(snap.files)]
        + adds,
    )


def _parse_conjuncts(condition: str):
    """Conservative extraction of ``col op literal`` conjuncts from a
    SQL condition for stats-based file skipping. Returns a list of
    ``(col, op, value)`` (value: int | float | str; op ``"in"`` carries
    a tuple of values), or ``[]`` when the condition is too complex to
    reason about — pruning is an OPTIMIZATION, so anything unrecognized
    simply prunes nothing and the DML stays exact. A top-level AND
    chain of simple comparisons, ``col IN (lit, ...)`` lists, and
    ``col BETWEEN lit AND lit`` qualifies; OR / NOT / other parens /
    functions bail out.

    Typed ``DATE '...'`` / ``TIMESTAMP '...'`` literals — the single
    most common ETL pruning predicate (effective-dated SCD2, daily
    batch) — ARE recognized: their quoted body compares against the
    isoformat strings :func:`_file_stats` records (timestamps
    normalized to the space separator stats use).
    """
    import re

    # Mask every string literal FIRST (typed DATE/TIMESTAMP forms
    # included), so no structural regex below — IS NULL, OR/NOT bail,
    # BETWEEN, IN, paren checks — can ever match text INSIDE a quoted
    # value (a row whose string column contains "x IS NULL" or "a OR b"
    # must never change what prunes).
    masked_lits: list = []

    def _mask(m):
        masked_lits.append(m.group(0))
        return f"__LIT{len(masked_lits) - 1}__"

    condition = re.sub(
        r"(?:\b(?:DATE|TIMESTAMP)\s*)?'(?:[^']|'')*'",
        _mask,
        condition,
        flags=re.IGNORECASE,
    )
    if "'" in condition:
        return []  # unbalanced quote: refuse to reason about it

    lit = r"(__LIT\d+__|-?\d+(?:\.\d+)?)"
    ident = r"`?((?!__LIT\d+__)[A-Za-z_][A-Za-z0-9_]*)`?"
    out: list = []

    # IS [NOT] NULL first (their NOT must survive the bail below);
    # nullCount stats decide them (op "notnull" / "isnull", value None)
    def _null_repl(m):
        out.append((m.group(1), "notnull" if m.group(2) else "isnull", None))
        return " __NULL_OK__ "

    condition = re.sub(
        rf"{ident}\s+IS\s+(NOT\s+)?NULL",
        _null_repl,
        condition,
        flags=re.IGNORECASE,
    )
    # NOT is checked on the remaining text so `NOT IN` can never half-parse
    if re.search(r"\bOR\b|\bNOT\b", condition, re.IGNORECASE):
        return []

    def _val(tok: str):
        m_mask = re.fullmatch(r"__LIT(\d+)__", tok)
        if m_mask:
            tok = masked_lits[int(m_mask.group(1))]
        typed = re.match(r"^(DATE|TIMESTAMP)\s*'", tok, re.IGNORECASE)
        if typed:
            body = tok[tok.index("'") :][1:-1].replace("''", "'")
            if typed.group(1).upper() == "TIMESTAMP" and re.match(
                r"^\d{4}-\d{2}-\d{2}T", body
            ):
                body = body.replace("T", " ", 1)
            return body
        if tok.startswith("'"):
            return tok[1:-1].replace("''", "'")
        return float(tok) if "." in tok else int(tok)

    # BETWEEN first: its embedded AND would break the conjunct split
    condition = re.sub(
        rf"{ident}\s+BETWEEN\s+{lit}\s+AND\s+{lit}",
        r"\1 >= \2 AND \1 <= \3",
        condition,
        flags=re.IGNORECASE,
    )

    def _in_repl(m):
        col, body = m.group(1), m.group(2)
        vals = []
        for e in (x.strip() for x in body.split(",")):
            if not re.fullmatch(lit, e, re.IGNORECASE):
                return m.group(0)  # unparsable element: leave → paren bail
        for e in (x.strip() for x in body.split(",")):
            vals.append(_val(e))
        out.append((col, "in", tuple(vals)))
        return " __IN_OK__ "

    condition = re.sub(
        rf"{ident}\s+IN\s*\(([^()]*)\)", _in_repl, condition, flags=re.IGNORECASE
    )
    if re.search(r"[()]", condition):
        return []  # leftover parens: something we can't reason about

    pat = re.compile(
        rf"^\s*(?:{ident}\s*(=|==|<=|>=|<|>)\s*{lit}"
        rf"|{lit}\s*(=|==|<=|>=|<|>)\s*{ident})\s*$",
        re.IGNORECASE,
    )
    flip = {"<": ">", ">": "<", "<=": ">=", ">=": "<=", "=": "=", "==": "=="}
    for conjunct in re.split(r"\bAND\b", condition, flags=re.IGNORECASE):
        m = pat.match(conjunct)
        if not m:
            continue  # unparsed conjunct: no pruning from it, others still apply
        if m.group(1) is not None:
            out.append((m.group(1), m.group(2).replace("==", "="), _val(m.group(3))))
        else:
            out.append((m.group(6), flip[m.group(5)].replace("==", "="), _val(m.group(4))))
    return out


def _schema_types(snap: "DeltaSnapshot") -> dict:
    """``{column: typeName}`` from the snapshot schema; empty (→ fully
    conservative pruning) when the metadata can't be read."""
    try:
        return {f.name: f.dataType.typeName() for f in snap.schema.fields}
    except Exception:  # malformed metadata: pruning stays conservative
        return {}


def _normalize_conjuncts(types: dict, conjuncts: list) -> list:
    """Normalize string literals by the TARGET COLUMN's type so they
    compare against the canonical forms :func:`_file_stats` records: a
    literal aimed at a timestamp column gets its ISO 'T' separator
    rewritten to the space form the stats use ('2024-01-15T06:00:00' ↔
    '2024-01-15 06:00:00' must prune identically), while a literal
    aimed at a genuine string column is left byte-exact (its stats hold
    the raw strings).  Unknown columns pass through untouched — the
    pruner's type-mismatch guard keeps them conservative."""

    def norm(col, v):
        if (
            isinstance(v, str)
            and types.get(col, "").startswith("timestamp")
            and len(v) > 10
            and v[:4].isdigit()
            and v[4] == "-"
            and v[10] == "T"
        ):
            return v[:10] + " " + v[11:]
        return v

    out = []
    for col, op, val in conjuncts:
        if op == "in":
            out.append((col, op, tuple(norm(col, v) for v in val)))
        else:
            out.append((col, op, norm(col, val)))
    return out


def _pv_violates(pv: str, op: str, val, col_type: str) -> bool:
    """True when a partition STRING value provably fails ``op val``.

    - numeric predicate: compare as floats; floats are monotone, so a
      STRICT float inequality proves the true values differ the same
      way (an equal-float tie keeps the file — conservative around the
      2^53 edge); unparsable representations keep the file.
    - string predicate: full range comparison when the column's type
      makes lexicographic order THE value order (string itself, or
      date/timestamp isoformat); equality only otherwise — '10' < '9'
      lexicographically, so ranges over numerics-as-strings lie.
    """
    if isinstance(val, (int, float)):
        try:
            pvn, valn = float(pv), float(val)
        except ValueError:
            return False
        if op in ("=", "=="):
            return pvn != valn
        if op == "<":
            return pvn > valn
        if op == "<=":
            return pvn > valn
        if op == ">":
            return pvn < valn
        if op == ">=":
            return pvn < valn
        return False
    sval = str(val)
    if op in ("=", "=="):
        return pv != sval
    if col_type in ("string", "date") or col_type.startswith("timestamp"):
        if op == "<":
            return not (pv < sval)
        if op == "<=":
            return not (pv <= sval)
        if op == ">":
            return not (pv > sval)
        if op == ">=":
            return not (pv >= sval)
    return False


def _file_may_match(add: dict, conjuncts: list, col_types: dict | None = None) -> bool:
    """False only when the file's recorded stats PROVE no row can
    satisfy every conjunct (missing/incomparable stats keep the file —
    conservative). Comparisons with NULL are never satisfied, so
    min/max over non-null values is exactly the right evidence — and a
    file whose PARTITION value is NULL can satisfy no comparison on
    that column at all."""
    col_types = col_types or {}
    stats = json.loads(add.get("stats") or "{}") if add.get("stats") else {}
    mins = stats.get("minValues") or {}
    maxs = stats.get("maxValues") or {}
    nulls = stats.get("nullCount") or {}
    n_rec = stats.get("numRecords")
    pvals = add.get("partitionValues") or {}
    for col, op, val in conjuncts:
        if col in pvals:
            pv = pvals[col]
            if op == "isnull":
                if pv is not None:
                    return False
                continue
            if op == "notnull":
                if pv is None:
                    return False
                continue
            if pv is None:
                return False  # every row's col is NULL: no comparison holds
            t = col_types.get(col, "")
            if op == "in":
                if all(_pv_violates(pv, "=", v, t) for v in val):
                    return False
            elif _pv_violates(pv, op, val, t):
                return False
            continue
        if op == "isnull":
            if nulls.get(col) == 0:
                return False  # stats prove zero nulls in this file
            continue
        if op == "notnull":
            nc = nulls.get(col)
            if nc is not None and n_rec is not None and nc == n_rec:
                return False  # every value in this file is NULL
            continue
        mn, mx = mins.get(col), maxs.get(col)
        if mn is None or mx is None:
            continue
        if op == "in":
            vals = [
                v for v in val if isinstance(v, str) == isinstance(mn, str)
            ]
            if len(vals) != len(val):
                continue  # mixed/unknown element types: don't guess
            if all(v < mn or v > mx for v in vals):
                return False
            continue
        if isinstance(val, str) != isinstance(mn, str):
            continue  # type mismatch: don't guess
        if op in ("=", "=="):
            if val < mn or val > mx:
                return False
        elif op == "<":
            if not (mn < val):
                return False
        elif op == "<=":
            if not (mn <= val):
                return False
        elif op == ">":
            if not (mx > val):
                return False
        elif op == ">=":
            if not (mx >= val):
                return False
    return True


def _candidate_files(snap: DeltaSnapshot, conjuncts: list) -> list:
    """Relative paths of files the conjuncts cannot rule out."""
    if not conjuncts:
        return sorted(snap.files)
    types = _schema_types(snap)
    conjuncts = _normalize_conjuncts(types, conjuncts)
    l2p = _column_mapping(snap.metadata)
    if l2p:
        # mapped tables key stats and partitionValues by PHYSICAL name;
        # the predicate (and the types dict) speak logical — translate
        conjuncts = [(l2p.get(c, c), op, v) for (c, op, v) in conjuncts]
        types = {l2p.get(k, k): t for k, t in types.items()}
    return sorted(
        rel
        for rel, add in snap.files.items()
        if _file_may_match(add, conjuncts, types)
    )


def _source_key_conjuncts(source: DataFrame, on_keys: list) -> list:
    """MERGE pruning ranges: the 1-row min/max of each join key on the
    source side (driver traffic = 2·len(on_keys) scalars). A target
    file whose key range misses the whole source range can contain no
    matched row — AND no source key, so the insert anti-join may skip
    it too."""
    aggs = []
    for k in on_keys:
        aggs += [F.min(k).alias(f"__mn_{k}"), F.max(k).alias(f"__mx_{k}")]
    row = source.agg(*aggs).collect()[0]
    import datetime as _dt

    def _norm(v):
        # date/timestamp keys prune via the same isoformat strings
        # _file_stats records (space-separated for timestamps)
        if isinstance(v, _dt.datetime):
            return v.isoformat(sep=" ")
        if isinstance(v, _dt.date):
            return v.isoformat()
        return v

    out = []
    for k in on_keys:
        mn, mx = _norm(row[f"__mn_{k}"]), _norm(row[f"__mx_{k}"])
        if isinstance(mn, (int, float, str)) and not isinstance(mn, bool):
            out.append((k, ">=", mn))
        if isinstance(mx, (int, float, str)) and not isinstance(mx, bool):
            out.append((k, "<=", mx))
    return out


def _key_bound(snap: DeltaSnapshot, source: DataFrame, on_keys: list):
    """MERGE's key-range bound for :func:`_pruned_rewrite`: the
    conjuncts of :func:`_source_key_conjuncts` when they can prune, i.e.
    when more than one live file carries partition values or min/max
    stats on a key; otherwise the same computation deferred, as a
    function, so the source's min/max job runs only if a lost commit
    race needs the bound to check the winners."""
    l2p = _column_mapping(snap.metadata)
    phys = {l2p.get(k, k) for k in on_keys}
    prunable = 0
    for add in snap.files.values():
        stats = json.loads(add.get("stats") or "{}")
        if phys & (set(add.get("partitionValues") or {}) | set(stats.get("minValues") or {})):
            prunable += 1
            if prunable > 1:
                return _source_key_conjuncts(source, on_keys)
    return lambda: _source_key_conjuncts(source, on_keys)


def _pruned_rewrite(
    spark: SparkSession,
    table_path: str,
    snap: DeltaSnapshot,
    conjuncts,
    match,
    rewrite,
    operation: str,
    op_params: dict,
    metadata: dict | None = None,
    checkpoint_interval: int | None = CHECKPOINT_INTERVAL,
    txn: tuple | None = None,
) -> int:
    """The one transaction path of every data-removing DML (DELETE,
    UPDATE, MERGE, replaceWhere, SCD2 MERGE). The caller supplies its
    predicate bound (``conjuncts``, or a function computing them that
    only a lost commit race calls — see :func:`_key_bound`),
    ``match(tagged)`` — the rows of the ``__file``-tagged candidate scan
    that the operation touches — and ``rewrite(rows, hits)``, the new
    content of the matched files. When ``hits`` is an Observation,
    ``rewrite`` observes on it, as ``hits``, the count of ``rows`` it
    matches, at the place it computes that match anyway (the predicate,
    MERGE's source-key join, the SCD2 merge join). When no file matched,
    ``rows`` is None and ``rewrite`` returns what the operation inserts
    anyway, or None when that is nothing (DELETE, UPDATE), which stages
    nothing. This skeleton does the rest:

      - refuses tables whose writer protocol it cannot honour;
      - scans only the files the conjuncts' stats cannot rule out;
      - finds the matched files in one of two shapes, chosen by the
        candidate count:
          - no candidate file: nothing is read;
          - one candidate file: no separate pass. It stages
            ``rewrite(candidate rows, hits)`` straight away and reads the
            match count off that staging write. With no hit the staged
            files are discarded unpublished, and the commit stages
            ``rewrite(None)`` and removes nothing, as the two-pass shape
            does when nothing matches;
          - otherwise two passes: one job collects the files holding a
            ``match`` row (keyed as the snapshot keys them:
            table-relative for owned files, absolute for files a shallow
            CLONE references), then the rewrite of just those files is
            staged;
      - applies the appendOnly rule when anything is removed, before any
        file is published;
      - sizes the output from the matched bytes and stages it under the
        table's CHECK constraints / invariants;
      - commits remove(matched) + add(rewritten) in one version through
        :func:`_transact`, whose disjoint-transaction retry checks
        winners against the scanned files and the conjuncts, then
        checkpoints every ``checkpoint_interval`` commits.

    Untouched files never move; driver traffic = file paths.

    ``metadata`` carries an ADDITIVE schema evolution (``merge_schema``
    of MERGE and replaceWhere, see :func:`_align`): the rewritten rows
    cast to the evolved schema and the metaData action, with any protocol
    upgrade it needs, rides the same commit, so the rewrite and the
    evolution are one atomic version."""
    _check_writable(snap)
    out_schema = _schema(metadata or snap.metadata)
    rules = _row_rules(metadata or snap.metadata)
    if callable(conjuncts):
        bound, cand = conjuncts, sorted(snap.files)

        def conflicts():
            # the read set and bound the computed bound would have given
            bounded = bound()
            return set(_candidate_files(snap, bounded)), bounded
    else:
        cand = _candidate_files(snap, conjuncts)
        conflicts = (set(cand), conjuncts)

    def stage(rows: DataFrame, matched: list, gate=None):
        rewritten = rows.select(
            *[F.col(f.name).cast(f.dataType) for f in out_schema.fields]
        )
        # output sizing (round 13, guide §6): without it the staged rewrite
        # inherits the session's shuffle partitioning, so the file count
        # per commit scaled with CORE COUNT — 32 near-empty files per DML
        # commit at local[32] (the r12 8-core bench lane ran
        # delta_replace_where 3x faster than 32-core, scaling ratio 0.33:
        # pure add-action/stat/publish overhead). Size the output from the
        # matched input bytes instead: ceil(matched_bytes /
        # targetFileSize) files, minimum 1 — a 10 GB rewrite still fans out
        # (and keeps its upstream scan parallelism through the coalesce), a
        # 2 MB one lands as one file.
        matched_bytes = sum(
            int((snap.files.get(rel) or {}).get("size") or 0) for rel in matched
        )
        target_fs = int(
            spark.conf.get("spark.deltaLite.targetFileSize", str(128 * 1024 * 1024))
        )
        return _stage_and_adds(
            rewritten.coalesce(max(1, -(-matched_bytes // max(1, target_fs)))),
            table_path, snap.partition_columns,
            rules=rules, operation=operation, gate=gate,
        )

    adds = None
    if len(cand) == 1:
        hits = Observation()

        def gate() -> bool:
            if not hits.get["hits"]:
                return False
            # the protocol's exact appendOnly rule: a commit may not carry
            # dataChange=true removes — a DML that matched nothing is legal
            _check_append_only(snap, operation)
            return True

        adds = stage(rewrite(_read_files(spark, snap, cand), hits), cand, gate)
        rel_matched = cand if adds is not None else []
    elif not cand:
        rel_matched = []
    else:
        tagged = _read_files(spark, snap, cand).withColumn(
            "__file", F.input_file_name()
        )
        matched_files = [
            r["__file"] for r in match(tagged).select("__file").distinct().collect()
        ]

        def _snapshot_key(f: str) -> str:
            # input_file_name() gives the physical URI; the snapshot keys
            # files by their add-action path — table-relative for owned
            # files, absolute for files referenced across tables (CLONE)
            phys = urllib.parse.unquote(urllib.parse.urlparse(f).path)
            if _is_under(phys, table_path):
                return os.path.relpath(phys, table_path).replace(os.sep, "/")
            return phys

        rel_matched = sorted(_snapshot_key(f) for f in matched_files)
        if rel_matched:
            _check_append_only(snap, operation)
    if adds is None:
        rows = _read_files(spark, snap, rel_matched) if rel_matched else None
        new = rewrite(rows, None)
        adds = [] if new is None else stage(new, rel_matched)
    actions = _metadata_actions(snap.protocol, metadata) if metadata else []
    actions += [_remove(urllib.parse.quote(rel)) for rel in rel_matched]
    return _transact(
        table_path,
        snap.version + 1,
        operation,
        {**op_params, "candidateFiles": len(cand), "matchedFiles": len(rel_matched)},
        actions + adds,
        conflicts=conflicts,
        txn=txn,
        checkpoint_interval=checkpoint_interval,
    )


def _count_hits(rows: DataFrame, flag, hits: Observation | None) -> DataFrame:
    """``rows`` with the count of those where ``flag`` is true observed
    on ``hits`` (see :func:`_pruned_rewrite`); ``rows`` itself without
    an Observation."""
    if hits is None:
        return rows
    return rows.observe(hits, F.count_if(flag).alias("hits"))


def delete_delta_lite(spark: SparkSession, table_path: str, condition: str) -> int:
    """Row-level DELETE WHERE: rewrites only the files that contain a
    matching row (the others never move — pinned by test), committing
    remove+add like delta's own DELETE. The match-finding scan itself
    is data-skipped first: files whose per-file min/max stats (or
    partition values) prove the predicate unsatisfiable are never
    read — on an unpartitioned 100-TB table a keyed DELETE touches a
    handful of files, not all of them."""
    # SQL DELETE semantics: only rows where the predicate is TRUE are
    # deleted — a NULL predicate row in a rewritten file must SURVIVE
    # (plain ~cond would drop it: NOT(NULL) filters as not-true)
    keep = ~F.coalesce(F.expr(condition), F.lit(False))
    return _pruned_rewrite(
        spark,
        table_path,
        load_snapshot(table_path),
        _parse_conjuncts(condition),
        lambda tagged: tagged.filter(F.expr(condition)),
        lambda rows, hits: None if rows is None else (
            _count_hits(rows, F.expr(condition), hits).filter(keep)
        ),
        "DELETE",
        {"predicate": condition},
    )


def update_delta_lite(
    spark: SparkSession, table_path: str, condition: str, set_exprs: dict
) -> int:
    """Row-level UPDATE ... SET ... WHERE: same pruned-rewrite shape
    (including the stats/partition data-skipping pre-pass on the
    match-finding scan); ``set_exprs`` maps column → SQL expression
    (evaluated only on matching rows)."""
    cond = F.expr(condition)

    def rewrite(rows: DataFrame, hits) -> DataFrame:
        # all SET expressions see the PRE-update row (standard SQL UPDATE
        # semantics — UPDATE t SET a=b, b=a swaps): ONE select, never
        # chained withColumns (each of those would see prior SETs)
        if rows is None:
            return None
        rows = _count_hits(rows, cond, hits)
        newcols = {
            c: F.when(cond, F.expr(e)).otherwise(F.col(c)).alias(c)
            for c, e in set_exprs.items()
        }
        return rows.select(
            *[newcols.get(c, F.col(c)).alias(c) for c in rows.columns]
        )

    return _pruned_rewrite(
        spark,
        table_path,
        load_snapshot(table_path),
        _parse_conjuncts(condition),
        lambda tagged: tagged.filter(cond),
        rewrite,
        "UPDATE",
        {"predicate": condition, "set": sorted(set_exprs)},
    )


def merge_delta_lite(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    on_keys: list,
    when_matched_update: dict | None = None,
    when_matched_delete: str | bool = False,
    when_not_matched_insert: bool = True,
    matched_condition: str | None = None,
    merge_schema: bool = False,
) -> int:
    """General MERGE INTO (the DeltaTable.merge surface, generalized
    from the SCD2-specific merge): upsert/delete by key with optional
    conditions, rewriting ONLY files holding matched keys.

    - ``when_matched_update``: column → SQL expr over the joined row
      (source columns visible as ``src_<name>``); applied to matched
      target rows passing ``matched_condition``.
    - ``when_matched_delete``: True, or a SQL condition string —
      matched rows satisfying it are dropped (evaluated before update).
    - ``when_not_matched_insert``: source rows with no target match
      insert as-is (source must carry the table's columns; without
      inserts it needs only the keys and the columns the clauses read).
    - ``merge_schema``: delta-spark's ``schema.autoMerge`` for MERGE —
      a source carrying NEW columns evolves the table ADDITIVELY in the
      same atomic commit: inserts carry the new columns, matched
      updates may SET them (``src_<name>`` is visible), and every
      pre-existing row reads back NULL for them (rows in untouched
      files via parquet missing-column semantics — no rewrite; rows in
      rewritten files NULL-filled explicitly). Without the flag a
      widened source is a hard error, never a silent column drop.
      Dropping or retyping columns still refuses — that is a rewrite,
      not an evolution.

    Data skipping: one 1-row min/max aggregate of the source keys
    bounds the key range, and target files whose per-file stats prove
    their key range disjoint are skipped for BOTH the matched-file
    scan AND the insert anti-join (a skipped file provably contains no
    source key, so it cannot veto an insert) — a keyed MERGE into a
    key-clustered 100-TB table reads the overlapping files, not the
    table. The aggregate runs only when it can prune, i.e. when more
    than one file carries stats or partition values on a key
    (:func:`_key_bound`); otherwise only a lost commit race runs it.
    """
    snap = load_snapshot(table_path)
    # Materialize the MERGE source once (round-12 optimization; also
    # delta-spark's own posture — its MERGE materializes the source):
    # the plan below consumes it for the key-range bound, the matched-
    # file semi-join, the matched-row marker join, AND the not-matched
    # insert anti-join — without this an expensive source expression
    # (a groupBy'd snapshot, a join) re-executes up to 4×, and a
    # nondeterministic source could diverge between the passes.
    source = source.localCheckpoint(eager=False)
    aligned, metadata = _align(snap, source, merge_schema, "MERGE source", when_not_matched_insert)
    out_schema = _schema(metadata or snap.metadata)
    src_keys = source.select(*on_keys).dropDuplicates(on_keys)

    # source side: keys + src_-prefixed payload, tagged so the left join
    # marks matched target rows; one deterministic row per key
    marker = source.select(
        *[F.col(k) for k in on_keys],
        *[F.col(c).alias(f"src_{c}") for c in source.columns if c not in on_keys],
    ).dropDuplicates(on_keys).withColumn("__src_hit", F.lit(True))

    def rewrite(rows: DataFrame | None, hits) -> DataFrame | None:
        # inserts: source keys absent from the PRE-merge table, unioned
        # into the rewrite so the whole MERGE is ONE atomic commit. Every
        # target row holding a source key sits in a matched file, so the
        # matched files' rows are the whole anti-join side.
        new = aligned
        if rows is not None:
            new = aligned.join(rows.select(*on_keys), on=on_keys, how="leftanti")
        inserts = new.dropDuplicates(on_keys) if when_not_matched_insert else None
        if rows is None:
            return inserts
        out = _count_hits(rows.join(marker, on=on_keys, how="left"), F.col("__src_hit"), hits)
        # pre-evolution rows lack the new columns: their non-updated
        # value is NULL of the declared type, not a column reference
        have = set(rows.columns)
        base = {
            f.name: (
                F.col(f.name) if f.name in have else F.lit(None).cast(f.dataType)
            )
            for f in out_schema.fields
        }
        if when_matched_delete:
            cond = (
                F.col("__src_hit")
                if when_matched_delete is True
                else (F.col("__src_hit") & F.expr(when_matched_delete))
            )
            out = out.filter(~F.coalesce(cond, F.lit(False)))
        if when_matched_update:
            upd = F.coalesce(F.col("__src_hit"), F.lit(False))
            if matched_condition:
                upd = upd & F.expr(matched_condition)
            # SET expressions see the PRE-update row: computed in one
            # select, not chained withColumns
            sets = {
                c: F.when(upd, F.expr(e)).otherwise(base[c]).alias(c)
                for c, e in when_matched_update.items()
            }
        else:
            sets = {}
        out = out.select(
            *[
                sets.get(f.name, base[f.name]).alias(f.name)
                for f in out_schema.fields
            ]
        )
        return out if inserts is None else out.unionByName(inserts)

    return _pruned_rewrite(
        spark,
        table_path,
        snap,
        _key_bound(snap, source, on_keys),
        # no broadcast hint: Catalyst/AQE picks broadcast for a small key
        # set and falls back to a shuffled semi-join when the MERGE source
        # is batch-sized — an unconditional broadcast would cap the source
        # at driver memory
        lambda tagged: tagged.join(src_keys, on=on_keys, how="leftsemi"),
        rewrite,
        "MERGE",
        {"on": on_keys},
        metadata=metadata,
    )


def _replace_where(
    df: DataFrame,
    table_path: str,
    snap: DeltaSnapshot,
    metadata: dict | None,
    condition: str,
    checkpoint_interval: int | None,
    txn: tuple | None,
) -> int:
    """``overwrite`` + ``replaceWhere``: one atomic commit that deletes
    every existing row matching ``condition`` and inserts ``df`` (already
    lined up with the table, evolving it to ``metadata`` when given; its
    rows were checked to ALL match the predicate — delta's constraint).
    Stats/partition pruning bounds the rewrite to files that can hold a
    matching row; a mixed file is rewritten keeping its non-matching
    rows. Runs through :func:`_pruned_rewrite`, so two reloads of
    provably disjoint ranges commute on a commit race."""
    cond = F.expr(condition)
    # only rows where the predicate is TRUE are replaced (SQL DELETE
    # semantics): a NULL-predicate row is a KEEPER
    keep = ~F.coalesce(cond, F.lit(False))
    return _pruned_rewrite(
        df.sparkSession,
        table_path,
        snap,
        _parse_conjuncts(condition),
        lambda tagged: tagged.filter(cond),
        lambda rows, hits: df if rows is None else (
            _count_hits(rows, cond, hits).filter(keep).unionByName(df, allowMissingColumns=True)
        ),
        "WRITE",
        {"mode": "OVERWRITE", "replaceWhere": condition},
        metadata=metadata,
        checkpoint_interval=checkpoint_interval,
        txn=txn,
    )


def delta_changes(
    spark: SparkSession,
    table_path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level changes between two versions — semantic CDC from time
    travel alone (no ``_change_data`` directory needed): the multiset
    difference of the snapshots, as rows tagged ``_change_type``
    insert | delete (an update surfaces as delete+insert of the row).

    Exact file pruning: a data file present in BOTH snapshots
    contributes identical rows to both sides and cancels in the
    multiset diff, so only files that CHANGED between the versions are
    scanned — a day's CDC on a 100 TB table reads the day's churn, not
    the table. (OPTIMIZE commits rewrite files without changing rows;
    their before/after files are not shared, but their rows still
    cancel — correctness never depends on the pruning.)

    Schema evolution between the versions is handled by aligning the
    older side to the newer schema (added columns read as NULL, same as
    the snapshot read itself)."""
    from .dv import dv_unique_id

    s_old = load_snapshot(table_path, from_version)
    s_new = load_snapshot(table_path, to_version)
    # a file cancels only when BOTH its path and its deletion-vector
    # identity match: a DV update keeps the path but changes the row
    # set, so path-only sharing would silently cancel the deletion
    shared = {
        f
        for f in s_old.files
        if f in s_new.files
        and dv_unique_id(s_old.files[f].get("deletionVector"))
        == dv_unique_id(s_new.files[f].get("deletionVector"))
    }
    old = _read_files(spark, s_old, [f for f in s_old.files if f not in shared])
    new = _read_files(spark, s_new, [f for f in s_new.files if f not in shared])
    target = s_new.schema
    have = set(old.columns)
    old = old.select(
        *[
            (F.col(f.name) if f.name in have else F.lit(None).cast(f.dataType)).alias(
                f.name
            )
            for f in target.fields
        ]
    )
    inserts = new.exceptAll(old).withColumn("_change_type", F.lit("insert"))
    deletes = old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
    return inserts.unionByName(deletes)


def vacuum_delta_lite(
    table_path: str,
    retain_versions: int = 0,
    retention_hours: float | None = None,
) -> list:
    """Delete data files no longer referenced by the retained snapshots
    (current and, with ``retain_versions`` > 0, that many prior versions
    — time travel to them keeps working; older versions become
    unreadable, which is the honest Delta VACUUM trade). Returns the
    relative paths removed. The log itself is never touched, so history
    metadata stays auditable.

    ``retention_hours`` (delta-spark's ``RETAIN n HOURS``): ALSO retain
    every snapshot whose commit timestamp is within the window, so time
    travel across the retention period keeps working — the two knobs
    compose (a version is kept if EITHER rule retains it).

    VACUUM is a maintenance WRITE (it destroys other writers'
    recoverability — the ``vacuumProtocolCheck`` table feature exists
    exactly to police it), so a foreign table whose writer protocol
    this engine does not implement refuses here like every other
    mutation."""
    snap = load_snapshot(table_path)
    _check_writable(snap)
    referenced = set(snap.files)
    log = _log_path(table_path)
    versions = [v for v in _commit_versions(log) if v < snap.version]
    keep = set(sorted(versions, reverse=True)[:retain_versions])
    if retention_hours is not None:
        cutoff = time.time() * 1000 - float(retention_hours) * 3_600_000
        stamps = commit_timestamps(table_path)
        keep |= {v for v in versions if stamps.get(v, 0) >= cutoff}
    for v in sorted(keep, reverse=True):
        try:
            referenced |= set(load_snapshot(table_path, v).files)
        except ValueError:
            break  # pre-checkpoint commits may already be gone
    removed = []
    for root, dirs, names in os.walk(table_path):
        dirs[:] = [d for d in dirs if d != LOG_DIR and not d.startswith(".")]
        for name in names:
            if not name.endswith(".parquet"):
                continue
            rel = os.path.relpath(os.path.join(root, name), table_path).replace(
                os.sep, "/"
            )
            if rel not in referenced:
                os.unlink(os.path.join(root, name))
                removed.append(rel)
    # prune now-empty hive partition dirs
    for root, dirs, names in os.walk(table_path, topdown=False):
        if root != table_path and not os.listdir(root):
            os.rmdir(root)
    return sorted(removed)


def restore_delta_lite(
    table_path: str, version: int | None = None, timestamp=None
) -> dict:
    """``RESTORE TABLE ... TO VERSION/TIMESTAMP AS OF``: commit a NEW
    version whose live-file set and metaData equal the target
    snapshot's. No data moves — the restore commit re-ADDs the target's
    ``add`` actions verbatim (per-file stats ride along, so data
    skipping keeps working) and removes the files the target lacks;
    cost is log-size, not table-size, exactly like delta-spark's
    RESTORE. Pre-restore versions stay time-travelable (RESTORE is
    itself just a commit — a bad restore is undone by another restore).

    Fails UP-FRONT (no commit) if any file the target needs was
    vacuumed, naming one. Returns metrics: the new version, the source
    version restored, and file add/remove counts."""
    cur = load_snapshot(table_path)
    _check_writable(cur)
    target = load_snapshot(table_path, version, timestamp=timestamp)
    missing = [
        rel
        for rel in sorted(target.files)
        if not os.path.exists(os.path.join(table_path, rel))
    ]
    if missing:
        raise ValueError(
            f"cannot RESTORE {table_path} to version {target.version}: "
            f"{len(missing)} required data file(s) no longer exist "
            f"(vacuumed?), e.g. {missing[0]}"
        )
    to_add = sorted(rel for rel in target.files if rel not in cur.files)
    to_remove = sorted(rel for rel in cur.files if rel not in target.files)
    if to_remove:
        _check_append_only(cur, "RESTORE")
    actions = (
        _metadata_actions(cur.protocol, target.metadata)
        if cur.metadata != target.metadata
        else []
    )
    actions += [_remove(cur.files[rel]["path"]) for rel in to_remove]
    actions += [{"add": {**target.files[rel], "dataChange": True}} for rel in to_add]
    new_version = _transact(
        table_path, cur.version + 1, "RESTORE", {"version": target.version}, actions
    )
    return {
        "version": new_version,
        "restored_source_version": target.version,
        "num_restored_files": len(to_add),
        "num_removed_files": len(to_remove),
        "num_files_after": len(target.files),
    }


def checkpoint_delta_lite(table_path: str) -> int:
    """Write a parquet checkpoint of the current snapshot plus the
    ``_last_checkpoint`` pointer; returns the checkpointed version.
    Bounds future log replay to commits after this version."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    snap = load_snapshot(table_path)
    kv = pa.map_(pa.string(), pa.string())
    schema = pa.schema(
        [
            pa.field(
                "protocol",
                pa.struct(
                    [
                        pa.field("minReaderVersion", pa.int32()),
                        pa.field("minWriterVersion", pa.int32()),
                        # table-features lists (protocol (3,7)): a
                        # checkpoint that declares minWriterVersion 7
                        # WITHOUT its writerFeatures is invalid per the
                        # delta protocol — carry them verbatim
                        pa.field("readerFeatures", pa.list_(pa.string())),
                        pa.field("writerFeatures", pa.list_(pa.string())),
                    ]
                ),
            ),
            pa.field(
                "metaData",
                pa.struct(
                    [
                        pa.field("id", pa.string()),
                        pa.field(
                            "format",
                            pa.struct([pa.field("provider", pa.string())]),
                        ),
                        pa.field("schemaString", pa.string()),
                        pa.field("partitionColumns", pa.list_(pa.string())),
                        pa.field("configuration", kv),
                        pa.field("createdTime", pa.int64()),
                    ]
                ),
            ),
            pa.field(
                "add",
                pa.struct(
                    [
                        pa.field("path", pa.string()),
                        pa.field("partitionValues", kv),
                        pa.field("size", pa.int64()),
                        pa.field("modificationTime", pa.int64()),
                        pa.field("dataChange", pa.bool_()),
                        pa.field("stats", pa.string()),
                        # deletion vector descriptors must survive the
                        # checkpoint or checkpoint-bounded replay would
                        # RESURRECT the deleted rows of every DV file
                        pa.field(
                            "deletionVector",
                            pa.struct(
                                [
                                    pa.field("storageType", pa.string()),
                                    pa.field("pathOrInlineDv", pa.string()),
                                    pa.field("offset", pa.int32()),
                                    pa.field("sizeInBytes", pa.int32()),
                                    pa.field("cardinality", pa.int64()),
                                ]
                            ),
                        ),
                    ]
                ),
            ),
            pa.field(
                "txn",
                pa.struct(
                    [
                        pa.field("appId", pa.string()),
                        pa.field("version", pa.int64()),
                    ]
                ),
            ),
        ]
    )
    meta = snap.metadata
    # the SNAPSHOT's protocol, never the engine default: checkpointing a
    # writer-v3 (constraints) table must not downgrade what the log
    # declares once pre-checkpoint commits are vacuumed
    snap_proto = snap.protocol or _PROTOCOL
    proto = {
        "minReaderVersion": int(snap_proto.get("minReaderVersion", 1)),
        "minWriterVersion": int(snap_proto.get("minWriterVersion", 2)),
        # feature lists must survive the checkpoint or a (3,7) table's
        # checkpoint-bounded replay sees an invalid featureless protocol
        "readerFeatures": (
            sorted(snap_proto["readerFeatures"])
            if snap_proto.get("readerFeatures") is not None
            else None
        ),
        "writerFeatures": (
            sorted(snap_proto["writerFeatures"])
            if snap_proto.get("writerFeatures") is not None
            else None
        ),
    }
    rows = [
        {"protocol": proto, "metaData": None, "add": None, "txn": None},
        {
            "protocol": None,
            "metaData": {
                "id": meta.get("id", ""),
                "format": {"provider": "parquet"},
                "schemaString": meta["schemaString"],
                "partitionColumns": list(meta.get("partitionColumns") or []),
                "configuration": _normalize_map(meta.get("configuration")),
                "createdTime": meta.get("createdTime"),
            },
            "add": None,
            "txn": None,
        },
    ]
    for app in sorted(snap.txns):
        # streaming idempotence watermarks must survive checkpoint-bounded
        # replay, or a replayed batch after log vacuum double-writes
        rows.append(
            {
                "protocol": None,
                "metaData": None,
                "add": None,
                "txn": {"appId": app, "version": snap.txns[app]},
            }
        )
    for rel in sorted(snap.files):
        add = snap.files[rel]
        rows.append(
            {
                "protocol": None,
                "metaData": None,
                "add": {
                    "path": add["path"],
                    "partitionValues": _normalize_map(add.get("partitionValues")),
                    "size": add.get("size"),
                    "modificationTime": add.get("modificationTime"),
                    "dataChange": False,
                    "stats": add.get("stats"),
                    "deletionVector": add.get("deletionVector") or None,
                },
                "txn": None,
            }
        )
    log = _log_path(table_path)
    buf = pa.BufferOutputStream()
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), buf)
    # each file is written under a temporary name and renamed into place,
    # so a crash mid-write never leaves a torn checkpoint for replay to read
    for name, payload in (
        (f"{snap.version:020d}.checkpoint.parquet", buf.getvalue().to_pybytes()),
        ("_last_checkpoint", json.dumps({"version": snap.version, "size": len(rows)}).encode()),
    ):
        fd, tmp = tempfile.mkstemp(dir=log, suffix=".tmp")
        try:
            with os.fdopen(fd, "wb") as fh:
                fh.write(payload)
            os.replace(tmp, os.path.join(log, name))
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
    return snap.version


def merge_scd2_delta_lite(
    spark: SparkSession,
    table_path: str,
    incoming: DataFrame,
    keys: list,
    compare_cols: list | None = None,
    effective_ts=None,
) -> int:
    """SCD2 MERGE of the ``incoming`` snapshot into a delta-lite table
    (the scdType2Insert load), rewriting ONLY matched files; returns the
    committed version.

    No table at ``table_path`` yet: the first load creates it through
    ``scd2_merge``'s None-target lane, so dedup/versioning match the file
    sink exactly. An existing table must carry the SCD2 meta columns.

    Otherwise the merge runs through :func:`_pruned_rewrite`, the path
    every data-removing DML shares (CHECK constraints, appendOnly,
    shallow-clone file keys, commit retry, checkpoints): stats skipping
    on the incoming key range, then one semi-join of the candidate files'
    CURRENT rows against the incoming keys finds the files that hold a
    matched current row. Those files' rows — current AND history alike,
    since a parquet file may hold both — are re-merged with the standard
    ``scd2_merge`` lanes (feeding it only these rows is sufficient:
    untouched files contain no matched current key, so their merge would
    be the identity). Brand-new keys insert regardless of pruning. A
    one-file table skips the key range and the semi-join: the file's
    merge is staged at once, and ``scd2_merge``'s own join counts the
    matched current rows.

    Partitioned tables work the same way — the pruned read recovers the
    partition columns from the matched files' hive paths, and the
    rewrite re-stages through ``partitionBy`` so replacement files land
    back in their partitions (an SCD2 key that MOVES partitions is
    handled naturally: its old current row is closed in the old
    partition's rewrite and the new version inserts into the new one).
    """
    from ..operators.scd2 import IS_CURRENT, require_scd2_columns, scd2_merge

    opts = {"compare_cols": compare_cols, "effective_ts": effective_ts}
    if not is_delta_table(table_path):
        return write_delta_lite(
            scd2_merge(None, incoming, keys, **opts), table_path, mode="errorifexists"
        )
    snap = load_snapshot(table_path)
    require_scd2_columns(snap.schema.fieldNames(), table_path)
    if len(snap.files) > 1:
        # Materialize the incoming snapshot once (delta-spark's MERGE
        # materializes its source the same way): it may feed the key-range
        # bound, the matched-file semi-join and the rewrite's scd2_merge —
        # an aggregated snapshot would otherwise re-execute its shuffle 3×.
        # A one-file table takes the single pass, where only the rewrite
        # reads it.
        incoming = incoming.localCheckpoint(eager=False)
    inc_keys = incoming.select(*keys).dropDuplicates(keys)
    return _pruned_rewrite(
        spark,
        table_path,
        snap,
        _key_bound(snap, incoming, keys),
        # null-safe, as scd2_merge pairs keys: a NULL key's current row is
        # matched (and closed) like any other. AQE sizes the key set.
        lambda tagged: tagged.filter(F.col(IS_CURRENT)).join(
            inc_keys, [tagged[k].eqNullSafe(inc_keys[k]) for k in keys], "leftsemi"
        ),
        lambda rows, hits: scd2_merge(
            _read_files(spark, snap, []) if rows is None else rows,
            incoming, keys, **opts, hits=hits,
        ),
        "MERGE",
        {"on": keys},
    )
