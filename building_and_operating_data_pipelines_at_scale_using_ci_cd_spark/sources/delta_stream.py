"""Streaming READS of delta-lite tables (the source half of the
streaming→lakehouse contract; ``streaming_delta_sink`` is the write
half). Implemented as a Spark 4 **Python Data Source** — the public
``pyspark.sql.datasource`` API — so the table plugs into Structured
Streaming natively::

    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.sources.delta_stream import (
        register_delta_stream_source,
    )
    register_delta_stream_source(spark)
    df = (spark.readStream.format("delta_lite_stream")
          .option("path", table_path).load())

Semantics mirror delta-spark's streaming source for append-only tables:

  - **offsets are log versions** — microbatch (start, end] delivers the
    ``add`` actions (``dataChange: true``) of commits start+1..end, so
    restarts resume exactly where the checkpoint says and each row is
    delivered exactly once;
  - OPTIMIZE / ZORDER commits (``dataChange: false`` adds+removes) are
    pure rewrites and are SKIPPED — compaction never re-delivers rows;
  - a commit that removes data (DELETE/UPDATE/MERGE/RESTORE/overwrite)
    breaks append-only streaming: the source RAISES by default, or
    skips the whole commit with ``.option("skipChangeCommits", "true")``
    (delta-spark's option of the same name);
  - ``.option("readChangeFeed", "true")`` streams CDC rows instead
    (``_change_type`` insert|delete + ``_commit_version``): append
    commits fan out file-parallel as inserts; a change commit is
    multiset-diffed (removed vs added rows) in one task so
    rewritten-but-unchanged rows cancel — the stream delivers exactly
    what the batch ``delta_changes`` feed computes for that commit,
    without requiring persisted ``_change_data`` files. Default start =
    changes after stream start; ``startingVersion`` rewinds. The
    change-commit diff's unit of parallelism is the commit, and its
    row volume is the commit's churned files (pruned DML rewrites only
    matched files) — a day's CDC streams the day's churn, never the
    table. Change rows are delivered in the STREAM-START schema (a
    Structured Streaming query's schema is fixed at start); restart the
    stream after a schema evolution to see the new columns;
  - one ``InputPartition`` per data file → executor-parallel Arrow
    reads; the driver touches only the log (KBs per commit), never
    data — at 100 TB a microbatch plans from one JSON file and fans
    out to the executors, the same shape delta-spark's source has;
  - column-mapped ('name' mode) tables stream like the batch reader
    reads them: parquet columns and ``partitionValues`` are looked up by
    physical name and delivered under the logical names, so a renamed
    column streams its values.

Initial load: a FRESH stream's first batch is the current RECONCILED
snapshot (the live file set, exactly what ``read_delta_lite`` would
read), and only commits after it are tailed — delta-spark's default.
Full-history replay is reserved for an explicit ``startingVersion``:
on a table whose lifecycle includes OPTIMIZE + VACUUM the v0 adds
reference vacuumed pre-compaction files, and with ``skipChangeCommits``
a v0 replay would resurrect rows an overwrite/delete removed. Start
the sink with ``availableNow`` and the snapshot backfill proceeds as
one microbatch, file-parallel across executors.
``.option("startingTimestamp", ...)`` starts at the first commit
AT-OR-AFTER the timestamp instead (past the last commit = tail-only);
it is mutually exclusive with ``startingVersion``, delta's contract.
"""

from __future__ import annotations

import datetime as _dt
import os
from decimal import Decimal

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import (
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
    TimestampType,
)

FORMAT_NAME = "delta_lite_stream"


class DeltaFilePartition(InputPartition):
    """One data file of one commit: everything ``read`` needs, picklable
    (absolute path + the hive partition values to re-attach + the file's
    deletion-vector descriptor, whose marked positions the executor
    masks out before delivering rows)."""

    def __init__(
        self, path: str, partition_values: dict, version: int, dv: dict | None = None
    ):
        self.path = path
        self.partition_values = partition_values
        self.version = version
        self.dv = dv


class DeltaFileGroupPartition(InputPartition):
    """Several SMALL data files bin-packed into one task (round 12,
    guide §6 input-split sizing): one InputPartition per file is right
    for well-sized files but makes a table of tiny files pay one Python
    task round-trip EACH — the planner packs files into
    ``maxBytesPerPartition`` bins (option, default 32 MB), so small
    files share a task while any file past the target keeps its own.
    Rows delivered are the concatenation of the members' rows —
    identical multiset to the unpacked form."""

    def __init__(self, files: list):
        self.files = files  # [DeltaFilePartition, ...]


class DeltaCdfFilePartition(InputPartition):
    """readChangeFeed, append commit: one ADDED file, delivered as
    ``_change_type='insert'`` rows (file-parallel, the common path)."""

    def __init__(
        self, path: str, partition_values: dict, version: int, dv: dict | None = None
    ):
        self.path = path
        self.partition_values = partition_values
        self.version = version
        self.dv = dv


class DeltaCdfDiffPartition(InputPartition):
    """readChangeFeed, change commit (DELETE/UPDATE/MERGE/RESTORE/
    overwrite): the commit's removed and added files together, so the
    executor can cancel rewritten-but-unchanged rows with a multiset
    diff — the same semantics the batch ``delta_changes`` feed has.
    One task per change commit; its row volume is the commit's churned
    files (pruned DML rewrites only matched files), not the table.
    Each side's files carry their deletion-vector descriptor: a DV
    UPDATE lists the same path on both sides with different DVs, and
    the masked multiset diff is then exactly the newly-deleted rows."""

    def __init__(self, old_files: list, new_files: list, version: int):
        self.old_files = old_files  # [(abs path, partitionValues, dv|None)]
        self.new_files = new_files
        self.version = version


def _python_partition_value(raw, dtype):
    """Delta records partition values as strings; convert to the Python
    value whose Arrow form matches the declared column type."""
    if raw is None:
        return None
    if isinstance(dtype, (LongType, IntegerType, ShortType)):
        return int(raw)
    if isinstance(dtype, (DoubleType, FloatType)):
        return float(raw)
    if isinstance(dtype, BooleanType):
        return str(raw).lower() == "true"
    if isinstance(dtype, DateType):
        return _dt.date.fromisoformat(raw)
    if isinstance(dtype, TimestampType):
        return _dt.datetime.fromisoformat(raw)
    if isinstance(dtype, DecimalType):
        return Decimal(raw)
    if isinstance(dtype, StringType):
        return raw
    raise ValueError(
        f"unsupported partition column type for streaming read: {dtype}"
    )


class DeltaLiteStreamReader(DataSourceStreamReader):
    """Log-version offsets; driver work = reading commit JSONs."""

    def __init__(self, schema: StructType, options: dict):
        # Python data source option keys arrive lowercased
        self._path = options.get("path")
        if not self._path:
            raise ValueError("delta_lite_stream requires .option('path', ...)")
        self._skip_change_commits = (
            str(options.get("skipchangecommits", "false")).lower() == "true"
        )
        #: delta-spark's startingVersion: where a FRESH query begins.
        #: Default = the current reconciled SNAPSHOT as the first batch
        #: (never a history replay — see initialOffset); "latest" =
        #: only commits after stream start (skip the backfill — the
        #: 100-TB posture for tailing a long-lived table); an int =
        #: start replaying adds at that commit. Restarts always resume
        #: from the checkpoint; this only shapes initialOffset.
        #: (No maxFilesPerTrigger analogue on purpose: the Python Data
        #: Source API has no admission control — latestOffset is called
        #: before initialOffset and never sees the checkpointed start,
        #: so any client-side clamp can regress offsets or re-deliver
        #: commits after a restart. Measured, not assumed.)
        self._starting_version = options.get("startingversion")
        #: delta-spark's startingTimestamp: start from the first commit
        #: AT OR AFTER the timestamp (all later table changes are read;
        #: a timestamp past the last commit = tail only future commits).
        #: Mutually exclusive with startingVersion, same as delta-spark.
        self._starting_timestamp = options.get("startingtimestamp")
        if self._starting_version is not None and self._starting_timestamp is not None:
            raise ValueError(
                "startingVersion and startingTimestamp are mutually exclusive"
            )
        #: delta's readChangeFeed: deliver CDC rows (_change_type /
        #: _commit_version) instead of requiring append-only commits.
        #: Change commits are CONSUMED (multiset-diff semantics matching
        #: the batch ``delta_changes`` feed), so skipChangeCommits is
        #: contradictory alongside it.
        #: input-split sizing (guide §6): small files bin-pack into one
        #: task up to this many bytes; 0 disables packing
        self._max_bytes_per_partition = int(
            options.get("maxbytesperpartition", 32 * 1024 * 1024)
        )
        self._cdf = str(options.get("readchangefeed", "false")).lower() == "true"
        if self._cdf and self._skip_change_commits:
            raise ValueError(
                "readChangeFeed and skipChangeCommits are mutually "
                "exclusive: the change feed DELIVERS change commits"
            )
        self._schema = schema
        #: column mapping ('name' mode): logical column -> (its parquet
        #: name, its Arrow type under the physical nested names), the map
        #: the batch reader reads through; partitionValues are keyed by
        #: the physical name too. Empty for unmapped tables.
        from pyspark.sql.pandas.types import to_arrow_schema

        from .delta_lite import _column_mapping, _physical_schema, _schema, load_snapshot

        meta = load_snapshot(self._path).metadata
        self._physical = {}
        if _column_mapping(meta):
            self._physical = {
                lf.name: (pf.name, pf.type)
                for lf, pf in zip(_schema(meta).fields, to_arrow_schema(_physical_schema(meta)))
            }

    def _base_fields(self) -> list:
        """The table's own fields (CDF metadata columns excluded)."""
        return [
            f
            for f in self._schema.fields
            if f.name not in ("_change_type", "_commit_version")
        ]

    def _timestamp_start_version(self):
        """The version BEFORE the first commit at-or-after
        ``startingTimestamp`` (offsets are exclusive on the left), or
        the latest version when the timestamp is past every commit —
        the stream then tails only future commits, delta's contract."""
        from .delta_lite import _timestamp_ms, commit_timestamps, load_snapshot

        want = _timestamp_ms(self._starting_timestamp)
        stamps = commit_timestamps(self._path)
        at_or_after = [v for v, ts in stamps.items() if ts >= want]
        if at_or_after:
            return min(at_or_after) - 1
        return load_snapshot(self._path).version

    # -- offsets ---------------------------------------------------------
    def initialOffset(self) -> dict:
        if self._cdf:
            # change feed: stream CHANGES, never a snapshot — default =
            # commits after stream start (delta's CDF posture); an int
            # startingVersion rewinds into history explicitly
            from .delta_lite import load_snapshot

            if self._starting_timestamp is not None:
                return {"version": self._timestamp_start_version()}
            if self._starting_version is None or str(
                self._starting_version
            ).lower() == "latest":
                return {"version": load_snapshot(self._path).version}
            return {"version": int(self._starting_version) - 1}
        if self._starting_timestamp is not None:
            return {"version": self._timestamp_start_version()}
        if self._starting_version is None:
            # Default = the current reconciled snapshot, delivered as the
            # first batch (the ``snapshot`` marker tells ``partitions`` to
            # plan from the live file set of that version), then tail
            # commits after it. NOT a v0 history replay: on a table that
            # was OPTIMIZEd then VACUUMed the v0 adds reference vacuumed
            # files, and with skipChangeCommits a replay would deliver
            # rows an overwrite/delete removed and never the replacement.
            from .delta_lite import load_snapshot

            v = load_snapshot(self._path).version
            return {"version": v, "snapshot": v}
        if str(self._starting_version).lower() == "latest":
            from .delta_lite import load_snapshot

            return {"version": load_snapshot(self._path).version}
        return {"version": int(self._starting_version) - 1}

    def latestOffset(self) -> dict:
        from .delta_lite import load_snapshot

        return {"version": load_snapshot(self._path).version}

    # -- planning (driver) -----------------------------------------------
    def _commit_actions(self, version: int) -> list:
        from .delta_lite import commit_actions

        actions = commit_actions(self._path, version)
        if actions is None:
            raise ValueError(
                f"commit {version} of {self._path} is gone (expired log?) — "
                f"cannot stream a gap"
            )
        return actions

    def _version_adds(self, version: int) -> list:
        """The ``dataChange: true`` add actions of one commit, enforcing
        the append-only streaming contract."""
        actions = self._commit_actions(version)
        # the protocol tells readers to ASSUME dataChange=true when the
        # flag is absent — a foreign/minimal log whose DELETE removes
        # omit it must fail safe into the raise/skipChangeCommits path,
        # never silently ignore the deletion (adds default true too)
        data_removed = any(
            a.get("remove", {}).get("dataChange", True)
            for a in actions
            if a.get("remove")
        ) or any(
            # an add CARRYING a deletion vector is never a pure append —
            # its rows are a file minus deleted positions, i.e. the
            # commit changed data (DV writers also emit the matching
            # remove, but fail safe even on an add-only commit)
            a["add"].get("deletionVector")
            for a in actions
            if a.get("add")
        )
        if data_removed:
            if self._skip_change_commits:
                return []  # delta's skipChangeCommits: drop the whole commit
            raise ValueError(
                f"streaming source found a data-changing commit (version "
                f"{version}: DELETE/UPDATE/MERGE/RESTORE/overwrite) in "
                f"{self._path}; streaming requires append-only commits — "
                f"pass .option('skipChangeCommits', 'true') to skip them"
            )
        return [
            a["add"]
            for a in actions
            if a.get("add") and a["add"].get("dataChange", True)
        ]

    def _cdf_partitions(self, lo: int, hi: int) -> list:
        """Change-feed planning: per commit, adds-only commits fan out
        file-parallel as inserts; commits that remove data become diff
        partitions holding both sides (the executor multiset-diffs them
        so rewritten-but-unchanged rows cancel — stream CDC equals the
        batch ``delta_changes`` over the same version range). The diff
        is grouped by HIVE PARTITION VALUE: rows with different
        partition values differ as tuples (the partition column is part
        of the row) and can never cancel, so per-(commit, partition)
        diffing is EXACT — a change commit touching 100 partitions fans
        out 100 diff tasks, not one; a key that MOVES partitions
        surfaces as delete(old partition) + insert(new partition) from
        the two groups, exactly the global diff's answer. Remove
        actions carry no partitionValues, so the removed files' values
        come from the pre-commit snapshot (driver, log-sized)."""
        import urllib.parse

        from .delta_lite import load_snapshot

        parts = []
        for v in range(lo + 1, hi + 1):
            actions = self._commit_actions(v)
            adds = [
                a["add"]
                for a in actions
                if a.get("add") and a["add"].get("dataChange", True)
            ]
            removes = [
                a["remove"]
                for a in actions
                if a.get("remove") and a["remove"].get("dataChange", True)
            ]
            if not adds and not removes:
                continue  # OPTIMIZE / metadata-only: no row changed
            new_files = [
                (
                    os.path.join(self._path, urllib.parse.unquote(a["path"])),
                    a.get("partitionValues") or {},
                    a.get("deletionVector"),
                )
                for a in adds
            ]
            if not removes:
                parts.extend(
                    DeltaCdfFilePartition(
                        path=p, partition_values=pv, version=v, dv=dv
                    )
                    for p, pv, dv in new_files
                )
                continue
            prev = load_snapshot(self._path, v - 1)
            old_files = []
            for r in removes:
                rel = urllib.parse.unquote(r["path"])
                prev_add = prev.files.get(rel)
                old_files.append(
                    (
                        os.path.join(self._path, rel),
                        (prev_add or {}).get("partitionValues") or {},
                        # the removed logical file's OWN deletion vector
                        # (pre-commit state; the remove action repeats
                        # it, but the snapshot is authoritative) — a DV
                        # UPDATE then diffs new-DV vs old-DV live rows,
                        # i.e. exactly the newly-deleted rows
                        (prev_add or r or {}).get("deletionVector"),
                    )
                )
            groups: dict = {}
            for side, files in (("old", old_files), ("new", new_files)):
                for path, pv, dv in files:
                    # NULL partition values must not collide with the
                    # string "None": key on (name, is_null, value)
                    key = tuple(
                        sorted(
                            (k, val is None, "" if val is None else str(val))
                            for k, val in pv.items()
                        )
                    )
                    groups.setdefault(key, ([], []))[0 if side == "old" else 1].append(
                        (path, pv, dv)
                    )
            for _key, (olds, news) in sorted(groups.items()):
                parts.append(
                    DeltaCdfDiffPartition(
                        old_files=olds, new_files=news, version=v
                    )
                )
        return parts

    def partitions(self, start: dict, end: dict):
        import urllib.parse

        lo, hi = int(start["version"]), int(end["version"])
        if self._cdf:
            parts = self._cdf_partitions(lo, hi)
            self._check_exists(parts)
            return parts
        parts = []
        sizes = []
        if start.get("snapshot") is not None:
            # fresh-stream first batch: the reconciled live file set of
            # the snapshot version (restart-safe — the marker rides the
            # checkpointed offset and load_snapshot is deterministic)
            from .delta_lite import load_snapshot

            snap = load_snapshot(self._path, int(start["snapshot"]))
            for rel in sorted(snap.files):
                add = snap.files[rel]
                parts.append(
                    DeltaFilePartition(
                        path=os.path.join(self._path, rel),
                        partition_values=add.get("partitionValues") or {},
                        version=int(start["snapshot"]),
                        # DV'd files deliver only their live rows — the
                        # executor masks the vector's positions out
                        dv=add.get("deletionVector"),
                    )
                )
                sizes.append(int(add.get("size") or 0))
        for v in range(lo + 1, hi + 1):
            for add in self._version_adds(v):
                rel = urllib.parse.unquote(add["path"])
                parts.append(
                    DeltaFilePartition(
                        path=os.path.join(self._path, rel),
                        partition_values=add.get("partitionValues") or {},
                        version=v,
                    )
                )
                sizes.append(int(add.get("size") or 0))
        parts = self._pack_small_files(parts, sizes)
        self._check_exists(parts)
        return parts

    def _pack_small_files(self, parts: list, sizes: list) -> list:
        """Greedy size-binning of per-file partitions (see
        DeltaFileGroupPartition): files accumulate into one task until
        the bin passes ``maxBytesPerPartition``; a file at/over the
        target always gets its own task, so well-sized tables keep full
        file parallelism and tiny-file tables stop paying one Python
        task round-trip per file."""
        target = self._max_bytes_per_partition
        if target <= 0 or len(parts) <= 1:
            return parts
        out, bin_files, bin_bytes = [], [], 0
        for p, size in zip(parts, sizes):
            if size >= target:
                out.append(p)
                continue
            if bin_files and bin_bytes + size > target:
                out.append(
                    bin_files[0]
                    if len(bin_files) == 1
                    else DeltaFileGroupPartition(bin_files)
                )
                bin_files, bin_bytes = [], 0
            bin_files.append(p)
            bin_bytes += size
        if bin_files:
            out.append(
                bin_files[0]
                if len(bin_files) == 1
                else DeltaFileGroupPartition(bin_files)
            )
        return out

    @staticmethod
    def _check_exists(parts: list) -> None:
        """Planning-time existence check (driver, log-sized): a replayed
        add/remove whose file was vacuumed must fail with the remedy,
        not a mid-batch executor FileNotFoundError."""
        paths = []
        for p in parts:
            if isinstance(p, DeltaCdfDiffPartition):
                paths.extend(f for f, _pv, _dv in p.old_files + p.new_files)
            elif isinstance(p, DeltaFileGroupPartition):
                paths.extend(m.path for m in p.files)
            else:
                paths.append(p.path)
        missing = [f for f in paths if not os.path.exists(f)]
        if missing:
            raise ValueError(
                f"{len(missing)} data file(s) this batch replays no longer "
                f"exist (vacuumed?), e.g. {missing[0]}; start the stream "
                f"with the default snapshot start (no startingVersion) or "
                f"startingVersion='latest' instead of replaying history"
            )

    # -- execution (executors) ---------------------------------------------
    def _aligned_table(
        self, path: str, partition_values: dict, fields, target, dv: dict | None = None
    ):
        """One parquet file as an Arrow table aligned to ``target`` (the
        Arrow form of ``fields``): partition columns re-attached as
        constants, pre-evolution missing columns as NULL, physical types
        cast to the declared ones, and a mapped table's physical column
        names (nested ones too) relabelled to the logical ones. ``dv``
        masks out the deletion vector's row positions FIRST (executor-side
        roaring decode, the same ``dv_positions`` kernel the batch reader
        uses), so every downstream consumer sees only the file's live
        rows."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pq.read_table(path)
        if dv:
            import numpy as np

            from .dv import dv_positions

            pos_arr = np.asarray(dv_positions(self._path, dv), dtype=np.int64)
            mask = np.ones(table.num_rows, dtype=bool)
            mask[pos_arr[pos_arr < table.num_rows]] = False
            table = table.filter(pa.array(mask))
        n = table.num_rows
        arrays = []
        for field, spark_field in zip(target, fields):
            name, ptype = self._physical.get(field.name, (field.name, field.type))
            if name in table.column_names:
                col = table.column(name)
                if col.type != ptype:
                    col = col.cast(ptype)
                col = col.combine_chunks()
                # same layout, physical nested names -> logical ones
                arrays.append(col if ptype == field.type else col.view(field.type))
            else:  # partition column (constant per file) or a column
                # added by schema evolution after this file was written
                # (reads NULL, parquet missing-column semantics)
                val = _python_partition_value(
                    partition_values.get(name),
                    spark_field.dataType,
                )
                arrays.append(pa.array([val] * n, type=field.type))
        return pa.Table.from_arrays(arrays, schema=target)

    @staticmethod
    def _hashable(v):
        """Multiset-diff key for one value (lists/dicts → tuples)."""
        if isinstance(v, list):
            return tuple(DeltaLiteStreamReader._hashable(x) for x in v)
        if isinstance(v, dict):
            return tuple(
                sorted(
                    (k, DeltaLiteStreamReader._hashable(x)) for k, x in v.items()
                )
            )
        if isinstance(v, bytearray):
            return bytes(v)
        return v

    def _read_cdf_diff(self, partition: DeltaCdfDiffPartition):
        """Change-commit CDC: multiset diff of the commit's removed vs
        added rows — rewritten-but-unchanged rows cancel, surviving
        surpluses surface as delete/insert rows (exactly the batch
        ``delta_changes`` semantics, computed per commit)."""
        from collections import Counter

        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        fields = self._base_fields()
        names = [f.name for f in fields]
        base_target = to_arrow_schema(
            StructType(fields)
        )
        cnt: Counter = Counter()
        rep: dict = {}

        def fold(files, sign):
            for path, pvals, dv in files:
                rows = self._aligned_table(
                    path, pvals, fields, base_target, dv=dv
                ).to_pylist()
                for row in rows:
                    key = tuple(self._hashable(row[c]) for c in names)
                    cnt[key] += sign
                    if key not in rep:
                        rep[key] = row

        fold(partition.new_files, +1)
        fold(partition.old_files, -1)
        out = []
        for key, c in cnt.items():
            if c == 0:
                continue
            row = dict(rep[key])
            row["_change_type"] = "insert" if c > 0 else "delete"
            row["_commit_version"] = partition.version
            out.extend([row] * abs(c))
        if not out:
            return
        cdf_target = to_arrow_schema(self._schema)
        for batch in pa.Table.from_pylist(out, schema=cdf_target).to_batches():
            yield batch

    def read(self, partition):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        if isinstance(partition, DeltaCdfDiffPartition):
            yield from self._read_cdf_diff(partition)
            return
        if isinstance(partition, DeltaCdfFilePartition):
            fields = self._base_fields()
            base_target = to_arrow_schema(StructType(fields))
            table = self._aligned_table(
                partition.path,
                partition.partition_values,
                fields,
                base_target,
                dv=partition.dv,
            )
            n = table.num_rows
            cdf_target = to_arrow_schema(self._schema)
            table = table.append_column(
                "_change_type", pa.array(["insert"] * n, type=pa.string())
            ).append_column(
                "_commit_version",
                pa.array([partition.version] * n, type=pa.int64()),
            )
            for batch in table.cast(cdf_target).to_batches():
                yield batch
            return
        target = to_arrow_schema(self._schema)
        members = (
            partition.files
            if isinstance(partition, DeltaFileGroupPartition)
            else [partition]
        )
        for m in members:
            table = self._aligned_table(
                m.path,
                m.partition_values,
                self._schema.fields,
                target,
                dv=m.dv,
            )
            for batch in table.to_batches():
                yield batch

    def commit(self, end: dict) -> None:
        pass  # offsets live in the stream checkpoint; the log is immutable

    def stop(self) -> None:
        pass


class DeltaLiteStreamSource(DataSource):
    """``spark.readStream.format("delta_lite_stream")`` entry point."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        from pyspark.sql.types import LongType as _Long
        from pyspark.sql.types import StringType as _Str
        from pyspark.sql.types import StructField

        from .delta_lite import load_snapshot

        path = self.options.get("path")
        if not path:
            raise ValueError("delta_lite_stream requires .option('path', ...)")
        base = load_snapshot(path).schema
        if str(self.options.get("readchangefeed", "false")).lower() == "true":
            return StructType(
                list(base.fields)
                + [
                    StructField("_change_type", _Str(), False),
                    StructField("_commit_version", _Long(), False),
                ]
            )
        return base

    def streamReader(self, schema: StructType) -> DeltaLiteStreamReader:
        return DeltaLiteStreamReader(schema, dict(self.options))


import uuid
import weakref

#: per-session registered format NAME. Registration must be per-session
#: (Pipeline tasks each run in ``spark.newSession()``), but Spark 4's
#: Python-data-source registration dedups GLOBALLY while format LOOKUP
#: is session-local — a child session can neither re-register the name
#: (DATA_SOURCE_ALREADY_EXISTS) nor resolve it (DATA_SOURCE_NOT_FOUND,
#: both measured). Children therefore register the same class under a
#: session-unique alias and use that. Weak keys: entries die with the
#: session.
_SESSION_FORMAT: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def register_delta_stream_source(spark) -> str:
    """Idempotent per-session registration; returns the format NAME this
    session must pass to ``readStream.format(...)``."""
    name = _SESSION_FORMAT.get(spark)
    if name is not None:
        return name
    try:
        spark.dataSource.register(DeltaLiteStreamSource)
        name = FORMAT_NAME
    except Exception as exc:
        if "ALREADY_EXISTS" not in str(exc):
            raise
        # another session owns the canonical name: alias it for this one
        name = f"{FORMAT_NAME}_{uuid.uuid4().hex[:8]}"
        alias = type(
            "DeltaLiteStreamSourceAlias",
            (DeltaLiteStreamSource,),
            {"name": classmethod(lambda cls, _n=name: _n)},
        )
        spark.dataSource.register(alias)
    _SESSION_FORMAT[spark] = name
    return name


def read_delta_lite_stream(spark, table_path: str, **options):
    """Convenience: register + build the streaming DataFrame."""
    fmt = register_delta_stream_source(spark)
    reader = spark.readStream.format(fmt).option("path", table_path)
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()
