"""phase_3 sinks and load modes (SURVEY.md §2.5, W1-W13).

Reference surface: file sinks in every format with savemode
overwrite/append/scd2 (``spark.json:83-94``), single-file output with a
name prefix (``spark.json:77-78,89-90``), compression (``spark.json:93``),
JDBC sink (``spark.json:71,74``), load types
simpleInsert/scdType2Insert/truncateInsert (``spark.json:73``), multi-sink
fan-out (``spark.json:69-96``), error quarantine (``spark.json:97-101``),
input archival (``spark.json:10-12``).

Scale notes:
  - ``singleFile`` forces ``coalesce(1)`` — correct only for small exports;
    it is opt-in exactly as in the dialect and never a default.
  - partitioned writes (``partitionBy``) are exposed so big tables land
    partition-pruned for downstream scans.
  - SCD2 load reads the existing target, merges (one key-shuffle join),
    writes to a staging dir, then swaps — a file-sink emulation of Delta
    MERGE that stays atomic-per-run on a real object store via rename.
"""

from __future__ import annotations

import os
import shutil
import urllib.parse
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.scd2 import scd2_merge, SCD2_META_COLS
from ..operators.validation import ERROR_REASON

if TYPE_CHECKING:
    from pyspark.sql import Column

    from ..config import ErrorSinkSpec, TargetSpec

_FORMAT_ALIASES = {"deltalake": "delta", "txt": "text"}

#: xlsx hard sheet limit (1,048,576 rows) minus the header row
_EXCEL_MAX_ROWS = 1_048_575


def _fmt(fmt: str) -> str:
    return _FORMAT_ALIASES.get(fmt, fmt)


def _fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through Hadoop FS — ``os.path.exists`` silently
    answers False for s3a://, hdfs://, … paths, which elsewhere would
    misread a populated object-store table as absent."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath)


def _single_file_rename(spark: SparkSession, path: str, prefix: str | None) -> None:
    """W3: collapse the part-file to ``<prefix>.<ext>``, keeping the part
    file's real extension chain (e.g. ``.csv.gz`` under compression — a
    renamed file that drops the codec suffix reads back as garbage).

    Hadoop-FS ``globStatus``/``rename``, same discipline as ``_swap_dirs``:
    the previous glob/shutil version worked only on the local filesystem
    and SILENTLY skipped the rename on s3a://hdfs:// targets. Finding no
    part file is now an error, not a no-op."""
    if not prefix:
        return
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path
    fs = jpath(path).getFileSystem(hconf)
    parts = sorted(
        (st.getPath() for st in fs.globStatus(jpath(path.rstrip("/") + "/part-*"))),
        key=lambda p: p.getName(),
    )
    if not parts:
        raise IOError(
            f"singleFile rename: no part-* file under {path!r} — "
            "the write produced nothing or the path glob is wrong"
        )
    base = parts[0].getName()
    ext = base.split(".", 1)[1] if "." in base else ""
    target = jpath(path.rstrip("/") + "/" + (f"{prefix}.{ext}" if ext else prefix))
    if not fs.rename(parts[0], target):
        raise IOError(f"singleFile rename failed: {parts[0]} -> {target}")
    for leftover in parts[1:]:  # shouldn't exist after coalesce(1)
        fs.delete(leftover, False)
    # drop checksum sidecars (still valid after the rename — Checksum-
    # FileSystem renames them alongside — but noise in an export dir).
    # They are hidden from the checksum FS's own listings, so go through
    # the raw FS; object-store FSes have no raw layer and no sidecars.
    try:
        raw = fs.getRawFileSystem()
    except Exception:
        raw = None
    if raw is not None:
        for crc in raw.globStatus(jpath(path.rstrip("/") + "/.*.crc")):
            raw.delete(crc.getPath(), False)


def _write_file(
    df: DataFrame, spec: "TargetSpec", mode: str, txn: tuple | None = None
) -> int | None:
    """Write a file target; returns the table version a delta-lite write
    left, None for every other format."""
    fmt = _fmt(spec.file_format)
    out = df.coalesce(1) if spec.single_file else df
    if spec.sort_by:
        # W-posture: clustering rows inside files makes columnar min/max
        # row-group stats selective, so later filtered scans skip data.
        # After the coalesce, so a single-file export sorts globally.
        out = out.sortWithinPartitions(*spec.sort_by)
    writer = out.write.mode(mode)
    if spec.options:
        # pass-through writer options (e.g. xml rowTag/rootTag, csv quote
        # chars); unknown keys are ignored by the datasource, so sftp
        # transport options riding in the same dict are harmless here
        writer = writer.options(**spec.options)
    if fmt == "csv":
        writer = writer.option("header", str(spec.header).lower())
    if spec.compression:
        writer = writer.option("compression", spec.compression)
    if spec.partition_by:
        writer = writer.partitionBy(*spec.partition_by)
    if fmt == "excel":
        # no core writer — pandas bridge, inherently single-file. ONE
        # bounded collect (limit N+1 → pandas → len check) so a config typo
        # (pointing a big table at an excel sink) fails fast instead of
        # OOMing the driver, and a nondeterministic upstream can't pass a
        # separate count probe yet exceed the cap at collect time. sortBy
        # becomes a GLOBAL orderBy — one sheet, one order.
        src = df.orderBy(*spec.sort_by) if spec.sort_by else df
        pdf = src.limit(_EXCEL_MAX_ROWS + 1).toPandas()
        if len(pdf) > _EXCEL_MAX_ROWS:
            raise ValueError(
                f"excel sink '{spec.path}': input exceeds {_EXCEL_MAX_ROWS} "
                "rows (xlsx sheet limit); use a distributed format"
            )
        try:
            pdf.to_excel(spec.path, index=False)
        except ImportError:
            # no openpyxl: the vendored SpreadsheetML subset writer
            from ..sources.xlsx_lite import write_xlsx

            write_xlsx(
                spec.path,
                [str(c) for c in pdf.columns],
                [
                    tuple(None if v != v else v for v in row)  # NaN -> None
                    for row in pdf.itertuples(index=False, name=None)
                ],
            )
        return None
    if _is_delta_lite(spec):
        # S9/W2 executed for real without delta-spark: the in-repo
        # transaction-log implementation (sources/delta_lite.py). Stages
        # through Spark's parquet writer, then records one atomic commit.
        # options.replaceWhere (with an overwrite load) reloads ONLY the
        # rows matching the predicate — the daily-partition-reload shape.
        # ``txn`` makes a replayed streaming micro-batch a no-op.
        from ..sources.delta_lite import write_delta_lite

        return write_delta_lite(
            out,
            spec.path,
            mode=mode,
            partition_by=spec.partition_by,
            replace_where=spec.options.get("replaceWhere"),
            txn=txn,
        )
    writer.format(fmt).save(spec.path)
    if spec.single_file:
        _single_file_rename(df.sparkSession, spec.path, spec.output_file_name_prefix)
    return None


def _write_catalog(df: DataFrame, spec: "TargetSpec", mode: str) -> None:
    """dataTarget=catalog: persist to the session catalog, optionally
    bucketed (+ bucket-sorted) on a join key — two tables bucketed alike
    join with no shuffle and no sort, the amortize-one-shuffle answer for
    repeated large⋈large joins (see ``operators/scale.py``)."""
    if not spec.table_name:
        raise ValueError("catalog target needs tableName")
    writer = df.write.mode(mode)
    if spec.bucket_by:
        writer = writer.bucketBy(spec.num_buckets, *spec.bucket_by).sortBy(
            *(spec.sort_by or spec.bucket_by)
        )
    writer.format(_fmt(spec.file_format)).saveAsTable(spec.table_name)


def _write_jdbc(df: DataFrame, spec: "TargetSpec", mode: str) -> None:
    """W8 database sink; truncateInsert maps to overwrite+truncate so the
    DDL survives (``spark.json:73``)."""
    writer = df.write.format("jdbc").option("url", spec.jdbc_url).option(
        "dbtable", spec.table_name
    ).mode(mode)
    if mode == "overwrite" and spec.load_type == "truncateInsert":
        writer = writer.option("truncate", "true")
    for k, v in spec.jdbc_properties.items():
        writer = writer.option(k, v)
    writer.save()


def _write_sftp(spark: SparkSession, df: DataFrame, spec: "TargetSpec", mode: str) -> None:
    """W9 (``spark.json:85-86`` dataTarget sftp): mirror of the S11 staged
    fetch — write to a local temp dir through the normal file writer (so
    every format / compression / singleFile-prefix combination works
    unchanged), then ``put`` the produced files to ``remoteDirPath`` over
    the shared paramiko transport. Gated exactly like the source."""
    try:
        import paramiko  # noqa: F401 — gate only; transport built in ..sftp
    except ImportError as e:
        raise NotImplementedError(
            "sftp sink requires paramiko (not in this container); "
            "write locally and push out-of-band"
        ) from e
    if not spec.sftp_host:
        raise ValueError(f"sftp target '{spec.dataframe_name}' needs sftpServerName")
    remote = spec.remote_path or spec.path
    if not remote:
        raise ValueError(f"sftp target '{spec.dataframe_name}' needs remoteDirPath")

    import dataclasses
    import tempfile

    from ..sftp import connect, upload

    stage = tempfile.mkdtemp(prefix="sftp_out_")
    local_path = os.path.join(stage, "payload")
    staged_spec = dataclasses.replace(
        spec, data_target="local", path=local_path, remote_path=None
    )
    _write_file(df, staged_spec, mode)
    if not os.path.isdir(local_path):  # excel writes a single file directly
        local_path = local_path if os.path.exists(local_path) else stage
    transport, sftp = connect(spec.sftp_host, spec.options)
    try:
        upload(sftp, local_path, remote)
    finally:
        sftp.close()
        transport.close()
    shutil.rmtree(stage, ignore_errors=True)


def _has_delta_spark() -> bool:
    try:  # pragma: no cover - delta-spark not in this container
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def _read_back(spark: SparkSession, spec: "TargetSpec") -> DataFrame:
    """Read a target back for reconciliation / pre-count: a catalog
    target through ``spark.table``, a database target through a JDBC
    read of its table, a file target by its format. Format-aware: a
    delta target is a transaction log, not a parquet glob —
    ``spark.read.format('delta')`` needs delta-spark, so without it the
    read-back routes through delta_lite (same routing as the S9 reader;
    a raw glob would double-count removed-but-unvacuumed files)."""
    if spec.data_target == "catalog":
        return spark.table(spec.table_name)
    if spec.data_target == "database":
        reader = spark.read.format("jdbc").option("url", spec.jdbc_url)
        for k, v in spec.jdbc_properties.items():
            reader = reader.option(k, v)
        return reader.option("dbtable", spec.table_name).load()
    fmt = _fmt(spec.file_format)
    if fmt == "delta" and not _has_delta_spark():
        from ..sources.delta_lite import read_delta_lite

        return read_delta_lite(spark, spec.path)
    return spark.read.format(fmt).load(spec.path)


def _is_delta_lite(spec: "TargetSpec") -> bool:
    """A file target that ``_write_file`` hands to delta-lite."""
    return (
        spec.data_target not in ("catalog", "database", "sftp")
        and _fmt(spec.file_format) == "delta"
        and not _has_delta_spark()
    )


def _footer_rows(path: str) -> int:
    """Sum of the footer row counts of the parquet files a read of the
    local directory ``path`` (hive partition dirs included) would scan —
    the same counts Spark's own parquet ``count()`` reads."""
    import pyarrow.parquet as pq

    from ..sources.readers import _hidden

    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        for name in files:
            if not _hidden(name):
                total += pq.ParquetFile(os.path.join(root, name)).metadata.num_rows
    return total


def _target_rows(spark: SparkSession, spec: "TargetSpec") -> int:
    """The row count a read-back of the target would give, from metadata
    where the target keeps it: a delta-lite table's add stats, or the
    footers of a local parquet target. Any other target — other formats,
    non-local paths, catalog and database tables, a delta-lite add
    without a row count, a footer pyarrow cannot parse — is read back
    and counted."""
    if _is_delta_lite(spec):
        from ..sources.delta_lite import live_row_count

        rows = live_row_count(spec.path)
        if rows is not None:
            return rows
    elif (
        spec.data_target not in ("catalog", "database", "sftp")
        and _fmt(spec.file_format) == "parquet"
    ):
        url = urllib.parse.urlparse(spec.path)
        if url.scheme in ("", "file"):
            try:
                return _footer_rows(url.path if url.scheme else spec.path)
            except (OSError, ValueError, NotImplementedError):
                pass  # a footer pyarrow cannot parse: Spark's count decides
    return _read_back(spark, spec).count()


def _delta_table(spark: SparkSession, path: str):
    """Gated Delta handle: returns the DeltaTable at ``path`` or None when
    delta-spark is absent / the path is not a Delta table."""
    try:  # pragma: no cover - delta-spark not in this container
        from delta.tables import DeltaTable

        if DeltaTable.isDeltaTable(spark, path):
            return DeltaTable.forPath(spark, path)
    except ImportError:
        pass
    return None


def _scd2_delta_merge(spark: SparkSession, dt, df: DataFrame, spec: "TargetSpec") -> None:
    """SCD2 via Delta ``MERGE INTO`` (reference ``spark.json:19,73,91``):
    rewrites only the files holding matched current rows instead of the
    whole table — the at-scale upgrade over the file-sink rewrite below.

    Standard two-lane staging: each incoming row appears once keyed (to
    close a changed current row) and, when it changes an existing key,
    once with a NULL merge key (to fall through to the insert clause)."""
    from pyspark.sql import functions as F

    from ..operators.scd2 import EFF_END, EFF_START, IS_CURRENT, _HIGH_TS

    keys = spec.scd2_keys
    eff = (
        F.lit(spec.scd2_effective_col).cast("timestamp")
        if spec.scd2_effective_col
        else F.current_timestamp()
    )
    staged, data_cols, compare = _scd2_merge_staging(
        dt.toDF(), df, keys, spec.scd2_compare_cols
    )
    # plain '=' (not null-safe): the NULL-keyed staging lane must never
    # match — it exists to fall through to the insert clause.
    cond = " AND ".join(
        f"t.{k} = s.__mk_{k}" for k in keys
    ) + f" AND t.{IS_CURRENT} = true"
    (
        dt.alias("t")
        .merge(staged.alias("s"), cond)
        .whenMatchedUpdate(
            condition=f"t.{IS_CURRENT} = true AND s.__fp <> {_fingerprint_sql(compare, 't')}",
            set={EFF_END: eff, IS_CURRENT: F.lit(False)},
        )
        .whenNotMatchedInsert(
            values={
                **{c: F.col(f"s.{c}") for c in data_cols},
                EFF_START: eff,
                EFF_END: F.lit(_HIGH_TS).cast("timestamp"),
                IS_CURRENT: F.lit(True),
            }
        )
        .execute()
    )


def _scd2_merge_staging(
    target_df: DataFrame,
    incoming_df: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None,
):
    """The two-lane staged DataFrame feeding the Delta MERGE — factored out
    of the (delta-gated) merge call so its lane logic is testable without
    delta-spark. Returns ``(staged, data_cols, compare)``.

    Lanes, per incoming row (deduplicated one-per-key first — duplicate
    incoming keys would otherwise abort the MERGE with multiple-source-
    rows-matched):
      - KEYED (``__mk_<k>`` = key): matches its current target row, firing
        whenMatchedUpdate to close it when the fingerprint changed;
      - NULL-KEY (``__mk_<k>`` = NULL, ONLY for rows whose fingerprint
        differs from their matched current row): never matches, falling
        through to whenNotMatchedInsert with the row's new version. A
        brand-new key needs no NULL-key row — its KEYED row already
        matches nothing and inserts (a second lane would double-insert)."""
    from pyspark.sql import functions as F

    from ..operators.scd2 import IS_CURRENT, _dedup_incoming, _fingerprint

    data_cols = [c for c in target_df.columns if c not in SCD2_META_COLS]
    compare = compare_cols or [c for c in data_cols if c not in keys]
    fp = _fingerprint(compare)

    incoming = _dedup_incoming(
        incoming_df.select(*data_cols), keys, [c for c in data_cols if c not in keys]
    ).withColumn("__fp", fp)
    current = target_df.filter(F.col(IS_CURRENT)).withColumn("__fp", fp)
    changed = incoming.alias("i").join(
        current.alias("t"),
        [incoming[k].eqNullSafe(current[k]) for k in keys],
        "inner",
    ).filter(F.col("i.__fp") != F.col("t.__fp")).select("i.*")

    staged = incoming.select(
        *[F.col(k).alias(f"__mk_{k}") for k in keys], "*"
    ).unionByName(
        changed.select(*[F.lit(None).alias(f"__mk_{k}") for k in keys], "*")
    )
    return staged, data_cols, compare


def _fingerprint_sql(cols: list[str], alias: str) -> str:
    """SQL text twin of ``operators.scd2._fingerprint`` for MERGE conditions."""
    parts = ", ".join(f"coalesce(cast({alias}.{c} as string), '\\u0000NULL')" for c in cols)
    return f"xxhash64({parts})"


def _swap_dirs(spark: SparkSession, staging: str, final: str) -> None:
    """Replace ``final`` with ``staging`` via Hadoop FS renames (works on
    any supported filesystem, not just local): rename the old table aside,
    rename staging in, then delete the old copy. A crash mid-swap leaves
    either the old table in place or the old copy under ``__old`` —
    recoverable by hand — never zero copies (the failure mode of
    delete-then-move)."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jstaging = jvm.org.apache.hadoop.fs.Path(staging)
    jfinal = jvm.org.apache.hadoop.fs.Path(final)
    fs = jfinal.getFileSystem(hconf)
    aside = jvm.org.apache.hadoop.fs.Path(final.rstrip("/") + "__old")
    if fs.exists(aside):
        fs.delete(aside, True)
    had_old = fs.exists(jfinal)
    if had_old and not fs.rename(jfinal, aside):
        raise IOError(f"could not move existing table aside: {final}")
    if not fs.rename(jstaging, jfinal):
        if had_old:
            fs.rename(aside, jfinal)  # roll back
        raise IOError(f"could not move staging into place: {staging} -> {final}")
    if had_old:
        fs.delete(aside, True)


def _scd2_write(spark: SparkSession, df: DataFrame, spec: "TargetSpec") -> int | None:
    """W5 as a load mode. With delta-spark present and a Delta target, the
    merge is a Delta ``MERGE INTO`` (rewrites only matched files); the
    file-sink fallback merges in Spark and swaps the rewritten table in
    via Hadoop-FS renames. Returns the version a delta-lite merge
    committed, else None."""
    fmt = _fmt(spec.file_format)
    keys = spec.scd2_keys
    if not keys:
        raise ValueError(f"scdType2Insert target '{spec.path}' needs scd2Keys")
    if not spec.path:
        raise ValueError("scdType2Insert needs a target path")

    if fmt == "delta":
        dt = _delta_table(spark, spec.path)
        if dt is not None:  # pragma: no cover - delta-spark not in container
            _scd2_delta_merge(spark, dt, df, spec)
            return None
        if not _has_delta_spark():
            # the delta-lite lane: real transaction-log MERGE that rewrites
            # only matched files (and creates the table on first load),
            # replacing the full-table swap the plain file sink needs
            from ..sources.delta_lite import merge_scd2_delta_lite

            return merge_scd2_delta_lite(
                spark,
                spec.path,
                df,
                keys=keys,
                compare_cols=spec.scd2_compare_cols or None,
                effective_ts=spec.scd2_effective_col,
            )

    # scd2_merge refuses an existing table that lacks the SCD2 meta columns
    target = (
        spark.read.format(fmt).load(spec.path) if _fs_exists(spark, spec.path) else None
    )
    merged = scd2_merge(
        target,
        df,
        keys=keys,
        compare_cols=spec.scd2_compare_cols or None,
        effective_ts=spec.scd2_effective_col,
    )
    staging = spec.path.rstrip("/") + "__staging"
    merged.write.mode("overwrite").format(fmt).save(staging)
    _swap_dirs(spark, staging, spec.path)
    return None


def write_target(
    spark: SparkSession, df: DataFrame, spec: "TargetSpec", txn: tuple | None = None
) -> dict:
    """Write one target_record_insert entry and return its run record:
    ``path`` and ``loadType``; for a delta-lite target the commit's
    ``version``, ``filesAdded``, ``filesRemoved``, ``bytesAdded`` and
    ``matchedFiles``, read from its log entry; and the reconciliation
    (V6, ``spark.json:80``) when requested:

      - count (the default): ``expected`` is observed on the target write
        itself, so the rows are counted as they are written, with no job
        of their own. ``written`` (and, for an append, the ``pre_existing``
        rows counted before the write) comes from metadata where the
        target keeps it — delta-lite add stats or local parquet footers —
        and from a read-back count otherwise;
      - ``reconciliationMode=hash``: checksums of the source and a
        read-back of the target;
      - scdType2Insert: the snapshot's distinct business keys against the
        target's current rows (ok when there are at least as many current
        rows; keys missing from a snapshot keep their current row).

    ``txn=(app_id, version)`` reaches a delta-lite file write as its
    idempotent-writer ``txn`` action (see ``write_delta_lite``); other
    targets ignore it."""
    from ..operators.reconcile import reconcile_counts, reconcile_hash

    load = spec.load_type or "simpleInsert"
    # validate early: a typo'd loadType (wrong case, misspelling) must not
    # silently fall through to a plain overwrite — for scdType2Insert that
    # would replace a versioned history table with a bare snapshot.
    known = {"simpleInsert", "truncateInsert", "scdType2Insert"}
    if load not in known:
        match = next((k for k in known if k.lower() == load.lower()), None)
        hint = f"; did you mean '{match}'?" if match else ""
        raise ValueError(f"unknown loadType '{load}' (expected one of {sorted(known)}){hint}")
    mode = spec.save_mode or {"simpleInsert": "append", "truncateInsert": "overwrite"}.get(
        load, "overwrite"
    )
    scd2 = mode == "scd2" or load == "scdType2Insert"
    hashed = spec.reconciliation_mode == "hash" and not scd2 and mode != "append"
    counted = spec.reconciliation and not scd2 and not hashed
    # V6 pre-count: an append onto a non-empty target must reconcile the
    # count DELTA, not the absolute target count (which includes rows from
    # previous loads and would fail a perfectly good append).
    pre_existing = 0
    if counted and mode == "append":
        try:
            pre_existing = _target_rows(spark, spec)
        except Exception:
            pre_existing = 0  # absent/unreadable target: treat as fresh
    if counted:
        # before any coalesce/sort the writer adds: every source row once
        rows = Observation()
        df = df.observe(rows, F.count(F.lit(1)).alias("rows"))
    delta_lite = _is_delta_lite(spec)
    if delta_lite:
        from ..sources.delta_lite import commit_stats, table_version

        before = table_version(spec.path)

    version = None
    if scd2:
        version = _scd2_write(spark, df, spec)
    elif spec.data_target == "catalog":
        _write_catalog(df, spec, mode)
    elif spec.data_target == "database":
        _write_jdbc(df, spec, mode)
    elif spec.data_target == "sftp":
        _write_sftp(spark, df, spec, mode)
    else:
        version = _write_file(df, spec, mode, txn)

    result: dict = {"path": spec.path, "loadType": load}
    committed = True
    if delta_lite:
        # a delta-lite write that found its txn applied, or an ``ignore``
        # write onto an existing table, commits nothing and runs no job
        committed = version > before
        result.update(commit_stats(spec.path, version) if committed else {"version": version})
    if not spec.reconciliation:
        return result
    if scd2:
        from ..operators.scd2 import IS_CURRENT

        expected = df.select(*spec.scd2_keys).distinct().count()
        written = _read_back(spark, spec).filter(F.col(IS_CURRENT)).count()
        result["reconciliation"] = {
            "mode": "count",
            "expected": expected,
            "written": written,
            "ok": written >= expected,
        }
    elif hashed:
        result["reconciliation"] = reconcile_hash(df, _read_back(spark, spec))
    else:
        expected = rows.get["rows"] if committed else df.count()
        result["reconciliation"] = reconcile_counts(
            expected, _target_rows(spark, spec), pre_existing
        )
    return result


def write_error_records(
    spark: SparkSession, bad: DataFrame, spec: "ErrorSinkSpec", reason: str | Column
) -> None:
    """W11: quarantine the error lane (``spark.json:97-101``) in one
    append, tagged with the failing validation: ``reason`` is one string
    for the whole lane, or a Column naming each row's validation."""
    from pyspark.sql import functions as F

    tagged = bad.withColumn(ERROR_REASON, F.lit(reason))
    if spec.file_target == "database":
        # quarantine straight into the DB next to the data it failed to
        # join — append-only so repeated runs accumulate an audit trail
        # (executed for real against the embedded Derby driver in
        # tests/test_jdbc_derby.py)
        if not spec.jdbc_url or not spec.table_name:
            raise ValueError("database error sink needs jdbcUrl + tableName")
        writer = (
            tagged.write.format("jdbc")
            .option("url", spec.jdbc_url)
            .option("dbtable", spec.table_name)
            .mode("append")
        )
        for k, v in spec.jdbc_properties.items():
            writer = writer.option(k, v)
        writer.save()
        return
    tagged.write.mode("append").format(_fmt(spec.file_format)).save(spec.path)


def archive_input(
    path: str, archive_path: str, delete_source: bool, spark: SparkSession
) -> None:
    """W12 (``spark.json:10-12``): copy processed input to the archive,
    optionally removing the source. The copy goes through Hadoop
    ``FileUtil`` so any supported filesystem works (s3a://, hdfs://,
    file://) — the same discipline as the SCD2 swap."""
    dest = archive_path.rstrip("/") + "/" + os.path.basename(path.rstrip("/"))
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jsrc = jvm.org.apache.hadoop.fs.Path(path)
    jdst = jvm.org.apache.hadoop.fs.Path(dest)
    src_fs = jsrc.getFileSystem(hconf)
    dst_fs = jdst.getFileSystem(hconf)
    dst_fs.mkdirs(jvm.org.apache.hadoop.fs.Path(archive_path))
    ok = jvm.org.apache.hadoop.fs.FileUtil.copy(
        src_fs, jsrc, dst_fs, jdst, bool(delete_source), True, hconf
    )
    if not ok:
        raise IOError(f"archival copy failed: {path} -> {dest}")
