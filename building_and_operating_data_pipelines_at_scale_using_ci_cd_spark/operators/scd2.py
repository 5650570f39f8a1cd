"""W5: SCD Type 2 merge (``spark.json:73`` scdType2Insert, ``spark.json:91``
savemode scd2; exercised by the reference's ``scd2_daily_ranges`` task,
``example-shareprice.py:150``).

Semantics (slowly-changing dimension, type 2):
  - target keeps full history: each business key has N versioned rows with
    ``eff_start_ts`` / ``eff_end_ts`` / ``is_current``; exactly one current
    row per key; intervals non-overlapping.
  - merging an incoming snapshot:
      * new key              → insert as current
      * changed attributes   → close the old current row (end_ts = effective
                               ts, is_current = false) and insert a new
                               current version
      * unchanged            → carry through untouched (idempotent re-runs)

Implementation is a pure DataFrame program (no Delta dependency): one join
of incoming against current rows on the business key + an xxhash64 change
fingerprint, then a union of (history, closed, carried, inserted). At scale:

  - the join shuffles on the business key; if the dimension's current slice
    is small (typical), Catalyst/AQE broadcastifies it — we also pre-split
    target into current/history so only the current slice joins at all.
  - change detection via ``xxhash64`` over the compare columns avoids a
    wide column-by-column comparison and handles NULLs consistently.
  - the rewritten table is written once; history rows are carried through
    unchanged (for file sinks this is the standard overwrite pattern).
    Into a delta-lite table, ``sources/delta_lite.merge_scd2_delta_lite``
    feeds this merge only the files holding a matched current key and
    rewrites just those.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EFF_START = "eff_start_ts"
EFF_END = "eff_end_ts"
IS_CURRENT = "is_current"
SCD2_META_COLS = [EFF_START, EFF_END, IS_CURRENT]

#: open-ended "current" sentinel kept finite so sorting/serialization is sane
_HIGH_TS = "9999-12-31 23:59:59"


def require_scd2_columns(columns: list[str], target: str = "") -> None:
    """Refuse an existing target that lacks the SCD2 meta columns: such a
    table (e.g. one a simpleInsert loaded before) is almost certainly a
    config mistake, and merging into it would destroy it."""
    if not set(SCD2_META_COLS) <= set(columns):
        where = repr(target) if target else f"with columns {list(columns)}"
        raise ValueError(
            f"scdType2Insert target {where} exists but lacks the SCD2 meta "
            f"columns {SCD2_META_COLS}; refusing to overwrite a non-SCD2 "
            "table — point the target elsewhere or migrate it"
        )


def _fingerprint(cols: list[str]):
    """Order-stable change hash over the compare columns. NULL-safe: each
    column is cast to string with a NULL sentinel before hashing."""
    return F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL")) for c in cols])


def _dedup_incoming(incoming: DataFrame, keys: list[str], order_cols: list[str]) -> DataFrame:
    """One deterministic survivor per business key (greatest row under a
    total order over the non-key columns). No-op plan-wise when keys are
    already unique; guards the merge's one-current-row invariant when the
    snapshot arrives with duplicates (scdType2Insert targets don't pass
    through the V2 validation split)."""
    if not order_cols:
        return incoming.dropDuplicates(keys)
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc_nulls_last() for c in order_cols])
    return (
        incoming.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def scd2_initial(incoming: DataFrame, effective_ts) -> DataFrame:
    """First load: everything becomes the current version."""
    return (
        incoming.withColumn(EFF_START, F.lit(effective_ts).cast("timestamp"))
        .withColumn(EFF_END, F.lit(_HIGH_TS).cast("timestamp"))
        .withColumn(IS_CURRENT, F.lit(True))
    )


def scd2_merge(
    target: DataFrame | None,
    incoming: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
    effective_ts=None,
    hits=None,
) -> DataFrame:
    """Merge an incoming snapshot into an SCD2 target; returns the full
    rewritten table (history + closed + carried + inserted).

    ``hits`` (an Observation) observes, as ``hits``, the count of the
    target's current rows that an incoming key matches, in the merge's
    own join — how a delta-lite MERGE learns whether it touched a file.

    ``target`` rows must carry the SCD2 meta columns (as produced by this
    function / ``scd2_initial``). ``compare_cols`` defaults to all non-key,
    non-meta columns. ``effective_ts`` defaults to current_timestamp() —
    pass an explicit value for reproducible pipelines.

    The incoming snapshot is deduplicated per business key first (keeping
    the greatest row under a total order over the non-key columns):
    duplicate incoming keys would otherwise fan out the merge join and
    produce several simultaneous "current" versions of one key, violating
    the one-current-row invariant. The dedup window shuffles on the same
    keys the merge join uses, so it adds no extra exchange at scale.
    """
    eff = F.lit(effective_ts).cast("timestamp") if effective_ts is not None else F.current_timestamp()

    if target is None or not target.columns:
        incoming = _dedup_incoming(incoming, keys, [c for c in incoming.columns if c not in keys])
        return scd2_initial(incoming, effective_ts if effective_ts is not None else F.current_timestamp())

    require_scd2_columns(target.columns)
    data_cols = [c for c in target.columns if c not in SCD2_META_COLS]
    missing = set(data_cols) - set(incoming.columns)
    if missing:
        raise ValueError(f"incoming snapshot missing columns: {sorted(missing)}")
    incoming = _dedup_incoming(incoming.select(*data_cols), keys, [c for c in data_cols if c not in keys])
    compare = compare_cols or [c for c in data_cols if c not in keys]

    fp = _fingerprint(compare)
    # ONE join: only the current slice participates, history is carried
    # through without touching the shuffle. The incoming side's columns are
    # all renamed (not aliased) so repeated merges over shared lineage never
    # hit Spark's self-join attribute ambiguity — and because the incoming
    # data columns ride along through the join, the insert lane needs no
    # second join back to `incoming`.
    history = target.filter(~F.col(IS_CURRENT))
    current = target.filter(F.col(IS_CURRENT)).withColumn("__t_fp", fp)
    inc_side = incoming.select(
        fp.alias("__i_fp"), *[F.col(c).alias(f"__i_{c}") for c in data_cols]
    )
    from functools import reduce
    from operator import and_

    cond = reduce(and_, [current[k].eqNullSafe(inc_side[f"__i_{k}"]) for k in keys])
    joined = current.join(inc_side, cond, "full_outer")
    if hits is not None:
        joined = joined.observe(
            hits,
            F.count_if(F.col("__t_fp").isNotNull() & F.col("__i_fp").isNotNull()).alias("hits"),
        )

    # ONE pass over the joined rows (round-12 optimization): the previous
    # form filtered the same join three times and unioned the lanes, but
    # per-lane filter pushdown makes the three exchange subtrees
    # non-identical, so Catalyst's exchange reuse never fired and the
    # full-outer join (and both its inputs) executed 3× (measured: zero
    # ReusedExchange in the plan). Instead, each joined row emits its
    # lane rows from one array-of-structs explode — a "changed" key
    # yields closed+insert (2 rows), "no news"/identical yields the
    # carried row, a new key yields its insert — exactly delta-spark's
    # single-pass MERGE output shape. Insert-lane columns are CAST TO
    # THE TARGET'S TYPES — store-assignment semantics, like delta-spark
    # MERGE. (This is a deliberate change from the pre-round-12
    # unionByName form, which WIDENED to the common type: a bigint
    # incoming column merged into an int target used to widen the
    # OUTPUT to bigint; now the target schema wins.) A lossy numeric
    # narrowing is refused rather than silently truncated:
    t_types = {f.name: f.dataType for f in target.schema.fields}
    _num_rank = {
        "byte": 1, "short": 2, "integer": 3, "long": 4,
        "float": 5, "double": 6,
    }
    i_types = {f.name: f.dataType for f in incoming.schema.fields}
    for c in data_cols:
        it, tt = i_types.get(c), t_types[c]
        if it is None or it == tt:
            continue
        ir = _num_rank.get(it.typeName())
        tr = _num_rank.get(tt.typeName())
        if ir is not None and tr is not None and ir > tr:
            raise ValueError(
                f"scd2_merge: incoming column {c!r} is {it.simpleString()} "
                f"but the target declares {tt.simpleString()} — a lossy "
                f"narrowing; cast the incoming snapshot explicitly if the "
                f"values are known to fit"
            )
    changed = (
        F.col("__t_fp").isNotNull()
        & F.col("__i_fp").isNotNull()
        & (F.col("__t_fp") != F.col("__i_fp"))
    )
    kept = F.col("__t_fp").isNotNull() & (
        F.col("__i_fp").isNull() | (F.col("__t_fp") == F.col("__i_fp"))
    )
    inserted = F.col("__i_fp").isNotNull() & (
        F.col("__t_fp").isNull() | (F.col("__t_fp") != F.col("__i_fp"))
    )

    def _lane(cols_map: dict) -> Column:
        return F.struct(
            *[cols_map[c].alias(c) for c in data_cols + SCD2_META_COLS]
        )

    closed_s = _lane(
        {
            **{c: F.col(c) for c in data_cols},
            EFF_START: F.col(EFF_START),
            EFF_END: eff,
            IS_CURRENT: F.lit(False),
        }
    )
    carried_s = _lane({c: F.col(c) for c in data_cols + SCD2_META_COLS})
    insert_s = _lane(
        {
            **{
                c: F.col(f"__i_{c}").cast(t_types[c])
                for c in data_cols
            },
            EFF_START: eff,
            EFF_END: F.lit(_HIGH_TS).cast("timestamp"),
            IS_CURRENT: F.lit(True),
        }
    )
    lanes = F.array_compact(
        F.array(
            F.when(changed, closed_s),
            F.when(kept, carried_s),
            F.when(inserted, insert_s),
        )
    )
    merged_rows = joined.select(F.explode(lanes).alias("__r")).select("__r.*")

    out_cols = data_cols + SCD2_META_COLS
    return history.select(*out_cols).unionByName(merged_rows.select(*out_cols))
