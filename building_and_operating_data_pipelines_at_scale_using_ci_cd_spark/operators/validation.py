"""Validation operators (SURVEY.md §2.4, V1-V4).

The dialect diverts invalid rows to an error lane instead of failing the
job (``spark.json:41-52`` validations; ``spark.json:97-101`` error sink),
with a percent threshold gate (``spark.json:7``).

Scale notes:
  - Every split is a single-pass expression over the input — no self-join.
    The dedup split is one window (`row_number` over the PK) = one shuffle
    on the PK, the same shuffle a groupBy-dedup would pay, but it keeps
    every column and gives deterministic survivor selection.
  - ``tag_lanes`` is the engine's one pass: it names each row's lane in
    one column, so both lanes, their counts and the quarantine read the
    same rows and the window runs once.
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: internal column used by the dedup window; never leaks to outputs
_RN = "__pipelines_rn"

#: lane tag added by ``tag_lanes``: the failing validation, NULL when valid
ERROR_REASON = "__error_reason"


def _survivor_order(df: DataFrame, keys: list[str], order_by_cols: list[str] | None) -> list[Column]:
    """Window order that ranks the survivor of a PK group first:
    ``orderByCols`` latest-first, else every non-PK column ascending, so
    a re-run keeps the same survivor."""
    if order_by_cols:
        return [F.col(c).desc() for c in order_by_cols]
    return [F.col(c).asc() for c in df.columns if c not in keys] or [F.lit(1).asc()]


def null_pk_split(df: DataFrame, primary_keys: list[str]) -> tuple[DataFrame, DataFrame]:
    """V1 (spark.json:43-46): rows with NULL in any PK column are invalid.

    Returns ``(valid, invalid)``. Pure filter — no shuffle; pushes down to
    the scan for columnar sources.
    """
    if not primary_keys:
        return df, df.limit(0)
    bad_cond: Column = reduce(or_, [F.col(k).isNull() for k in primary_keys])
    return df.filter(~bad_cond), df.filter(bad_cond)


def dedup_split(
    df: DataFrame,
    primary_keys: list[str],
    order_by_cols: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """V2 (spark.json:47-51): keep one survivor per PK, chosen by
    ``orderByCols`` (latest-first); the rest go to the error lane.

    Returns ``(survivors, duplicates)``. One window = one hash-partition
    shuffle on the PK. The survivors keep their own ``row_number = 1``
    filter: Spark plans that filter as a per-partition WindowGroupLimit.
    """
    if not primary_keys:
        return df, df.limit(0)
    w = Window.partitionBy(*primary_keys).orderBy(*_survivor_order(df, primary_keys, order_by_cols))
    numbered = df.withColumn(_RN, F.row_number().over(w))
    survivors = numbered.filter(F.col(_RN) == 1).drop(_RN)
    duplicates = numbered.filter(F.col(_RN) > 1).drop(_RN)
    return survivors, duplicates


def tag_lanes(
    df: DataFrame,
    null_keys: list[str],
    dup_keys: list[str],
    order_by_cols: list[str] | None = None,
) -> DataFrame:
    """V1 + V2 as one projection: ``df`` plus ``__error_reason`` —
    ``'null_primary_key'``, ``'duplicate_record'`` or NULL for a valid
    row; an empty key list turns that validation off. The null-PK
    condition sorts first in the dedup window, so a null-PK row never
    outranks a valid one: the valid rows equal ``dedup_split`` of
    ``null_pk_split``'s valid rows, even when the key lists differ."""
    null_cond = reduce(or_, [F.col(k).isNull() for k in null_keys], F.lit(False))
    reason = F.when(null_cond, F.lit("null_primary_key"))
    if dup_keys:
        order = [null_cond.asc(), *_survivor_order(df, dup_keys, order_by_cols)]
        rn = F.row_number().over(Window.partitionBy(*dup_keys).orderBy(*order))
        reason = reason.when(rn > 1, F.lit("duplicate_record"))
    return df.select("*", reason.alias(ERROR_REASON))


def count_within_threshold(
    input_count: int, output_count: int, threshold: float
) -> bool:
    """V3+V4 (spark.json:66, :7): is |in - out| within ``threshold`` (a
    fraction) of the input? Threshold semantics: bad/variant rows divided by
    total input rows — documented choice, the reference never defines it."""
    if input_count == 0:
        return output_count == 0 or threshold >= 1.0
    return abs(input_count - output_count) / input_count <= threshold


def profile_columns(
    df: DataFrame,
    columns: list[str] | None = None,
    approx_distinct: bool = False,
    rsd: float = 0.05,
    distinct_mode: str | None = None,
) -> DataFrame:
    """Column profiling (the deequ/Glue-data-quality staple): one row per
    column with row count, null count, distinct count, and min/max
    rendered as strings — the validation-family report a pipeline owner
    reads before trusting a new feed.

    Shape at scale: ALL statistics come from ONE aggregate job — a
    single wide agg row (4 expressions per column, map-side partial
    everywhere) — then a literal-driven unpivot of that 1-row result
    into the report rows. No per-column scans, no driver-side loops:
    profiling an N-column 100 TB table costs one pass regardless of N.

    ``approx_distinct=True`` swaps the exact ``count_distinct`` for the
    HLL++ sketch (``approx_count_distinct`` at relative error ``rsd``).
    The exact form internally EXPANDS the aggregate — every distinct
    (column, value) pair survives the map side and crosses the shuffle,
    so a high-cardinality column (an id, a URL) makes the profile job
    shuffle roughly the table itself; the sketch is a fixed few-KB
    state per column at any cardinality. Same opt-in its sibling
    ``quality_quantile_cut`` has for percentiles; exact stays the
    default because a profile report is usually read for EXACT nulls/
    distincts at dev scale.

    ``distinct_mode`` supersedes the boolean: ``"exact"`` (default),
    ``"approx"``, or ``"both"`` — "both" emits ``n_distinct`` (exact)
    AND ``n_distinct_approx`` side by side, the calibration report that
    shows how far the sketch is from truth. Measured planning detail:
    any exact mode runs as TWO aggregates crossJoined (1-row × 1-row) —
    a slim pass for count/null/min/max (+ the HLL sketches for "both":
    fusing them into the slim pass is free, but fusing them into the
    EXPANDED pass measured 2× slower, 8.6s vs 3.8+0.5 at sf0.1) and a
    counts-only pass for the exact distincts. Spark plans N-column
    exact distincts through an Expand (each input row replicated N+1×);
    keeping min/max string buffers out of that aggregate keeps it a
    HashAggregate instead of a SortAggregate over the expanded stream
    (see the plan comment in the body). The expanded pass's volume
    dominates at any scale, so the extra scan stays a small constant
    fraction.

    min/max stringify via the column's natural CAST so the report schema
    is column-type-agnostic (timestamps render ISO, numerics decimal)."""
    from pyspark.sql import functions as F

    if distinct_mode is None:
        distinct_mode = "approx" if approx_distinct else "exact"
    if distinct_mode not in ("exact", "approx", "both"):
        raise ValueError("distinct_mode must be 'exact', 'approx', or 'both'")
    cols = columns or df.columns
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"unknown columns: {missing}")

    # Split the plan in two (round-12 optimization, guide §2.3/§7.2):
    #
    # - base pass: count/nulls/min/max (+ HLL sketches when approx is
    #   wanted) — a single GLOBAL aggregate with no Expand. min/max over
    #   string columns have variable-width buffers, so this aggregate
    #   falls back to SortAggregate — harmless here because a global
    #   aggregate has no grouping keys and therefore NO Sort.
    # - exact-distinct pass: ONLY the count_distinct expressions. Spark
    #   plans multi-column exact distincts through an Expand (rows ×
    #   (n_cols+1)); keeping the min/max buffers OUT of this aggregate
    #   keeps it a pure-count HashAggregate. The previous fused form
    #   dragged the string min/max buffers through the Expand, forcing
    #   SortAggregate + a full Sort of the expanded stream (measured at
    #   sf0.1: a 7-column orders profile sorted ~7× the table; the split
    #   replaced the Sort with hash aggregation).
    #
    # The joins are 1-row × 1-row broadcast crossJoins.
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"__nn_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
        ]
        if distinct_mode in ("approx", "both"):
            aggs.append(
                F.approx_count_distinct(F.col(c), rsd).alias(f"__nda_{c}")
            )
    wide = df.agg(*aggs)
    if distinct_mode in ("exact", "both"):
        nd_wide = df.agg(
            *[F.count_distinct(F.col(c)).alias(f"__nd_{c}") for c in cols]
        )
        wide = wide.crossJoin(F.broadcast(nd_wide))

    def _report(c: str):
        fields = [
            F.lit(c).alias("col_name"),
            F.col("__n").cast("bigint").alias("n_rows"),
            (F.col("__n") - F.col(f"__nn_{c}")).cast("bigint").alias("n_nulls"),
        ]
        if distinct_mode == "approx":
            fields.append(F.col(f"__nda_{c}").cast("bigint").alias("n_distinct"))
        else:
            fields.append(F.col(f"__nd_{c}").cast("bigint").alias("n_distinct"))
        if distinct_mode == "both":
            fields.append(
                F.col(f"__nda_{c}").cast("bigint").alias("n_distinct_approx")
            )
        fields += [
            F.col(f"__min_{c}").alias("min_value"),
            F.col(f"__max_{c}").alias("max_value"),
        ]
        return F.struct(*fields)

    reports = [_report(c) for c in cols]
    return wide.select(F.explode(F.array(*reports)).alias("r")).select("r.*")


# ---------------------------------------------------------------------------
# Rule-based expectations report (the Great-Expectations-style checkup)
# ---------------------------------------------------------------------------


class Expectation:
    """One data-quality rule. ``kind`` ∈ {not_null, unique, in_range,
    in_set, regex_match, row_count_between}; ``column`` names the target
    (ignored for row_count_between); params carry the bounds/set/pattern.

    Each rule compiles to a failure COUNT aggregate, so an arbitrary rule
    list is ONE wide aggregation pass over the input (plus one groupBy
    per `unique` rule — duplicate counting needs its own shuffle on that
    column, the dedup_split argument)."""

    KINDS = ("not_null", "unique", "in_range", "in_set", "regex_match",
             "row_count_between")

    def __init__(self, rule_id: str, kind: str, column: str | None = None,
                 lo=None, hi=None, values: list | None = None,
                 pattern: str | None = None):
        if kind not in self.KINDS:
            raise ValueError(f"unknown expectation kind {kind!r}; use one of {self.KINDS}")
        if kind != "row_count_between" and not column:
            raise ValueError(f"expectation {rule_id!r} ({kind}) needs a column")
        if kind in ("in_range", "row_count_between") and lo is None and hi is None:
            raise ValueError(f"expectation {rule_id!r} needs lo and/or hi")
        if kind == "in_set" and not values:
            raise ValueError(f"expectation {rule_id!r} needs a non-empty values list")
        if kind == "regex_match" and not pattern:
            raise ValueError(f"expectation {rule_id!r} needs a pattern")
        self.rule_id, self.kind, self.column = rule_id, kind, column
        self.lo, self.hi, self.values, self.pattern = lo, hi, values, pattern


def expectations_report(df: DataFrame, rules: list[Expectation]) -> DataFrame:
    """Evaluate every rule in (at most) two passes and return one row per
    rule: ``(rule_id, kind, column, n_rows, n_failed, passed)`` — all
    integers/booleans, strict cross-engine.

    Plan shape: all row-level rules (not_null / in_range / in_set /
    regex_match / row_count_between) fold into ONE wide aggregation (one
    scan, map-side partial); each `unique` rule adds one groupBy on its
    column with a bounded 1-row output (count of over-represented keys
    via sum(cnt) - count(*)). NULL semantics are explicit: range/set/
    regex rules fail NULLs (a NULL price is not "between 1 and 9"), the
    not_null rule exists to make that contract visible.
    """
    if not rules:
        raise ValueError("expectations_report needs at least one rule")
    aggs = [F.count("*").cast("bigint").alias("__n")]
    for r in rules:
        if r.kind == "unique":
            continue
        if r.kind == "not_null":
            fail = F.col(r.column).isNull()
        elif r.kind == "in_range":
            c = F.col(r.column)
            ok = F.lit(True)
            if r.lo is not None:
                ok = ok & (c >= F.lit(r.lo))
            if r.hi is not None:
                ok = ok & (c <= F.lit(r.hi))
            fail = ~F.coalesce(ok, F.lit(False))
        elif r.kind == "in_set":
            fail = ~F.coalesce(F.col(r.column).isin(*r.values), F.lit(False))
        elif r.kind == "regex_match":
            fail = ~F.coalesce(
                F.col(r.column).cast("string").rlike(r.pattern), F.lit(False)
            )
        else:  # row_count_between: evaluated on the 1-row aggregate below
            continue
        aggs.append(
            F.sum(fail.cast("bigint")).cast("bigint").alias(f"__f_{r.rule_id}")
        )
    wide = df.agg(*aggs)

    rows = []
    for r in rules:
        if r.kind == "unique":
            dup = (
                df.groupBy(r.column)
                .agg(F.count("*").alias("__c"))
                .agg(
                    F.sum("__c").cast("bigint").alias("__n"),
                    (F.sum("__c") - F.count("*")).cast("bigint").alias("__f"),
                )
            )
            rows.append(
                dup.select(
                    F.lit(r.rule_id).alias("rule_id"),
                    F.lit(r.kind).alias("kind"),
                    F.lit(r.column).alias("column"),
                    F.col("__n").alias("n_rows"),
                    F.col("__f").alias("n_failed"),
                    (F.col("__f") == 0).alias("passed"),
                )
            )
        elif r.kind == "row_count_between":
            ok = F.lit(True)
            if r.lo is not None:
                ok = ok & (F.col("__n") >= F.lit(int(r.lo)))
            if r.hi is not None:
                ok = ok & (F.col("__n") <= F.lit(int(r.hi)))
            rows.append(
                wide.select(
                    F.lit(r.rule_id).alias("rule_id"),
                    F.lit(r.kind).alias("kind"),
                    F.lit(r.column or "*").alias("column"),
                    F.col("__n").alias("n_rows"),
                    F.when(ok, F.lit(0)).otherwise(F.lit(1)).cast("bigint").alias("n_failed"),
                    ok.alias("passed"),
                )
            )
        else:
            rows.append(
                wide.select(
                    F.lit(r.rule_id).alias("rule_id"),
                    F.lit(r.kind).alias("kind"),
                    F.lit(r.column).alias("column"),
                    F.col("__n").alias("n_rows"),
                    F.col(f"__f_{r.rule_id}").alias("n_failed"),
                    (F.col(f"__f_{r.rule_id}") == 0).alias("passed"),
                )
            )
    out = rows[0]
    for x in rows[1:]:
        out = out.unionByName(x)
    return out


def psi_report(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    sub_bits: int = 4,
    scale: int = 10_000,
) -> DataFrame:
    """Population Stability Index — THE production drift metric for a
    numeric feature — between a reference slice and a current slice,
    over the deterministic log-bucket grid (``functions/sketches.py``):

        PSI = Σ_buckets (p_i − q_i) · ln(p_i / q_i)

    with add-one smoothing over the OBSERVED bucket union (so an empty
    bucket on one side contributes a finite penalty instead of ln 0).
    Bucket assignment is the integer-shift log-bucket index — exact on
    any engine; the ln terms follow the lm_cross_entropy rounding
    contract (both engines evaluate ln on the same rational double,
    quantized ONCE at the end: ``psi_x{scale} = floor(scale·PSI+0.5)``).

    Plan: one bounded sketch per slice (map + groupBy to ≤ 63·2^sub_bits
    rows), a full outer join of the two tiny sketches, windowed totals
    over the bounded bucket table, one 1-row aggregate. The slices
    themselves shuffle once each. Returns one row:
    ``(n_buckets, n_ref, n_cur, psi_x{scale})``. Values must be
    positive integers (quantize upstream, the logbucket contract).
    """
    from ..functions.sketches import logbucket_sketch

    r = logbucket_sketch(ref, value_col, sub_bits=sub_bits).withColumnRenamed(
        "cnt", "rc"
    )
    c = logbucket_sketch(cur, value_col, sub_bits=sub_bits).withColumnRenamed(
        "cnt", "cc"
    )
    both = (
        r.join(c, "bucket", "outer")
        .select(
            "bucket",
            F.coalesce(F.col("rc"), F.lit(0)).cast("bigint").alias("rc"),
            F.coalesce(F.col("cc"), F.lit(0)).cast("bigint").alias("cc"),
        )
    )
    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tot = both.select(
        "bucket", "rc", "cc",
        F.sum("rc").over(w).alias("nr"),
        F.sum("cc").over(w).alias("nc"),
        F.count("*").over(w).alias("nb"),
    )
    # smoothed shares over the observed-bucket union
    p = (F.col("rc") + F.lit(1)) / (F.col("nr") + F.col("nb"))
    q = (F.col("cc") + F.lit(1)) / (F.col("nc") + F.col("nb"))
    term = (p - q) * (F.log(p) - F.log(q))
    return tot.agg(
        F.count("*").cast("int").alias("n_buckets"),
        F.max("nr").cast("bigint").alias("n_ref"),
        F.max("nc").cast("bigint").alias("n_cur"),
        F.floor(F.sum(term) * F.lit(float(scale)) + F.lit(0.5))
        .cast("bigint")
        .alias(f"psi_x{int(scale)}"),
    )


def schema_diff(left: DataFrame, right: DataFrame) -> DataFrame:
    """Schema-drift report between two frames: one row per column name
    appearing in either schema, with status ``ok`` / ``type_mismatch``
    / ``only_left`` / ``only_right`` and both rendered types. Pure
    METADATA — no data is scanned (the report is built from the
    analyzed schemas and parallelized, bounded by column count) — so
    it costs the same on a 100 TB table as on a fixture. The upstream
    feed-changed-shape check a pipeline runs before V1-V7 touch rows."""
    lt = {f.name: f.dataType.simpleString() for f in left.schema.fields}
    rt = {f.name: f.dataType.simpleString() for f in right.schema.fields}
    rows = []
    for name in sorted(set(lt) | set(rt)):
        if name in lt and name in rt:
            status = "ok" if lt[name] == rt[name] else "type_mismatch"
        elif name in lt:
            status = "only_left"
        else:
            status = "only_right"
        rows.append((name, status, lt.get(name), rt.get(name)))
    return left.sparkSession.createDataFrame(
        rows,
        "col_name string, status string, type_left string, type_right string",
    )


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: list[str],
    k: int,
    sensitive_col: str | None = None,
) -> DataFrame:
    """k-anonymity (+ optional l-diversity) audit — the privacy gate a
    training corpus with person-level attributes runs before release:
    every row must share its QUASI-IDENTIFIER combination (e.g. zip +
    age-band + segment) with at least ``k-1`` others, or that row is
    re-identifiable by linkage.

    Returns ONE row: total rows, distinct quasi-groups, the smallest
    group, how many rows sit in groups below ``k`` (and that share in
    basis points, integer DIV), whether the table IS k-anonymous, and —
    when ``sensitive_col`` is given — the minimum per-group distinct
    count of the sensitive attribute (l-diversity: a group where every
    member shares one salary value leaks it even at k-anonymity).

    Plan: one groupBy on the quasi columns (map-side partial,
    high-cardinality key) to the group table, one 1-row aggregate over
    it — the corpus is scanned once; no windows, no joins. Exact
    integers throughout, so the oracle is strict."""
    if not quasi_cols:
        raise ValueError("k_anonymity_report needs at least one quasi column")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    aggs = [F.count("*").cast("bigint").alias("__ka_n")]
    if sensitive_col is not None:
        aggs.append(
            F.countDistinct(sensitive_col).cast("bigint").alias("__ka_l")
        )
    groups = df.groupBy(*quasi_cols).agg(*aggs)
    out = groups.agg(
        F.sum("__ka_n").cast("bigint").alias("n_rows"),
        F.count("*").cast("bigint").alias("n_groups"),
        F.min("__ka_n").cast("bigint").alias("min_group_size"),
        F.sum(F.when(F.col("__ka_n") < k, F.col("__ka_n")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("rows_below_k"),
        *(
            [F.min("__ka_l").cast("bigint").alias("min_l_diversity")]
            if sensitive_col is not None
            else []
        ),
    )
    cols = [
        F.lit(int(k)).alias("k"),
        "n_rows",
        "n_groups",
        "min_group_size",
        "rows_below_k",
        F.expr("CAST(rows_below_k * 10000 DIV n_rows AS BIGINT)").alias(
            "at_risk_bp"
        ),
        (F.col("min_group_size") >= k).alias("k_anonymous"),
    ]
    if sensitive_col is not None:
        cols.append(F.col("min_l_diversity"))
    return out.select(*cols)


def generalize_to_k(
    df: DataFrame,
    k: int,
    ladder: list[dict[str, str]],
    max_suppression_bp: int = 0,
    level_col: str = "gen_level",
    sensitive_col: str | None = None,
    l_diversity: int = 1,
) -> DataFrame:
    """k-anonymity ENFORCEMENT — the producer twin of
    :func:`k_anonymity_report`: coarsen quasi-identifier columns along a
    caller-supplied generalization ladder until the residual
    below-``k`` share fits the suppression budget, then SUPPRESS (drop)
    the rows still in below-``k`` groups.  The output therefore always
    re-audits ``k_anonymous = true`` (property-tested).

    ``ladder`` is an ordered list of levels, least → most general.
    Each level maps quasi column names (must exist in ``df``) to a SQL
    expression computing that column's value at that level — level 0 is
    typically identity.  Expressions may reference the QUASI columns
    only (they are evaluated over the reduced distinct-quasi group
    table, not the corpus — that is what makes level stats
    corpus-size-independent); referencing any other input column raises
    at construction.  All levels must share one key set.  The chosen level is the FIRST whose below-k
    rows satisfy ``rows_below_k * 10000 <= max_suppression_bp *
    n_rows`` (exact integer cross-multiplication, no division), else
    the last level; suppression is thus minimal for the given ladder.

    ``sensitive_col``/``l_diversity`` extend the suppression rule to
    l-diversity (the audit's second axis): a group also suppresses —
    and counts against the budget — when its distinct sensitive-value
    count is below ``l_diversity``, so a release can't leak a sensitive
    attribute through a k-large but single-valued group.  The l
    constraint only engages for ``l_diversity > 1``: with the default 1
    a ``sensitive_col`` is inert for suppression (``countDistinct``
    skips NULLs, so an all-NULL sensitive group would otherwise be
    silently dropped by a constraint the caller never asked for).

    Plan shape for 100 TB: ONE corpus scan builds the distinct
    quasi-tuple group table (map-side-partial groupBy, checkpointed —
    with l-diversity the table is (quasi, sensitive) CELLS instead,
    still corpus-sized-independent);
    every level's suppression stats are computed from THAT table, not
    the corpus, and collected as one bounded ``len(ladder)``-row
    construction job (see :mod:`.guards` — this operator runs jobs at
    construction time).  The released table is the corpus scanned once
    more with quasi columns rewritten in place and one null-safe
    equi-join against the (small) per-group sizes at the chosen level —
    AQE-splittable, no windows over data-sized partitions.  Adds
    ``level_col``; preserves the input column order.
    """
    from .guards import construction_rows

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not ladder:
        raise ValueError("generalize_to_k needs at least one ladder level")
    if max_suppression_bp < 0 or max_suppression_bp > 10000:
        raise ValueError(
            f"max_suppression_bp must be in [0, 10000], got {max_suppression_bp}"
        )
    quasi = sorted(ladder[0])
    for i, lvl in enumerate(ladder):
        if sorted(lvl) != quasi:
            raise ValueError(
                f"ladder level {i} keys {sorted(lvl)} != level 0 keys {quasi}"
            )
    missing = [c for c in quasi if c not in df.columns]
    if missing:
        raise ValueError(f"quasi columns not in the input: {missing}")
    if level_col in df.columns:
        raise ValueError(f"level_col {level_col!r} collides with an input column")
    if l_diversity < 1:
        raise ValueError(f"l_diversity must be >= 1, got {l_diversity}")
    if l_diversity > 1 and sensitive_col is None:
        raise ValueError("l_diversity > 1 needs a sensitive_col")
    if sensitive_col is not None and sensitive_col in quasi:
        raise ValueError("sensitive_col cannot be a quasi column")

    # ONE corpus scan: the distinct-original-quasi-tuple table (or
    # (quasi, sensitive) cells when enforcing l-diversity). Every
    # level's group stats derive from it (generalization is a function
    # of the original values), so levels never re-scan the corpus.
    enforce_l = sensitive_col is not None and l_diversity > 1
    cell_keys = [*quasi] + ([sensitive_col] if enforce_l else [])
    groups = (
        df.groupBy(*cell_keys)
        .agg(F.count("*").alias("__gk_n"))
        .localCheckpoint()
    )

    def _level_groups(lvl: dict) -> DataFrame:
        proj = [F.expr(lvl[c]).alias(c) for c in quasi] + [F.col("__gk_n")]
        aggs = [F.sum("__gk_n").alias("__gk_gn")]
        if enforce_l:
            proj.append(F.col(sensitive_col))
            aggs.append(
                F.countDistinct(sensitive_col).cast("bigint").alias("__gk_lv")
            )
        else:
            aggs.append(F.lit(1).cast("bigint").alias("__gk_lv"))
        return groups.select(*proj).groupBy(*quasi).agg(*aggs)

    bad_group = (F.col("__gk_gn") < k) | (F.col("__gk_lv") < l_diversity)

    stats = None
    for i, lvl in enumerate(ladder):
        s = _level_groups(lvl).agg(
            F.lit(i).alias("lvl"),
            F.coalesce(F.sum("__gk_gn"), F.lit(0)).cast("bigint").alias("n_rows"),
            F.coalesce(
                F.sum(F.when(bad_group, F.col("__gk_gn")).otherwise(F.lit(0))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("below"),
        )
        stats = s if stats is None else stats.unionByName(s)
    rows = construction_rows(
        stats,
        op_name="generalize_to_k",
        purpose="per-level suppression stats for ladder-level selection",
        max_rows=len(ladder),
    )
    chosen = len(ladder) - 1
    for r in sorted(rows, key=lambda r: r["lvl"]):
        if r["below"] * 10000 <= max_suppression_bp * r["n_rows"]:
            chosen = r["lvl"]
            break

    lvl = ladder[chosen]
    gen = df.select(
        *[
            F.expr(lvl[c]).alias(c) if c in lvl else F.col(c)
            for c in df.columns
        ]
    )
    sizes = _level_groups(lvl).select(
        *[F.col(c).alias(f"__gk_{c}") for c in quasi], "__gk_gn", "__gk_lv"
    )
    cond = reduce(
        lambda a, b: a & b,
        [gen[c].eqNullSafe(sizes[f"__gk_{c}"]) for c in quasi],
    )
    return (
        gen.join(sizes, cond)
        .filter((F.col("__gk_gn") >= k) & (F.col("__gk_lv") >= l_diversity))
        .select(*df.columns)
        .withColumn(level_col, F.lit(int(chosen)))
    )
