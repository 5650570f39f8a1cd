"""Scale disciplines: skew salting and bucketed co-located joins.

AQE's skew-join splitting (on by default, ``session.py``) handles most
skew at runtime by splitting oversized partitions. These helpers cover
the two cases AQE can't:

  - **salting** — when one join key is so hot that even a split partition
    is a straggler, explode the small side over a salt domain so the hot
    key's rows spread across ``salt`` reducers. Worth its constant-factor
    cost only for genuinely pathological keys; measure first
    (:func:`skewed_keys`).
  - **bucketing** — when the same large⋈large join runs repeatedly,
    pre-bucket both tables on the join key: every subsequent join is
    shuffle-free (bucket-local sort-merge), amortizing one write-time
    shuffle across all future reads. This is Spark's answer to
    co-located/partitioned joins in MPP warehouses; config jobs get it
    from the catalog target's ``bucketBy`` (``sinks/writers.py``).
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def skewed_keys(df: DataFrame, keys: list[str], top_n: int = 20) -> DataFrame:
    """Heavy-hitter diagnostic: per-key row counts, heaviest first. Run
    this (sampled, if need be) before reaching for :func:`salted_join`."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy(F.col("n_rows").desc())
        .limit(top_n)
    )


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    keys: list[str],
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Equi-join where ``skewed``'s hot keys would straggle: the skewed
    side gets a deterministic row salt in ``[0, salt)``; ``other`` is
    exploded ``salt``× so every (key, salt) bucket finds its match. The
    shuffle key becomes (keys…, salt) — a hot key now spreads over
    ``salt`` reducers instead of one.

    Correctness is salt-agnostic (every other-side row exists in every
    salt bucket), so results equal the plain join for ``inner`` and
    ``left``. The ``salt``× duplication of ``other`` is the price — use
    only when ``other`` is much smaller than the skew cost, yet too big
    to broadcast outright.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left (other sides don't skew here)")
    salted_l = skewed.withColumn(
        "__salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt)).cast("int")
    )
    salted_r = other.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    out = salted_l.join(salted_r, keys + ["__salt"], how)
    return out.drop("__salt")


def bloom_filtered_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    how: str = "inner",
    k: int = 4,
    m: int = 1 << 20,
) -> DataFrame:
    """Bloom-filtered equi-join: build a Bloom filter over ``build``'s
    join keys, drop ``probe`` rows that CANNOT match map-side, then run
    the normal join on the survivors — the classic shuffle-reduction
    for a selective large⋈large join (the hand-rolled form of Spark's
    runtime row-level filtering, but available to any plan and any
    selectivity, with explicit knobs).

    When it pays: ``build`` is too big to broadcast (else the join never
    shuffles anyway) and most ``probe`` rows have no partner — e.g.
    joining a 100 TB event stream against last week's 1% of flagged
    entities. The filter costs one narrow pass over ``build`` plus ≤
    m/64 driver rows; every pruned probe row is a row that never enters
    the exchange. When every probe row matches, the filter is pure
    overhead — this is an optimization with a selectivity condition,
    stated rather than hidden.

    Answer-invariant for ``inner``/``left_semi`` (Bloom filters have no
    false negatives; false positives just ride through to the exact
    join) — which is what the ``bloom_join_revenue`` oracle asserts
    against a plain DuckDB join. ``left_anti`` would be WRONG to
    pre-filter this way (a pruned row belongs in the answer), so it is
    rejected."""
    if how not in ("inner", "left_semi"):
        raise ValueError(
            "bloom_filtered_join supports inner/left_semi; pre-filtering the "
            "probe side is answer-changing for outer/anti joins"
        )
    from .dedup import bloom_probe_flag, bloom_words_df

    key_str = F.col(key).cast("string")
    wdf = bloom_words_df(build, key_str, k, m)
    survivors = (
        bloom_probe_flag(probe, key_str, wdf, k, m)
        .filter(F.col("__maybe"))
        .drop("__maybe")
    )
    return survivors.join(build, key, how)


def compact_files(
    spark, path: str, fmt: str = "parquet", target_mb: int = 128, sort_by: list[str] | None = None
) -> int:
    """Small-files compaction: rewrite a table directory into files of
    roughly ``target_mb`` each (sized from the current on-disk bytes),
    optionally range-sorted on ``sort_by`` so parquet min/max row-group
    stats become selective (data skipping for later scans). Returns the
    compacted table's scan partition count (≈ file count).

    The standard maintenance pass for streaming/append sinks whose
    micro-batches leave thousands of tiny files — at scale, file-listing
    and per-file open costs dominate reads long before data size does.
    Writes through a staging dir + the same crash-safe rename swap the
    SCD2 sink uses."""
    from ..sinks.writers import _swap_dirs

    # size through Hadoop FS, not os.walk: on s3a://hdfs:// paths a local
    # walk sees nothing, n_files collapses to 1, and the whole table gets
    # funneled through a single output partition — the exact object-store
    # targets compaction exists for
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    size_bytes = fs.getContentSummary(jpath).getLength()
    n_files = max(1, round(size_bytes / (target_mb * 1024 * 1024)))
    df = spark.read.format(fmt).load(path)
    if sort_by:
        out = df.repartitionByRange(n_files, *[F.col(c) for c in sort_by]).sortWithinPartitions(
            *sort_by
        )
    else:
        out = df.repartition(n_files)
    staging = path.rstrip("/") + "__compact"
    out.write.mode("overwrite").format(fmt).save(staging)
    _swap_dirs(spark, staging, path)
    written = spark.read.format(fmt).load(path)
    return written.rdd.getNumPartitions()


def zorder_value(cols: list[Column], bits: int = 16) -> Column:
    """Morton/Z value: interleave the low ``bits`` bits of each column
    (already scaled to non-negative integers) into one bigint, so rows
    close in EVERY dimension are close in the single sort order. Sorting
    a table by this key makes parquet row-group min/max stats selective
    on ALL participating columns at once — the multi-dimensional
    clustering trick (Delta ``OPTIMIZE ZORDER BY``) that single-column
    sorting can't give you.

    Pure bit arithmetic (``shiftright & 1 << position`` terms summed),
    so the value is bit-identical in any engine — the ``zorder_cluster``
    entry's DuckDB oracle recomputes it exactly. ``len(cols) * bits``
    must stay < 63 to fit a bigint."""
    n = len(cols)
    if n * bits >= 63:
        raise ValueError(f"{n} cols x {bits} bits overflows a signed bigint")
    terms = []
    for j, c in enumerate(cols):
        cb = c.cast("bigint")
        for b in range(bits):
            terms.append(
                F.shiftleft(F.shiftright(cb, b).bitwiseAND(F.lit(1)), b * n + j)
            )
    return reduce(add, terms)


def zorder_scale(c: Column, cmin: int, cmax: int, bits: int = 16) -> Column:
    """Min-max scale an integer column onto ``[0, 2^bits)`` with ALL-
    INTEGER arithmetic — the float formulation (``(v-min)/(max-min) *
    (2^bits-1)``) rounds differently across engines exactly at bucket
    boundaries (the weighted-sample lesson, operators/sampling.py). The
    ``(a - a%b)/b`` form keeps the quotient exact: a - a%b is divisible
    by b, and the intermediate product must stay < 2^53 (fine for any
    key that fits ``bits`` scaling in the first place; guard upstream
    for astronomical domains)."""
    a = (c.cast("bigint") - F.lit(cmin)) * F.lit((1 << bits) - 1)
    b = F.lit(max(1, cmax - cmin)).cast("bigint")
    return ((a - a % b) / b).cast("bigint")


def zorder_layout(
    df: DataFrame, cols: list[str], bits: int = 12, num_partitions: int = 32
) -> DataFrame:
    """Production Z-order layout pass: scale each clustering column by
    its observed min/max (ONE 1-row driver aggregate — a design-bounded
    scalar, same allowance as the IVF centroid collect), compute the
    Morton key, range-partition on it and sort within partitions. Write
    the result and every output file covers a compact Z range — scans
    filtering on ANY clustered column prune most files via parquet
    min/max (asserted by tests/test_scale_ops.py: partition Z ranges are
    pairwise disjoint).

    Range boundaries come from Spark's reservoir sampling — layout, not
    answers, so run-to-run boundary jitter is harmless; the
    DETERMINISTIC contract for oracles is the ``zorder_cluster`` entry's
    NTILE form instead."""
    stats = df.agg(
        *[F.min(c).cast("bigint").alias(f"mn_{c}") for c in cols],
        *[F.max(c).cast("bigint").alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    scaled = [
        zorder_scale(F.col(c), stats[f"mn_{c}"], stats[f"mx_{c}"], bits) for c in cols
    ]
    with_z = df.withColumn("__z", zorder_value(scaled, bits))
    return (
        with_z.repartitionByRange(num_partitions, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    )


def skew_report(df: DataFrame, key_col: str, top_n: int = 5) -> DataFrame:
    """Quantified skew diagnosis for a join/groupBy key — the report
    that tells you WHETHER :func:`salted_join` is needed and how badly:
    the ``top_n`` heaviest keys with their share of all rows in integer
    basis points, alongside distribution stats of the per-key counts
    (key cardinality, max count, and p50/p99 ESTIMATES from the
    deterministic log-bucket sketch — so the whole report is
    bit-identical cross-engine and the quantile state is bounded by
    construction, never by cardinality).

    Plan: one groupBy(key) count → (a) TakeOrdered top_n (no full
    sort), (b) one 1-row aggregate (total/max/n_keys), (c) the
    log-bucket sketch over the counts (bounded ≤63·16 rows) walked for
    p50/p99.  The scalars attach by 1-row broadcast crossJoin — the
    heavy_hitters shape."""
    from ..functions.sketches import (
        logbucket_estimate,
        logbucket_index,
    )

    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    top = counts.orderBy(F.col("cnt").desc(), F.col("key").asc()).limit(top_n)
    totals = counts.agg(
        F.sum("cnt").cast("bigint").alias("__total"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
    )
    sketch = (
        counts.select(logbucket_index(F.col("cnt")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("bcnt"))
    )
    from pyspark.sql import Window

    cum = sketch.select(
        "bucket",
        F.sum("bcnt")
        .over(Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("bcnt").over(Window.partitionBy()).alias("bn"),
    )
    picks = None
    for p in (50, 99):
        pick = (
            cum.filter(
                F.col("cum")
                >= ((F.col("bn") - 1) * F.lit(p) / F.lit(100)).cast("bigint") + 1
            )
            .groupBy()
            .agg(F.min("bucket").alias("bucket"))
            .select(
                logbucket_estimate(F.col("bucket")).alias(f"p{p}_cnt_est")
            )
        )
        picks = pick if picks is None else picks.crossJoin(F.broadcast(pick))
    return (
        top.crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(picks))
        .select(
            "key",
            "cnt",
            F.expr("CAST(cnt * 10000 DIV __total AS BIGINT)").alias("share_bp"),
            "n_keys",
            "max_cnt",
            "p50_cnt_est",
            "p99_cnt_est",
        )
    )
