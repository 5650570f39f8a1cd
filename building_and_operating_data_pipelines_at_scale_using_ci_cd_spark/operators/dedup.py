"""Deduplication operator family (north-star surface, SURVEY.md §2.10).

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard dedup over a document
table. Everything is built-in-expression PySpark — no Python UDFs — and
every hash is md5-derived (``functions.text.portable_hash``) so results
are engine-portable and oracle-checkable.

Scale design (the point of each shape):
  - exact:    one groupBy on the content hash — one shuffle, map-side
              partial agg, linear in corpus size.
  - minhash:  signature is computed per-doc with array expressions (no
              explode), then docs are joined only within LSH band buckets
              — candidate generation is O(sum of bucket sizes squared),
              not O(n²); the standard 100 TB near-dup shape.
  - simhash:  per-doc 32-bit fingerprint via one explode + groupBy;
              Hamming-close pairs found within identical-fingerprint
              buckets (or banded prefixes for distance > 0).
  - jaccard:  the exact verifier applied to candidate pairs only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import portable_hash


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content md5. Returns one row per
    distinct content with the surviving (minimum) id and copy count."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(F.col(id_col)).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


#: smallest prime > 2^32 — modulus of the universal-hash family below
_MINHASH_P = 4294967311
#: additive stride per hash function (any constant < _MINHASH_P works)
_MINHASH_C = 12582917


def shingle_hashes(shingle_col: Column) -> Column:
    """md5 each shingle ONCE to a 32-bit integer — the only
    cryptographic-hash pass of the MinHash pipeline."""
    return F.transform(
        shingle_col,
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint"),
    )


def minhash_from_hashes(hashed_col: Column, num_hashes: int = 16) -> Column:
    """MinHash signature from pre-hashed shingles via a universal affine
    family ``h_i(x) = ((2i+1)·x + i·c) mod p`` (p prime > 2^32) — pure
    integer arithmetic an oracle engine reproduces exactly.

    PERFORMANCE CONTRACT: ``hashed_col`` must be a MATERIALIZED column
    (attribute), not the ``shingle_hashes`` expression inline. Spark does
    not hoist loop-invariant subexpressions out of higher-order-function
    lambdas, so an inline expression would be re-evaluated once per hash
    function — num_hashes× the md5 work (the exact cost this design
    exists to avoid). Stage it like ``_candidates_from_shingles`` does."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(
            F.transform(
                hashed_col,
                lambda h: F.pmod(
                    (i * 2 + F.lit(1)).cast("bigint") * h
                    + (i * F.lit(_MINHASH_C)).cast("bigint"),
                    F.lit(_MINHASH_P),
                ),
            )
        ),
    )


def lsh_band_keys(sig_col: Column, num_hashes: int = 16, bands: int = 4) -> Column:
    """Band the signature: ``bands`` keys, each the md5 of one contiguous
    slice of the signature. Docs sharing any band key are candidates."""
    rows = num_hashes // bands
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.sequence(b * rows + 1, (b + 1) * rows),
                    lambda j: F.element_at(sig_col, j).cast("string"),
                ),
            )
        ),
    )


def _spread(df: DataFrame) -> DataFrame:
    """Small-file inputs arrive as one partition; the per-row hash work
    downstream is CPU-bound, so spread rows across the cluster first.
    CONDITIONAL: when the scan is already at least as wide as the
    cluster (the 100 TB case), this is a no-op — an unconditional
    repartition would add a full shuffle of the corpus for nothing."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def _shingle_df(df: DataFrame, id_col: str, text_col: str, shingle_n: int) -> DataFrame:
    """Tokenize in one projection, shingle in the next (barrier between):
    the shingle lambda slices the token array per index, so an inline
    split() would re-tokenize the doc once per shingle (see
    functions.text.shingles_from_tokens)."""
    from ..functions.text import shingles_from_tokens, tokens

    tk = _spread(df).select(
        F.col(id_col).alias("__id"),
        tokens(F.col(text_col)).alias("__tk"),
        F.rand().alias("__b0"),
    )
    return tk.select(
        "__id", shingles_from_tokens(F.col("__tk"), shingle_n).alias("__sh")
    ).filter(F.size("__sh") > 0)


#: polynomial-combine multiplier for hashed shingles (any prime well below
#: _MINHASH_P/2^32 keeps acc*A + h inside int64: 4.3e9 · 1e6 ≈ 2^52)
_SHINGLE_A = 1000003


def _hashed_shingle_df(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """Distinct HASHED n-gram shingles: md5 each token once to a 32-bit
    int, then fold each n-window polynomially — ``acc·A + h mod p`` —
    into one bigint per shingle.

    This is the minhash hot path's replacement for string shingles:
    Spark's higher-order functions are CodegenFallback (interpreted), so
    per-shingle string building (concat_ws over a slice, then a separate
    md5 pass) dominated the whole pipeline (~1.0s of a 2.0s sf0.1 run).
    Hashing per TOKEN and combining with integer arithmetic does the same
    number of md5s over shorter strings, builds no intermediate strings,
    persists 8-byte elements instead of ~20-char strings, and lets the
    verification Jaccard intersect bigint arrays. Set semantics are
    unchanged (md5 collisions aside, distinct hashed shingles ==
    distinct string shingles). Three projections with barriers: tokens →
    token hashes → folded shingles (the lambda slices the PREVIOUS
    stage's attribute; inline it and Spark re-evaluates the whole token
    md5 pass per shingle — the [[spark-hof-lambda-reeval]] trap)."""
    from ..functions.text import tokens

    # the ≥n-tokens filter sits on the RAW text column, BEFORE the hash
    # projections: a trailing filter on size(__sh) gets predicate-pushed
    # below the projects with the aliases INLINED, re-evaluating the whole
    # token-md5 pipeline once per row inside the filter (measured 14×)
    eligible = _spread(df).filter(
        F.size(F.split(F.col(text_col), " ")) >= shingle_n
    )
    tk = eligible.select(
        F.col(id_col).alias("__id"),
        tokens(F.col(text_col)).alias("__tk"),
        F.rand().alias("__b0"),
    )
    tkh = tk.select(
        "__id",
        F.transform(
            F.col("__tk"),
            lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint"),
        ).alias("__tkh"),
        F.rand().alias("__b0h"),
    )
    th = F.col("__tkh")

    # fold unrolled in Python (shingle_n is a plan-time constant): a nested
    # F.aggregate-inside-F.transform is interpreted per shingle per element
    # and measured 5× slower than flat element_at chains
    def _fold(i):
        acc = F.element_at(th, i)
        for j in range(1, shingle_n):
            acc = F.pmod(
                acc * _SHINGLE_A + F.element_at(th, i + F.lit(j)),
                F.lit(_MINHASH_P),
            )
        return acc

    folded = F.transform(
        F.sequence(F.lit(1), F.size(th) - F.lit(shingle_n - 1)), _fold
    )
    return tkh.select(
        "__id", F.array_distinct(folded).alias("__sh")
    )


def _candidates_from_shingles(
    sh: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """Band the signatures and self-join on (band_idx, band_key). Expects
    ``__sh`` as the HASHED shingle array from :func:`_hashed_shingle_df`
    (bigints — no md5 stage left here).

    Staged as materialize-signature → band, with non-deterministic
    barrier columns blocking CollapseProject: each stage's array is
    computed once per row and the next stage slices an ATTRIBUTE.
    Collapsed into one projection, the band lambda would re-evaluate the
    signature per band (bands× that stage's work). Both stages stay
    narrow map-only plans.

    ``banded`` is materialized once (localCheckpoint): it is both sides
    of the self-join, and without it Spark recomputes the signature once
    per side (persist was replaced round 12 — a persisted deterministic
    plan is CACHE-REUSED by identical later invocations in the same
    session, which silently turned repeat benchmark runs into cache
    reads; localCheckpoint shares within one invocation only)."""
    sig = sh.select(
        "__id",
        minhash_from_hashes(F.col("__sh"), num_hashes).alias("__sig"),
        F.rand().alias("__b2"),
    )
    banded = sig.select(
        "__id",
        F.posexplode(lsh_band_keys(F.col("__sig"), num_hashes, bands)).alias(
            "band_idx", "band_key"
        ),
    ).localCheckpoint(eager=False)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two array columns (distinct-element semantics)."""
    return F.size(F.array_intersect(a, b)) / F.size(F.array_distinct(F.concat(a, b)))


def _near_dup_pairs_core(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle_n: int,
    num_hashes: int,
    bands: int,
    merge_hint: bool = True,
) -> DataFrame:
    """LSH candidates verified by exact shingle Jaccard ≥ threshold over
    the given rows. Columns: id_a, id_b, jaccard_sim.

    The shingle table is computed once and cached: it feeds signature
    generation AND both sides of the verification join — recomputing the
    md5 hashing work three times is the dominant cost otherwise. The
    Jaccard runs over HASHED shingle sets (bigint arrays): same value as
    string-shingle Jaccard (md5 collisions aside), much cheaper to
    shuffle and intersect."""
    sh = _hashed_shingle_df(df, id_col, text_col, shingle_n).localCheckpoint(eager=False)
    cands = _candidates_from_shingles(sh, num_hashes, bands)
    # merge hint: the candidate set's size is unknown to Catalyst (it sits
    # behind a distinct), and on a duplicate-heavy corpus it can be huge —
    # a misestimated broadcast build dies driver-side (observed at a 10×
    # corpus), while sort-merge shuffles on the id and spills gracefully.
    # On a corpus the duplication probe found clean, the candidate set is
    # ~linear in the row count, so the caller drops the hint and lets AQE
    # pick the strategy from OBSERVED shuffle sizes (~25% faster locally).
    if merge_hint:
        cands = cands.hint("merge")
    out = (
        cands
        .join(sh.withColumnRenamed("__id", "id_a").withColumnRenamed("__sh", "__sh_a"), "id_a")
        .join(sh.withColumnRenamed("__id", "id_b").withColumnRenamed("__sh", "__sh_b"), "id_b")
        .withColumn("jaccard_sim", F.round(jaccard(F.col("__sh_a"), F.col("__sh_b")), 4))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )
    return out


#: distinct-content ratio below which the collapse pre-pass pays for
#: itself: at ≥10% exact duplication the per-copy verification work the
#: collapse removes exceeds its 3 bookkeeping joins (measured: 11× win at
#: a 10×-duplicated corpus vs ~3× overhead on a duplicate-free one).
_COLLAPSE_DISTINCT_RATIO = 0.9


def near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    collapse_exact: bool | str = "auto",
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates verified by exact shingle
    Jaccard ≥ threshold. Columns: id_a, id_b, jaccard_sim.

    With ``collapse_exact``, byte-identical documents collapse to one
    representative per content hash BEFORE shingling: the
    shingle/minhash/verify work runs once per distinct content, and the
    full pair set is recovered algebraically afterwards — identical docs
    pair at jaccard 1.0 (intra-group cliques), and every verified
    rep-pair expands to its groups' cross product at the rep-pair's
    jaccard. Output is EXACTLY the uncollapsed pipeline's (identical
    docs share band keys with their rep, so candidacy transfers), but a
    duplicate-flooded corpus — the normal state of a web-scale crawl —
    pays verification per distinct content instead of per copy pair
    (measured 11× at a 10×-duplicated corpus, 162s → 14s for the same
    250,600 pairs; the gap grows with the duplication factor). On a
    clean corpus the pre-pass is pure overhead (3 extra joins), so the
    default ``"auto"`` probes the duplication rate first with one cheap
    map-side-partial aggregate (approx_count_distinct of the content
    hash — a single-row action, constant driver memory) and collapses
    only when exact duplication exceeds ~10%. Pass True/False to skip
    the probe when the corpus's duplication profile is known."""
    if collapse_exact == "auto":
        # xxhash64, not md5: the probe only estimates a ratio, so a fast
        # non-cryptographic hash is enough — and at 100 TB this pass is a
        # pure map-side-partial scan, no shuffle
        from .guards import construction_scalar

        ratio = construction_scalar(
            df.agg(
                (
                    F.approx_count_distinct(F.xxhash64(F.col(text_col)))
                    / F.count(F.lit(1))
                ).alias("r")
            ),
            op_name="near_dup_pairs",
            purpose="duplication-ratio probe for collapse_exact='auto'",
        )["r"]
        collapse_exact = ratio is not None and ratio < _COLLAPSE_DISTINCT_RATIO
    if not collapse_exact:
        return _near_dup_pairs_core(
            df, id_col, text_col, threshold, shingle_n, num_hashes, bands,
            merge_hint=False,
        )
    members = df.select(
        F.col(id_col).alias("__mid"), F.md5(F.col(text_col)).alias("__chash")
    )
    reps = members.groupBy("__chash").agg(F.min("__mid").alias("__rep"))
    members = members.join(reps, "__chash").localCheckpoint(eager=False)
    rep_ids = members.filter(F.col("__mid") == F.col("__rep")).select(
        F.col("__mid").alias(id_col)
    )
    rep_docs = df.join(rep_ids, id_col, "semi")
    rep_pairs = _near_dup_pairs_core(
        rep_docs, id_col, text_col, threshold, shingle_n, num_hashes, bands
    )
    # docs too short to shingle never pair — mirror the core's filter when
    # expanding identical-content cliques
    valid = df.filter(
        F.size(F.split(F.col(text_col), " ")) >= shingle_n
    ).select(F.col(id_col).alias("__vid"))
    valid_members = members.join(
        valid, members["__mid"] == valid["__vid"]
    ).select("__mid", "__chash")
    a = valid_members.select(F.col("__chash"), F.col("__mid").alias("id_a"))
    b = valid_members.select(F.col("__chash"), F.col("__mid").alias("id_b"))
    intra = (
        a.join(b, "__chash")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(1.0).alias("jaccard_sim"))
    )
    ma = members.select(F.col("__rep").alias("id_a"), F.col("__mid").alias("__ma"))
    mb = members.select(F.col("__rep").alias("id_b"), F.col("__mid").alias("__mb"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("__ma", "__mb").alias("id_a"),
            F.greatest("__ma", "__mb").alias("id_b"),
            "jaccard_sim",
        )
    )
    return intra.unionByName(cross)


def near_dup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Connected components over the near-dup pair graph: every doc in a
    pair maps to its cluster representative (the minimum id reachable) —
    the survivor-selection step after candidate generation, so a corpus
    keeps exactly one doc per duplicate cluster.

    Iterative min-label propagation on DataFrames: each round joins the
    current labels across the (symmetrized) edge set and keeps the
    smaller label; converges in O(component diameter) rounds — near-dup
    clusters are shallow (pairs chain through shared content), so this is
    a handful of rounds even at corpus scale. Each round is one
    hash-shuffle on the vertex id; ``localCheckpoint`` truncates the
    growing lineage so round N doesn't replay rounds 1..N-1.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    while True:
        # smallest label among a vertex's neighbors this round
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias(
                    "label"
                ),
                (F.col("nbr_label") < F.col("label")).alias("__changed"),
            )
        ).localCheckpoint()
        changed = new_labels.filter(F.col("__changed")).count()
        labels = new_labels.drop("__changed")
        if changed == 0:
            break
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_rep"))


def winnow_fingerprint_sets(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, w: int = 4
) -> DataFrame:
    """Winnowing (rolling-hash) fingerprints per document: columns
    (id_col, fingerprints array<bigint>). Two projections with a barrier
    in between so the gram-hash array is materialized ONCE per row before
    the window-min pass slices it — inlining it would re-evaluate all
    gram hashes per window (O(n²) md5 per doc; see
    ``functions.text.winnow_select``). The barrier is a dropped
    non-deterministic column, which blocks Catalyst's CollapseProject
    without adding a shuffle — still a narrow map-only plan at any scale."""
    from ..functions.text import gram_hashes, winnow_select

    # _spread (round 12): the gram-md5 pass is CPU-bound per row and a
    # small parquet input arrives as 1-2 partitions — every sibling
    # dedup path already spreads before hashing; this one was missing
    # it (measured 3.5s single-task vs ~0.5s spread at sf0.1/local[32])
    staged = _spread(df).select(
        F.col(id_col),
        gram_hashes(F.col(text_col), k).alias("__hs"),
        F.rand().alias("__barrier"),
    )
    return staged.select(
        id_col, winnow_select(F.col("__hs"), w).alias("fingerprints")
    )


def winnow_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
    threshold: float = 0.5,
    max_doc_freq: int = 20,
) -> DataFrame:
    """Char-gram near-dup detection, the MOSS shape (Schleimer et al.
    2003): winnowing fingerprints generate candidates — two docs sharing
    any run of ≥ k+w-1 characters share a selected fingerprint — verified
    by exact char-k-gram Jaccard over the distinct gram-hash sets.
    Columns: id_a, id_b, jaccard_sim.

    The character-level companion to the token-level :func:`near_dup_pairs`
    (MinHash): robust to tokenization differences (whitespace mangling,
    concatenated words) where token shingles break.

    ``max_doc_freq`` drops fingerprints shared by more than that many
    docs before the candidate join — MOSS's own common-fingerprint
    filter. Boilerplate runs (headers, license text, stock phrases) put
    thousands of docs in one bucket: the bucket contributes O(n²)
    candidate pairs and zero discriminative signal (measured at sf0.1:
    1002 distinct fingerprints over 5000 docs, worst bucket 3891 docs —
    295M candidate pairs without the filter, 5.6k with it). Docs whose
    ONLY shared runs are that common are treated as not near-dups.

    Scale: fingerprints are ~1/w of grams, the doc-frequency pass is one
    groupBy on the fingerprint, candidates come from an equi-join on the
    fingerprint VALUE (never all-pairs, and bucket size is bounded by
    ``max_doc_freq`` by construction), and the exact Jaccard touches
    candidates only."""
    from ..functions.text import gram_hashes, winnow_select

    g = _spread(df).select(
        F.col(id_col).alias("__id"),
        gram_hashes(F.col(text_col), k).alias("__gh"),
        F.rand().alias("__b0"),
    )
    gd = g.select(
        "__id",
        F.array_distinct(F.col("__gh")).alias("__gset"),
        winnow_select(F.col("__gh"), w).alias("__fp"),
    ).localCheckpoint(eager=False)
    ex = gd.select("__id", F.explode("__fp").alias("__f"))
    rare = (
        ex.groupBy("__f")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") <= max_doc_freq)
        .select("__f")
    )
    exr = ex.join(rare, "__f")
    cands = (
        exr.alias("a")
        .join(
            exr.alias("b"),
            (F.col("a.__f") == F.col("b.__f")) & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    return (
        cands.join(
            gd.select(F.col("__id").alias("id_a"), F.col("__gset").alias("__ga")), "id_a"
        )
        .join(
            gd.select(F.col("__id").alias("id_b"), F.col("__gset").alias("__gb")), "id_b"
        )
        .withColumn("jaccard_sim", F.round(jaccard(F.col("__ga"), F.col("__gb")), 4))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )


def simhash_fingerprints(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32, shingle_n: int = 3
) -> DataFrame:
    """32-bit SimHash per doc: explode shingles, majority-vote each bit of
    the portable hash, reassemble. One shuffle (groupBy id); shingling is
    staged through the tokenized projection like the MinHash path."""
    exploded = _shingle_df(df, id_col, text_col, shingle_n).select(
        F.col("__id").alias("doc_id"), F.explode(F.col("__sh")).alias("__s")
    ).withColumn("__h", portable_hash(F.col("__s")))
    bit_sums = exploded.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.col("__h").bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1)
            ).alias(f"__b{b}")
            for b in range(bits)
        ]
    )
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"__b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return bit_sums.select("doc_id", fp.cast("bigint").alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    radius: int = 2,
    bits: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """SimHash pairs within Hamming distance ``radius`` — the wider-radius
    companion to :func:`simhash_dup_groups`.

    Pigeonhole banding: split the ``bits``-bit fingerprint into
    ``radius + 1`` contiguous bands; any two fingerprints within
    ``radius`` differing bits agree EXACTLY on at least one band, so
    candidates come from equi-joins on (band_idx, band_value) — never an
    all-pairs scan — and are verified with one ``bit_count(a XOR b)``.
    Columns: id_a, id_b, hamming_dist."""
    if radius < 0 or radius >= bits:
        raise ValueError("radius must be in [0, bits)")
    # materialized once: the fingerprint table feeds BOTH sides of the band
    # self-join — unshared, the whole explode+groupBy fingerprint
    # computation runs once per side (measured 4 explodes, now 2)
    fps = simhash_fingerprints(df, id_col, text_col, bits=bits, shingle_n=shingle_n).localCheckpoint(eager=False)
    n_bands = radius + 1
    width = bits // n_bands
    bands = fps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        # band b = bits [b*width, ...) — the last band takes
                        # the remainder so every bit is covered
                        F.shiftrightunsigned(F.col("simhash"), b * width)
                        .bitwiseAND(
                            F.lit((1 << (bits - b * width if b == n_bands - 1 else width)) - 1)
                        )
                        .alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_idx", "band.band_val")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.simhash").alias("__ha"),
            F.col("b.simhash").alias("__hb"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming_dist",
            F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb"))).cast("int"),
        )
        .filter(F.col("hamming_dist") <= radius)
        .select("id_a", "id_b", "hamming_dist")
    )


def simhash_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Docs sharing an identical SimHash (Hamming distance 0 buckets) —
    the O(n) grouping pass; wider Hamming radii re-join on bit-band keys."""
    fps = simhash_fingerprints(df, id_col, text_col)
    return (
        fps.groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    num_planes: int = 4,
    dim: int | None = None,
    brute_force: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dup pairs above ``threshold``.

    Default path: candidates restricted to a random-hyperplane LSH bucket
    (``num_planes`` sign bits), exact cosine only inside buckets — the
    pair join is a hash equi-join on the bucket key, so the O(n²)
    all-pairs shape is opt-in (``brute_force=True``, the exact verifier
    for bounded samples), never reachable by accident on a full corpus.
    High-cosine pairs land in one bucket with probability
    (1 - θ/π)^num_planes, so fewer planes → higher recall, more compute.

    ``dim`` (hyperplane dimensionality) is inferred from one row when not
    given — a bounded single-row action."""
    from ..functions.similarity import _pair_dot, l2_norm, lsh_bucket_key

    if brute_force:
        a = df.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"),
            l2_norm(F.col(vec_col)).alias("__na"),
        )
        b = df.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"),
            l2_norm(F.col(vec_col)).alias("__nb"),
        )
        joined = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        if dim is None:
            first = df.select(vec_col).first()
            if first is None:
                return df.sparkSession.createDataFrame(
                    [], "id_a long, id_b long, cosine_sim double"
                )
            dim = len(first[0])
        bucketed = df.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
            l2_norm(F.col(vec_col)).alias("__n"),
            lsh_bucket_key(F.col(vec_col), dim, num_planes).alias("__bucket"),
        )
        a = bucketed.select(
            F.col("__id").alias("id_a"), F.col("__v").alias("__va"),
            F.col("__n").alias("__na"), "__bucket",
        )
        b = bucketed.select(
            F.col("__id").alias("id_b"), F.col("__v").alias("__vb"),
            F.col("__n").alias("__nb"), "__bucket",
        )
        joined = a.join(b, "__bucket").filter(F.col("id_a") < F.col("id_b"))
    # norms were materialized once per row above: one dot per pair,
    # Arrow-batched (one einsum per batch — see similarity._pair_dot)
    return (
        joined.withColumn(
            "cosine_sim",
            _pair_dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", F.round("cosine_sim", 4).alias("cosine_sim"))
    )


def semantic_dedup_keep(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int | None = None,
    threshold: float = 0.95,
    refine_iters: int = 0,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    cluster embeddings, then inside each cluster drop every vector that
    has a LOWER-id neighbor above ``threshold`` cosine. Returns the kept
    rows as ``(kept_id, cluster_id)``.

    Scale shape: cluster assignment is the same literal-centroid map
    stage the IVF index uses (``similarity.ivf_probe_assignments`` —
    no shuffle), so the only shuffle is the within-cluster self-join on
    the cluster key. Pairwise work is O(sum of cluster sizes squared),
    never corpus², and ``n_clusters`` is the knob that bounds it — the
    published recipe runs ~100k clusters at web scale. Centroids are
    deterministic (the ``n_clusters`` lowest-id vectors, optionally
    Lloyd-refined), so the result is reproducible and oracle-checkable.

    Drop rule nuance: "has a lower-id near-neighbor" is evaluated against
    ALL cluster members, including ones themselves dropped — i.e. chains
    collapse to the single lowest id per chain, which is SemDeDup's
    keep-one-representative semantics without an iterative
    connected-components pass (that exact variant is
    :func:`near_dup_clusters`).

    ``n_clusters=None`` sizes to ~√n (``similarity.adaptive_index_size``)
    — the published web-scale recipe grows cluster count with corpus
    size, and a fixed count is join-key skew at 100×. Explicit counts
    remain for reproducible-at-a-fixed-SF oracle queries."""
    from ..functions.similarity import (
        _pair_dot,
        adaptive_index_size,
        ivf_probe_assignments,
        kmeans_refine,
    )

    if n_clusters is None:
        n_clusters = adaptive_index_size(df)
    cents = [
        (int(r[0]), list(r[1]))
        for r in df.select(id_col, vec_col).orderBy(id_col).limit(n_clusters).collect()
    ]
    if not cents:
        return df.sparkSession.createDataFrame([], "kept_id long, cluster_id int")
    if refine_iters > 0:
        cents = kmeans_refine(df, cents, id_col, vec_col, iters=refine_iters)
    assigned = ivf_probe_assignments(df, cents, id_col, vec_col, 1, "m").select(
        F.col("m").alias("__id"),
        F.col("__m_v").alias("__v"),
        F.col("__m_n").alias("__n"),
        F.col("__list_id").alias("cluster_id"),
    )
    a = assigned.select(
        F.col("__id").alias("id_a"), F.col("__v").alias("__va"),
        F.col("__n").alias("__na"), "cluster_id",
    )
    b = assigned.select(
        F.col("__id").alias("id_b"), F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"), "cluster_id",
    )
    dropped = (
        a.join(b, "cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            _pair_dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
            > F.lit(threshold)
        )
        .select(F.col("id_b").alias("__dropped"))
        .distinct()
    )
    return (
        assigned.join(dropped, assigned["__id"] == dropped["__dropped"], "left_anti")
        .select(F.col("__id").alias("kept_id"), "cluster_id")
    )


#: bloom positions per key (k) and default filter width in bits (m)
_BLOOM_K = 4
_BLOOM_M = 1 << 20


def bloom_bit_positions(col: Column, k: int = _BLOOM_K, m: int = _BLOOM_M) -> Column:
    """The k xxhash64-derived bit positions of a key (seed = probe
    index). Positions only need to be DETERMINISTIC WITHIN A JOB — the
    filter build and the delta probe evaluate this same expression, and
    the operator's answer (== the exact anti-join) is hash-independent
    because Bloom filters have no false negatives. xxhash64 is the
    native Tungsten hash: one 64-bit mix per probe, vs the previous
    md5 → hex → substring → conv(16,10) chain whose string round-trips
    dominated the per-row probe cost."""
    return F.array(
        *[F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m)).cast("int") for i in range(k)]
    )


def bloom_words_df(src: DataFrame, key_str: Column, k: int, m: int) -> DataFrame:
    """Build a Bloom filter over ``src``'s keys as ONE row holding the
    packed ``array<bigint>`` word array (m/64 words), ready to broadcast.

    The build is DISTRIBUTED: explode the k positions, OR the bits per
    word with a map-side-partial ``bit_or`` agg, and collect ≤ m/64
    (word, bits) rows — 64× less driver traffic than collecting
    distinct bit positions, still bounded by the design parameter m,
    never by source row count. Shared by :func:`bloom_incremental_new`
    and ``operators.scale.bloom_filtered_join``."""
    word_rows = (
        src.select(F.explode(bloom_bit_positions(key_str, k, m)).alias("pos"))
        .groupBy(F.shiftright(F.col("pos"), 6).alias("w"))
        .agg(
            F.bit_or(
                F.call_function(
                    "shiftleft",
                    F.lit(1).cast("bigint"),
                    F.col("pos").bitwiseAND(F.lit(63)),
                )
            ).alias("bits")
        )
        .collect()
    )
    n_words = (m + 63) // 64
    words = [0] * n_words
    for r in word_rows:
        words[r["w"]] = r["bits"]
    return src.sparkSession.createDataFrame([(words,)], "__bloom_words array<bigint>")


def bloom_probe_flag(
    df: DataFrame, key_str: Column, wdf: DataFrame, k: int, m: int
) -> DataFrame:
    """Attach a boolean ``__maybe`` column: True iff the key's k bits
    are all set in the broadcast word array. FULLY JVM-side — the 1-row
    crossJoin is the ``domain_mix`` scalar-attachment shape (never
    row-multiplying) and each test is ``element_at``+``getbit`` integer
    ops inside whole-stage codegen; a probe row costs k integer ops, no
    Python anywhere."""
    from functools import reduce

    # materialize the k positions ONCE per row (a projection step) so
    # the k bit tests don't each re-run the hash chain inside the stage
    pos = F.col("__pos")
    probes = [
        (
            F.getbit(
                F.element_at(
                    F.col("__bloom_words"),
                    (F.shiftright(F.get(pos, i), 6) + F.lit(1)).cast("int"),
                ),
                F.get(pos, i).bitwiseAND(F.lit(63)).cast("bigint"),
            )
            == F.lit(1)
        )
        for i in range(k)
    ]
    return (
        df.withColumn("__pos", bloom_bit_positions(key_str, k, m))
        .crossJoin(F.broadcast(wdf))
        .withColumn("__maybe", reduce(lambda a, b: a & b, probes))
        .drop("__bloom_words", "__pos")
    )


def bloom_incremental_new(
    new_df: DataFrame,
    hist_df: DataFrame,
    key_col: str,
    k: int = _BLOOM_K,
    m: int = _BLOOM_M,
) -> DataFrame:
    """Incremental dedup against a historical corpus via a Bloom
    pre-filter: rows of ``new_df`` whose key is definitely absent from
    ``hist_df`` pass WITHOUT joining the history; only bloom-positive
    candidates (the tiny maybe-dup slice) pay the exact anti-join.
    Result == the exact anti-join (Bloom filters have no false
    negatives), so the oracle is plain NOT EXISTS — but the execution
    shape is the incremental-crawl one: the 100 TB history is reduced to
    an ``m``-bit filter built with one distinct-positions pass, and the
    daily delta scans it map-side.

    Driver traffic is bounded by ``m`` (a design parameter: distinct set
    bit positions ≤ m, independent of corpus size), never by row count;
    the filter ships as ONE broadcast row holding the packed word array.
    The history is read twice but NEVER shuffled: the filter build is
    explode→distinct over positions (map-side partial dedup into a
    ≤m-row space), and the exact verify is a broadcast semi-join probing
    history with the small candidate-key set.

    The probe itself is FULLY JVM-side: the bitset packs into an
    ``array<bigint>`` (m/64 words) carried on a 1-row broadcast
    (crossJoin — the same bounded scalar-BNLJ pattern as ``domain_mix``,
    never row-multiplying), and each key tests its k positions with
    ``element_at`` + ``shiftrightunsigned`` on the word — the delta-side
    row cost is k integer ops inside whole-stage codegen. The previous
    shape ran a per-row Python md5 loop inside an Arrow batch: the
    daily-delta side of an incremental crawl paid Python per row, and at
    100 TB the probe IS the hot path. A broadcast row (data) rather than
    a giant array literal (plan) keeps plan size independent of ``m``,
    so m can grow to 2^27+ for billion-key histories without bloating
    task serialization. Sizing: false positive rate ≈ (1 − e^(−k·n/m))^k
    — for n ≈ m/8 keys at k=4 that is ~0.2%, and every false positive
    costs only one extra candidate row through the verify join."""
    key_str = F.col(key_col).cast("string")
    wdf = bloom_words_df(hist_df, key_str, k, m)
    flagged = bloom_probe_flag(new_df, key_str, wdf, k, m)
    clean = flagged.filter(~F.col("__maybe")).drop("__maybe")
    candidates = flagged.filter(F.col("__maybe")).drop("__maybe")
    cand_keys = candidates.select(key_str.alias("__key")).distinct()
    # history keys actually present among candidates — broadcast-probe,
    # map-side on the history scan, result bounded by the candidate count
    hits = hist_df.select(key_str.alias("__key")).join(
        F.broadcast(cand_keys), "__key", "left_semi"
    ).distinct()
    verified = candidates.join(
        F.broadcast(hits), key_str == hits["__key"], "left_anti"
    )
    return clean.unionByName(verified)


def _ngram_jaccard_core(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold_num: int,
    threshold_den: int,
    prefix_order: str = "df",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup join via prefix filtering — the
    deterministic sibling of the MinHash path: same answer as all-pairs
    Jaccard >= threshold, but candidates come from an equi-join on PREFIX
    grams only (Chaudhuri/Bayardo SSJoin). Ranking grams by ascending
    document frequency puts the RAREST grams in every prefix, so hot
    stopword grams never generate candidates — the skew profile is the
    opposite of a naive postings self-join.

    Completeness: for Jaccard >= t, two docs must overlap in >= ceil(t*|A|)
    grams, so the first |A| - ceil(t*|A|) + 1 grams of A (in ONE global
    order) must contain a shared gram; likewise for B — joining prefix
    grams of both sides misses nothing. The threshold is a rational
    num/den and the accept predicate is integer cross-multiplication
    (inter*den >= num*union): no float boundary anywhere.

    Shape at scale: gram df is a map-side-partial agg; the prefix rank
    window partitions per DOCUMENT (never corpus-sized); the candidate
    join shuffles prefix grams only; verification joins each side's full
    gram array (document-bounded) and intersects per pair.

    Pick ``n`` large enough that grams are DISCRIMINATIVE: on a
    31-word-vocabulary corpus, bigrams are all hot (every prefix gram
    joins thousands of docs — measured 66s at sf0.1) while trigrams'
    max df is 25 and the same query runs in ~2s. Prefix filtering
    prunes by gram rarity; a gram space smaller than the corpus has no
    rarity to exploit.

    Grams are the HASHED shingles of :func:`_hashed_shingle_df` (md5
    per token, polynomial fold to one bigint per gram) — the same
    representation the MinHash path shuffles and intersects: 8-byte
    elements instead of ~20-char strings everywhere downstream, and the
    per-doc distinct gram ARRAY comes out of the shingle stage for
    free, so verification needs no collect_list regroup. Set semantics
    match string grams up to fold collisions — identically on both
    engines, since the oracle folds the same way.

    Returns (id_a, id_b, inter, union_sz, jaccard_sim) with id_a < id_b.
    """
    if not 0 < threshold_num <= threshold_den:
        raise ValueError("threshold must be a fraction in (0, 1]")
    if prefix_order not in ("df", "hash"):
        raise ValueError("prefix_order must be 'df' or 'hash'")
    # ``shingles``: a caller that already shingled df (ngram_jaccard_pairs
    # needs per-doc gram-set sizes too) passes its checkpointed table so
    # the md5-tokenize pass runs ONCE, not once per consumer (round 13)
    sh = (
        shingles
        if shingles is not None
        else _hashed_shingle_df(df, id_col, text_col, n).localCheckpoint(eager=False)
    )
    gram_sets = sh.select("__id", F.col("__sh").alias("__gs"))
    grams = sh.select(
        "__id", F.size("__sh").alias("__sz"), F.explode("__sh").alias("__g")
    )
    gdf = grams.groupBy("__g").agg(F.count(F.lit(1)).alias("__df"))
    # prefix length L = sz - ceil(t*sz) + 1, all-integer ceiling
    ceil_t_sz = F.floor(
        (F.lit(threshold_num) * F.col("__sz") + F.lit(threshold_den - 1))
        / F.lit(threshold_den)
    )
    # Prefix order is ANY global total order (completeness holds for all;
    # see docstring). "df" ranks by ascending document frequency — hot
    # grams never reach a prefix, the Zipf-safe default — at the cost of
    # the df aggregate + join + per-doc rank window. "hash" slices the
    # L smallest gram HASHES straight off the per-doc array: a pure
    # map-side projection (two fewer shuffles, no df table — measured
    # ~30% faster at sf0.1), correct but with no hot-gram exclusion, so
    # reserve it for corpora known to lack stopword-hot grams.
    if prefix_order == "hash":
        prefix = sh.select(
            "__id",
            F.size("__sh").alias("__sz"),
            F.explode(
                F.slice(
                    F.array_sort("__sh"),
                    1,
                    (F.size("__sh")
                     - F.floor((F.lit(threshold_num) * F.size("__sh")
                                + F.lit(threshold_den - 1)) / F.lit(threshold_den))
                     + F.lit(1)).cast("int"),
                )
            ).alias("__g"),
        )
    else:
        w = Window.partitionBy("__id").orderBy(F.col("__df").asc(), F.col("__g").asc())
        prefix = (
            grams.join(gdf, "__g")
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= F.col("__sz") - ceil_t_sz + F.lit(1))
            .select("__id", "__g", "__sz")
        )
    # length filter (exact, standard): J >= t forces t|A| <= |B| <= |A|/t,
    # in integer cross-multiplied form — prunes size-mismatched pairs
    # before the distinct
    cands = (
        prefix.alias("a")
        .join(prefix.alias("b"), "__g")
        .filter(
            (F.col("a.__id") < F.col("b.__id"))
            & (F.col("b.__sz") * F.lit(threshold_den) >= F.col("a.__sz") * F.lit(threshold_num))
            & (F.col("a.__sz") * F.lit(threshold_den) >= F.col("b.__sz") * F.lit(threshold_num))
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    verified = (
        cands.join(
            gram_sets.select(F.col("__id").alias("id_a"), F.col("__gs").alias("__ga")),
            "id_a",
        )
        .join(
            gram_sets.select(F.col("__id").alias("id_b"), F.col("__gs").alias("__gb")),
            "id_b",
        )
        .withColumn("inter", F.size(F.array_intersect("__ga", "__gb")))
        .withColumn("union_sz", F.size("__ga") + F.size("__gb") - F.col("inter"))
        .filter(
            F.col("inter") * F.lit(threshold_den)
            >= F.lit(threshold_num) * F.col("union_sz")
        )
    )
    return verified.select(
        "id_a",
        "id_b",
        F.col("inter").cast("int").alias("inter"),
        F.col("union_sz").cast("int").alias("union_sz"),
        F.round(F.col("inter") / F.col("union_sz"), 4).alias("jaccard_sim"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold_num: int = 3,
    threshold_den: int = 5,
    collapse_exact: bool | str = "auto",
    prefix_order: str = "df",
) -> DataFrame:
    """Public entry for the exact prefix-filtered n-gram Jaccard join
    (see :func:`_ngram_jaccard_core` for the algorithm) with the same
    exact-collapse pre-pass :func:`near_dup_pairs` uses: byte-identical
    documents collapse to one representative per content hash, the
    prefix/verify pipeline runs once per DISTINCT content, and the full
    pair set is recovered algebraically — intra-group cliques pair at
    jaccard 1.0 with inter = union = the group's gram count, and every
    verified rep-pair expands to its groups' cross product carrying the
    rep-pair's counts (copies have identical gram sets, so the counts
    transfer exactly). A duplicate-flooded corpus pays verification per
    distinct content instead of per copy pair (measured 44s → core-only
    cost at a 10×-duplicated sf1; the true pair set there is copies²-
    sized, so the naive path is output-bound). ``"auto"`` probes the
    duplication ratio with one map-side approx_count_distinct pass,
    exactly like near_dup_pairs."""
    if collapse_exact == "auto":
        from .guards import construction_scalar

        ratio = construction_scalar(
            df.agg(
                (
                    F.approx_count_distinct(F.xxhash64(F.col(text_col)))
                    / F.count(F.lit(1))
                ).alias("r")
            ),
            op_name="ngram_jaccard_dups",
            purpose="duplication-ratio probe for collapse_exact='auto'",
        )["r"]
        collapse_exact = ratio is not None and ratio < _COLLAPSE_DISTINCT_RATIO
    if not collapse_exact:
        return _ngram_jaccard_core(
            df, id_col, text_col, n, threshold_num, threshold_den, prefix_order
        )
    members = df.select(
        F.col(id_col).alias("__mid"), F.md5(F.col(text_col)).alias("__chash")
    )
    reps = members.groupBy("__chash").agg(F.min("__mid").alias("__rep"))
    members = members.join(reps, "__chash").localCheckpoint(eager=False)
    rep_ids = members.filter(F.col("__mid") == F.col("__rep")).select(
        F.col("__mid").alias(id_col)
    )
    rep_docs = df.join(rep_ids, id_col, "semi")
    # shingle the reps ONCE: the core's prefix/verify pipeline and the
    # gram-set sizes below share this checkpointed table (round 13 — the
    # second _hashed_shingle_df pass re-ran the whole md5-tokenize stage)
    rep_sh = _hashed_shingle_df(rep_docs, id_col, text_col, n).localCheckpoint(
        eager=False
    )
    rep_pairs = _ngram_jaccard_core(
        rep_docs, id_col, text_col, n, threshold_num, threshold_den,
        prefix_order, shingles=rep_sh,
    )
    # gram-set size per content group (from the rep; copies share it) —
    # also the validity filter: contents too short to shingle never pair
    rep_sizes = rep_sh.select(
        F.col("__id").alias("__rep"), F.size("__sh").alias("__sz")
    )
    sized = reps.join(rep_sizes, "__rep")  # (chash, rep, sz), shingleable only
    a = members.join(sized, "__chash").select(
        "__chash", F.col("__mid").alias("id_a"), "__sz"
    )
    b = members.select(F.col("__chash"), F.col("__mid").alias("id_b"))
    intra = (
        a.join(b, "__chash")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.col("__sz").cast("int").alias("inter"),
            F.col("__sz").cast("int").alias("union_sz"),
            F.lit(1.0).alias("jaccard_sim"),
        )
    )
    ma = members.select(F.col("__rep").alias("id_a"), F.col("__mid").alias("__ma"))
    mb = members.select(F.col("__rep").alias("id_b"), F.col("__mid").alias("__mb"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("__ma", "__mb").alias("id_a"),
            F.greatest("__ma", "__mb").alias("id_b"),
            "inter",
            "union_sz",
            "jaccard_sim",
        )
    )
    return intra.unionByName(cross)
