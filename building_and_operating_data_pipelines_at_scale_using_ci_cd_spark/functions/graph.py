"""Graph centrality over DataFrames: PageRank on a k-NN similarity
graph — the coreset-selection signal ("which examples are central to
their neighborhood") used when curating training data by representative-
ness, and the third iterative algorithm expressed purely on the
DataFrame API (next to Lloyd's k-means in ``clustering.py`` and the
min-label propagation in ``operators/dedup.py near_dup_clusters``).

Scale shape:
  - the edge list is any (src, dst) DataFrame; `knn_edges` builds one
    from an embedding column via the existing broadcast top-k (each
    node → its k nearest neighbors, so out-degree is uniformly k and
    the graph has no dangling nodes);
  - each PageRank iteration is ONE equi-join (edges ⋈ current ranks on
    src) + ONE groupBy(dst) sum — both map-side-partial shuffles on the
    node id; iteration count is fixed, so the job graph is static and
    the plan depth bounded;
  - no driver-side state beyond the node count (one ``count()`` job —
    same bounded-scalar allowance as ``adaptive_index_size``).

Cross-engine determinism — ALL-INTEGER mass accounting: rank mass is
carried in integer units of 1/SCALE (=1e-12), every division is integer
division, and damping is the exact rational 17/20. Float PageRank at
6-decimal rounding was measured to FLIP the last digit between engines
(Spark's BigDecimal HALF_UP on the exact binary double vs DuckDB's
multiply-then-round — values after a /deg division sit densely on
rounding boundaries); integer units make divergence impossible, the
same lesson as ``weighted_priority_sample``'s integer priority key.
The integer recursion tracks float PageRank to ~1e-12 per step; ranking
and the emitted unit values are exact.
"""

from __future__ import annotations

import os
import tempfile
from fractions import Fraction

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.readers import read_parquet


def _materialize_parquet(df: DataFrame, prefix: str) -> DataFrame:
    """Write ``df`` to a fresh temp parquet dir and read it back.

    Truncates lineage like ``localCheckpoint`` but KEEPS size statistics:
    a parquet scan carries sizeInBytes, so downstream joins still plan a
    broadcast when the materialized table is genuinely small and degrade
    to sort-merge only when it is not — exactly the scale-adaptive
    behavior an RDD-backed checkpoint (no stats) loses. Round-12
    measurement on triangle_count: an eager localCheckpoint of the edge
    table degraded every downstream join to SortMergeJoin (3.49s → 6.0s
    at sf0.1), so the shared subtree stayed inlined ~8x; this form
    computes it once and keeps the broadcasts. A fresh directory per
    call — nothing persists across invocations. The read back takes its
    schema from the footer Spark just wrote: no inference job."""
    path = os.path.join(tempfile.mkdtemp(prefix=prefix), "t")
    df.write.mode("overwrite").parquet(path)
    return read_parquet(df.sparkSession, path)

#: one unit of rank mass = 1/SCALE (integer accounting, see module doc)
SCALE = 10**12


def _idiv(a: Column, b: Column) -> Column:
    """Exact integer division on bigint Columns (non-negative operands):
    (a - a % b) / b — the double quotient of an exactly-divisible pair
    is exact below 2^53, and every operand here is mass-bounded by
    SCALE·17 << 2^53."""
    return ((a - a % b) / b).cast("bigint")


def knn_edges(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    method: str = "exact",
    n_probe: int = 8,
    weighted: bool = False,
) -> DataFrame:
    """Directed k-NN edge list (src, dst): every vector points at its
    ``k`` nearest cosine neighbors (deterministic id tie-break, self
    excluded). Out-degree is exactly ``k`` per node with ``exact``.

    ``method``:
      - ``"exact"`` — brute-force all-pairs top-k. EVERY node is a
        query, so this is the quadratic piece: measured 294s cold at
        just 20k×64-dim on local[16]. Right for oracle-checked runs
        and small graphs; wrong at corpus scale.
      - ``"ivf"`` — IVF ANN edges (adaptive ~√n centroid count,
        ``n_probe`` lists): the production path — same 20k build in
        ~2s, and the approximate graph is what published kNN-graph
        pipelines (coreset selection, kNN-LM) actually use. Out-degree
        can fall below ``k`` for vectors whose neighbors all sit in
        unprobed lists; PageRank handles ragged degrees natively."""
    from .similarity import ivf_topk, topk_neighbors

    # weighted mode needs the UNROUNDED cosine: deriving the integer
    # weight from an engine-native 2dp ROUND re-opens the HALF_UP vs
    # multiply-then-round divergence on .xx5-boundary doubles that the
    # all-integer contract exists to close — the floor form below IS the
    # rounding step, applied identically on any engine
    sim_decimals = None if weighted else 2
    if method == "exact":
        nn = topk_neighbors(
            vectors, vectors, id_col, vec_col, k=k, sim_decimals=sim_decimals
        )
    elif method == "ivf":
        nn = ivf_topk(
            vectors, vectors, id_col, vec_col, k=k, n_probe=n_probe,
            sim_decimals=sim_decimals,
        )
    else:
        raise ValueError("method must be 'exact' or 'ivf'")
    cols = [F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")]
    if weighted:
        # integer edge weight straight from the raw cosine: floor(x*100
        # + 0.5) is the same double arithmetic on any engine (the ROUND-
        # semantics lesson), clamped ≥ 1 so weakly-similar edges still
        # carry mass instead of silently dropping it
        w = F.greatest(
            F.lit(1).cast("bigint"),
            F.floor(F.col("cosine_sim") * F.lit(100.0) + F.lit(0.5)).cast("bigint"),
        )
        cols.append(w.alias("weight"))
    return nn.select(*cols)


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str,
    iters: int = 3,
    damping: Fraction = Fraction(17, 20),
    rank_mode: str = "none",
    top_n: int | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank in integer mass units. ``nodes``
    supplies the full vertex set (vertices without in-edges still
    receive the teleport term). ``damping`` must be an exact rational
    (default 17/20 = 0.85) so both the engine and any oracle apply
    identical integer arithmetic.

    If ``edges`` carries an integer ``weight`` column, contributions are
    weighted: each source splits its mass proportionally to edge weight
    (``pr·w // Σw_src`` — still all-integer, still divergence-free),
    the similarity-weighted centrality actually used for coreset
    ranking. Without the column every edge counts 1 (uniform split).

    Emission — the scale decision, so it is a PARAMETER, not a comment:
      - ``rank_mode="none"`` (default): (id, pr_units) unranked.
        ``pr_units`` is the integer mass in 1/SCALE units; the
        scale-safe shape — no global sort anywhere, mass flows straight
        into the next pipeline stage (a join, a threshold filter).
      - ``top_n=N``: (id, pr_units, rank) for the N most central nodes
        only, via sort+limit — Spark plans TakeOrderedAndProject
        (per-partition heaps, no global shuffle-sort), the "give me
        the coreset" call at any corpus size.
      - ``rank_mode="global"``: every node ranked by a total order
        (mass desc, id asc). A single-partition window sort of one row
        per node — fine to a few 1e7 nodes, the driver-shaped
        bottleneck at 1e9; opt-in for exactly that reason (the oracle
        entries use it: their fixtures are small and hash-comparing a
        full ranking is the strictest check).

    Dangling nodes (out-degree 0) leak their mass — acceptable for k-NN
    graphs (uniform out-degree k, never dangling); renormalize upstream
    for general graphs."""
    if rank_mode not in ("none", "global"):
        raise ValueError("rank_mode must be 'none' or 'global'")
    if top_n is not None and rank_mode == "global":
        raise ValueError("pass either top_n or rank_mode='global', not both")
    n = nodes.count()  # bounded scalar: one job, one long
    if n == 0:
        raise ValueError("empty node set")
    dn, dd = damping.numerator, damping.denominator
    # teleport term: (1 - d)·SCALE/n in exact integers
    base = ((dd - dn) * SCALE) // (dd * n)
    w_col = (
        F.col("weight").cast("bigint")
        if "weight" in edges.columns
        else F.lit(1).cast("bigint")
    )
    edges = edges.select("src", "dst", w_col.alias("__w"))
    out_deg = edges.groupBy("src").agg(F.sum("__w").alias("__deg"))
    e = edges.join(out_deg, "src")
    pr = nodes.select(
        F.col(id_col).alias("__id"), F.lit(SCALE // n).cast("bigint").alias("__pr")
    )
    for _ in range(iters):
        contrib = (
            e.join(pr, e["src"] == pr["__id"])
            .select(
                "dst",
                _idiv(F.col("__pr") * F.col("__w"), F.col("__deg")).alias("__c"),
            )
            .groupBy("dst")
            .agg(F.sum("__c").alias("__in"))
        )
        pr = (
            nodes.select(F.col(id_col).alias("__id"))
            .join(contrib, F.col("__id") == F.col("dst"), "left")
            .select(
                "__id",
                (
                    F.lit(base)
                    + _idiv(
                        F.lit(dn) * F.coalesce(F.col("__in"), F.lit(0)).cast("bigint"),
                        F.lit(dd).cast("bigint"),
                    )
                ).cast("bigint").alias("__pr"),
            )
        )
    if top_n is not None:
        # sort+limit compiles to TakeOrderedAndProject: per-partition
        # heaps of top_n rows, one driver merge — never a global sort
        top = (
            pr.orderBy(F.col("__pr").desc(), F.col("__id").asc())
            .limit(top_n)
            .withColumn("rank", F.row_number().over(
                Window.orderBy(F.col("__pr").desc(), F.col("__id").asc())
            ))
        )
        return top.select(
            F.col("__id").alias(id_col), F.col("__pr").alias("pr_units"), "rank"
        )
    if rank_mode == "global":
        w = Window.orderBy(F.col("__pr").desc(), F.col("__id").asc())
        return pr.select(
            F.col("__id").alias(id_col),
            F.col("__pr").alias("pr_units"),
            F.row_number().over(w).alias("rank"),
        )
    return pr.select(F.col("__id").alias(id_col), F.col("__pr").alias("pr_units"))


def knn_pagerank(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    iters: int = 3,
    method: str = "exact",
    weighted: bool = False,
    rank_mode: str = "none",
    top_n: int | None = None,
) -> DataFrame:
    """One-call k-NN graph + PageRank (the ``knnPagerank`` config step).
    Pass ``method="ivf"`` at corpus scale, ``weighted=True`` for
    similarity-weighted mass splitting — see :func:`knn_edges`; rank
    emission defaults to unranked mass (see :func:`pagerank`)."""
    return pagerank(
        knn_edges(vectors, id_col, vec_col, k, method=method, weighted=weighted),
        vectors,
        id_col,
        iters=iters,
        rank_mode=rank_mode,
        top_n=top_n,
    )


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Exact triangle counting by degree-ordered orientation — the
    classic MapReduce formulation (Suri & Vassilvitskii, WWW 2011):

      1. canonicalize to an undirected simple graph (min/max endpoint,
         distinct, self-loops dropped);
      2. orient every edge from its lower-(degree, id) endpoint to the
         higher — acyclic, and every out-degree is O(sqrt(m)), which is
         THE bound that keeps the wedge join from exploding on
         power-law graphs (a celebrity node's million edges all point
         INTO it, so it never generates million² wedges);
      3. wedges = oriented ⋈ oriented on the middle node; close each
         wedge with a semi-ish join back to the oriented edge list.
         Each triangle is counted exactly once (its unique
         lowest-(deg, id) apex generates the wedge).

    Three hash equi-joins + two groupBys, all map-side-partial, no
    window, no driver state. Returns one row:
    ``(n_nodes, n_edges, n_triangles)`` — all exact integers."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # NOT materialized, deliberately — measured twice now. Round 12:
        # localCheckpoint strips Catalyst size stats, downstream joins
        # degrade to SortMergeJoin (baseline 3.49s, lazy ckpt 3.51s,
        # eager ckpt 6.0s at sf0.1). Round 13: _materialize_parquet
        # (temp-parquet round-trip — KEEPS stats, 90->32 Exchanges,
        # 12->0 SMJ) still lost at sf0.1: 3.78s vs 3.43s inlined for e
        # alone, 5.45s with ed too — the ~8 inlined subtrees execute in
        # PARALLEL inside one job, while materialization serializes a
        # write barrier ahead of them. On a saturated cluster at real
        # scale total work dominates wall-clock and the materialized
        # form wins: flip to `_materialize_parquet(..., "triangle_e_")`
        # there. The driver's r12 6.75s stamp did not reproduce on a
        # quiet host (3.43s, matching the r11 3.51s record): host noise.
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )
    # orientation key: (degree, id) total order
    ed = (
        e.join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("lo"), F.col("b").alias("hi")),
            )
            .otherwise(F.struct(F.col("b").alias("lo"), F.col("a").alias("hi")))
            .alias("o")
        )
        .select(F.col("o.lo").alias("u"), F.col("o.hi").alias("w"))
        # not materialized — measured worse at sf0.1 (round 13: 5.45s
        # min-of-3 vs 3.43s inlined; see the note on `e` above)
    )
    wedges = (
        ed.alias("e1")
        .join(ed.alias("e2"), F.col("e1.u") == F.col("e2.u"))
        .filter(F.col("e1.w") < F.col("e2.w"))
        .select(F.col("e1.w").alias("x"), F.col("e2.w").alias("y"))
    )
    closed = wedges.join(
        e.select(F.col("a").alias("x"), F.col("b").alias("y")),
        ["x", "y"],
        "inner",
    )
    n_nodes = deg.groupBy().count().select(F.col("count").alias("n_nodes"))
    n_edges = e.groupBy().count().select(F.col("count").alias("n_edges"))
    n_tri = closed.groupBy().count().select(F.col("count").alias("n_triangles"))
    return (
        n_nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_tri))
        .select(
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.col("n_edges").cast("bigint").alias("n_edges"),
            F.col("n_triangles").cast("bigint").alias("n_triangles"),
        )
    )


def bfs_levels(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    max_hops: int = 4,
    directed: bool = False,
    frontier_broadcast: bool = False,
) -> DataFrame:
    """Multi-source BFS: the minimum hop distance from ANY source node,
    for every node reachable within ``max_hops``. Returns
    ``(node, dist)`` with exact integer distances — the fourth iterative
    algorithm on the pure DataFrame API (after Lloyd's k-means,
    min-label propagation, and PageRank).

    Frontier formulation, one round per hop:

      - expand: frontier ⋈ edges on the source endpoint (ONE hash
        equi-join keyed on the node id), distinct the new endpoint set;
      - prune: anti-join against everything already visited, so a node
        enters the result at its FIRST (minimum) distance and each node
        is expanded exactly once across the whole run — total work is
        O(|E|) across all rounds, like the sequential algorithm;
      - fixed ``max_hops`` bounds plan depth (static job graph, the
        pagerank argument); each round's frontier is localCheckpoint'd
        to truncate lineage (the near_dup_clusters lesson — without it
        round h re-derives rounds 1..h-1).

    ``directed=False`` (default) mirrors every edge first.

    ``frontier_broadcast=True`` hints each hop's frontier as the
    broadcast side of the expand join — without it the checkpointed
    frontier (an RDD scan with no size stats) plans as a sort-merge
    join that re-shuffles the EDGE table every hop (measured at sf0.1:
    2.82s → 2.23s with the hint). Opt-in because a frontier is bounded
    only by the node set: callers who know their graph (a keyed seed
    set, small-world hop counts) opt in; a forced broadcast of a
    100M-node frontier would OOM the driver.
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    if not directed:
        e = e.unionByName(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    # materialize the normalized edge table ONCE: every hop's expand join
    # references e, and only the frontiers were checkpointed — so each of
    # the max_hops rounds re-derived the caller's edge expression (for
    # bfs_reachability a lineitem self-join + distinct) from scratch.
    # One localCheckpoint makes all hops share a single computation
    # (guide §2.4; the same lesson the frontiers already applied).
    e = e.filter(F.col("s") != F.col("d")).distinct().localCheckpoint(eager=True)
    visited = (
        sources.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0))
        .localCheckpoint(eager=False)
    )
    frontier = visited.select("node")
    for h in range(1, max_hops + 1):
        probe = F.broadcast(frontier) if frontier_broadcast else frontier
        nxt = (
            probe.join(e, probe["node"] == e["s"])
            .select(F.col("d").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .localCheckpoint(eager=False)
        )
        visited = visited.unionByName(nxt.withColumn("dist", F.lit(h)))
        frontier = nxt
    return visited.select("node", F.col("dist").cast("int").alias("dist"))
