"""Validation splits, cleansing, as-of join, dedup family."""

import pytest
from pyspark.sql import functions as F

from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.operators.asof import (
    asof_join,
    range_join,
)
from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.operators.cleansing import (
    remove_junk_characters,
)
from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.operators.dedup import (
    exact_dedup_groups,
    near_dup_pairs,
    simhash_fingerprints,
)
from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.operators.validation import (
    ERROR_REASON,
    dedup_split,
    null_pk_split,
    tag_lanes,
)


def test_null_pk_split(spark):
    df = spark.createDataFrame(
        [(1, "x"), (None, "y"), (2, None), (None, None)], "pk int, v string"
    )
    good, bad = null_pk_split(df, ["pk"])
    assert good.count() == 2 and bad.count() == 2


def test_dedup_split_survivor_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "2020-01-01", 5.0), (1, "2020-03-01", 7.0), (1, "2020-02-01", 6.0), (2, "2020-01-01", 1.0)],
        "pk int, d string, v double",
    )
    survivors, dups = dedup_split(df, ["pk"], ["d"])
    s = {r["pk"]: r for r in survivors.collect()}
    assert s[1]["d"] == "2020-03-01"  # latest wins
    assert dups.count() == 2


def test_dedup_split_survivors_plan_as_window_group_limit(spark):
    df = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], "pk int, d string")
    survivors, _ = dedup_split(df, ["pk"], ["d"])
    assert "WindowGroupLimit" in survivors._jdf.queryExecution().executedPlan().toString()


#: (a, b, ts, v): NULLs in both key columns, duplicates on a, on b and on
#: (a, b), distinct ts per row and two fully identical rows
_LANE_ROWS = [
    (1, 10, 1, "p"), (1, 10, 2, "q"), (1, 11, 3, "r"), (None, 10, 4, "s"),
    (None, 10, 5, "s"), (2, None, 6, "t"), (2, None, 7, "u"), (3, 12, 8, "v"),
    (3, 12, 9, "v"), (None, None, 10, "w"), (4, 11, 11, "x"), (4, 11, 11, "x"),
]


@pytest.mark.parametrize("null_keys,dup_keys,order_by", [
    (["a"], ["a"], ["ts"]),
    (["a"], ["b"], ["ts"]),
    (["b"], ["a"], None),
    (["a", "b"], ["b"], None),
    (["a"], ["a", "b"], None),
    ([], ["a"], None),
    (["b"], [], None),
])
def test_tag_lanes_matches_split_chain(spark, null_keys, dup_keys, order_by):
    """One tagged pass gives the same lanes as null_pk_split followed by
    dedup_split, whether or not the key lists differ."""
    df = spark.createDataFrame(_LANE_ROWS, "a int, b int, ts int, v string")
    valid, null_lane = null_pk_split(df, null_keys)
    survivors, dup_lane = dedup_split(valid, dup_keys, order_by)
    chain = (
        survivors.withColumn(ERROR_REASON, F.lit(None).cast("string"))
        .unionByName(null_lane.withColumn(ERROR_REASON, F.lit("null_primary_key")))
        .unionByName(dup_lane.withColumn(ERROR_REASON, F.lit("duplicate_record")))
    )

    def rows(frame):
        return sorted(map(str, frame.collect()))

    # every row with its lane, from both sides, in one job each
    assert rows(tag_lanes(df, null_keys, dup_keys, order_by)) == rows(chain)


def test_junk_char_removal(spark):
    df = spark.createDataFrame([("ab\x00cé", 1)], "s string, i int")
    out = remove_junk_characters(df).collect()[0]
    assert out["s"] == "abc" and out["i"] == 1


def test_range_join(spark):
    left = spark.createDataFrame([(1, "2020-01-15")], "k int, d string").select(
        "k", F.col("d").cast("timestamp").alias("ts")
    )
    right = spark.createDataFrame(
        [(1, "2020-01-01", "2020-02-01", "in"), (1, "2020-02-01", "2020-03-01", "out")],
        "k int, s string, e string, tag string",
    ).select("k", F.col("s").cast("timestamp").alias("s"), F.col("e").cast("timestamp").alias("e"), "tag")
    out = range_join(left, right, ["k"], "ts", "s", "e").collect()
    assert len(out) == 1 and out[0]["tag"] == "in"


def test_asof_join_basic(spark):
    left = spark.createDataFrame(
        [(1, "2020-01-05"), (1, "2020-01-01"), (2, "2020-01-05")], "k int, d string"
    ).select("k", F.col("d").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [(1, "2020-01-02", 10.0), (1, "2020-01-04", 20.0)], "k int, d string, px double"
    ).select("k", F.col("d").cast("timestamp").alias("ts"), "px")
    out = asof_join(left, right, ["k"], "ts", "ts", ["px"])
    got = {(r["k"], str(r["ts"])[:10]): r["px"] for r in out.collect()}
    assert got[(1, "2020-01-05")] == 20.0  # most recent at-or-before
    assert got[(1, "2020-01-01")] is None  # nothing before
    assert got[(2, "2020-01-05")] is None  # no right rows for key


def test_asof_equal_ts_included(spark):
    left = spark.createDataFrame([(1, "2020-01-02")], "k int, d string").select(
        "k", F.col("d").cast("timestamp").alias("ts")
    )
    right = spark.createDataFrame([(1, "2020-01-02", 5.0)], "k int, d string, px double").select(
        "k", F.col("d").cast("timestamp").alias("ts"), "px"
    )
    out = asof_join(left, right, ["k"], "ts", "ts", ["px"]).collect()
    assert out[0]["px"] == 5.0  # at-or-before semantics


def test_exact_dedup_groups(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], "id long, text string"
    )
    groups = {r["keep_id"]: r["n_copies"] for r in exact_dedup_groups(df, "text", "id").collect()}
    assert groups[1] == 2 and groups[3] == 1


def test_near_dup_pairs_finds_planted_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, "completely different words in every single position here")],
        "doc_id long, text string",
    )
    pairs = near_dup_pairs(df, "doc_id", "text", threshold=0.5).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}
    assert all(r["jaccard_sim"] >= 0.5 for r in pairs)


def test_near_dup_clusters_connected_components(spark):
    """Chain 1-2-3-4 collapses to rep 1; isolated pair (8,9) to rep 8 —
    even though 1-4 never appear as a direct pair."""
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.operators.dedup import (
        near_dup_clusters,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (8, 9)], "id_a int, id_b int"
    )
    got = {r["doc_id"]: r["cluster_rep"] for r in near_dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 8: 8, 9: 8}


def test_simhash_identical_docs_same_fingerprint(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g"), (3, "z y x w v u t")],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(df, "doc_id", "text").collect()}
    assert fps[1] == fps[2] != fps[3]


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing guarantee: docs sharing a run of >= k+w-1 chars share a
    selected fingerprint; docs shorter than k select nothing."""
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.operators.dedup import (
        winnow_fingerprint_sets,
    )

    shared = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [
            (1, "AAAA " + shared + " BBBB"),
            (2, "CCCC " + shared + " DDDD"),
            (3, "completely different words here entirely"),
            (4, "tiny"),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: set(r["fingerprints"]) for r in winnow_fingerprint_sets(df, "doc_id", "text").collect()}
    assert out[1] & out[2]  # shared run -> shared fingerprint
    assert not out[4]  # shorter than k+w-1 -> empty
    # determinism
    again = {r["doc_id"]: set(r["fingerprints"]) for r in winnow_fingerprint_sets(df, "doc_id", "text").collect()}
    assert out == again


def test_near_dup_collapse_exact_equals_direct(spark, sf_dir):
    """collapse_exact must produce EXACTLY the direct pipeline's pairs on
    a duplicate-heavy corpus (intra-group cliques + expanded rep pairs)."""
    from pyspark.sql import functions as F

    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.operators.dedup import (
        near_dup_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    dup1 = docs.withColumn("doc_id", F.col("doc_id") + 100000)
    dup2 = docs.withColumn("doc_id", F.col("doc_id") + 200000)
    corpus = docs.unionByName(dup1).unionByName(dup2)  # every doc x3

    direct = near_dup_pairs(corpus, "doc_id", "text", collapse_exact=False)
    collapsed = near_dup_pairs(corpus, "doc_id", "text", collapse_exact=True)
    d = sorted(map(tuple, direct.collect()))
    c = sorted(map(tuple, collapsed.collect()))
    assert len(d) == len(c)
    assert d == c
    # sanity: triplicate corpus makes every doc an exact-dup clique of 3
    assert len(c) >= 60 * 3


def test_simhash_near_pairs_banding(spark):
    """Pigeonhole banding: identical docs pair at distance 0, near-identical
    within the radius, unrelated docs absent; plan is an equi-join (no
    cartesian)."""
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.operators.dedup import (
        simhash_near_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # identical -> distance 0
            (3, base + " tomorrow"),  # near-identical
            (4, "totally unrelated content about databases and airplanes wow"),
        ],
        "doc_id int, text string",
    )
    out = {(r["id_a"], r["id_b"]): r["hamming_dist"] for r in simhash_near_pairs(df, "doc_id", "text", radius=2).collect()}
    assert out[(1, 2)] == 0
    assert all(d <= 2 for d in out.values())
    assert (1, 4) not in out and (2, 4) not in out
    plan = simhash_near_pairs(df, "doc_id", "text")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
