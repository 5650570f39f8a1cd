"""Skew salting, compaction and file layout: results must match the
plain formulations. The bucketed co-located join is pinned through the
catalog target (test_round2_fixes.py)."""

import pytest

from pyspark.sql import functions as F

from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.operators.scale import (
    salted_join,
    skewed_keys,
)


@pytest.fixture
def skewed_pair(spark):
    # key 1 is pathologically hot (90% of rows)
    left = spark.createDataFrame(
        [(1, i) for i in range(900)] + [(k, 0) for k in range(2, 102)], "k int, v int"
    )
    right = spark.createDataFrame([(k, f"dim_{k}") for k in range(1, 50)], "k int, name string")
    return left, right


def test_skewed_keys_finds_hot_key(spark, skewed_pair):
    left, _ = skewed_pair
    top = skewed_keys(left, ["k"], top_n=1).collect()
    assert top[0]["k"] == 1 and top[0]["n_rows"] == 900


def test_salted_join_matches_plain_join(spark, skewed_pair):
    left, right = skewed_pair
    for how in ("inner", "left"):
        plain = left.join(right, ["k"], how).orderBy("k", "v", "name").collect()
        salted = salted_join(left, right, ["k"], how, salt=8).orderBy("k", "v", "name").collect()
        assert salted == plain, how


def test_salted_join_spreads_hot_key(spark, skewed_pair):
    """The hot key's rows must land in >1 salt bucket pre-join."""
    left, _ = skewed_pair
    salted_l = left.withColumn(
        "__salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(8)).cast("int")
    )
    n_buckets = salted_l.filter("k = 1").select("__salt").distinct().count()
    assert n_buckets > 1


def test_compact_files_reduces_file_count(spark, tmp_path):
    import glob
    import os

    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.operators.scale import (
        compact_files,
    )

    path = str(tmp_path / "fragmented")
    # simulate a streaming sink's tiny-file debris: 40 appends
    for i in range(40):
        spark.range(i * 10, (i + 1) * 10).toDF("id").coalesce(1).write.mode("append").parquet(path)
    n_before = len(glob.glob(os.path.join(path, "part-*")))
    assert n_before >= 40
    compact_files(spark, path, target_mb=128, sort_by=["id"])
    n_after = len(glob.glob(os.path.join(path, "part-*")))
    assert n_after < 5
    out = spark.read.parquet(path)
    assert out.count() == 400
    assert out.agg({"id": "max"}).collect()[0][0] == 399
    assert not os.path.exists(path + "__compact")


def test_sort_by_clusters_output_files(spark, tmp_path):
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.config import TargetSpec
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.sinks.writers import (
        write_target,
    )

    path = str(tmp_path / "sorted_out")
    df = spark.range(1000).toDF("id").withColumn("k", (990 - F.col("id") % 991))
    spec = TargetSpec(
        data_target="local", dataframe_name="out", load_type="truncateInsert",
        path=path, file_format="parquet", save_mode="overwrite",
        sort_by=["k"], single_file=True,
    )
    write_target(spark, df, spec)
    import pyarrow.parquet as pq
    import glob

    f = glob.glob(path + "/*.parquet")[0]
    md = pq.ParquetFile(f)
    ks = md.read(columns=["k"]).column("k").to_pylist()
    assert ks == sorted(ks)


def test_ivf_kmeans_refinement_improves_recall(spark, sf_dir):
    """Lloyd-refined centroids must not hurt recall vs the exact top-k,
    and must be deterministic run-to-run."""
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.functions.similarity import (
        ivf_topk,
        topk_neighbors,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 25 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_neighbors(q, emb, "vec_id", "embedding", k=5).collect()
    }

    def recall(iters):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(
                q, emb, "vec_id", "embedding", k=5, n_centroids=8, n_probe=2,
                kmeans_iters=iters,
            ).collect()
        }
        return len(got & exact) / len(exact)

    r0, r2 = recall(0), recall(2)
    assert r2 >= r0 - 0.05  # refinement must not meaningfully hurt
    assert 0 < r2 <= 1.0
    # determinism of the refined index
    a = sorted(map(tuple, ivf_topk(q, emb, "vec_id", "embedding", k=5,
                                   kmeans_iters=2).collect()))
    b = sorted(map(tuple, ivf_topk(q, emb, "vec_id", "embedding", k=5,
                                   kmeans_iters=2).collect()))
    assert a == b
