"""Config-dialect operator steps (operatorName alongside sqlQuery):
curation operators chained with SQL in one job config."""

import inspect
import json

import pytest

from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.operators.registry import (
    OPERATORS,
    apply_operator,
)
from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.plans.engine import Orchestrator


def _curation_cfg(sf_dir, out):
    return {
        "configs": {
            "name": "config_curation",
            "phase_1": {
                "input_data": {
                    "dataSource": "local",
                    "dataFrameName": "documents",
                    "path": f"{sf_dir}/documents.parquet",
                    "fileProperties": {"fileFormat": "parquet"},
                }
            },
        },
        "phase_2": {
            "data_transformation_required": "true",
            "data_transformations": [
                {
                    "operatorName": "exactDedupSurvivors",
                    "inputDFName": "documents",
                    "operatorParams": {"text_col": "text", "id_col": "doc_id"},
                    "outputDFName": "unique_docs",
                },
                {
                    "operatorName": "textEnrich",
                    "inputDFName": "unique_docs",
                    "operatorParams": {"text_col": "text"},
                    "outputDFName": "enriched",
                },
                {
                    "functionName": "keep good english",
                    "sqlQuery": "SELECT doc_id, text, predicted_lang, quality "
                                "FROM enriched WHERE predicted_lang = 'en' AND quality >= 0.5",
                    "outputDFName": "kept",
                },
                {
                    "operatorName": "hashSplit",
                    "operatorParams": {"id_col": "doc_id",
                                       "weights": {"train": 0.9, "val": 0.1}},
                    "outputDFName": "final",
                },
            ],
        },
        "phase_3": {
            "target_record_insert": [
                {"dataTarget": "local", "dataFrameName": "final",
                 "loadType": "truncateInsert", "path": out,
                 "outputDataProperties": {"fileFormat": "parquet",
                                          "partitionBy": ["split"]}}
            ]
        },
    }


def test_config_curation_pipeline(spark, sf_dir, tmp_path):
    out = str(tmp_path / "curated")
    res = Orchestrator(spark).run(_curation_cfg(sf_dir, out))
    written = spark.read.parquet(out)
    assert set(written.columns) >= {"doc_id", "quality", "split"}
    n = written.count()
    assert 0 < n <= 500
    splits = {r["split"] for r in written.select("split").distinct().collect()}
    assert splits <= {"train", "val"}
    # operator output matched the direct-API composite (corpus_curation)
    assert res.output_name == "final"


def test_operator_step_defaults_to_previous_output(spark, sf_dir):
    """An operator step with no inputDFName consumes the previous step's
    view (hashSplit above relies on this); first-step default is the
    primary input."""
    cfg = _curation_cfg(sf_dir, "/tmp/unused")
    del cfg["phase_3"]["target_record_insert"]
    step = cfg["phase_2"]["data_transformations"][0]
    step.pop("inputDFName")
    res = Orchestrator(spark).run(cfg)
    assert res.output.count() > 0


def test_unknown_operator_name_lists_available(spark, sf_dir):
    cfg = _curation_cfg(sf_dir, "/tmp/unused2")
    del cfg["phase_3"]["target_record_insert"]
    cfg["phase_2"]["data_transformations"] = [
        {"operatorName": "noSuchOp", "inputDFName": "documents", "outputDFName": "x"}
    ]
    with pytest.raises(KeyError, match="noSuchOp"):
        Orchestrator(spark).run(cfg)


def test_unknown_input_view_raises(spark, sf_dir):
    cfg = _curation_cfg(sf_dir, "/tmp/unused3")
    del cfg["phase_3"]["target_record_insert"]
    cfg["phase_2"]["data_transformations"] = [
        {"operatorName": "textEnrich", "inputDFName": "nope", "outputDFName": "x"}
    ]
    with pytest.raises(KeyError, match="unknown input view"):
        Orchestrator(spark).run(cfg)


def test_registry_covers_training_ops(spark, sf_dir):
    assert {"minhashNearDups", "nearDupClusters", "hashSplit",
            "stratifiedSample", "packSequential", "embeddingNearDups"} <= set(OPERATORS)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = apply_operator("minhashNearDups", docs, {"id_col": "doc_id", "text_col": "text"})
    clusters = apply_operator("nearDupClusters", pairs, {})
    assert clusters.columns == ["doc_id", "cluster_rep"]


def test_registry_round5_ops_dispatch(spark, sf_dir):
    assert {"semanticDedup", "bloomIncrementalDedup", "domainMixSample",
            "lmCrossEntropy", "bpeTokenize", "sessionAggregate",
            "tumblingCounts", "streamingDedup"} <= set(OPERATORS)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    kept = apply_operator(
        "semanticDedup", emb,
        {"id_col": "vec_id", "vec_col": "embedding", "n_clusters": "4", "threshold": "0.3"},
    )
    assert kept.columns == ["kept_id", "cluster_id"] and kept.count() > 0

    mixed = apply_operator(
        "domainMixSample", docs,
        {"strata_col": "source", "weights": {"src0": "2", "src1": "1"}, "id_col": "doc_id"},
    )
    assert mixed.count() > 0

    scored = apply_operator("lmCrossEntropy", docs, {"id_col": "doc_id", "text_col": "text"})
    assert "cross_entropy" in scored.columns

    uniq = apply_operator(
        "bloomIncrementalDedup",
        docs.selectExpr("doc_id", "substring(text, 1, 30) AS fp"),
        {"key_col": "fp", "new_predicate": "doc_id % 3 = 0"},
    )
    assert uniq.count() > 0

    toks = apply_operator(
        "bpeTokenize", docs.limit(30), {"id_col": "doc_id", "text_col": "text", "n_merges": "4"}
    )
    row = toks.first()
    assert row["n_tokens"] > 0 and isinstance(row["tokens"], str)

    sessions = apply_operator(
        "sessionAggregate",
        spark.read.parquet(f"{sf_dir}/events.parquet"),
        {"ts_col": "ts", "key": "user_id", "gap": "30 minutes"},
    )
    assert {"session_start", "session_end", "n_events"} <= set(sessions.columns)


def test_similarity_ops_config_callable(spark, tables):
    """Round 6: the ANN/top-k family is reachable from JSON configs like
    every other operator — one input view, queries picked by predicate."""
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.operators.registry import (
        apply_operator,
    )

    emb = spark.table("embeddings")
    exact = apply_operator(
        "topkNeighbors", emb,
        {"id_col": "vec_id", "vec_col": "embedding",
         "query_predicate": "vec_id % 100 = 0", "k": "3"},
    )
    rows = exact.collect()
    assert rows and all(r["rank"] <= 3 for r in rows)

    ann = apply_operator(
        "annLshTopk", emb,
        {"id_col": "vec_id", "vec_col": "embedding", "dim": "64",
         "query_predicate": "vec_id % 100 = 0", "k": "3",
         "num_planes": "4", "num_tables": "2", "num_probes": "4"},
    )
    ann_rows = ann.collect()
    assert ann_rows and all(r["rank"] <= 3 for r in ann_rows)

    ivf = apply_operator(
        "ivfTopk", emb,
        {"id_col": "vec_id", "vec_col": "embedding",
         "query_predicate": "vec_id % 100 = 0", "k": "3",
         "n_centroids": "8", "n_probe": "3"},
    )
    assert ivf.collect()


def _simhash_cfg(sf_dir, bits):
    cfg = _curation_cfg(sf_dir, "/tmp/unused_simhash")
    del cfg["phase_3"]["target_record_insert"]
    cfg["phase_2"]["data_transformations"] = [
        {"operatorName": "simhashFingerprints", "inputDFName": "documents",
         "operatorParams": {"id_col": "doc_id", "text_col": "text", "bits": bits},
         "outputDFName": "fps"}
    ]
    return cfg


def test_templated_numeric_param_matches_literal(spark, sf_dir):
    """``${...}`` substitution always yields strings; a library-bound step
    converts ``"bits": "${bits}"`` by the target's ``int`` annotation, so
    the run equals the one with a literal int."""
    templated = Orchestrator(spark).run(_simhash_cfg(sf_dir, "${bits}"), params={"bits": 16})
    literal = Orchestrator(spark).run(_simhash_cfg(sf_dir, 16))
    got = sorted(tuple(r) for r in templated.output.collect())
    assert got and got == sorted(tuple(r) for r in literal.output.collect())
    assert all(0 <= fp < 2 ** 16 for _, fp in got)


def test_templated_delta_version_matches_literal(spark, tmp_path):
    """The ``delta*`` steps convert through the same rule: a templated
    ``"version": "${v}"`` on deltaClone and deltaRestore lands on the
    version a literal int names."""
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.sources import (
        delta_lite as dl,
    )

    src, clone = str(tmp_path / "src"), str(tmp_path / "clone")
    dl.write_delta_lite(spark.createDataFrame([(1,), (2,)], "k int"), src)
    dl.write_delta_lite(spark.createDataFrame([(3,)], "k int"), src, mode="append")
    steps = [
        ("deltaClone", {"source_path": src, "table_path": clone, "version": "${v}"}),
        ("deltaRestore", {"table_path": src, "version": "${v}"}),
    ]
    cfg = {
        "configs": {
            "name": "templated_delta_version",
            "phase_1": {
                "input_data": {
                    "dataSource": "local",
                    "dataFrameName": "anchor",
                    "path": src,
                    "fileProperties": {"fileFormat": "deltalake"},
                }
            },
        },
        "phase_2": {
            "data_transformations": [
                {"operatorName": op, "inputDFName": "anchor", "operatorParams": params,
                 "outputDFName": f"out_{op}"}
                for op, params in steps
            ]
        },
    }
    result = Orchestrator(spark).run(cfg, params={"v": 0})
    for op, _ in steps:
        assert sorted(r.k for r in result.views[f"out_{op}"].collect()) == [1, 2]
    assert dl.history_delta_lite(src)[0]["operationParameters"]["version"] == 0
    assert dl.load_snapshot(clone).version == 0


def test_null_param_means_library_default(spark):
    """``"k": null`` reaches ``heavy_hitters(k=None)`` unconverted (its
    ``int | None`` default), not ``int(None)``."""
    items = spark.createDataFrame([(c,) for c in "aaaaabbbc"], "item string")
    params = json.loads('{"item_col": "item", "frac_num": "1", "frac_den": "4", "k": null}')
    got = sorted(tuple(r) for r in apply_operator("heavyHitters", items, params).collect())
    want = sorted(
        tuple(r)
        for r in apply_operator(
            "heavyHitters", items, {"item_col": "item", "frac_num": 1, "frac_den": 4}
        ).collect()
    )
    assert got and got == want


def test_library_step_resolves_target_per_call(monkeypatch):
    """A library-bound entry looks its target up on every call, so a
    patched module attribute is the one that runs, and its signature is
    the target's."""
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.operators import dedup

    seen = {}

    def fake(df, id_col: str, text_col: str, bits: int = 32, shingle_n: int = 3):
        seen.update(df=df, id_col=id_col, bits=bits, shingle_n=shingle_n)
        return "out"

    monkeypatch.setattr(dedup, "simhash_fingerprints", fake)
    op = OPERATORS["simhashFingerprints"]
    assert op("frame", "doc_id", "text", "8", shingle_n="2") == "out"
    assert seen == {"df": "frame", "id_col": "doc_id", "bits": 8, "shingle_n": 2}
    assert list(inspect.signature(op).parameters) == [
        "df", "id_col", "text_col", "bits", "shingle_n"
    ]
