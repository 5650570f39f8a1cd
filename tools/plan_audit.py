"""Explain-plan audit: scan every entry query's physical plan for scale
red flags.

    python tools/plan_audit.py [sf_dir]

Red flags:
  - CartesianProduct            unbounded pair blowup
  - BroadcastNestedLoopJoin     non-equi join fallback (expected ONLY for
                                the documented brute-force similarity
                                verifiers, which have LSH/IVF scale twins)
  - BatchEvalPython             row-at-a-time Python UDF in the plan
Also reported per query: sort-merge vs broadcast-hash join counts and
exchange (shuffle) counts — watch for plans whose exchange count jumps
after a change.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark import get_session

#: brute-force verifier queries where a BNLJ is the documented intent
#: (embedding_near_dups left this set in round 2: it now routes through
#: LSH buckets by default, so a BNLJ there is a regression again), plus
#: queries whose BNLJ is a ONE-ROW scalar broadcast (domain_mix joins the
#: global k, lm_cross_entropy and bigram_lm the corpus token total,
#: tfidf_top_terms the corpus doc count, zorder_cluster the four-value
#: min/max extent row — all O(n) passes over a 1-row build side, the
#: no-driver-collect way to attach a scalar; an unbounded BNLJ appearing
#: in these plans would still be caught by the exchange-count column
#: jumping)
#: pq_topk and knn_pagerank carry the SAME bounded query-side broadcast
#: loop as topk_neighbors: pq's ADC scan broadcasts |queries| rows of
#: lookup tables over the code stream, and knn_pagerank's exact edge
#: builder IS topk_neighbors (its "ivf" mode equi-joins and is not in
#: the entry). ivfpq_topk equi-joins on the coarse list id — no BNLJ.
#: weighted_pagerank builds its kNN edges through the SAME bounded
#: query-side broadcast loop (topk_neighbors, method="exact") as
#: knn_pagerank — |nodes| rows broadcast once, never probe-exploded;
#: its "ivf" mode equi-joins and carries no BNLJ (round-6 lesson: this
#: entry shipped un-allowlisted in the final commit and failed the
#: audit at HEAD, which is why tests/test_gates.py now runs this audit
#: as a failing pytest gate).
#: bloom_new_docs and bloom_join_revenue carry the round-7 JVM-side
#: probe: the packed filter words ride ONE broadcast row crossJoined
#: onto the probe stream (the same scalar-attachment shape as
#: domain_mix) so the k bit tests run in whole-stage codegen instead of
#: a per-row Python md5 loop. heavy_hitters attaches its 1-row total
#: the same way for the integer cross-multiplied threshold.
BNLJ_ALLOWED = {
    "topk_neighbors", "domain_mix", "lm_cross_entropy", "bigram_lm",
    "tfidf_top_terms", "quality_quantile_filter", "zorder_cluster",
    "pq_topk", "knn_pagerank", "weighted_pagerank", "bloom_new_docs",
    "bloom_join_revenue", "heavy_hitters",
    # profile_report_approx: the split-agg both-mode joins the exact
    # wide agg to the slim sketch agg 1-row x 1-row — scalar attachment,
    # deliberately NOT fused (the Expand lesson in profile_columns)
    "profile_report_approx",
    # profile_report (round 12): exact mode now splits the same way —
    # the counts-only exact-distinct aggregate (HashAggregate over the
    # Expand) crossJoins the slim count/min/max aggregate 1-row × 1-row;
    # fusing them forced SortAggregate + a full Sort of the expanded
    # stream (min/max string buffers are not hash-aggregable)
    "profile_report",
    # pmi_pairs: term_cooccurrence attaches the 1-row n_docs total via
    # broadcast crossJoin — the domain_mix scalar-attachment shape; the
    # pair generator itself is a hash equi-join on doc id
    "pmi_pairs",
    # bm25_scores: N/avgdl ride a 1-row broadcast crossJoin (scalar
    # attachment); tf→df and tf→dl joins are hash equi-joins
    "bm25_scores",
    # rrf_fusion: two 1-row scalar attaches (corpus doc count for the
    # integer idf surrogate; the quantized query vector for the integer
    # dot) — both candidate lists are top-100-bounded before their
    # ≤100-row global rank windows
    "rrf_fusion",
    # kmv_distinct: the exact COUNT(DISTINCT) reference rides a 1-row
    # broadcast crossJoin onto the 1-row sketch summary
    "kmv_distinct",
    # logbucket_quantiles: two bounded broadcast attaches onto the
    # <=63*16-row sketch — the 3-row probs grid and the 1-row merge_ok
    # scalar; the sketch build itself is map + hash groupBy
    "logbucket_quantiles",
    # copurchase_triangles: the (n_nodes, n_edges, n_triangles) summary
    # is two 1-row x 1-row broadcast crossJoins (scalar attachment);
    # the wedge generator itself is hash equi-joins only
    "copurchase_triangles",
    # join_skew_report: the totals row and the two 1-row sketch-quantile
    # picks attach to the 5-row TakeOrdered top by broadcast crossJoin
    "join_skew_report",
    # kmv_join_size: the exact-overlap reference rides a 1-row broadcast
    # crossJoin onto the 1-row intersect summary (the kmv_distinct
    # shape); the estimator itself only ever joins 2k retained rows
    "kmv_join_size",
    # dsir_select: the (qt, pt) gram totals ride a 1-row broadcast
    # crossJoin onto the <=B-row bucket-score grid (the domain_mix
    # scalar-attachment shape); the per-doc weight join is a hash
    # equi-join against the broadcast B-row score table
    "dsir_select",
    # trend_slopes: the global-min x rebase rides a 1-row broadcast
    # crossJoin onto the event stream (the scalar-attachment shape) so
    # every OLS moment stays in int64
    "trend_slopes",
    # ab_test_report: the two arm rows (each a 1-row TakeOrdered off
    # the 2-row arm aggregate) meet in a 1-row x 1-row broadcast
    # crossJoin — pure scalar attachment
    "ab_test_report",
    # k_generalize: at sf0.001 the ladder selects its all-constant TOP
    # level, so the release join's eqNullSafe keys constant-fold away
    # and the per-group-size attach degenerates into a broadcast of the
    # ONE surviving group row — a 1-row scalar attachment, bounded by
    # construction. At any level with real quasi columns (sf0.01+) the
    # same join plans as a hash join on the gen keys.
    "k_generalize",
}

FLAGS = {
    "CARTESIAN": re.compile(r"CartesianProduct"),
    "BNLJ": re.compile(r"BroadcastNestedLoopJoin"),
    "ROW_PY_UDF": re.compile(r"BatchEvalPython"),
}


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    json_out = next(
        (a.split("=", 1)[1] for a in sys.argv[1:] if a.startswith("--json=")), None
    )
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    # 8 shuffle partitions, not Spark's 200: the streaming entries run an
    # availableNow drain at build time, paying one state-store commit per
    # shuffle partition per microbatch, while no audited plan line
    # (joins, exchanges, pushdown, flags) depends on the count
    spark = get_session(app_name="plan-audit", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    # Checkpoint transparency (round-13 ADVICE fix): a localCheckpoint
    # replaces its subtree with a stats-less RDD scan, so the FINAL plan
    # of a checkpointed query shows scans=0/pushed=0 and hides any
    # BatchEvalPython inside the checkpointed subtree — the audit was
    # blind there. Intercept localCheckpoint while each query builds and
    # audit the PRE-checkpoint plan of every checkpointed subtree too
    # (counts land in ckpt_scans/ckpt_pushed; red flags inside a
    # checkpointed subtree fail the audit like any other).
    from pyspark.sql import DataFrame as _DF

    ckpt_plans: list[str] = []
    orig_ckpt = _DF.localCheckpoint

    def audited_ckpt(self, eager=True):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            self.explain("formatted")
        ckpt_plans.append(buf.getvalue())
        return orig_ckpt(self, eager)

    _DF.localCheckpoint = audited_ckpt

    failures = []
    metrics: dict[str, dict] = {}
    for name, fn in entry_mod.queries().items():
        ckpt_plans.clear()
        try:
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as exc:  # noqa: BLE001 - audit must see every query
            print(f"{name:30s} ERROR {type(exc).__name__}: {str(exc)[:90]}")
            failures.append(name)
            continue
        sub_plans = list(ckpt_plans)
        hits = sorted(
            {f for f, rx in FLAGS.items()
             for p in [plan, *sub_plans] if rx.search(p)}
        )
        if "BNLJ" in hits and name in BNLJ_ALLOWED:
            hits.remove("BNLJ")
            hits.append("bnlj(documented)")
        bad = [h for h in hits if h.isupper()]
        if bad:
            failures.append(name)
        # pushdown visibility: scans whose PushedFilters list is non-empty /
        # total parquet scans. Informational (projection-only queries push
        # nothing), but a filtered query showing 0/N deserves a look.
        scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
        pushed = len(re.findall(r"PushedFilters: \[(?!\])", plan))
        ckpt_scans = sum(
            len(re.findall(r"\(\d+\) Scan parquet", p)) for p in sub_plans
        )
        ckpt_pushed = sum(
            len(re.findall(r"PushedFilters: \[(?!\])", p)) for p in sub_plans
        )
        metrics[name] = {
            "smj": plan.count("SortMergeJoin"),
            "bhj": plan.count("BroadcastHashJoin"),
            "exch": plan.count("Exchange"),
            "pushed": pushed,
            "scans": scans,
            "ckpt_scans": ckpt_scans,
            "ckpt_pushed": ckpt_pushed,
            "flags": hits,
        }
        print(
            f"{name:30s} smj={metrics[name]['smj']} "
            f"bhj={metrics[name]['bhj']} "
            f"exch={metrics[name]['exch']} pushed={pushed}/{scans} "
            f"ckpt={ckpt_pushed}/{ckpt_scans} "
            f"flags={hits or '-'}"
        )

    print("=" * 60)
    print(f"{len(failures)} flagged: {failures}")
    if json_out:
        # plan-shape baseline: diff against a prior round's file to catch
        # an exchange-count jump (a regressed join strategy) even when the
        # query still passes its oracle and its runtime hides in noise
        import json

        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "queries": metrics, "flagged": failures}, f, indent=1)
        print(f"wrote {json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
