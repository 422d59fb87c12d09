"""Physical-plan lint over every declared query.

Pattern-scans each ``queries()`` entry's executed plan for the anti-patterns
that kill 100 TB runs long before wall-clock measurements would:

* ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` — all-pairs joins.
  Allowed only where the query's docstring declares an intended exact
  baseline (brute-force cosine) or a broadcast-1-row frame.
* ``BatchEvalPython`` — row-at-a-time Python UDF (the Arrow-batched path
  shows as ArrowEvalPython / MapInPandas instead).
* Exchange directly over a checkpointed scan — a localCheckpoint whose
  captured partitioning failed to line up with its consumer (see
  SCALE.md "checkpoint partitioning reuse").
* Parquet scans with no column pruning: ReadSchema listing 8+ fields for
  the tables whose queries project 7 or fewer.

Usage: python scripts/plan_lint.py [query ...] — exits nonzero on new
(unallowlisted) findings; prints one line per query.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from pr2_transformation_spark.session import build_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

#: Queries whose plans legitimately contain an all-pairs operator, with why.
CARTESIAN_ALLOWED = {
    "q340_robots_txt_decisions": "every path evaluates the broadcast 11-row robots rule group (per-row regex join has no equi-key by nature)",
    "q20_ann_bruteforce": "exact brute-force baseline by contract (broadcast query side)",
    "q357_chinchilla_feasibility": "corpus token-count scalar (1 row) rides a broadcast cross onto the 4-row budget grid",
    "q355_simpsons_paradox_audit": "pooled-moment scalar (1 row) rides a broadcast cross onto the segment frame",
    "q353_difference_in_differences": "date-range anchor scalar (1 row) rides a broadcast cross (q214/q220 pattern)",
    "q352_source_influence": "10-moment totals (1 row) ride a broadcast cross onto the 7-row source frame",
    "q350_local_outlier_factor": "LOF graded tier is brute-force kNN by contract on ids<300; ANN candidate generation is the scale path",
    "q346_bitext_margin_mining": "margin-criterion bitext mining is brute-force by contract on the graded tier; the ANN family (q24/q35) is the scale path feeding the same margin arithmetic",
    "q122_semantic_dedup": "crossJoin against the broadcast centroid frame only",
    "q35_ann_ivf": "centroid scoring is a broadcast cross of k centroids",
    "q24_ann_lsh": "hyperplane scoring broadcasts the (tiny) plane matrix",
    "q25_embedding_near_dup": "same-bucket pair join expressed as conditional join",
    "q46_fuzzy_match": "wildcard-variant self-match within broadcast-sized blocks",
    "q59_range_band_join": "interval containment vs a broadcast 4-row band dim — BNLJ is the intended plan",
    "q60_scalar_subquery": "scalar subquery = broadcast 1-row cross",
    "q75_tfidf": "corpus-size scalar (1 row) rides a broadcast cross",
    "q104_idle_rich_customers": "TPC-H Q22 avg-balance scalar, broadcast 1-row cross",
    "q123_bigram_perplexity": "vocab-size scalar (1 row) rides a broadcast cross",
    "q135_bm25_scores": "corpus stats (N/avgdl/df) are ONE row riding a broadcast cross",
    "q142_triangle_count": "three scalar aggregates (1 row each) assembled via broadcast crosses",
    "q165_ab_test_welch": "two 1-row arm summaries assembled via a broadcast cross",
    "q168_basket_lift": "corpus-size scalar (1 row) rides a broadcast cross",
    "q169_autocorrelation": "mean/count scalar (1 row) rides a broadcast cross",
    "q170_benford_profile": "total-count scalar (1 row) rides a broadcast cross",
    "q174_haversine_nearest": "25-row broadcast capital dim crossed against the fact scan by design",
    "q181_theta_segment_overlap": "5-row segment-sketch frame pairs with itself via broadcast inequality join",
    "q182_kll_quantile_merge": "1-row merged-sketch and 1-row exact-percentile frames assembled via a broadcast cross",
    "q186_decile_revenue_share": "revenue-total scalar (1 row) rides a broadcast cross",
    "q188_kaplan_meier": "observation-window-end scalar (1 row) rides a broadcast cross",
    "q143_ppmi_bigrams": "bigram-total scalar (1 row) rides a broadcast cross",
    "q144_kneser_ney_bigrams": "bigram-type-count scalar (1 row) rides a broadcast cross",
    "q148_key_skew_report": "row-total scalar (1 row) rides a broadcast cross",
    "q256_quality_classifier_score": "model intercept (1 row) rides a broadcast cross",
    "q157_hard_negative_mining": "exact contrastive baseline: broadcast anchors x corpus scan by contract",
    "q151_mutual_information": "contingency-total scalar (1 row) rides a broadcast cross",
    "q196_dsir_importance": "model totals (1 row each) ride broadcast crosses into the <=256-row delta dim",
    "q201_psi_drift": "time-range midpoint scalar (1 row) rides a broadcast cross",
    "q206_portable_hll": "exact-distinct scalar (1 row) rides a broadcast cross next to the 1-row estimate",
    "q211_temperature_sampling": "corpus-total and tempered-normalizer scalars (1 row each) ride broadcast crosses",
    "q214_decayed_engagement": "max-timestamp anchor scalar (1 row) rides a broadcast cross",
    "q219_minhash_source_overlap": "20-row signature frame pairs with itself via inequality join by design",
    "q220_rfm_segmentation": "max-orderdate anchor scalar (1 row) rides a broadcast cross",
    "q221_degree_tail_estimate": "d_min and corpus-stat scalars (1 row each) ride broadcast crosses",
    "q230_referential_integrity": "two 1-row audit aggregates assembled via a broadcast cross",
    "q232_embedding_decontamination": "eval-vector frame broadcasts against the train scan by contract (like q20)",
    "q233_ks_test": "two-sample total scalars (1 row) ride a broadcast cross",
    "q234_mann_whitney": "two-sample total scalars (1 row) ride a broadcast cross",
    "q243_portable_hll_rolling": "dense 30x256 register grid cross + the <=31-row day dim range-joining the exact verification side",
    "q266_waterfill_budget": "n/budget scalar and i*/S* frontier scalar (1 row each) ride broadcast crosses over the ~100-row domain table",
    "q276_json_schema_inference": "total-count scalar (1 row) rides a broadcast cross into the per-key report",
    "q278_classifier_eval": "model bias + AUC + Brier scalars (1 row each) ride broadcast crosses onto the bin rows",
    "q279_fellegi_sunter": "u-probability weight scalars (1-row frame) ride a broadcast cross onto the blocked pairs",
    "q281_heaps_law": "corpus-size and OLS-fit scalars (1 row each) ride broadcast crosses onto the 10-point curve",
    "q282_rrf_hybrid_retrieval": "BM25 corpus stats + the 1-row anchor vector ride broadcast crosses (q20/q135 contracts)",
    "q285_source_js_divergence": "dense class x source grid is a bounded <=65 x S cross of two tiny distinct frames",
    "q288_negative_sampling_table": "3/4-power normalizer scalar (1 row) rides a broadcast cross onto the vocab frame",
    "q289_embedding_dim_profile": "total-variance scalar (1 row) rides a broadcast cross onto the d-row profile",
    "q292_cdc_apply": "insert-key ceiling scalar (1 row) rides a broadcast cross onto the changelog inserts",
    "q294_exponential_smoothing": "triangular closed-form join over the calendar-bounded daily frame (days, not rows)",
    "q296_ndcg_quantization": "anchor vector/codes + DCG/IDCG scalars (1 row each) ride broadcast crosses (q20 contract)",
    "q299_chi_square": "n/r/c totals scalar (1 row) rides a broadcast cross onto the category-bounded cell frame",
    "q301_wasserstein_length_drift": "dense 20 x S bucket grid is a bounded cross of two tiny frames (q285 pattern)",
    "q302_largest_remainder": "corpus-total and leftover-slot scalars (1 row each) ride broadcast crosses onto the stratum frame",
    "q310_encoding_advisor": "per-column plain/dict 1-row aggregates assembled via broadcast crosses",
    "q312_neyman_allocation": "Nh*sigma normalizer and leftover scalars (1 row each) ride broadcast crosses onto the stratum frame",
    "q316_bh_fdr": "test-count and step-up-kmax scalars (1 row each) ride broadcast crosses onto the m-row test frame",
    "q324_leadlag_xcorr": "15-row lag dim crossed against the calendar-bounded daily series by design",
    "q330_kendall_tau": "inequality self-join of the |sources|-row summary frame by design (quadratic in sources only)",
    "q332_bayesian_average": "global-prior scalar (1 row) rides a broadcast cross onto the brand frame",
    "q335_good_turing": "corpus-total and unseen-mass scalars (1 row each) ride broadcast crosses onto the count-of-counts frame",
    "q374_chi2_token_selection": "corpus-total scalar (1 row: n, n_pos) rides a broadcast cross onto the vocabulary-bounded token-count frame",
    "q376_t_closeness": "10-row global decile distribution rides a broadcast cross onto the bounded quasi-identifier group frame (fixed grid expansion)",
    "q336_power_analysis": "distinct-days scalar (1 row) rides a broadcast cross onto the per-type frame",
    "q333_dedup_threshold_curve": "8-row threshold dim + 1-row corpus total ride broadcast crosses onto the scored pairs",
    "q325_entropy_rate": "grand-total scalar (1 row) rides broadcast crosses onto the category-squared transition frame",
}


def lint(name: str, plan: str) -> list[str]:
    findings = []
    if ("CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan) and (
        name not in CARTESIAN_ALLOWED
    ):
        findings.append("all-pairs join (CartesianProduct/BNLJ)")
    if "BatchEvalPython" in plan:
        findings.append("row-at-a-time Python UDF (BatchEvalPython)")
    if re.search(r"(?<!Broadcast)Exchange[^\n]*\n\s*\+- \*?\(?\d*\)? ?Scan ExistingRDD", plan):
        findings.append("Exchange over checkpointed scan (partitioning capture failed)")
    return findings


def main() -> None:
    only = set(sys.argv[1:])
    spark = build_session("plan-lint", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    # AQE re-plans at runtime and hides static shape; lint the static plan the
    # optimizer commits to, with broadcast thresholds at their defaults.
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    failures: dict[str, list[str]] = {}
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        try:
            plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001 — lint everything, report at end
            failures[name] = [f"plan build failed: {type(exc).__name__}: {exc}"[:160]]
            print(f"LINT  {name}: {failures[name][0]}")
            continue
        findings = lint(name, plan)
        if findings:
            failures[name] = findings
            print(f"LINT  {name}: {'; '.join(findings)}")
        else:
            print(f"ok    {name}")

    print()
    if failures:
        print(f"FINDINGS in {len(failures)} queries")
        sys.exit(1)
    print("ALL CLEAN")


if __name__ == "__main__":
    main()
