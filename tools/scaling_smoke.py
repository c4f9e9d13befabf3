"""Scale-validation smoke (VERDICT r7 #3): run the scale-sensitive
heavies at sf0.1 and at the derived sf1 (tools/gen_scale.py, 10× rows)
and record the wall-time scaling factor. Near-linear (≲12×) validates
the "plans survive a scale-up" claim; a superlinear factor names a
fix task. Result-row counts are recorded alongside wall time so
output-bound growth (the v_range_search adjudication: qualifying
pairs ARE the answer) separates from plan-bound growth.

Usage: python tools/scaling_smoke.py [--runs N] [name ...]

With names, only those queries run and their rows MERGE into the
committed SCALING.json (the per-addition path); without, the full
HEAVIES list runs and SCALING.json is rewritten.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HEAVIES = [
    "v_ivfpq_topk",
    "d_substring_spans",
    "d_exact_substring_pairs",
    "t_tfidf_cosine_pairs",
    "v_range_search",
    "g_pagerank",
    # r8 additions: wedge enumeration (density-sensitive threshold),
    # gram-explode importance weights, cluster-bounded semantic dedup.
    "g_triangle_count",
    "x_dsir_weights",
    "d_semdedup",
    # the scale path for the quadratic t_tfidf_cosine_pairs — keep its
    # factor in the artifact next to the uncapped diagnosis.
    "t_tfidf_cosine_pairs_capped",
    # r9 additions (VERDICT r8 #3): candidate-bound interval overlap
    # (qualifying-pair growth vs wall), personalized PageRank
    # (exchange-free iteration claim at 10×), streaming CDC merge
    # (state growth vs trigger cost).
    "j_interval_overlap",
    "g_ppr",
    "st_cdc_merge",
    # the sweep census — the O(n log n) answer to j_interval_overlap's
    # measured 86x; its factor proves the no-enumeration claim.
    "j_overlap_census_sweep",
    # r9 additions (second batch): map-only CDC chunking, per-day
    # sketch union, event-granular streaming sessions, sketch MAD.
    "d_cdc_chunks",
    "x_tdigest_rolling",
    "st_session_cdc",
    "w_mad_tdigest",
    # Basket-capped item-item CF (pair volume under the top-50 cap),
    # FFD packing, exact-size weighted reservoir, snapshot time travel
    # (as-of read; the version COUNT is fixed by the query, so this
    # measures commit+read cost at 10× rows).
    "m_item_cf_topk",
    "t_pack_ffd",
    "x_reservoir_sample",
    "i_time_travel",
    # r10 additions (second batch): per-source quality CUSUM (windows
    # over batches-per-source), OPQ rotation audit (bounded trainer +
    # one reconstruction map pass). v_mmr_exact_rerank is deliberately
    # NOT here: its exact-candidate stage is the quadratic
    # verification baseline (one sf1 run exceeded 16 min before being
    # killed, r10) — the scale path is v_mmr_rerank's LSH candidates;
    # the exact twin exists to value-verify the greedy math at fixture
    # scale (the t_tfidf_cosine_pairs uncapped/capped split).
    "t_quality_drift_cusum",
    "v_opq_rotation",
    # r11 additions (VERDICT r10 #5): OPQ-rotated IVFPQ serving tier
    # (rotation pass + scratch-parquet write + IVFPQ on rotated data)
    # and the ANN kNN-classify agreement audit (IVF candidates + the
    # exact baseline it's audited against — the exact side dominates
    # at 10×, which is exactly why the ANN form is the serving path;
    # the raw serving form is knn_classify_ann_raw).
    "v_opq_ivfpq_topk",
    "v_knn_classify_ann",
]
SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(REPO, ".scale/sf1")


def main() -> None:
    args = sys.argv[1:]
    runs = 3
    if "--runs" in args:
        i = args.index("--runs")
        runs = int(args[i + 1])
        del args[i : i + 2]
    subset = args  # remaining positionals = query names

    from listenbrainz_server_spark.queries import load_all
    from listenbrainz_server_spark.session import get_session

    if not os.path.isdir(SF1):
        sys.exit(f"{SF1} missing — run tools/gen_scale.py first")
    spark = get_session("scaling_smoke")
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_all()

    names = subset or HEAVIES
    unknown = [n for n in names if n not in reg]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    results: dict[str, dict] = {}
    for name in names:
        fn = reg[name].fn
        fn(spark, "/root/testdata/sf0.01").count()  # warm code paths
        per_sf: dict[str, dict] = {}
        for label, sf in (("sf0.1", SF01), ("sf1", SF1)):
            samples, n_rows = [], None
            for _ in range(runs):
                spark.catalog.clearCache()
                t = time.time()
                n_rows = fn(spark, sf).count()
                samples.append(round(time.time() - t, 2))
            per_sf[label] = {
                "median": statistics.median(samples),
                "samples": samples,
                "rows": n_rows,
            }
        factor = round(per_sf["sf1"]["median"] / per_sf["sf0.1"]["median"], 2)
        row_f = (
            round(per_sf["sf1"]["rows"] / per_sf["sf0.1"]["rows"], 2)
            if per_sf["sf0.1"]["rows"]
            else None
        )
        results[name] = {**per_sf, "factor": factor, "row_factor": row_f}
        print(
            f"{name}: sf0.1 {per_sf['sf0.1']['median']}s  "
            f"sf1 {per_sf['sf1']['median']}s  factor {factor}x  "
            f"rows {per_sf['sf0.1']['rows']} -> {per_sf['sf1']['rows']}"
            f" ({row_f}x)"
        )

    out_path = os.path.join(REPO, "SCALING.json")
    if subset and os.path.exists(out_path):
        with open(out_path) as f:
            prior = json.load(f)
        merged = {**prior.get("queries", {}), **results}
        payload = {"runs": runs, "queries": merged,
                   "merged_subset": sorted(results)}
    else:
        payload = {"runs": runs, "queries": results}
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1)
    print("wrote SCALING.json — now edit SCALING.md with the analysis")


if __name__ == "__main__":
    main()
