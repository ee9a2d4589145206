#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans of the flagship
queries. Run after any plan-affecting change:

    python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_ingestor_spark.queries import REGISTRY, _ensure_loaded
from parquet_ingestor_spark.session import get_spark

SHOW = {
    "q15_pricing_summary": "Full-scan hash aggregate: pushdown + partial aggregation",
    "q14_broadcast_join": "Broadcast dim join: zero fact-side shuffle",
    "q10_revenue_per_nation": "6-way multi-join: broadcast dims, filtered fact scans",
    "q21_global_topk": "Top-k without global sort (TakeOrderedAndProject)",
    "asof_purchase_click": "Merge-as-of: one shuffle + window, no join operator",
    "dedup_minhash_lsh": "MinHash-LSH md5 twin: lazy-truncated shingle frame, ONE wide 64-min signature aggregate (no 64-way explode), band-key frame materialized once across both candidate self-join sides",
    "benchmark_contamination": "Contamination audit: hint-free join (stats/AQE pick broadcast while the benchmark side is small)",
    "corpus_line_dedup": "C4 line dedup: line-keyed keep-first aggregate (map-side combinable), per-doc bounded reassembly, totals as a per-row scalar (no second segmentation explode)",
    "sem_dedup": "SemDeDup: broadcast centroid assignment, cluster-keyed pair join",
    "text_lm_perplexity": "Bigram LM scoring: ONE truncated token-array frame feeds bigrams/model/vocab, truncated bigram-count model (unigrams fold from it, never re-aggregating the corpus), hint-free model joins",
    "text_bm25_topk": "BM25: scan-local term counts, one scalar stats row, TakeOrdered",
    "corpus_filter_pipeline": "Curation filter: single narrow scan, all-codegen signals",
    "text_heavy_hitters": "Heavy hitters: Misra-Gries candidate sketch (no full-vocab shuffle), exact candidate recount with map-side partials",
    "corpus_stratified_sample": "Stratified sample: catalog-bounded counts join (stats broadcast), integer-exact md5 admission filter",
    "text_cdc_chunks": "Content-defined chunking: codegen boundary flags, doc-bounded running-sum window, order-pinned chunk fingerprints",
    "text_ppl_buckets": "CCNet terciles: 2-value percentile aggregate broadcast back, no global-sort ntile",
    "q56_market_share": "8-table star (TPC-H Q8 shape): every dim arm broadcast from stats, one conditional-numerator aggregate",
    "q60_waiting_suppliers": "EXISTS + NOT EXISTS (TPC-H Q21 shape): decorrelated to semi+anti joins sharing the orderkey exchange",
    "text_gopher_rules": "Gopher quality rules: one codegen scan, tokenize-once, zero shuffle",
    "text_unicode_clean": "Unicode canonicalization: codegen strip/collapse + map-only Arrow NFC pass",
    "q70_forecast_revenue": "TPC-H Q6 shape: single scan, all predicates pushed, one exchange total",
    "q71_returned_items": "TPC-H Q10 shape: agg before dim join-back, integer-cents revenue, TakeOrdered top-20",
    "corpus_dsir_weights": "DSIR: one gram explode, models folded via exchange reuse, 1024-row log-ratio broadcast",
    "graph_pagerank": "PageRank: basket-mined edges (one orderkey shuffle, then one src exchange of basket members; lag-window dedup and window out-degree on one sort), cached pre-sorted edge table (per-round SMJ with no exchange/sort), per-round keyed join + partial-agg sum",
    "graph_triangles": "Triangle census: degree-oriented per-edge neighborhood intersection, O(m)-row shuffles only",
    "interval_join_binned": "Interval-overlap join: bin-bucketed keyed equi-join with [lo,hi) residual, no NLJ",
    "q86_association_rules": "Association rules: ONE truncated basket frame (groupBy+collect_set), in-row pair expansion, stats-sized support join-backs",
    "q87_pareto_revenue": "Pareto cut: 2-digit integer histogram, cumulative window over bucket rows only",
    "dedup_ppjoin_pairs": "PPJoin: prefix-token candidate join (hot shingles never in prefixes), array-intersect verify",
    "scd2_point_in_time_orders": "Point-in-time enrichment: merge-as-of against SCD2 version starts, no range probe",
    "corpus_bloom_seen": "Bloom screen: map-side-combinable bit_or bitmap build, hint-free word-keyed probe join",
    "graph_kcore_parts": "k-core peel: one cached u-partitioned edge table (the pagerank shape), per-round node-sized alive semi-joins, degree table materialized once (threshold k = one driver integer from sum(deg))",
    "events_cm_counts": "Count-Min: ONE truncated keyed agg (events scanned once across grid build + probe), depth-way posexplode of key-cardinality rows, grid broadcast probe",
    "orders_merge_apply": "MERGE apply: single keyed full-outer join, cents-exact replacement images",
    "sim_ivfpq_topk": "IVF-PQ twin: broadcast centroid assignment + map-only code projection, probed lists joined via broadcast (q_id, list_id) — the inverted-file prune as a join predicate",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    _ensure_loaded()
    spark = get_spark(app_name="plans")
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# PLANS — physical plans of flagship queries (sf0.1, local[32])",
        "",
        "Generated by `python tools/dump_plans.py`; re-generate after "
        "plan-affecting changes.",
        "The properties to check: `PushedFilters` at scans, narrow "
        "`ReadSchema`,",
        "`BroadcastHashJoin` for dims, `partial_…` aggregates before "
        "exchanges,",
        "`TakeOrderedAndProject` for top-k, `*(n)` codegen stage markers.",
        "",
    ]
    for name, why in SHOW.items():
        df = REGISTRY[name].fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        if len(plan) > 7000:
            plan = plan[:7000] + "\n… (truncated)\n"
        out.append(f"## {name}\n\n*{why}*\n\n```\n{plan}```\n")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("PLANS.md regenerated")


if __name__ == "__main__":
    main()
