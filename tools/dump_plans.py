"""Regenerate PLANS.md: the final (AQE-resolved) physical plans of the
headline queries, with the scale-relevant properties called out. Run
after changing any operator: `python tools/dump_plans.py`."""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HEADLINERS = {
    "tpch_q6_forecast_revenue": "pushdown benchmark: every predicate at the scan, partial+final agg",
    "pricing_summary": "TPC-H Q1: one scan, map-side partials, 6-key shuffle",
    "star_join_revenue": "TPC-H Q5 star: dims broadcast, single fact scan",
    "tpch_q18_large_orders": "pre-aggregated HAVING before the star join",
    "top_k": "TakeOrderedAndProject — never a full sort",
    "asof_join": "one hash exchange + one sort-window, no per-key pandas",
    "chart_pie_shares": "share via broadcast 1-row scalar total — no unpartitioned WindowExec (r13 lockstep fix)",
    "corpus_curation": "three semi-join gates off one documents scan",
    "bucketed_join_revenue": "bucketed SMJ: zero join-side exchanges, only the final agg shuffles",
    "embedding_cosine_pairs": "banded-LSH near-dup: signature equi-join, vectors only re-joined for candidates",
    "tpch_q9_product_profit": "derived-dim star: part/supplier broadcast, one lineitem-orders shuffle",
    "tpch_q5_local_supplier": "region-filtered nation broadcast into both customer and supplier sides",
    "kmeans_clusters": "broadcast-literal centroid assignment, zero-shuffle final pass",
    "repetition_stats": "run-length aggregates over sorted arrays — no (doc,term) exchange",
    "ngram_contamination": "distinct int64-hashed n-grams, left-semi overlap",
    "latest_by_key": "CDC rank-1 compaction: one hash exchange on the key",
    "profile_columns": "one expanding aggregate for all columns, stack() unpivot",
    "corpus_pipeline": "end-to-end curation composite: one text scan, content-hash dedup, broadcast mix thresholds, per-shard window",
    "hybrid_retrieval_rrf": "two TakeOrdered lists, bounded rank windows, tiny full-outer fusion",
    "incremental_dedup": "anti-join on 8-byte content hashes, never text",
    "minhash_dedup_pairs": "LSH candidates checkpointed once; verify joins pinned shuffle (explode-derived sides never broadcast)",
    "corpus_mix_tokens": "token-budget mix: exactly one per-group window exchange, budget map as CASE (no join)",
    "cluster_representatives": "near-dup clusters collapsed to best-quality member: 1:1 id join + one small window",
    "ann_recall_lsh_ivf": "both ANN lists TakeOrdered-capped at k before 10-row broadcast semi-joins",
    "token_rarity": "explode -> term-tf shuffle -> shuffle_hash-pinned join back; 1-row n_total broadcast is the only explode-lineage broadcast",
    "decontaminate_train": "hashed-ngram semi/anti joins: text never crosses an exchange",
    "boilerplate_ngrams": "distinct (id, int64-ngram) reused 3x; both joins pinned shuffle_hash (explode lineage)",
    "snapshot_diff": "full-outer join of (key, xxhash64) projections: 16-byte exchange rows, text never shuffles",
    "cross_source_overlap": "distinct (hash, source) self-join: sort-merge, no corpus-sized broadcast",
    "embedding_qa": "one scan, mapper-side norm fold, single partial-aggregated exchange on the group key",
    "prototypicality": "Arrow assignment pass emits dist2; ranking costs one window exchange on cluster",
    "semdedup_prune": "one cluster-key exchange into a per-cluster Gram-matrix kernel: no pair rows, no join (plus a <=k-row cluster-size probe for the mega-cluster guard)",
    "semdedup_greedy": "strict keep-first walk: same one-exchange shape, sequential kernel per cluster, O(|c| d) memory",
    "trending_terms_append": "state-bounded streaming trending terms: watermarked window agg, append-mode eviction",
    "corpus_report": "per-source datasheet: one scan, one partial-aggregated exchange with the count-distinct expand",
    "dsir_importance": "one tokenize pass, Arrow (doc,bucket) pre-agg before the broadcast log-ratio join, DISK_ONLY lineage cuts",
    "dedup_passages": "posexplode -> hash-keyed first-occurrence vote -> one pinned join -> rebuild aggregate; only 8-byte hashes shuffle",
    "dedup_near_batch": "one stateless Arrow signature kernel (spread-fanned on starved inputs), (band,sig) equi-join candidates, exact verify",
    "mine_hard_negatives": "broadcast query-batch into a gold-masked Arrow top-k kernel; one window exchange of partitions x |Q| x k rows",
    "ngram_lm_score": "stupid-backoff LM gate: vocab-sized c1/c2 count tables, all three count joins pinned shuffle_hash (explode lineage), 1-row N broadcast",
    "scd2_history": "SCD2 validity intervals: ONE key exchange shared by lag, running version sum, run aggregate, and valid_to lead",
    "ivf_drift_report": "frozen-codebook drift monitor: broadcast-literal centroids into one Arrow assignment scan, <=k-row aggregate",
    "mmr_diversify": "MMR top-k: distributed rounded-relevance pool cut (TakeOrdered), then one pool-bounded single-partition greedy kernel",
    "winnow_matches": "span-level overlap: per-side document-frequency caps before the fingerprint equi-join, merge-pinned explode-derived sides",
    "dup_spans": "exact-substring dedup: occurrence COUNT (never a pair join) gates the grams, then one doc_id exchange drives lag + run-sum + span aggregate",
    "bm25_index_retrieval": "materialized postings path: literal bucket predicate in PartitionFilters, doclen 1-row stats fold, broadcast query joins only",
    "dup_spans_incremental": "maintained gram-count index: shard-only tokenize, 16-byte (h,cnt) count-table exchange, merge-pinned semi-join, same gap-merge window",
    "bpe_merges": "BPE training rounds: corpus collapses once to word frequencies; per round one vocab-sized pair aggregate + 1-row argmax + broadcast merge fold",
    "ivfpq_adc_batch": "batched pruned ADC: union-of-probed-lists literal PartitionFilter, per-(qid,list) LUTs in the partition-cut kernel, exchange <= partitions x |Q| x k",
    "trgm_search": "trigram index: literal bucket+hash IN-lists prune the postings scan, ALL-grams count filter, broadcast candidate verify against the doc table",
    "fuzzy_dup_pairs": "PassJoin: segment/probe equi-join (never cartesian), distinct pair cut, one banded levenshtein per candidate",
    "heavy_hitters": "MG sketch pass (Arrow kernel), broadcast semi-join gates the exact recount — the exchange carries candidate-key rows only",
    "hist_quantiles": "cube-only quantile bins: integer cum-sum windows over <= dims x bins rows",
    "bloom_new_rows": "bloom pre-filter: broadcast grouped words into the probe, only the maybe-sliver reaches the exact anti-join",
    "bloom_fill_report": "filter saturation: bit_or group + bit_count fold over geometry-sized word rows, never the corpus",
    "graph_triangles": "degree-ordered triangle census: oriented wedge join bounded by out-degree O(sqrt m), left-semi closure",
    "dq_report": "constraint suite: ONE scan for all row-local rules (stack over a single agg), one one-pass unique exchange, one broadcast FK LEFT join (orphans + checked from the same pass, r14)",
    "cms_freq": "Count-Min point lookups: driver-side slots -> literal-filtered counter scan, min-over-rows fold",
    "incremental_components": "label contraction: distinct label-pair graph to a driver union-find, broadcast relabel map back",
    "kmv_distinct": "bottom-k distinct: cube-only distinct + rank cut, integer estimator — never the corpus",
    "kmv_overlap": "sketch-tier overlap: <= 2k sample rows, union re-cut, integer Jaccard ppm",
    "pit_join": "point-in-time join: union+window as-of plan (one key exchange), row-local expiry check — never a theta join",
    "zorder_zonemap_scan": "z-order + 2-D zonemap composition: both box predicates prune files before the scan",
}


def main() -> None:
    from data_pengadaan_agent_spark.session import get_spark

    import __spark_entry__ as E

    spark = get_spark("plans")
    sf = "/root/testdata/sf0.01"
    qs = E.queries()
    out = [
        "# PLANS — final physical plans of the headline queries",
        "",
        "Generated by `tools/dump_plans.py` at sf0.01 after executing each query",
        "(so AQE's runtime re-planning is included). Look for: `PushedFilters`",
        "(predicate pushdown), narrow `ReadSchema` (column pruning),",
        "`BroadcastHashJoin` (no shuffle for dims), `TakeOrderedAndProject`",
        "(top-k without global sort), partial+final `HashAggregate` pairs, and",
        "exchange counts (each = one shuffle).",
        "",
    ]
    for name, note in HEADLINERS.items():
        df = qs[name](spark, sf)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = re.sub(r"#\d+L?", "", plan)  # strip expr ids for readability
        plan = "\n".join(line.rstrip() for line in plan.splitlines()[:60])
        out.append(f"## {name}\n\n*{note}*\n\n```\n{plan}\n```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
