"""Regenerate docs/PLANS.md — physical-plan audit of headline queries."""

from __future__ import annotations

import re

from gentropy_spark.plans import full_registry
from gentropy_spark.session import get_session

SF = "/root/testdata/sf0.001"

AUDIT = {
    "q1_pricing_summary": "Pushed shipdate filter + pruned scan; partial (map-side) exact sums (exact_sum: three long limb sums of the micro-units, a decimal sum only for |x*1e6| >= 9e18); one exchange.",
    "q5_local_supplier": "Dims broadcast (supplier/nation/region); AQE picks strategy for fact-scaled joins.",
    "window_clump_leads": "Single hash exchange on (study, contig) shared by the lag, ranking and aggregate windows.",
    "locus_breaker": "Same single-exchange sessionization shape.",
    "overlap_join": "Tiled interval join: explode to (contig, tile) keys -> hash join; first-shared-tile ownership, no distinct.",
    "coloc": "Window-max logsumexp (r14): all three group maxima ride ONE unordered window over ONE hash exchange of the overlap rows; the logsumexp aggregate reuses the same partitioning exchange-free, so the plan is scan -> join -> exchange -> sort+window -> aggregate, no max join at all. Chosen by 10x measurement (161.6s agg-join vs 42.2s window at ~60M groups, where the old max join degraded to an SMJ; Spark crosses BELOW the DuckDB oracle at sf1). The fused L2G family still runs the aggregate-join regime via coloc(max_strategy=...) -- broadcastable max table + shared-exchange reuse win inside that composition.",
    "pics_finemap": "Pure Column pipeline (erfc kernel); no UDF, no Python boundary.",
    "v2g_distance": "<=2 candidate tiles exploded per variant; broadcast gene index; range predicate after equi-join.",
    "dedup_minhash_lsh": "Persisted shingle index; banded signature equi-join; verification join is semi-join-pruned. r13: the few-file re-spread is HASH partitioning on doc_id (round-robin's defensive sortBeforeRepartition full-row sort cost ~0.5s/run warm) and fires only when file layout is KNOWN and under-split.",
    "ann_cosine_topk": "Unrolled 64-dim dot products (whole-stage codegen); per-query window ranking.",
    "dedup_embedding_cosine": "Arrow-batched packed-sign-bit UDF (constant codegen size) -> cached projection -> banded equi-join; UDF cosine verify.",
    "meta_analysis": "Partial-aggregable exact sums (exact_sum, scale 12) per bucket; z emitted via IEEE-exact arithmetic.",
    "ld_index_build": "Symmetric banded pairs by explode-to-equi-join (r6 — replaces range-join nested loop + transpose union); one pipeline, hash join on (contig, idx).",
    "asof_join": "Union both sides tagged; ONE exchange on user_id; last-non-null carry-forward window. No range join.",
    "kmv_distinct": "Distinct (group, hash) partial-agg; per-group top-K window shares the group partitioning.",
    "scd2_intervals": "lag-filter-lead over the same (user_id) sort: one exchange, one sort, both windows reuse it.",
    "rollup_aggregate": "Grouping sets via a single Expand + hash aggregate; subtotal levels share scan and shuffle.",
    "merge_upsert": "Full-outer sort-merge on the key; change-set aggregation partial-agg'd before the join.",
    "decontaminate": "Benchmark shingles deduped small then broadcast; training side aggregates ride one shuffle.",
    "pii_redact": "Pure regexp projection over the scan: zero exchanges, full whole-stage codegen.",
    "bm25_topk": "Inverted-index retrieval: postings from ONE corpus scan (partial-agg tf), broadcast query-term set, df on the query-vocabulary slice only, broadcast 1-row (N, avgdl); per-term contributions 6dp-rounded then exact-summed (exact_sum); bounded-query guard (BM25_MAX_QUERY_DOCS) enforced LAZILY via a raise_error branch riding the stats build side (r15 — plan build stays job-free).",
    "semdedup_prune": "r16 two-level assignment (r15 verdict item 1): centroids hash to ceil(sqrt(K)) coarse cells, vectors meet them via the cell EQUI-JOIN (the n x K broadcast crossJoin and its O(K) centroid broadcast are gone); coarse/candidate distances in whole-stage codegen (sq_l2_expr), every argmin a min-of-struct partial agg so the 64-dim vectors shuffle once per vector; exact whenever K2 <= NPROBE (all oracle SFs, structurally). Within-cluster pairs stay the centroid_id equi-join + Arrow cosine verify; pair work linear at fixed target occupancy.",
    "quality_classifier": "Zero UDFs: cross-engine Horner hash to 512 buckets, integer LCG weights, EXACT int64 logit accumulation (S/(M*L) - 0.5 -- no float sum order exists), one sigmoid projection, one partial-agg groupBy on doc_id; spread_if_narrow on the scan (r15 — the CPU-bound hash projection serialized on a 2-task scan in the 100x probe: growth 24x -> 2.3x).",
    "bpe_train": "K=4 declarative merge stages over the aggregated word dictionary (corpus-sized work = ONE vocab groupBy, spread_if_narrow on the scan); per stage: adjacent-pair partial-agg counts, deterministic sort-limit argmax broadcast as a 1-row build side, and the merge as a left FOLD over the symbol array (r15 — string replace under-merged adjacent occurrences, the r14 advisory); localCheckpoint truncates lineage per iteration. Loop cost independent of corpus size.",
    "bpe_encode": "Encode = dictionary problem: the merge loop's final per-word symbolization (vocab-grain) broadcast-joined onto the token stream, one doc-grain partial-agg groupBy; corpus-sized work is the spread scan + join probe, never per-document merging.",
    "epoch_shuffle": "Hash-keyed permutation: one projection (Horner hash of doc_id:epoch), shard-partitioned window for positions -- no global sort, shuffle only on the shard key.",
    "ann_pq_topk": "PQ encode via per-subspace codebook broadcast + ROUND-before-argmin as a min-of-struct partial aggregation over codegen subvector distances (r16: the row_number window shuffled all n x m x codes scored rows and the Arrow kernel paid ~60s of per-row overhead on 25.6M 8-dim pairs at 100x); ADC distances exact-summed (exact_sum) per (query, corpus) pair so ranking is partition-order-free; exact-cosine rerank only on the k winners. 100x A/B 19.75s vs DuckDB 19.02s.",
    "finemap_calibration": "Driver-side seeded simulation by nature (the reference harness posture); report row pinned as a VALUES-literal oracle.",
    "corpus_curate": "Six pipeline stages as ONE DAG: shared document scan, broadcast joins for small sides, final two-level pack. r12: is_canonical via broadcast ANTI join on the tiny non-canonical drop set (no corpus-wide cluster window in the curation path). r13: the quality gate and language ID are FUSED into the document scan (one staged projection, zero joins -- was 2 scans + 2 doc_id joins), and decontamination runs the Bloom probe (E20b scale posture: fixed 4096-word broadcast array, no benchmark-shingle equi-join; oracle updated to the bloom semantics, bit-identical). r14: the scored-doc projection is persisted (track_cache) -- predicate pushdown was substituting the sampling key's interpreted langid HOF chain down into the scan Filter and re-evaluating it per row (3.8s single-task CPU on the event-log timeline); the cache-fill plan has no downstream predicates, the spread repartition parallelizes the fill, and both cumsum fork branches read the cache. Pair table via the prepared-plan memo; drop-set anti-join broadcast explicitly.",
    "kmeans_step": "Broadcast centroids; HOF distances in codegen; one partial-agg groupBy for occupancy stats.",
    "hopping_window_agg": "Window-membership explode + partial-agg groupBy; shuffle = overlap factor, no range join.",
    "interval_coverage": "Cumulative-max island detection: one exchange, windows and aggregates share it.",
    "dup_triangles": "Node-iterator triangles: ordered edge self-join closed onto edges; cost tracks path2 fan-out.",
    "locus_statistics_boundaries": "Broadcast range join: the clumped loci (dimension) broadcast onto the FULL sumstat scan via BroadcastHashJoin on (study_id, contig) with the [locus_start, locus_end] range as join filter; per-locus partial-agg; locus-grain agg broadcast back for the left join (no sort-merge exchange pair).",
    "locus_study_type": "Thin studyType LUT left join: customer-derived 2-column dimension broadcast onto the window-clump leads; the locus side never shuffles beyond its own clumping exchange.",
    "signif_calibration": "Rank windows (percent_rank/cume_dist/ntile) share one study exchange; decile pick rides it.",
    # r8 additions
    "study_locus_qc_flags": "r9 zero-join rewrite: ONE pruned pushdown scan at the locus-breaker threshold (the clump base is a subset), ONE hash(study_id) exchange, every annotation a window riding it via the subset-key rule (lb clustering, clump clustering, lead-rank, PICS PIP-mass, prev/next-lead dominance as O(n) running ignore-null frames, dup-id, per-study sumstats bit); no joins, no broadcasts, no arrays/HOFs in the flag projection; DataFrame memoised per (app, sf_dir).",
    "gwas_study_ingest": "Study parse + ancestry aggregates; r12: the (study, ancestry) sums are cached at output grain, so discovery-CSV and LD-ppm read the cache instead of re-deriving the explode/sum chain (one fewer corpus pass); all joins keyed on study_id (high-card).",
    "gwas_top_hits": "Split (dense_rank windows) feeding gap-sessionized clumping: the (study, contig) exchange is shared by the lag, cumsum and lead-rank windows.",
    "panukbb_ld_align": "Equi-join on (chromosome, position) with orientation filter; per-idx rank dedup rides one exchange; group-by-min dedup replaces nondeterministic dropDuplicates.",
    "decode_study_ingest": "Manifest regexp parse stays in codegen; aptamer aggregate joined on aptamer_id; complex dim broadcast.",
    # r11 additions
    "l2g_distance_features": "A view of the feature factory: mean half is the fused footprint family's (locus, gene) partial-agg groupBy over the broadcast footprint join (pruned to the distance sums); sentinel half: broadcast leads x genes; the factory's union-agg combine on one locus-prefix exchange, which the locus window for the four nbh ratios reuses.",
    "l2g_feature_matrix": "r11 fused assembly: distance-mean sums ride the footprint family's groupBy, sentinel is a broadcast join, one shared locus window computes all four distance nbh ratios after the union-agg (+3 exchanges for 8 new features).",
    "complextab_parse": "Pure regexp/split parse projection over the supplier scan; union of two fabricated files; posexplode for components; zero data-side joins.",
    "text_quality": "Staged HOF projections: tokenize once, stopword/length HOF aggregates over the column ref, pure-codegen ratio projection; zero exchanges.",
    "text_langid": "Same staging: one tokenize pass, four score HOFs evaluated once, codegen argmax; zero exchanges.",
    "bloom_decontaminate": "Bloom build = bit_or partial-agg over benchmark shingle positions (shuffle <= 4096 words, no build-side distinct -- bit_or absorbs duplicates); probe = K inline element_at lookups against the ONE-row broadcast dense word array; per-doc counts ride ONE doc_id groupBy (r13: the per-(doc, shingle) min-regroup was redundant -- shingles() emits distinct pairs).",
    # r17 additions
    "ann_pca_topk": "E51 loading/means ride a 1-row broadcast of d-length arrays (the composition point); projections = one per-row DECIMAL array kernel over the scan (zip_with terms, aggregate sum; its size does not grow with d), cached (feeds corpus bins AND query probes); bin range a 1-row broadcast; candidates meet via the bin EQUI-join (3 exploded probe keys per query, never a query x corpus product); exact cosine + per-query window only on the ~3/16 slice.",
    "embedding_pca_topm": "Covariance method: ONE corpus pass builds the d x d Gram table (explode -> vec_id self-join -> d^2-group exact-sum (exact_decimal_sum) partial agg; only combiner output crosses the wire), then ALL power blocks + matrix-level Hotelling deflations run as ONE Arrow task over 4096 values with exact HALF_UP Decimal arithmetic (= the relational SUM). Exactly two data-grain stages (mean agg, Gram agg); measured in over three rejected cuts (explode+join matvecs ~30 jobs; unrolled DECIMAL codegen chains OOM'd janino; relational tiny-table iteration ~20 scheduler-bound jobs).",
    "embedding_pca_project": "E54's output pivoted to three d-length arrays on a 1-row broadcast; both coordinates are DECIMAL array kernels (zip_with terms, aggregate sum; their size does not grow with d) in ONE projection over the embeddings scan -- zero exchanges downstream of the model build (the pii_redact class). Partial sums re-cast to DECIMAL(38,12) per addition (Spark's decimal + re-scales a digit narrower per chained term -- unfixed, 9dp partials round silently).",
}


def main() -> None:
    spark = get_session(shuffle_partitions=8)
    registry = full_registry()
    out = [
        "# Physical plan audit (generated at sf0.001)",
        "",
        "Generated by scripts/gen_plans_doc.py. Assertions on the",
        "load-bearing properties live in tests/test_plans.py.",
        "",
    ]
    for name, note in AUDIT.items():
        df = registry[name].fn(spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        tree = plan.split("\n\n")[0]
        n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
        n_bc = len(re.findall(r"\(\d+\) BroadcastExchange", plan))
        out += [
            f"## {name}",
            "",
            note,
            f"(hash exchanges: {n_ex}, broadcast exchanges: {n_bc})",
            "",
            "```",
            tree,
            "```",
            "",
        ]
    with open("docs/PLANS.md", "w") as fh:
        fh.write("\n".join(out))
    print("wrote docs/PLANS.md")


if __name__ == "__main__":
    main()
