"""Physical-plan assertions (SURVEY §5.3): pushdown, broadcast, codegen.

These guard the scale posture: a refactor that silently drops a pushed
filter or turns a broadcast join into a shuffle join fails here, not
in a 100 TB run.
"""

from __future__ import annotations

from gentropy_spark.plans.genomics import q_window_clump_leads
from gentropy_spark.plans.relational import q1_pricing_summary, q5_local_supplier


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_q1_pushes_filter_and_prunes_columns(spark, sf_dir):
    plan = _formatted(q1_pricing_summary(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # Projection pruning: unused columns must not reach the scan.
    assert "l_orderkey" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_q5_broadcasts_dimensions(spark, sf_dir):
    plan = _formatted(q5_local_supplier(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert plan.count("BroadcastExchange") >= 3  # supplier, nation, region


def test_window_clump_single_exchange(spark, sf_dir):
    """All clumping windows share the (study, contig) partitioning — the
    plan must contain exactly ONE shuffle exchange (plus AQE wrappers),
    not one per window function."""
    plan = _formatted(q_window_clump_leads.__wrapped__(spark, sf_dir))
    n_exchanges = plan.count("+- Exchange") + plan.count("   Exchange")
    assert n_exchanges == 1, f"expected 1 exchange, got {n_exchanges}:\n{plan}"


def test_q1_aggregation_is_partial(spark, sf_dir):
    """Sums must map-side combine (partial_ functions in HashAggregate)."""
    plan = _formatted(q1_pricing_summary(spark, sf_dir))
    assert "partial_sum" in plan or "partial_count" in plan


def test_lsh_dedup_survives_codegen_hard_fail(spark, sf_dir):
    """r2 regression: the unrolled 16×64 sign-bit expressions exceeded
    the JVM's 64KB generated-method limit — codegen failed to COMPILE
    and Spark silently fell back to per-row interpreted evaluation (4×
    slower). With fallback disabled a compile failure is a hard error,
    so this test proves every stage of the LSH dedup plan either
    compiles or legitimately runs outside codegen (Arrow UDF stages)."""
    from gentropy_spark.plans.llm_pipeline import q_dedup_embedding

    prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        q_dedup_embedding(spark, sf_dir).count()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)


def test_lsh_candidate_buckets_are_balanced(spark, sf_dir):
    """The r2 hyperplane family collapsed 16-bit bands to ~160 distinct
    buckets with quarter-corpus mega-buckets (quadratic candidates in
    disguise). Guard: no bucket may hold more than 5% of the corpus."""
    import numpy as np

    from gentropy_spark.operators.similarity import det_hyperplanes
    from gentropy_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings").limit(500).collect()
    V = np.stack([np.array(r.embedding, dtype=np.float64) for r in emb])
    W = np.array(det_hyperplanes(64, 64))
    bits = V @ W.T >= 0
    for bd in range(4):
        vals = (bits[:, bd * 16 : (bd + 1) * 16] * (1 << np.arange(16))).sum(axis=1)
        _, counts = np.unique(vals, return_counts=True)
        assert counts.max() <= max(len(V) // 20, 4), (
            f"band {bd}: mega-bucket of {counts.max()}/{len(V)}"
        )


def test_susie_stage_parallelism_pinned(spark, sf_dir):
    """r3 regression guard: AQE's byte-based coalescing collapsed the
    tiny shuffle feeding the Python fine-mapping stage to one partition
    (serializing all loci on one worker). The operator pins parallelism
    with a range repartition, which must survive optimization."""
    from gentropy_spark.plans.genomics import q_susie_inf

    df = q_susie_inf(spark, sf_dir)
    plan = _formatted(df)
    assert "rangepartitioning" in plan.lower(), plan


def test_asof_single_exchange_no_range_join(spark, sf_dir):
    """The asof join must be a union + one user_id shuffle — never a
    BroadcastNestedLoopJoin/CartesianProduct from a range predicate."""
    from gentropy_spark.plans.relational import q_asof_join

    plan = _formatted(q_asof_join.__wrapped__(spark, sf_dir))
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    import re

    n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_ex == 1, f"expected 1 exchange, got {n_ex}"


def test_scd2_windows_share_exchange(spark, sf_dir):
    from gentropy_spark.plans.relational import q_scd2_intervals

    import re

    plan = _formatted(q_scd2_intervals(spark, sf_dir))
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_ex == 1, f"expected 1 exchange, got {n_ex}"


def test_rollup_is_expand_not_union(spark, sf_dir):
    from gentropy_spark.plans.relational import q_rollup_aggregate

    plan = _formatted(q_rollup_aggregate(spark, sf_dir))
    assert "Expand" in plan
    assert "Union" not in plan
    assert "partial_sum" in plan or "partial_count" in plan


def test_ld_index_no_nested_loop(spark, sf_dir):
    from gentropy_spark.plans.graph_ld import q_ld_index_build

    plan = _formatted(q_ld_index_build(spark, sf_dir))
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "Union" not in plan  # the r6 symmetric build has one pipeline


def _physical_node_counts(df):
    """Count physical operators in the TRUE executed tree.

    Walks initialPlan under AQE so Exchange/Sort nodes inserted by
    EnsureRequirements are visible, and stops at InMemoryTableScan
    leaves — string dumps reprint each cached subtree per consumer,
    overcounting work that executes once.
    """
    from collections import Counter

    counts: Counter = Counter()

    def walk(node):
        name = node.nodeName()
        counts[name] += 1
        if name == "AdaptiveSparkPlan":
            walk(node.initialPlan())
            return
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return counts


def test_l2g_feature_matrix_exchange_budget(spark, sf_dir):
    """r7 exchange-sharing guard: the assembled feature matrix must stay
    within its shuffle budget. r6's assembly measured 30 shuffles + 12
    broadcasts and 22 sorts by this metric; the union-agg assembly +
    fused footprint family brought it to 22 + 10 and 15 sorts. r10's
    measured-gene equi-join rework adds TWO bounded exchanges (the
    per-contig gene-count dim: one 5-row groupBy + its broadcast) in
    exchange for removing the contig-only join's O(rows x genes/contig)
    expansion — 34 total, all small-side. r11 adds the 8-feature
    distance family for THREE more (measured 25 + 12): its mean sums
    ride the fused footprint groupBy (zero new exchanges), the
    sentinel half is a broadcast leads x genes join, and the only new
    data-side shuffle is the single shared locus window that computes
    all four neighbourhood ratios after assembly. r16 adds ONE
    broadcast (25 + 13): the customer-derived study-type LUT that
    routes qtl_type through annotate_study_type (the C13 verb, r15
    verdict item 6) instead of an inline id-hash — a dimension
    broadcast riding the existing fact exchanges, zero new data-side
    shuffles. A regression that reintroduces per-family
    re-aggregation or full-outer-join assembly fails here before it
    ships."""
    from gentropy_spark.plans.l2g import q_l2g_features

    counts = _physical_node_counts(q_l2g_features(spark, sf_dir))
    n_shuffle = counts.get("Exchange", 0)
    n_broadcast = counts.get("BroadcastExchange", 0)
    assert n_shuffle <= 25, (
        f"l2g_feature_matrix data-side shuffles grew: {n_shuffle}"
    )
    assert n_shuffle + n_broadcast <= 38, (
        f"l2g_feature_matrix exchange budget blown: "
        f"{n_shuffle} shuffles + {n_broadcast} broadcasts"
    )
    assert counts.get("Sort", 99) <= 17, f"sort count {counts.get('Sort')}"


def test_study_locus_qc_flags_pruned_scans(spark, sf_dir):
    """r9 scan posture, second pass: the sweep reads the events source
    through exactly ONE pruned scan at the locus-breaker threshold
    (signif >= LB_BASELINE, the superset of the clump threshold), with
    the significance filter PUSHED to the parquet reader — the shape
    that survives 100 TB, where caching the full-width parse (the r8
    approach) would not. A regression to per-annotation re-parses of
    the source would show up as extra scans or a missing pushdown."""
    from gentropy_spark.plans.variants import q_study_locus_qc_flags
    from gentropy_spark.session import release_caches

    release_caches()
    try:
        df = q_study_locus_qc_flags(spark, sf_dir)
        counts = _physical_node_counts(df)
        n_parquet = sum(
            v for k, v in counts.items() if "Scan parquet" in k or k == "FileSourceScan"
        )
        assert n_parquet == 1, f"events scanned {n_parquet}x: {counts}"
        import re

        plan = _formatted(df)
        pushed = len(
            re.findall(r"PushedFilters: \[.*GreaterThanOrEqual\(value", plan)
        )
        assert pushed >= 1, f"signif pushdown missing: {pushed}\n{plan[:2000]}"
        # The susie-region annotation must be the window-flag form —
        # no explode of collected region arrays.
        assert counts.get("Generate", 0) == 0, counts
    finally:
        release_caches()


def test_study_locus_qc_flags_exchange_budget(spark, sf_dir):
    """r9 zero-join rewrite: the base rows are a subset of the
    locus-breaker rows, so the whole 23-flag sweep is ONE scan at the
    wider threshold -> ONE hash(study_id) exchange -> a window stack
    (locus-breaker clustering, clump clustering, lead rank, PICS PIP
    mass, prev/next-lead dominance, duplicate-id, per-study sumstats
    bit all ride the same exchange via the subset-key rule). Budget:
    exactly 1 exchange, 0 broadcasts, 0 joins of any kind. The r8
    shape measured 8 hash exchanges; the first r9 pass 3 + 2
    broadcasts."""
    from gentropy_spark.plans.variants import q_study_locus_qc_flags
    from gentropy_spark.session import release_caches

    release_caches()
    try:
        df = q_study_locus_qc_flags(spark, sf_dir)
        counts = _physical_node_counts(df)
        n_shuffle = counts.get("Exchange", 0)
        n_broadcast = counts.get("BroadcastExchange", 0)
        assert n_shuffle == 1, f"hash exchanges {n_shuffle}: {counts}"
        assert n_broadcast == 0, f"broadcasts {n_broadcast}: {counts}"
        # No joins at all: the per-flag left joins of r8 (sort-merge
        # on point_id / locus keys) and the first-pass broadcast
        # annotation joins must not reappear.
        for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
            assert counts.get(node, 0) == 0, counts
    finally:
        release_caches()


def test_gwas_study_ingest_scan_budget(spark, sf_dir):
    """r9 scale-probe companion (docs/SCALE_PROBE.md): the GWAS study
    assembly reads the ancestry source through a BOUNDED set of
    column-pruned lineitem scans (one per aggregate family — AQE runs
    them concurrently; a cached base was measured SLOWER because its
    materialization is serial and every consumer re-exchanges above
    the cache anyway), and every study-keyed annotation joins back via
    broadcast. A regression to unpruned rescans-per-column or
    sort-merge study joins fails here."""
    from gentropy_spark.plans.studies import q_gwas_study_ingest
    from gentropy_spark.session import release_caches

    release_caches()
    try:
        counts = _physical_node_counts(q_gwas_study_ingest(spark, sf_dir))
        n_parquet = sum(
            v for k, v in counts.items()
            if "Scan parquet" in k or k == "FileSourceScan"
        )
        # ≤6 column-pruned scans statically; at runtime the (study,
        # ancestry) sums are cached (r12), so the discovery-CSV and
        # LD-ppm consumers read the output-grain cache instead of two
        # full explode→sum rescans — pinned via the InMemoryTableScan
        # count below. Caching the RAW base remains rejected (serial
        # corpus-sized materialization, r9 finding).
        assert n_parquet <= 6, f"parquet scanned {n_parquet}x: {counts}"
        assert counts.get("InMemoryTableScan", 0) >= 2, counts
        # all annotation joins broadcast — no sort-merge join of the
        # study dimension at any scale
        assert counts.get("SortMergeJoin", 0) == 0, counts
    finally:
        release_caches()


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _row_work_over_generate(plan) -> list[str]:
    """Row-level work a Project evaluates directly above a Generate,
    i.e. once per generated element instead of once per input row.

    Walks the plan tree through py4j (descending into the physical
    plans of cached subtrees, which the optimized plan shows as
    InMemoryRelation leaves). For each Project over a Generate, every
    project expression is searched top-down for a maximal
    subexpression that references none of the Generate's
    ``generatorOutput``. Such a subexpression is an offender when it
    reads an array or map column: its cost can grow with the
    collection, so per-element evaluation is quadratic — the shape of
    the 64-term PCA chain run 64 times per row, or a whole-array cast
    per element. Scalar row-level expressions cost O(1) per element
    and are not reported; expressions over the generated columns (the
    per-element hashes of the dedup and curation keys) never are."""
    out = []
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "InMemoryRelation":
            stack.append(node.cacheBuilder().cachedPlan())
            continue
        if name == "InMemoryTableScan":
            stack.append(node.relation().cacheBuilder().cachedPlan())
            continue
        if name == "AdaptiveSparkPlan":
            stack.append(node.inputPlan())
            continue
        kids = _seq(node.children())
        stack.extend(kids)
        if name != "Project" or kids[0].nodeName() != "Generate":
            continue
        gen_ids = {a.exprId().id() for a in _seq(kids[0].generatorOutput())}
        todo = _seq(node.projectList())
        while todo:
            e = todo.pop()
            if e.nodeName() in (
                "AttributeReference", "LambdaFunction", "NamedLambdaVariable"
            ):
                continue
            refs = _seq(e.references().toSeq())
            if gen_ids & {a.exprId().id() for a in refs}:
                todo.extend(_seq(e.children()))
            elif any(
                a.dataType().typeName() in ("array", "map") for a in refs
            ):
                out.append(e.sql()[:160])
    return out


def test_no_cartesian_product_anywhere(spark, sf_dir):
    """Registry-wide scale-killer sweep (r9): no query plan may contain
    a CartesianProduct. BroadcastNestedLoopJoin against broadcast
    1-row aggregates is legitimate (scalar thresholds); an unbroadcast
    cross product is never acceptable at 100 TB and fails here the
    moment a join loses its equi-condition.

    The same pass guards generator placement: no optimized plan may
    evaluate array-reading row-level work above a Generate
    (``_row_work_over_generate``) — the plan bug that ran
    embedding_pca_power's projection chain once per exploded element.
    Only plans with a Generate are walked."""
    from gentropy_spark.plans import full_registry
    from gentropy_spark.session import release_caches

    offenders = []
    hoisted = {}
    for name, spec in full_registry().items():
        release_caches()
        qe = spec.fn(spark, sf_dir)._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders.append(name)
        if "Generate " in plan:
            work = _row_work_over_generate(qe.optimizedPlan())
            if work:
                hoisted[name] = work
    release_caches()
    assert not offenders, f"cartesian products in: {offenders}"
    assert not hoisted, f"row-level work above a Generate: {hoisted}"


def test_normalized_plan_is_reproducible_across_builds(
    spark, sf_dir, normalized_plan
):
    """Each build of table_profile gets fresh expression ids, and Spark's
    distinct-aggregate rewrite orders its groups (the Expand's columns
    and projections, the gid numbers) by them. The sweep's normalised
    plan, whose digest is plan_sha, must not change between builds."""
    from gentropy_spark.plans import full_registry

    fn = full_registry()["table_profile"].fn
    assert len({normalized_plan(fn(spark, sf_dir)) for _ in range(3)}) == 1


def test_pack_sequences_exchange_keyed_on_bucket(spark, sf_dir):
    """r10 scale fix: the packing cumsum must NOT be a single-level
    PARTITION BY source window (source is low-cardinality — one task
    would sort a whole source's stream at 100 TB). The plan's data-side
    exchange must be keyed on (source, __pack_bucket), and the window
    sort must include the bucket."""
    from gentropy_spark.plans.llm_pipeline import q_pack_sequences

    plan = _formatted(q_pack_sequences(spark, sf_dir))
    assert "__pack_bucket" in plan, plan
    # the big-side exchange carries the bucket key
    exch_lines = [
        line
        for line in plan.splitlines()
        if "Arguments: hashpartitioning" in line
    ]
    assert any("__pack_bucket" in line for line in exch_lines), exch_lines
    # offsets ride a broadcast, not a second big shuffle join
    assert "BroadcastHashJoin" in plan


def test_tfidf_no_driver_action_at_build(spark, sf_dir):
    """r10: building the tfidf plan must not fire ANY Spark job —
    the corpus size N ships as a broadcast 1-row aggregate inside the
    plan, not a driver-side .count() (which was a full-scan job and a
    barrier before the query even ran)."""
    from gentropy_spark.plans.llm_pipeline import q_tfidf_topterms
    from gentropy_spark.session import release_caches

    release_caches()
    sc = spark.sparkContext
    sc.setJobGroup("tfidf-build", "plan build must not fire jobs")
    try:
        df = q_tfidf_topterms(spark, sf_dir)
    finally:
        jobs = sc.statusTracker().getJobIdsForGroup("tfidf-build")
        sc.setLocalProperty("spark.jobGroup.id", None)
    # spark.read.parquet fires ONE tiny footer/schema job per
    # read_table — that is metadata, not a scan. The defect this pins
    # against (docs.count() at build) fired a SECOND, full-scan job.
    assert len(list(jobs)) <= 1, f"plan build fired extra jobs: {jobs}"
    assert "tfidf" in df.columns


def test_mixture_rebalance_zero_rate_emits_zero_threshold(
    spark, sf_dir, monkeypatch
):
    """A stratum with keep_rate 0 must emit threshold '0000' (keep
    nothing), not 'ffff...' (keep everything) from %04x of -1."""
    from gentropy_spark.plans import llm_pipeline as lp

    monkeypatch.setattr(lp, "TARGET_SHARES", {"en": 1.0})
    out = lp.q_mixture_rebalance(spark, sf_dir).collect()
    by_lang = {r["lang"]: r for r in out}
    assert "en" in by_lang and by_lang["en"]["keep_rate"] == 1.0
    for lang, row in by_lang.items():
        if lang == "en":
            continue
        assert row["keep_rate"] == 0.0
        assert row["sample_threshold_hex"] == "0000", (
            f"{lang}: zero keep rate must keep nothing, got "
            f"{row['sample_threshold_hex']!r}"
        )
