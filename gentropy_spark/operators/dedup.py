"""Deduplication operators (SURVEY §2.E1–E4, E11).

Exact, fingerprint, shingle-Jaccard, MinHash-LSH and SimHash
deduplication as DataFrame transforms. All candidate generation is
join-based (never a cross join): the only O(n²) work is within a
candidate bucket, which is the standard scale posture for 100 TB
dedup (cf. MinHash banding).

Hashing is the cross-engine polynomial family from
``functions/xhash.py`` (pure int64 arithmetic), so MinHash signatures,
band buckets and SimHash fingerprints are bit-identical in Spark and
DuckDB — every operator here is full value-hash oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gentropy_spark.functions.text import tokens
from gentropy_spark.functions.xhash import (
    B1,
    B2,
    M1,
    M2,
    band_bucket,
    poly_hash,
    seed_coeffs,
    seeded,
)
from gentropy_spark.session import track_cache


def exact_dup_groups(df: DataFrame) -> DataFrame:
    """Hash-group exact duplicates; keeper = lowest id per group."""
    w = Window.partitionBy("content_hash")
    return (
        df.withColumn("content_hash", F.md5(F.col("text")))
        .withColumn("group_n", F.count("*").over(w))
        .withColumn("keeper_id", F.min("doc_id").over(w))
        .select(
            F.col("doc_id"),
            "content_hash",
            "group_n",
            (F.col("doc_id") == F.col("keeper_id")).alias("is_keeper"),
        )
    )


def spread_if_narrow(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Hash-repartition an UNDER-PARTITIONED file source so CPU-heavy
    per-row kernels (tokenize/gram/hash, higher-order stopword scans)
    parallelize instead of running in one row-group-sized task.

    Guarded by the source file count: a production corpus with >=
    defaultParallelism files already parallelizes at the scan, and
    re-shuffling 100 TB of raw text to fix nothing would be the real
    scale bug. HASH partitioning on ``id_col``, not round-robin —
    round-robin inserts a defensive full-row local sort
    (spark.sql.execution.sortBeforeRepartition) whose cost on raw text
    erases the win (r13 measurement in the ``shingles`` docstring).
    ``inputFiles() == []`` (local relations, derived plans, non-file
    sources) means *unknown* layout, not "one file" — those inputs are
    left alone rather than unconditionally shuffled.
    """
    try:
        n_files = len(df.inputFiles())
        target = df.sparkSession.sparkContext.defaultParallelism
    except Exception:  # noqa: BLE001 — exotic sources: leave layout alone
        return df
    if 1 <= n_files < max(2, target // 2):
        return df.repartition(target, F.col(id_col))
    return df


def shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Distinct word n-gram shingles per document (one row per shingle).

    The token array is materialised in its own projection BEFORE the
    gram builder references it: inlining ``tokens(text)`` into every
    ``element_at`` would re-run the whole regex tokenization per gram
    element (observed 30x slowdown). Per-doc dedup uses array_distinct
    in-place — no shuffle, unlike a global ``.distinct()``.

    Under-partitioned sources are re-spread BEFORE the explode (r12):
    a parquet row group is the atomic scan split, so a few-file input
    runs the whole tokenize→gram→hash stack in a handful of tasks
    (measured 11.2s → 4.5s cold for the sf0.1 MinHash pipeline on a
    one-row-group file). The repartition is GUARDED by the source file
    count — a production corpus with >= defaultParallelism files
    already parallelizes at the scan, and re-shuffling 100 TB of raw
    text to fix nothing would be the real scale bug. Guard details
    (r13): the spread is HASH partitioning on the id column, not
    round-robin — round-robin repartition inserts a defensive full-row
    local sort (spark.sql.execution.sortBeforeRepartition) whose cost
    on raw text erased the win on warm runs (measured 2.8s rr vs 1.9s
    hash vs 2.0s no-spread, bench-shaped min-of-2 at sf0.1); and
    ``inputFiles() == []`` (local relations, derived plans, non-file
    sources) means *unknown* layout, not "one file" — those inputs are
    left alone rather than unconditionally shuffled.
    """
    df = spread_if_narrow(df, id_col)
    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    toks = F.col("_toks")
    # Guard: Spark's sequence(0, -1) would generate a DESCENDING range,
    # so short documents must map to an empty shingle list explicitly.
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, (i + k + 1).cast("int")) for k in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toked.select(
        F.col(id_col), F.explode(F.array_distinct(grams)).alias("shingle")
    )


def _jaccard_verify(
    cand: DataFrame, sh: DataFrame, id_col: str, min_jaccard: float
) -> DataFrame:
    """Exact Jaccard over candidate pairs only.

    Scale posture (fixes the r1 frequent-shingle blow-up): the shared
    shingles per pair are found by exploding CANDIDATE pairs against
    each side's shingle set — join 1 fans each pair out to side-a's
    shingles, join 2 is an equi-join on (id_b, shingle). Cost is
    O(candidates × avg set size); a frequent shingle can no longer
    induce a quadratic shingle-index self-join because the shingle is
    never a join key on its own.
    """
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("set_size"))
    sa = sh.select(F.col(id_col).alias("id_a"), "shingle")
    sb = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        cand.join(sa, on="id_a")
        .join(sb, on=["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.join(
            sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("set_size", "size_a"),
            on="id_a",
        )
        .join(
            sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("set_size", "size_b"),
            on="id_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def rare_shingle_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    max_df: int = 10,
    min_jaccard: float = 0.2,
) -> DataFrame:
    """Near-duplicate pairs by Jaccard over *rare* shingles.

    Shingles occurring in more than ``max_df`` documents are dropped
    before pair generation — this bounds candidate fan-out (the
    frequent-shingle cross-product is what kills naive Jaccard at
    scale) and is the deterministic, SQL-expressible counterpart of
    MinHash candidate pruning. Jaccard is computed over the rare
    shingle sets: |A∩B| / (|A|+|B|−|A∩B|).
    """
    # The shingle index is reused by the df-filter, the pair join (twice)
    # and the size lookup — persist it once instead of re-running the
    # tokenize→explode→distinct pipeline four times. At cluster scale
    # this materialisation is the bucketed shingle-index table a real
    # dedup pipeline would write anyway. Handles are registered with
    # session.track_cache so long-running sessions stay bounded.
    sh = track_cache(shingles(df, "text", "doc_id", n))
    rare = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df_count"))
        .filter(F.col("df_count") <= max_df)
        .select("shingle")
    )
    rare_sh = track_cache(sh.join(rare, on="shingle", how="inner"))
    sizes = rare_sh.groupBy("doc_id").agg(F.count("*").alias("set_size"))

    # Rare-shingle fan-out is bounded by max_df, so the shingle-keyed
    # self-join is safe here (each shingle yields <= max_df² pairs).
    a = rare_sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = rare_sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("set_size", "size_a"), on="id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("set_size", "size_b"), on="id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "n_common", "size_a", "size_b", "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    min_jaccard: float = 0.2,
) -> DataFrame:
    """MinHash + banded LSH near-duplicate pairs (SURVEY E3).

    Signature: per doc, ``num_hashes`` minima of affine rehashes of ONE
    cross-engine polynomial base hash per shingle (xhash.seed_coeffs) —
    the classic universal-family trick, and 32× cheaper than hashing
    every shingle 32 times. Banding: rows/band = num_hashes//bands;
    docs sharing any band bucket become candidates; candidates are
    verified with exact Jaccard via ``_jaccard_verify`` (pair-explode
    shape — no shingle-keyed self-join, so frequent shingles cannot
    blow up the verification step).

    Scale: shuffle is bounded by (docs × bands) bucket rows + the
    candidate verification joins; no cross join anywhere.
    """
    rows_per_band = num_hashes // bands
    coeffs = seed_coeffs(num_hashes)
    # Persist: the shingle index feeds the signature agg AND the
    # verification joins.
    sh = track_cache(shingles(df, text_col, id_col, n))
    hashed = sh.withColumn("h", poly_hash("shingle"))
    # Seeded minima as parsed SQL text (r17): one round trip per seed
    # instead of ~6 Column-operator calls each — the same affine
    # rehash tree ``min((h*a + c) % M)`` the ``seeded`` helper builds
    # (int64-safe: h, a < 2^31).
    sig = hashed.groupBy(id_col).agg(
        *[
            F.expr(f"min((h * {a} + {c}) % {M1}) AS m{s}")
            for s, (a, c) in enumerate(coeffs)
        ]
    )
    banded = sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        band_bucket(
                            [
                                F.col(f"m{band * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for band in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")

    banded = track_cache(banded)
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), on=["band", "bucket"])
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("id_a"), F.col(f"y.{id_col}").alias("id_b")
        )
        .distinct()
    )
    return _jaccard_verify(cand, sh, id_col, min_jaccard).select(
        "id_a", "id_b", "jaccard"
    )


def simhash_buckets(
    df: DataFrame,
    bits: int = 62,
) -> DataFrame:
    """62-bit SimHash per document (SURVEY E4).

    Two independent 31-bit polynomial channels (xhash B1/M1, B2/M2)
    supply bits 0–30 and 31–61 of each token's hash — pure int64
    arithmetic, so the fingerprint is reproducible in DuckDB (unlike
    the r1 xxhash64 version). Per token, each bit contributes +1/−1 to
    a per-bit counter; the sign vector is the fingerprint. Expressed as
    an explode + groupBy (bit, sign-sum) aggregation — fully
    distributed, no UDFs.
    """
    tok = df.select(F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("tok"))
    hashed = tok.select(
        "doc_id",
        poly_hash("tok", base=B1, mod=M1).alias("h1"),
        poly_hash("tok", base=B2, mod=M2).alias("h2"),
    )
    # Bit positions are compile-time constants — unroll to keep
    # shiftright on the fast literal path.
    bits_df = hashed.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("bit"),
                        F.when(
                            F.shiftright(
                                F.col("h1") if i < 31 else F.col("h2"),
                                i if i < 31 else i - 31,
                            ).bitwiseAND(1)
                            == 1,
                            F.lit(1),
                        )
                        .otherwise(F.lit(-1))
                        .alias("delta"),
                    )
                    for i in range(bits)
                ]
            )
        ).alias("bd"),
    ).select("doc_id", "bd.bit", "bd.delta")
    return (
        bits_df.groupBy("doc_id", "bit")
        .agg(F.sum("delta").alias("s"))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(
                    F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))")
                ).otherwise(F.lit(0).cast("long"))
            ).alias("simhash")
        )
    )


def duplicate_clusters(
    docs: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 25,
    assert_edges_covered: bool = False,
) -> DataFrame:
    """Connected components over verified duplicate pairs (SURVEY E15).

    The pair generators above (MinHash/SimHash/Jaccard) emit verified
    near-duplicate EDGES; an actual dedup decision needs the transitive
    closure — duplicate clusters — so exactly one canonical document
    survives per cluster (the reference pipeline stops at pairs; real
    corpus curation cannot). Implemented as iterative min-label
    propagation: every node starts labelled with its own id, and each
    round takes the min label over itself and its neighbours. Labels
    are monotonically non-increasing, so the total is a fixpoint
    detector: one aggregate action per round, no join-diff.

    Scale: each round is one equi-join (labels × symmetric edges, both
    partitioned on the join key) plus one partial-agg-friendly min
    groupBy — never materialises a component's pair closure, and (r12)
    the iteration runs over the EDGE-INDUCED subgraph only, so round
    cost scales with the duplicate fraction, not the corpus. Rounds =
    cluster diameter, which for near-dup clusters is small (they are
    dense by construction); ``localCheckpoint`` truncates lineage so
    plans stay constant-size across rounds. Raises rather than silently
    truncating if a pathological chain exceeds ``max_iters`` (same
    contract as operators/graph.py ontology_closure).

    PRECONDITION: every id in ``edges`` must exist in ``docs`` — the
    output is keyed on the corpus (edge-only ids are dropped by the
    final left join). Every caller in this repo derives edges from the
    same documents frame, which guarantees it. A violation is SILENT:
    edge endpoints absent from ``docs`` (e.g. a stale or wider pair
    table) vanish from the output with no error, and can leave a
    cluster whose canonical id is one of the dropped rows. Set
    ``assert_edges_covered=True`` to pay one anti-join count and raise
    instead. ``duplicate_drop_ids`` shares this contract: a drop-list
    built from stale edges names ids the corpus no longer has.
    """
    if assert_edges_covered:
        # DISTINCT before the anti-join: a stale id repeated across
        # many edges would otherwise be counted once per edge row,
        # overstating the problem (and the distinct also cheapens the
        # check — the anti-join probes unique ids only).
        edge_ids = (
            edges.select(F.col("id_a").alias("id"))
            .union(edges.select(F.col("id_b").alias("id")))
            .distinct()
        )
        n_uncovered = edge_ids.join(
            docs.select(F.col(id_col).alias("id")), on="id", how="left_anti"
        ).count()
        if n_uncovered:
            raise ValueError(
                f"duplicate_clusters: {n_uncovered} distinct edge "
                f"endpoint ids missing from docs.{id_col} — the edge "
                "table is stale or wider than the corpus"
            )
    nodes = docs.select(F.col(id_col).alias("id"))
    lbl = edge_min_labels(edges, max_iters=max_iters)
    # Per-cluster sizes on the CONVERGED LABEL SET (tiny), not a
    # corpus-wide window: the old ``COUNT(*) OVER (PARTITION BY lbl)``
    # sorted and exchanged the whole corpus to mostly count singletons.
    # Sizes for edge clusters aggregate a few rows; isolated nodes are
    # size-1 by definition (COALESCE below).
    sized = lbl.join(
        lbl.groupBy("lbl").agg(F.count("*").alias("__csize")), on="lbl"
    )
    # Rejoin the full corpus: isolated nodes (no duplicate edge) are
    # their own singleton cluster. Left join keyed on the corpus id —
    # the converged label set is tiny (edge endpoints only) and AQE
    # broadcasts it.
    return nodes.join(sized, on="id", how="left").select(
        F.col("id").alias(id_col),
        F.coalesce("lbl", "id").alias("cluster_id"),
        F.coalesce("__csize", F.lit(1)).alias("cluster_size"),
        (F.col("id") == F.coalesce("lbl", "id")).alias("is_canonical"),
    )


def edge_min_labels(
    edges: DataFrame,
    max_iters: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Converged min-label per EDGE ENDPOINT: (id, lbl) rows covering
    exactly the ids that appear in ``edges`` (both directions), where
    lbl is the minimum id of the node's connected component. The
    fixpoint loop behind ``duplicate_clusters`` and
    ``duplicate_drop_ids`` — iterates over the edge-induced subgraph
    only, so round cost scales with the duplicate fraction, not the
    corpus."""
    # The edge set joins into EVERY propagation round — without a
    # persist each round would re-execute the upstream pair pipeline
    # (for MinHash edges that's the full shingle/signature/verify DAG).
    # Persist the PAIRS, not the symmetrized union: a persisted union
    # would execute the upstream DAG once per branch. localCheckpoint
    # rather than cache (r17): a cache node KEEPS the upstream lineage
    # in every round's logical plan, so the first round's checkpoint
    # planned the whole MinHash DAG again through the cache —
    # profiled at ~4s of driver wall inside ONE localCheckpoint call
    # (Catalyst re-optimising the banded-signature trees, twice via
    # the symmetrized union). The lazy checkpoint truncates lineage
    # to an RDD leaf: the pair DAG is planned once, each round's plan
    # is edge-sized, and the storage is swept by release_caches()
    # exactly like a cache.
    from gentropy_spark.session import track_local_checkpoint

    pairs = track_local_checkpoint(edges.select("id_a", "id_b"))
    sym = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    # Seeded init (r13): start every node at min(self, neighbours) —
    # the same groupBy shuffle the old `.distinct()` node-set build
    # paid, but it bakes the first propagation round into the
    # initialization, saving one full join+aggregate+checkpoint round
    # per call (rounds = diameter, and near-dup cluster diameters are
    # small, so one round is a real fraction).
    lbl = (
        sym.groupBy("src")
        .agg(F.least(F.min("dst"), F.col("src")).alias("lbl"))
        .select(F.col("src").alias("id"), "lbl")
    )
    lbl_type = dict(lbl.dtypes)["lbl"]
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        # Fixpoint = zero labels CHANGED this round. (A sum-of-labels
        # equality test is unsound: with string ids F.sum is NULL every
        # round and None==None "converges" after one round with wrong
        # clusters; with large numeric ids an int64 sum can overflow,
        # voiding the monotone-decrease argument.) The previous label
        # rides the SAME union+groupBy shuffle as an extra column —
        # only the self row carries it, so max() recovers it per id —
        # no extra join, no extra exchange, type-agnostic.
        prop = lbl.join(sym, lbl["id"] == sym["src"]).select(
            F.col("dst").alias("id"),
            F.col("lbl"),
            F.lit(None).cast(lbl_type).alias("prev"),
        )
        self_rows = lbl.select("id", "lbl", F.col("lbl").alias("prev"))
        # LAZY checkpoint (r14): the change-count below is this
        # round's first action, so it materialises the checkpoint and
        # counts in ONE job — eager=True spent a separate job per
        # round materialising before the count re-scanned it
        # (measured ~0.3s/round of pure job latency at sf0.1).
        new_lbl = track_local_checkpoint(
            self_rows.union(prop)
            .groupBy("id")
            .agg(F.min("lbl").alias("lbl"), F.max("prev").alias("prev"))
        )
        # Null-safe comparison: an id reached for the first time this
        # round carries prev = NULL; a plain != would evaluate to NULL
        # there and under-count — the loop could declare convergence
        # before propagation through such nodes completed.
        n_changed = new_lbl.filter(
            ~F.col("lbl").eqNullSafe(F.col("prev"))
        ).count()
        lbl = new_lbl.select("id", "lbl")
        if n_changed == 0:
            break
    else:
        raise RuntimeError(
            f"edge_min_labels did not converge within {max_iters} rounds"
        )
    if stats is not None:
        stats["rounds"] = rounds
    return lbl


def duplicate_drop_ids(
    edges: DataFrame,
    max_iters: int = 25,
) -> DataFrame:
    """The NON-canonical duplicate ids — every edge endpoint whose
    connected-component minimum is some other id. Curation pipelines
    anti-join this (tiny: bounded by edge endpoints) instead of
    inner-joining the full ``duplicate_clusters`` output, which avoids
    dragging a corpus-wide join through the keep-filter chain just to
    test ``is_canonical``.

    Shares ``duplicate_clusters``'s edges-within-corpus contract: if
    ``edges`` carries ids the corpus no longer has (stale/wider pair
    table), the drop list silently names them and the anti-join
    silently ignores them — no error surfaces."""
    lbl = edge_min_labels(edges, max_iters=max_iters)
    return lbl.filter(F.col("id") != F.col("lbl")).select(
        F.col("id").alias("doc_id")
    )
