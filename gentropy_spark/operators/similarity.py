"""Similarity search over embedding columns (SURVEY §2.E5, E6, E11).

Brute-force cosine top-k as the verifiable per-bucket kernel, plus
random-hyperplane LSH variants as the scale path for both ANN top-k
and embedding near-dup pairs. Vector math accumulates left-to-right
over double-cast arrays, deterministically (matches DuckDB's
sequential list_dot_product for oracle parity).

Scale design (100 TB): candidate generation is always an equi-join on
(band, band_val) sign-pattern buckets; the only cross join left is
``cosine_topk``, whose contract is a BOUNDED query set broadcast
against the corpus (a linear corpus scan, not a cartesian product) —
it is also the within-bucket kernel of the LSH paths.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from gentropy_spark.functions.exact import exact_sum
from gentropy_spark.session import track_cache


def as_double(vec: Column) -> Column:
    # Native array cast (codegen) — NOT transform(x -> cast(x)), which
    # drops to interpreted higher-order-function evaluation per row.
    return vec.cast("array<double>")


def _mix32(x: int) -> int:
    """32-bit integer finalizer (xor-shift-multiply, murmur-style)."""
    x &= 0xFFFFFFFF
    x = ((x ^ (x >> 16)) * 0x45D9F3B) & 0xFFFFFFFF
    x = ((x ^ (x >> 16)) * 0x45D9F3B) & 0xFFFFFFFF
    return x ^ (x >> 16)


def det_hyperplanes(n_planes: int = 3, dim: int = 64) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (no RNG dependency).

    Weights are a murmur-style integer mix of (plane, dim) quantized to
    1/1000 steps in [-1, 1] — statistically independent across planes,
    unlike the r2 linear-congruential pattern, whose planes p and p+2
    were near-identical vectors (offset 6/500 mod wrap): that collapsed
    16-bit bands to ~160 distinct buckets with quarter-corpus
    mega-buckets, i.e. a quadratic candidate space in disguise. The
    weights are plan-time Python floats embedded as literals on BOTH
    engines (Spark ``F.lit``, DuckDB ``%.17e`` round-trip), so sign
    patterns — and therefore LSH buckets — stay bit-identical across
    engines regardless of the weight values chosen.
    """
    planes = []
    for p in range(n_planes):
        planes.append(
            [(_mix32(p * 100_003 + i * 7919 + 1) % 2001) / 1000.0 - 1.0 for i in range(dim)]
        )
    return planes


def plane_dot(v: Column, plane: list[float]) -> Column:
    """Unrolled v·plane with literal weights (left-assoc from 0.0)."""
    out: Column = F.lit(0.0)
    for i, w in enumerate(plane):
        out = out + F.element_at(v, i + 1) * F.lit(w)
    return out


def sign_bits(v: Column, hyperplanes: list[list[float]]) -> list[Column]:
    """One 0/1 column per hyperplane: 1 iff v·plane >= 0.

    Unrolled-expression form — fine for a FEW planes (``lsh_topk`` uses
    3). For many planes use ``packed_sign_bits``: n_planes × dim
    unrolled terms overflow the JVM's 64KB method limit and whole-stage
    codegen fails to compile (the r2 `dedup_embedding_cosine` 4×
    regression), falling back to per-row interpreted evaluation.
    """
    return [
        F.when(plane_dot(v, hp) >= 0, F.lit(1)).otherwise(F.lit(0))
        for hp in hyperplanes
    ]


def packed_sign_bits(hyperplanes: list[list[float]]):
    """All hyperplane sign bits of a vector packed into ONE int64, as a
    single Arrow-batched ``pandas_udf``.

    Why a UDF here when the rest of the engine is Column-expression
    first: with 64 planes × 64 dims the unrolled JVM expression is
    ~4,100 multiply-add terms — past the 64KB generated-method limit,
    so codegen *fails to compile* and Spark silently drops to per-row
    interpreted evaluation (measured 4× slower end-to-end in r2). The
    UDF has CONSTANT generated-code size: the plane matrix is a numpy
    constant in the closure, the per-batch work is ``dim`` fused
    vectorized multiply-adds over the whole Arrow batch.

    Oracle parity: accumulation is per-plane left-to-right over the
    vector index (``acc += v[i] * w[i]`` in float64, seed 0.0) —
    bit-identical to the unrolled JVM expression it replaces and to
    DuckDB's sequential ``list_dot_product``, so sign bits (and hence
    LSH buckets) stay cross-engine exact.
    """
    W = np.asarray(hyperplanes, dtype=np.float64)  # (n_planes, dim)
    n_planes, dim = W.shape

    @pandas_udf("long")
    def _packed(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        V = np.stack(vecs.to_numpy()).astype(np.float64, copy=False)
        acc = np.zeros((V.shape[0], n_planes), dtype=np.float64)
        for i in range(dim):
            # Sequential accumulation (index order) — IEEE-identical to
            # the left-associated unrolled expression and the oracle.
            acc += V[:, i : i + 1] * W[:, i]
        bits = acc >= 0.0
        packed = np.zeros(V.shape[0], dtype=np.uint64)
        for p in range(n_planes):
            packed |= bits[:, p].astype(np.uint64) << np.uint64(p)
        return pd.Series(packed.view(np.int64))

    return _packed


def cosine_pairs_udf():
    """Arrow-batched pairwise cosine — the verify-join kernel of
    ``lsh_dup_pairs``.

    An unrolled cosine expression (3 × dim element_at terms) fused
    into a generated method that ALSO contains two hash joins exceeds
    the JVM's 64KB limit, killing whole-stage codegen for the verify
    stage. This UDF is constant code size. Numeric parity with DuckDB's
    ``list_dot_product``: all three
    dot products accumulate left-to-right in float64 (IEEE add/mul),
    and sqrt/division are correctly-rounded IEEE ops in numpy and the
    JVM alike. Rounding stays OUTSIDE (JVM ``F.round``) — numpy rounds
    half-to-even, which diverges from Spark/DuckDB half-up on ties.
    """

    @pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd.Series([], dtype="float64")
        A = np.stack(va.to_numpy()).astype(np.float64, copy=False)
        B = np.stack(vb.to_numpy()).astype(np.float64, copy=False)
        n = A.shape[0]
        ab = np.zeros(n)
        aa = np.zeros(n)
        bb = np.zeros(n)
        for i in range(A.shape[1]):
            ab += A[:, i] * B[:, i]
            aa += A[:, i] * A[:, i]
            bb += B[:, i] * B[:, i]
        return pd.Series(ab / (np.sqrt(aa) * np.sqrt(bb)))

    return _cos


def l2_pairs_udf():
    """Arrow-batched pairwise squared-L2 — the assignment kernel for
    centroid quantizers (kmeans convention).

    Same parity argument as ``cosine_pairs_udf``: the per-dimension
    accumulation is left-to-right float64 ((a-b)^2 added dim by dim),
    bit-identical to the interpreted ``F.aggregate(zip_with(...))``
    form and to DuckDB's ``list_sum(list_transform(...))``; rounding
    stays OUTSIDE in the JVM. The HOF form evaluates INTERPRETED per
    row — fine at (corpus x 8) cells, a single-task stall at
    (200k x 782) cells (measured in the 100x probe) — while this
    kernel is vectorized per Arrow batch and constant plan size.
    """

    @pandas_udf("double")
    def _l2(va: pd.Series, vb: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd.Series([], dtype="float64")
        A = np.stack(va.to_numpy()).astype(np.float64, copy=False)
        B = np.stack(vb.to_numpy()).astype(np.float64, copy=False)
        acc = np.zeros(A.shape[0])
        for i in range(A.shape[1]):
            d = A[:, i] - B[:, i]
            acc += d * d
        return pd.Series(acc)

    return _l2


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    max_queries: int | None = 10_000,
) -> DataFrame:
    """Brute-force cosine top-k for a BOUNDED query set.

    The query side is explicitly broadcast: the plan is a
    BroadcastNestedLoopJoin that scans the corpus ONCE and scores each
    row against the in-memory query vectors — linear in corpus size,
    which is the correct shape for "score a handful of probes against
    100 TB". It is NOT a corpus×corpus product; for all-pairs problems
    use ``lsh_dup_pairs``, and for large query sets use ``lsh_topk``.
    Ranking is per-query (row_number over the rounded similarity, ties
    broken by id) so the result is deterministic and oracle-comparable.

    ``max_queries`` guards the contract: a large query set would make
    the broadcast build side OOM (or hit the 8GB broadcast cap) rather
    than degrade gracefully, so it is rejected up front with a pointer
    to the scale path.
    """
    if max_queries is not None:
        # Guard job scans only the id column and stops at max_queries+1
        # rows — the action is O(max_queries), not a corpus pass.
        n_q = queries.select("query_id").limit(max_queries + 1).count()
        if n_q > max_queries:
            raise ValueError(
                "cosine_topk is a bounded-query broadcast kernel "
                f"(> {max_queries} queries); use lsh_topk for large query sets"
            )
    q = queries.select(F.col("query_id"), as_double(F.col("vec")).alias("qv"))
    c = corpus.select(F.col("corpus_id"), as_double(F.col("vec")).alias("cv"))
    # Arrow-batched cosine: the unrolled 3×dim expression is correct
    # but its ~600-term tree costs seconds of driver-side analysis and
    # codegen PER QUERY BUILD; the UDF plan is constant-size (same
    # left-to-right parity — see cosine_pairs_udf).
    return _cosine_rank(F.broadcast(q).crossJoin(c), k)


def _cosine_rank(pairs: DataFrame, k: int) -> DataFrame:
    """Score (query ``qv``, corpus ``cv``) candidate pairs by 6dp cosine
    and keep each query's top ``k`` — rank on the rounded value, ties
    broken by corpus id, so the result is deterministic and
    oracle-comparable."""
    scored = pairs.withColumn(
        "cosine", F.round(cosine_pairs_udf()(F.col("qv"), F.col("cv")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def lsh_dup_pairs(
    df: DataFrame,
    n_planes: int = 64,
    bands: int = 4,
    min_cosine: float = 0.95,
    dim: int = 64,
) -> DataFrame:
    """Embedding near-dup pairs blocked by banded sign-pattern LSH
    (SURVEY E11 — the scale path).

    Candidate generation: ``n_planes`` fixed hyperplanes give each
    vector a sign pattern (packed into one int64 by a single
    Arrow-batched ``packed_sign_bits`` UDF — constant codegen size; see
    that docstring for why the unrolled-expression form is wrong here),
    split into ``bands`` bands of ``n_planes // bands`` bits; two
    vectors are candidates iff they share ANY full band (equi-join on
    (band, band_val)). With the r3 defaults (64 planes, 4 × 16-bit
    bands) the random-collision candidate space is n²/65536 per band —
    the 8-bit r2 default left it at n²/256, still quadratic at 100×.
    Verification re-joins the two vectors by id (from the CACHED packed
    projection, so the UDF and the cast run once, not once per join
    branch) and thresholds the rounded cosine, so output pairs are
    exact (recall < 1 by LSH construction; both engines compute the
    identical candidate set, so the oracle matches).
    """
    hyperplanes = det_hyperplanes(n_planes, dim)
    bits_per_band = n_planes // bands
    mask = (1 << bits_per_band) - 1
    base = track_cache(
        df.select(F.col("vec_id").alias("vid"), as_double(F.col("embedding")).alias("v"))
        .withColumn("packed", packed_sign_bits(hyperplanes)(F.col("v")))
    )
    banded = base.select(
        "vid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bd).alias("band"),
                        F.shiftright(F.col("packed"), bd * bits_per_band)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for bd in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("vid", "bb.band", "bb.band_val")
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), on=["band", "band_val"])
        .filter(F.col("x.vid") < F.col("y.vid"))
        .select(F.col("x.vid").alias("id_a"), F.col("y.vid").alias("id_b"))
        .distinct()
    )
    va = base.select(F.col("vid").alias("id_a"), F.col("v").alias("va"))
    vb = base.select(F.col("vid").alias("id_b"), F.col("v").alias("vb"))
    return (
        cand.join(va, on="id_a")
        .join(vb, on="id_b")
        .withColumn(
            "cosine", F.round(cosine_pairs_udf()(F.col("va"), F.col("vb")), 6)
        )
        .filter(F.col("cosine") >= min_cosine)
        .select("id_a", "id_b", "cosine")
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    hyperplanes: list[list[float]],
    k: int = 5,
) -> DataFrame:
    """Random-hyperplane LSH ANN (SURVEY E6): bucket by sign pattern,
    brute-force cosine within bucket only.

    ``hyperplanes`` is a small literal list (generated deterministically
    by the caller) — it compiles into the plan, no broadcast needed.
    Recall < 1 by construction, but DETERMINISTIC: with
    ``det_hyperplanes`` both engines assign identical buckets, so the
    result is fully oracle-checkable.
    """

    def bucket_expr(v: Column) -> Column:
        bits = sign_bits(v, hyperplanes)
        out: Column = F.lit(0)
        for bi, bit in enumerate(bits):
            out = out + bit * F.lit(2**bi)
        return out

    q = queries.select(
        F.col("query_id"), as_double(F.col("vec")).alias("qv")
    ).withColumn("bucket", bucket_expr(F.col("qv")))
    c = corpus.select(
        F.col("corpus_id"), as_double(F.col("vec")).alias("cv")
    ).withColumn("bucket", bucket_expr(F.col("cv")))
    return _cosine_rank(q.join(c, on="bucket"), k)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    n_centroids: int = 16,
    n_probe: int = 4,
    k: int = 5,
) -> DataFrame:
    """IVF-Flat approximate nearest neighbours (SURVEY E6 scale path #2).

    Classic inverted-file search: a small coarse quantizer partitions
    the corpus into ``n_centroids`` lists; each query probes only its
    ``n_probe`` closest lists and brute-forces cosine inside them —
    corpus scan cost drops by ~n_probe/n_centroids versus flat search.

    Deterministic, engine-portable quantizer: the centroids are the
    ``n_centroids`` corpus vectors with the smallest ids (a fixed
    sample in id order — no k-means RNG), so both engines assign
    identical lists and the result is fully value-hash oracle-checkable.
    At cluster scale the assignment is one broadcast join (centroids
    are tiny) + a shuffle on centroid id; the probed search is an
    equi-join on centroid id — never a cross join against the corpus.
    Ties (equal cosine to two centroids) break toward the lower
    centroid id, identically in both engines.
    """
    # Distributed TakeOrdered — per-partition top-N then a driver merge
    # of N*parts candidate ids, never a single-partition global window.
    centroids = (
        corpus.select(F.col("corpus_id"), as_double(F.col("vec")).alias("cv"))
        .orderBy(F.col("corpus_id").asc())
        .limit(n_centroids)
        .select(F.col("corpus_id").alias("centroid_id"), F.col("cv").alias("centv"))
    )
    c = corpus.select(F.col("corpus_id"), as_double(F.col("vec")).alias("cv"))
    # Assign each corpus vector to its best centroid (argmax cosine,
    # ties toward the lower centroid id).
    assign_scored = c.crossJoin(F.broadcast(centroids)).withColumn(
        "csim", F.round(cosine_pairs_udf()(F.col("cv"), F.col("centv")), 6)
    )
    w_assign = Window.partitionBy("corpus_id").orderBy(
        F.col("csim").desc(), F.col("centroid_id").asc()
    )
    assigned = (
        assign_scored.withColumn("_r", F.row_number().over(w_assign))
        .filter(F.col("_r") == 1)
        .select("corpus_id", "centroid_id", "cv")
    )
    # Each query probes its n_probe closest centroids.
    q = queries.select(F.col("query_id"), as_double(F.col("vec")).alias("qv"))
    probe_scored = q.crossJoin(F.broadcast(centroids)).withColumn(
        "csim", F.round(cosine_pairs_udf()(F.col("qv"), F.col("centv")), 6)
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("csim").desc(), F.col("centroid_id").asc()
    )
    probes = (
        probe_scored.withColumn("_r", F.row_number().over(w_probe))
        .filter(F.col("_r") <= n_probe)
        .select("query_id", "centroid_id", "qv")
    )
    return _cosine_rank(
        probes.join(assigned, on="centroid_id"), k
    )


def sq_l2_expr(a: Column, b: Column, dim: int) -> Column:
    """Squared L2 distance as a PURE-JVM codegen expression for a
    KNOWN dimensionality: a left-to-right chain of
    ``(a[i]-b[i])*(a[i]-b[i])`` adds over ``element_at`` terms.

    Bit-identical to ``l2_pairs_udf`` (which folds float64 additions
    dimension-by-dimension from index 0 — and ``0 + x == x`` exactly,
    so dropping the kernel's zero seed changes nothing) and to the
    oracle's ``list_sum(list_transform(...))``.
    Exists because an Arrow round-trip on tens of millions of
    SHORT-vector rows is per-row-overhead-bound: the PQ encode leg
    measured 60s for 25.6M 8-dim pairs through the pandas kernel vs
    seconds in whole-stage codegen (element_at/GetArrayItem and
    double arithmetic stay codegen; HOF lambdas would not — the
    interpreted-HOF stall this module's UDFs were built to avoid).
    Use the Arrow kernels instead when ``dim`` is unknown at plan
    time or large enough that expression-tree size dominates.
    """
    sq = None
    for i in range(1, dim + 1):
        d = F.element_at(a, i) - F.element_at(b, i)
        term = d * d
        sq = term if sq is None else sq + term
    return sq


def two_level_nearest_centroid(
    vecs: DataFrame,
    centroids: DataFrame,
    coarse: DataFrame,
    n_probe: int,
    dim: int | None = None,
) -> DataFrame:
    """Nearest-centroid assignment through a coarse quantizer — the
    FAISS two-level IVF pattern, built so the CENTROID SET IS NEVER
    BROADCAST and no stage is O(n x K):

    1. every centroid hashes to its nearest coarse cell
       (K x K2 distance evals, centroid-grain only);
    2. every vector probes its ``n_probe`` nearest cells
       (n x K2 evals with a K2-row broadcast, K2 ~ sqrt(K));
    3. vectors meet centroids through an EQUI-JOIN on the cell id —
       shuffle ∝ n x n_probe + K, candidate evals ~ n x n_probe x K/K2
       — and the argmin over candidates (6dp-rounded L2, centroid-id
       tie-break) is the assignment.

    EXACTNESS BOUNDARY: whenever K2 <= n_probe, step 2 probes EVERY
    cell, the candidate set is the full centroid set, and the result
    is bit-identical to exact nearest-centroid search — the size gate
    is structural, not a config branch. Beyond it the assignment is
    approximate (a vector whose true centroid lives only in unprobed
    cells gets its best probed candidate), which is the published
    trade SemDeDup/FAISS make at scale.

    PRECONDITION: every coarse cell holds at least one centroid after
    step 1. A vector whose ``n_probe`` nearest cells are all empty
    finds no candidate and drops out of the inner joins. The semdedup
    quantizer holds it by construction: every coarse cell's vector is
    itself a centroid, at distance 0.

    Every argmin/top-N here is a partial AGGREGATION (min-of-struct /
    collect_list+slice), never a row_number window: windows must
    shuffle every candidate row — with the 782-dim vectors aboard,
    n x K2 x 6 KB — while map-side combine collapses each key inside
    its map task first, so the wide vector column crosses the wire
    ONCE per vector and the probe ranking ships 16-byte structs. The
    min-struct tie-break (dist, id) is exactly the window's
    orderBy(dist, id) row_number()=1; the trailing vector field never
    participates in the comparison because the id field is unique.

    Inputs: ``vecs`` (vec_id, v), ``centroids`` (centroid_id, c) and
    ``coarse`` (cell_id, cellv). Returns one row per vector:
    (vec_id, centroid_id, dist2, v).
    """
    if dim is not None:
        # Known dimensionality: stay in whole-stage codegen (see
        # sq_l2_expr — bit-identical to the Arrow kernel, without the
        # per-row Arrow round-trip on the candidate fan-out).
        l2 = lambda a, b: sq_l2_expr(a, b, dim)  # noqa: E731
    else:
        l2 = l2_pairs_udf()
    cent_cells = (
        centroids.crossJoin(F.broadcast(coarse))
        .withColumn(
            "cdist", F.round(l2(F.col("c"), F.col("cellv")), 6)
        )
        .groupBy("centroid_id")
        .agg(
            F.min(
                F.struct(
                    F.col("cdist"), F.col("cell_id"), F.col("c")
                )
            ).alias("_m")
        )
        .select(
            "centroid_id",
            F.col("_m.c").alias("c"),
            F.col("_m.cell_id").alias("cell_id"),
        )
    )
    # Probe ranking is vector-free: 16-byte (pdist, cell_id) structs
    # aggregate map-side into one <=K2-length array per vector, the
    # n_probe best explode back out, and the vector column rejoins
    # once by id.
    probes = (
        vecs.select("vec_id", "v")
        .crossJoin(F.broadcast(coarse))
        .withColumn(
            "pdist", F.round(l2(F.col("v"), F.col("cellv")), 6)
        )
        .groupBy("vec_id")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pdist"), F.col("cell_id")))
                ),
                1,
                n_probe,
            ).alias("_cells")
        )
        .select(
            "vec_id",
            F.explode(F.col("_cells.cell_id")).alias("cell_id"),
        )
    )
    scored = (
        probes.join(vecs, on="vec_id")
        .join(cent_cells, on="cell_id")
        .withColumn(
            "dist2", F.round(l2(F.col("v"), F.col("c")), 6)
        )
    )
    best = scored.groupBy("vec_id").agg(
        F.min(
            F.struct(F.col("dist2"), F.col("centroid_id"), F.col("v"))
        ).alias("_m")
    )
    return best.select(
        "vec_id",
        F.col("_m.centroid_id").alias("centroid_id"),
        F.col("_m.dist2").alias("dist2"),
        F.col("_m.v").alias("v"),
    )


def _pq_tables(
    seed_src: DataFrame,
    c: DataFrame,
    q: DataFrame,
    n_subvectors: int,
    n_codes: int,
    sub: int,
) -> tuple[DataFrame, DataFrame]:
    """Product-quantization codes and the per-query ADC lookup table.

    Codebooks are the ``sub``-wide subvectors of the ``n_codes``
    lowest-id rows of ``seed_src`` (``corpus_id``, ``cv``) — no k-means
    RNG, so both engines encode identically. Returns the corpus codes
    (``corpus_id``, m, code: argmin over codewords of the 6dp-rounded
    subvector L2²) and the lookup table (``query_id``, m, code, pdist).
    """
    # Fixed tiny subvector width -> the codegen expression, not the
    # Arrow kernel: encode scores n x n_subvectors x n_codes SHORT
    # rows, where the pandas round-trip is per-row-overhead-bound
    # (measured 60s vs ~3s at the 100x probe for 25.6M 8-dim pairs).
    l2 = lambda a, b: sq_l2_expr(a, b, sub)  # noqa: E731
    seeds = (
        seed_src.orderBy(F.col("corpus_id").asc())
        .limit(n_codes)
        .select(
            F.row_number()
            .over(Window.orderBy(F.col("corpus_id").asc()))
            .alias("code"),
            "cv",
        )
    )
    m_arr = F.array(*[F.lit(m) for m in range(n_subvectors)])
    codebook = seeds.select(
        "code", F.explode(m_arr).alias("m"), F.col("cv").alias("seedv")
    ).select(
        "m",
        "code",
        F.slice(F.col("seedv"), F.col("m") * sub + 1, sub).alias("bookv"),
    )
    # Encode: argmin_code L2^2(subvector, codebook[m][code]).
    c_sub = c.select(
        F.col("corpus_id"), F.explode(m_arr).alias("m"), "cv"
    ).select(
        "corpus_id", "m", F.slice(F.col("cv"), F.col("m") * sub + 1, sub).alias("subv")
    )
    enc_scored = c_sub.join(F.broadcast(codebook), on="m").withColumn(
        "d", F.round(l2(F.col("subv"), F.col("bookv")), 6)
    )
    # Argmin as a partial AGGREGATION, not a row_number window: the
    # window shuffles all n x n_codes scored rows (62s for 25.6M rows
    # at the 100x probe) while min-of-struct combines map-side to one
    # row per (corpus_id, m) before the exchange (2.8s — same values:
    # struct ordering (d, code) IS the window's orderBy tie-break).
    codes = (
        enc_scored.groupBy("corpus_id", "m")
        .agg(F.min(F.struct(F.col("d"), F.col("code"))).alias("_m"))
        .select("corpus_id", "m", F.col("_m.code").alias("code"))
    )
    # Per-query ADC lookup table: partial distance to every codeword.
    q_sub = q.select(
        F.col("query_id"), F.explode(m_arr).alias("m"), "qv"
    ).select(
        "query_id", "m", F.slice(F.col("qv"), F.col("m") * sub + 1, sub).alias("qsubv")
    )
    lookup = q_sub.join(F.broadcast(codebook), on="m").select(
        "query_id",
        "m",
        "code",
        F.round(l2(F.col("qsubv"), F.col("bookv")), 6).alias("pdist"),
    )
    return codes, lookup


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    n_lists: int = 16,
    n_probe: int = 4,
    n_subvectors: int = 8,
    n_codes: int = 16,
    k: int = 5,
    dim: int = 64,
) -> DataFrame:
    """IVF-PQ approximate nearest neighbours — the composed
    billion-scale FAISS layout (Jégou et al. 2011 §V: an inverted file
    over coarse lists, PQ codes inside the lists): queries probe only
    their ``n_probe`` closest lists and score members by 8-byte ADC
    lookups, so search cost is (probed fraction of the corpus) x
    (n_subvectors table lookups) — neither a full corpus scan (flat
    PQ) nor raw-vector distance math (IVF-Flat). This repo's variant
    encodes RAW vectors, not residuals (the no-residual IVFPQ
    simplification), keeping the codebooks query-independent and both
    engines bit-aligned.

    Deterministic conventions shared with ``ivf_topk``/``pq_topk``:
    list centroids = the ``n_lists`` lowest-id corpus vectors,
    codebooks = subvectors of the ``n_codes`` lowest-id corpus
    vectors, every distance ROUND(...,6) BEFORE its argmin, id
    tie-breaks, DECIMAL(38,6) ADC accumulation. Scale shape: coarse
    distances run in whole-stage codegen (``sq_l2_expr``); every
    argmin/top-N is a partial aggregation (min-of-struct /
    collect_list+slice — map-side combine, never a row_number window
    over the candidate fan-out); the only broadcasts are the
    centroid/codebook/lookup constants (n_lists + n_subvectors x
    n_codes x queries rows); members meet queries through the
    centroid-id equi-join.
    """
    l2v = lambda a, b: sq_l2_expr(a, b, dim)  # noqa: E731

    c = corpus.select(F.col("corpus_id"), as_double(F.col("vec")).alias("cv"))
    q = queries.select(F.col("query_id"), as_double(F.col("vec")).alias("qv"))
    # ONE cached lowest-ids prefix serves both constant tables (r17):
    # the list centroids (n_lists lowest ids) and the PQ codebook
    # seeds (n_codes lowest ids) are overlapping prefixes of the same
    # ordering, but each previously ran its OWN full-corpus TakeOrdered
    # scan. The cache is max(n_lists, n_codes) rows; the re-sort per
    # consumer is over those rows only. One corpus scan saved per run
    # (at production scale: a full pass over the vector table).
    low = track_cache(c.orderBy(F.col("corpus_id").asc()).limit(max(n_lists, n_codes)))
    cents = (
        low.orderBy(F.col("corpus_id").asc())
        .limit(n_lists)
        .select(
            F.col("corpus_id").alias("centroid_id"), F.col("cv").alias("centv")
        )
    )
    assigned = (
        c.crossJoin(F.broadcast(cents))
        .withColumn("ld", F.round(l2v(F.col("cv"), F.col("centv")), 6))
        .groupBy("corpus_id")
        .agg(F.min(F.struct(F.col("ld"), F.col("centroid_id"))).alias("_m"))
        .select("corpus_id", F.col("_m.centroid_id").alias("centroid_id"))
    )
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("ld", F.round(l2v(F.col("qv"), F.col("centv")), 6))
        .groupBy("query_id")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct(F.col("ld"), F.col("centroid_id")))
                ),
                1,
                n_probe,
            ).alias("_c")
        )
        .select("query_id", F.explode(F.col("_c.centroid_id")).alias("centroid_id"))
    )
    # PQ encode; the codebook seeds come from the same cached prefix as
    # the centroids above.
    codes, lookup = _pq_tables(
        low, c, q, n_subvectors, n_codes, dim // n_subvectors
    )
    # ADC restricted to the probed lists: the member set comes from
    # the centroid-id equi-join, codes fan out per subvector, the
    # per-query lookup table rides a broadcast.
    adc = (
        probes.join(assigned, on="centroid_id")
        .select("query_id", "corpus_id")
        .join(codes, on="corpus_id")
        .join(F.broadcast(lookup), on=["query_id", "m", "code"])
        .groupBy("query_id", "corpus_id")
        .agg(exact_sum(F.col("pdist")).alias("adc_dist"))
    )
    top = (
        adc.groupBy("query_id")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct(F.col("adc_dist"), F.col("corpus_id")))
                ),
                1,
                k,
            ).alias("_t")
        )
        .select("query_id", F.posexplode(F.col("_t")).alias("_pos", "_e"))
        .select(
            "query_id",
            F.col("_e.corpus_id").alias("corpus_id"),
            (F.col("_pos") + 1).cast("int").alias("ivfpq_rank"),
            F.col("_e.adc_dist").alias("adc_dist"),
        )
    )
    return (
        top.join(c, on="corpus_id")
        .join(F.broadcast(q), on="query_id")
        .select(
            "query_id",
            "corpus_id",
            "ivfpq_rank",
            "adc_dist",
            F.round(cosine_pairs_udf()(F.col("qv"), F.col("cv")), 6).alias(
                "cosine"
            ),
        )
    )


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    n_subvectors: int = 8,
    n_codes: int = 16,
    k: int = 5,
    dim: int = 64,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance (SURVEY E6
    scale path #3, after LSH banding and IVF-Flat).

    The 100 TB memory argument IVF cannot make: PQ stores each corpus
    vector as ``n_subvectors`` one-byte codes (64 float64 dims -> 8
    bytes, a 64x shrink), so the candidate scan reads codes + a tiny
    per-query lookup table instead of raw vectors — this is the
    standard billion-scale ANN layout (Jégou et al., IEEE TPAMI 2011,
    "Product quantization for nearest neighbor search"; the FAISS
    IVF-PQ family). Search cost per (query, corpus) pair is
    ``n_subvectors`` table lookups, not a ``dim``-wide dot product.

    Deterministic, engine-portable codebooks (the ivf_topk trick): the
    per-subspace codebooks are the subvectors of the ``n_codes``
    lowest-id corpus vectors — no k-means RNG — so both engines encode
    identically and the whole operator is value-hash oracle-checkable.
    Exactness discipline: per-subspace distances are ROUND(...,6)
    BEFORE the argmin (rank-on-rounded rule) and the ADC sum
    accumulates in DECIMAL(38,6) (order-independent, exact on rounded
    inputs), so ranking is bit-stable across partitionings and
    engines. The returned candidates carry their exact cosine too —
    the standard PQ-then-exact-rerank output.

    Scale shape: codebooks broadcast (n_subvectors x n_codes rows);
    encoding is one explode + broadcast join + argmin window keyed by
    (corpus_id, subvector) — embarrassingly parallel; the ADC join
    fans the code table out by the (tiny, broadcast) per-query lookup
    table and reduces with a decimal sum. Never a cross join against
    raw corpus vectors.
    """
    c = corpus.select(F.col("corpus_id"), as_double(F.col("vec")).alias("cv"))
    q = queries.select(F.col("query_id"), as_double(F.col("vec")).alias("qv"))
    codes, lookup = _pq_tables(
        c, c, q, n_subvectors, n_codes, dim // n_subvectors
    )
    # ADC: sum the per-subvector partials over the code table.
    adc = (
        codes.join(F.broadcast(lookup), on=["m", "code"])
        .groupBy("query_id", "corpus_id")
        .agg(exact_sum(F.col("pdist")).alias("adc_dist"))
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("corpus_id").asc()
    )
    top = (
        adc.withColumn("pq_rank", F.row_number().over(w_rank))
        .filter(F.col("pq_rank") <= k)
    )
    # Exact rerank annotation on the k winners only.
    return (
        top.join(c, on="corpus_id")
        .join(F.broadcast(q), on="query_id")
        .select(
            "query_id",
            "corpus_id",
            "pq_rank",
            "adc_dist",
            F.round(cosine_pairs_udf()(F.col("qv"), F.col("cv")), 6).alias(
                "cosine"
            ),
        )
    )
