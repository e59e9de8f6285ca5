"""Locus-to-gene (L2G) and validation/ingestion queries (SURVEY §2 extras).

Re-expresses gentropy's L2G feature engineering + scoring and the
index-validation / ingestion surfaces:

- gene index: a deterministic interval table derived from ``part``
  (the synthetic stand-in for the Ensembl target index the reference
  builds in dataset/target_index.py).
- v2g_distance: variant→gene distance weighting, the core of
  dataset/intervals.py + l2g_features distance features.
- l2g_feature_matrix: per (locus lead, gene) feature assembly —
  dataset/l2g_feature_matrix.py shape.
- l2g_score: fixed-weight logistic scorer standing in for the GBM in
  dataset/l2g_prediction.py (the feature→score contract is identical;
  swap in a trained booster without touching the plan).
- study_validation: flag loci referencing unknown studies —
  study_locus.py:160 ``validate_study``.
- props_json_parse: malformed-tolerant JSON ingestion of the events
  props payload — the datasource-adapter surface (F4).
- enrichment_odds_ratio: 2×2 contingency enrichment with χ² p-value —
  method/drug_enrichment_from_evid.py shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gentropy_spark.functions.distributions import chi2_sf_1df_col, chi2_sf_1df_sql
from gentropy_spark.functions.exact import exact_sum
from gentropy_spark.plans.genomics import SUMSTATS_SQL, sumstats
from gentropy_spark.plans.registry import QuerySpec
from gentropy_spark.session import prepared
from gentropy_spark.sources.readers import read_table

from gentropy_spark.plans.synthmap import (
    BASE_US,
    EVENT_TYPES,
    GENE_SPACING_US,
    GENE_WIDTH_US,
    V2G_FLANK_US,
)


def gene_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic gene interval table derived from part."""
    part = read_table(spark, sf_dir, "part")
    contig = F.element_at(
        F.array(*[F.lit(t) for t in EVENT_TYPES]),
        (F.col("p_partkey") % 5 + 1).cast("int"),
    )
    start = BASE_US + F.expr("p_partkey div 5") * GENE_SPACING_US
    return part.select(
        F.col("p_partkey").alias("gene_id"),
        contig.alias("contig"),
        start.alias("gene_start"),
        (start + GENE_WIDTH_US).alias("gene_end"),
    )


GENE_INDEX_SQL = f"""
  SELECT p_partkey AS gene_id,
         (['click','view','purchase','signup','error'])[(p_partkey % 5) + 1] AS contig,
         {BASE_US} + (p_partkey // 5) * {GENE_SPACING_US} AS gene_start,
         {BASE_US} + (p_partkey // 5) * {GENE_SPACING_US} + {GENE_WIDTH_US} AS gene_end
  FROM part
"""


def _footprint_join(variants: DataFrame, genes: DataFrame) -> DataFrame:
    """Variants × genes within the footprint flank.

    Tile equi-join: a contig-only join would build |variants|x|genes/contig|
    rows before the range filter. Genes sit on a regular grid, so each
    variant can only reach tiles k_lo..k_hi (≤3 of them — the full
    inclusive range, NOT just the endpoints: with reach wider than the
    grid spacing the middle tile holds a real candidate) — explode
    those and equi-join on (contig, tile); the exact range predicate
    stays. The gene index is tiny → broadcast.
    """
    genes_k = genes.withColumn(
        "gk", F.expr(f"(gene_start - {BASE_US}) div {GENE_SPACING_US}")
    )
    k_hi = F.expr(f"(pos - {BASE_US} + {V2G_FLANK_US}) div {GENE_SPACING_US}")
    k_lo = F.expr(
        f"(pos - {BASE_US} - {GENE_WIDTH_US} - {V2G_FLANK_US}) div {GENE_SPACING_US}"
    )
    vars_k = variants.withColumn("gk", F.explode(F.sequence(k_lo, k_hi)))
    return vars_k.join(F.broadcast(genes_k), on=["contig", "gk"]).filter(
        (F.col("pos") >= F.col("gene_start") - V2G_FLANK_US)
        & (F.col("pos") <= F.col("gene_end") + V2G_FLANK_US)
    )


# --- v2g distance weighting ----------------------------------------------
@prepared
def q_v2g_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variants joined to genes within flank; linear distance decay weight.

    ``_footprint_join`` prunes on the (contig, tile) equi-key before the
    range predicate (AQE handles the rest at scale).
    """
    variants = sumstats(spark, sf_dir).filter(F.col("signif") >= 50.0)
    dist = F.greatest(
        F.col("gene_start") - F.col("pos"),
        F.col("pos") - F.col("gene_end"),
        F.lit(0),
    )
    joined = _footprint_join(variants, gene_index(spark, sf_dir))
    return joined.select(
        "point_id",
        "study_id",
        "contig",
        "gene_id",
        dist.alias("distance_us"),
        F.round(1.0 - dist / F.lit(float(V2G_FLANK_US)), 6).alias("v2g_weight"),
    )


V2G_SQL = f"""
WITH variants AS (SELECT * FROM ({SUMSTATS_SQL}) WHERE signif >= 50.0),
genes AS ({GENE_INDEX_SQL})
SELECT point_id, study_id, v.contig, gene_id,
       GREATEST(gene_start - pos, pos - gene_end, 0) AS distance_us,
       ROUND(1.0 - GREATEST(gene_start - pos, pos - gene_end, 0)
             / {float(V2G_FLANK_US)!r}, 6) AS v2g_weight
FROM variants v
JOIN genes g ON v.contig = g.contig
WHERE pos >= gene_start - {V2G_FLANK_US} AND pos <= gene_end + {V2G_FLANK_US}
"""


# --- L2G colocalisation feature family ------------------------------------
# Reference: dataset/l2g_features/colocalisation.py — 12 feature classes
# = {e,p,s}QTL × {CLPP (eCAVIAR), H4 (COLOC)} × {local max,
# neighbourhood-normalized}. The synthetic QTL study metadata maps each
# right-side (odd) study to a QTL class by id and to a measured gene on
# its contig by modular rank — the deterministic stand-in for the
# study-index gene annotation the reference reads.
QTL_TYPES = ("eqtl", "pqtl", "sqtl")


def _qtl_type_col(study_id: F.Column) -> F.Column:
    """QTL class of a study id — the study-INDEX-side mapping that
    feeds the customer-derived study-type LUT (see q_l2g_coloc_features:
    annotation happens through operators/coloc.annotate_study_type,
    never inline on the fact table)."""
    m = (study_id % 6).cast("int")
    return (
        F.when(m == 1, F.lit("eqtl"))
        .when(m == 3, F.lit("pqtl"))
        .otherwise(F.lit("sqtl"))
    )


_QTL_INDEX_SQL = (
    "SELECT c_custkey AS right_study_id, "
    "CASE CAST(c_custkey % 6 AS INT) WHEN 1 THEN 'eqtl' "
    "WHEN 3 THEN 'pqtl' ELSE 'sqtl' END AS qtl_type FROM customer"
)


def q_l2g_coloc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-CLPP / max-H4 per (GWAS study, contig, gene) across QTL
    classes, plus neighbourhood-normalized variants (feature value
    divided by the regional max over genes at the locus — the
    reference's common_neighbourhood_colocalisation_feature_logic)."""
    from gentropy_spark.operators.coloc import coloc
    from gentropy_spark.plans.genomics import _tag_overlaps

    # H4 and CLPP fused into ONE aggregate-join over the overlap
    # pipeline (coloc's extra_aggs hook): the previous
    # q_coloc-join-q_ecaviar form executed the overlap join three times
    # (max pass, logsumexp pass, clpp pass) — same values, since CLPP
    # is a plain per-group sum over the identical row set.
    both = coloc(
        _tag_overlaps(spark, sf_dir),
        group_cols=["left_study_id", "right_study_id", "contig"],
        extra_aggs=[
            F.sum(F.col("left_pp") * F.col("right_pp")).alias("clpp_raw")
        ],
        # agg_join regime: inside the fused qtl-family composition the
        # shared-exchange reuse beats the standalone window form by
        # ~1.6x at sf0.1 — see coloc()'s regime note.
        max_strategy="agg_join",
    ).select(
        "left_study_id",
        "right_study_id",
        "contig",
        F.round(F.col("h4"), 6).alias("h4"),
        F.round(F.col("clpp_raw"), 6).alias("clpp"),
    )
    # Measured-gene lookup: rank genes within each contig, pick
    # rank = right_study % K + 1 (K = genes on that contig). Tiny →
    # broadcast. r10: the rank predicate is an EQUI-key, not a filter —
    # joining on contig alone expanded every coloc row by genes/contig
    # (~4k at sf0.1 → 2.4e9 intermediate rows, the hidden quadratic in
    # this family) before the grank filter cut it back. Resolve gn via
    # a per-contig count (one tiny broadcast), compute the target rank,
    # then equi-join the ranked gene dim on (contig, grank).
    genes = gene_index(spark, sf_dir)
    wg = Window.partitionBy("contig").orderBy("gene_id")
    ranked = genes.select(
        "contig",
        "gene_id",
        F.row_number().over(wg).alias("grank"),
    )
    gn_dim = genes.groupBy("contig").agg(F.count("*").alias("gn"))
    # Study-type annotation through the C13 verb (r15 verdict item 6):
    # the QTL class comes from a STUDY INDEX dimension — the
    # customer-derived LUT, the same study keyspace locus_study_type
    # annotates (events.user_id ⊆ c_custkey by testdata construction,
    # so the left join is total and values match the former inline
    # expression) — applied via operators/coloc.annotate_study_type,
    # a broadcast LUT join riding the existing exchanges. This is the
    # reference's own data flow (dataset/study_locus.py:233 +
    # study_index.py:226: types live on the study index, and the L2G
    # coloc factories consume them via the annotation verbs), not an
    # id-hash recomputed on the fact table.
    from gentropy_spark.operators.coloc import annotate_study_type

    qtl_index = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("right_study_id"),
        _qtl_type_col(F.col("c_custkey")).alias("qtl_type"),
    )
    annotated = annotate_study_type(
        both.join(F.broadcast(gn_dim), on="contig")
        .withColumn(
            "grank", (F.col("right_study_id") % F.col("gn") + 1).cast("int")
        )
        .join(F.broadcast(ranked), on=["contig", "grank"]),
        qtl_index,
        study_id_col="right_study_id",
        study_type_col="qtl_type",
    )

    aggs = []
    for t in QTL_TYPES:
        aggs.append(
            F.coalesce(
                F.max(F.when(F.col("qtl_type") == t, F.col("h4"))), F.lit(0.0)
            ).alias(f"{t}_h4_max")
        )
        aggs.append(
            F.coalesce(
                F.max(F.when(F.col("qtl_type") == t, F.col("clpp"))), F.lit(0.0)
            ).alias(f"{t}_clpp_max")
        )
    # ONE exchange for the family max-agg + nbh window (r18): hash on
    # (left_study_id, contig) first — the 3-key groupBy and the window
    # below are both satisfied by that prefix partitioning (subset
    # rule). The exchange carries the annotated coloc rows instead of
    # the grouped maxima; the fan-in is the QTL-class multiplicity per
    # gene, a small constant on an already-aggregated pair table.
    local = (
        annotated.repartition("left_study_id", "contig")
        .groupBy("left_study_id", "contig", "gene_id")
        .agg(*aggs)
    )

    wl = Window.partitionBy("left_study_id", "contig")
    out_cols = [F.col("left_study_id"), F.col("contig"), F.col("gene_id")]
    for t in QTL_TYPES:
        for m in ("h4", "clpp"):
            c = F.col(f"{t}_{m}_max")
            reg = F.max(c).over(wl)
            out_cols.append(F.round(c, 6).alias(f"{t}_{m}_max"))
            # Truncate (not ROUND) the ratio: a quotient of two 6-dp
            # doubles can land exactly on a half-tie where the engines'
            # ROUND implementations disagree; multiply+floor is
            # IEEE-exact in both (observed at sf0.1).
            ratio = F.when(reg > 0.0, c / reg).otherwise(F.lit(0.0))
            out_cols.append(
                (F.floor(ratio * 1e6) / 1e6).alias(f"{t}_{m}_nbh")
            )
    return local.select(*out_cols)


def _coloc_feat_sql() -> str:
    from gentropy_spark.plans.genomics import COLOC_SQL, ECAVIAR_SQL

    local_cols = ",\n         ".join(
        f"COALESCE(MAX(CASE WHEN qtl_type = '{t}' THEN {m} END), 0.0) AS {t}_{m}_max"
        for t in QTL_TYPES
        for m in ("h4", "clpp")
    )
    out_cols = ",\n       ".join(
        f"ROUND({t}_{m}_max, 6) AS {t}_{m}_max,\n       "
        f"FLOOR((CASE WHEN MAX({t}_{m}_max) OVER "
        f"(PARTITION BY left_study_id, contig) > 0.0 THEN {t}_{m}_max / "
        f"MAX({t}_{m}_max) OVER (PARTITION BY left_study_id, contig) "
        f"ELSE 0.0 END) * 1000000.0) / 1000000.0 AS {t}_{m}_nbh"
        for t in QTL_TYPES
        for m in ("h4", "clpp")
    )
    return f"""
WITH coloc AS ({COLOC_SQL}),
ecav AS ({ECAVIAR_SQL}),
both_m AS (
  SELECT c.left_study_id, c.right_study_id, c.contig, c.h4, e.clpp
  FROM coloc c
  JOIN ecav e USING (left_study_id, right_study_id, contig)
),
ranked AS (
  SELECT contig, gene_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY contig ORDER BY gene_id) AS INT) AS grank,
         COUNT(*) OVER (PARTITION BY contig) AS gn
  FROM ({GENE_INDEX_SQL})
),
qtl_idx AS ({_QTL_INDEX_SQL}),
annotated AS (
  SELECT b.*, r.gene_id, qi.qtl_type
  FROM both_m b
  JOIN ranked r ON b.contig = r.contig
   AND r.grank = CAST(b.right_study_id % r.gn + 1 AS INT)
  LEFT JOIN qtl_idx qi ON qi.right_study_id = b.right_study_id
),
local AS (
  SELECT left_study_id, contig, gene_id,
         {local_cols}
  FROM annotated GROUP BY 1, 2, 3
)
SELECT left_study_id, contig, gene_id,
       {out_cols}
FROM local
"""


COLOC_FEAT_SQL = _coloc_feat_sql()


# --- L2G feature matrix ---------------------------------------------------
# The coloc-feature columns joined into the matrix (defined below).
_COLOC_FEAT_COLS = [
    f"{t}_{m}_{s}"
    for t in ("eqtl", "pqtl", "sqtl")
    for m in ("h4", "clpp")
    for s in ("max", "nbh")
]


def _l2g_features_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (lead variant, gene): nearest-distance weight, in-body signal
    mass, per-lead gene count (the distance-feature family of
    dataset/l2g_features/distance.py re-shaped) — extended r3 with the
    12-column colocalisation feature family (l2g_features/
    colocalisation.py), left-joined on (study, contig, gene) and
    0-filled where the locus has no colocalising QTL."""
    v2g = q_v2g_distance(spark, sf_dir)
    # ONE exchange for per-pair agg + flank window (r18): hash on
    # (point_id, study_id) first — the 4-key groupBy and the window
    # ride the same prefix partitioning (subset rule). The exchange
    # carries v2g hit rows instead of per-pair partials; the fan-in is
    # the hits-per-(variant, gene) count, bounded by the flank grid.
    per_pair = (
        v2g.repartition("point_id", "study_id")
        .groupBy("point_id", "study_id", "contig", "gene_id")
        .agg(
            F.max("v2g_weight").alias("max_weight"),
            F.count("*").alias("n_hits"),
        )
    )
    w = Window.partitionBy("point_id", "study_id")
    base = per_pair.select(
        "point_id",
        "study_id",
        "contig",
        "gene_id",
        "max_weight",
        "n_hits",
        F.count("*").over(w).alias("genes_in_flank"),
        F.round(
            F.col("max_weight")
            / exact_sum(F.col("max_weight"), over=w),
            6,
        ).alias("rel_weight"),
    )
    cf = q_l2g_coloc_features(spark, sf_dir).withColumnRenamed(
        "left_study_id", "study_id"
    )
    joined = base.join(cf, on=["study_id", "contig", "gene_id"], how="left")
    return joined.select(
        *base.columns,
        *[
            F.coalesce(F.col(c), F.lit(0.0)).alias(c)
            for c in _COLOC_FEAT_COLS
        ],
    )


def _l2g_feat_sql() -> str:
    cf_cols = ",\n       ".join(
        f"COALESCE(cf.{c}, 0.0) AS {c}" for c in _COLOC_FEAT_COLS
    )
    return f"""
WITH v2g AS ({V2G_SQL}),
per_pair AS (
  SELECT point_id, study_id, contig, gene_id,
         MAX(v2g_weight) AS max_weight, COUNT(*) AS n_hits
  FROM v2g GROUP BY 1, 2, 3, 4
),
base AS (
  SELECT point_id, study_id, contig, gene_id, max_weight, n_hits,
         COUNT(*) OVER (PARTITION BY point_id, study_id) AS genes_in_flank,
         ROUND(max_weight / CAST(SUM(CAST(max_weight AS DECIMAL(38,6)))
               OVER (PARTITION BY point_id, study_id) AS DOUBLE), 6) AS rel_weight
  FROM per_pair
),
cfeat AS ({{COLOC_FEAT_SQL}})
SELECT base.*,
       {cf_cols}
FROM base
LEFT JOIN cfeat cf
  ON base.study_id = cf.left_study_id AND base.contig = cf.contig
 AND base.gene_id = cf.gene_id
"""


L2G_BASE_SQL = _l2g_feat_sql().replace("{COLOC_FEAT_SQL}", COLOC_FEAT_SQL)


# --- L2G scorer -----------------------------------------------------------
L2G_W = {"max_weight": 2.0, "rel_weight": 1.5, "genes_in_flank": -0.2}
L2G_B = -1.0


@prepared
def q_l2g_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = _l2g_features_base(spark, sf_dir)
    logit = (
        F.lit(L2G_B)
        + L2G_W["max_weight"] * F.col("max_weight")
        + L2G_W["rel_weight"] * F.col("rel_weight")
        + L2G_W["genes_in_flank"] * F.col("genes_in_flank")
    )
    score = 1.0 / (1.0 + F.exp(-logit))
    w = Window.partitionBy("point_id", "study_id").orderBy(
        F.col("l2g_score").desc(), F.col("gene_id").asc()
    )
    return (
        feats.withColumn("l2g_score", F.round(score, 6))
        .withColumn("gene_rank", F.row_number().over(w))
        .select("point_id", "study_id", "gene_id", "l2g_score", "gene_rank")
    )


L2G_SCORE_SQL = f"""
WITH feats AS ({L2G_BASE_SQL}),
scored AS (
  SELECT point_id, study_id, gene_id,
    ROUND(1.0 / (1.0 + EXP(-({L2G_B!r} + {L2G_W['max_weight']!r} * max_weight
      + {L2G_W['rel_weight']!r} * rel_weight
      + {L2G_W['genes_in_flank']!r} * genes_in_flank))), 6) AS l2g_score
  FROM feats
)
SELECT point_id, study_id, gene_id, l2g_score,
       CAST(ROW_NUMBER() OVER (PARTITION BY point_id, study_id
                          ORDER BY l2g_score DESC, gene_id) AS INT) AS gene_rank
FROM scored
"""


# --- study validation -----------------------------------------------------
def q_study_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag events whose study is absent from the study index
    (customer keys as the index). Reference: study_locus.py:160
    ``validate_study`` — left join + QC flag, never a filter."""
    ss = sumstats(spark, sf_dir)
    idx = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("study_key")
    )
    joined = ss.join(
        F.broadcast(idx), ss.study_id == idx.study_key, how="left"
    )
    return joined.select(
        "point_id",
        "study_id",
        F.col("study_key").isNotNull().alias("study_valid"),
        F.when(F.col("study_key").isNull(), F.lit("MISSING_STUDY"))
        .otherwise(F.lit(""))
        .alias("qc_flag"),
    )


STUDY_VALIDATION_SQL = f"""
SELECT point_id, study_id,
       EXISTS (SELECT 1 FROM customer WHERE c_custkey = study_id) AS study_valid,
       CASE WHEN EXISTS (SELECT 1 FROM customer WHERE c_custkey = study_id)
            THEN '' ELSE 'MISSING_STUDY' END AS qc_flag
FROM ({SUMSTATS_SQL})
"""


# --- JSON props ingestion -------------------------------------------------
def q_props_json_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the events JSON payload with malformed-row tolerance —
    the datasource-adapter ingestion surface (get_json_object returns
    NULL on malformed input; the flag quarantines instead of dropping)."""
    ev = read_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return ev.select(
        "event_id",
        k.alias("k"),
        k.isNotNull().alias("parse_ok"),
        F.coalesce((k % 10).cast("int"), F.lit(-1)).alias("k_bucket"),
    )


PROPS_JSON_SQL = """
SELECT event_id,
       CAST(json_extract(props, '$.k') AS INT) AS k,
       CAST(json_extract(props, '$.k') AS INT) IS NOT NULL AS parse_ok,
       COALESCE(CAST(json_extract(props, '$.k') AS INT) % 10, -1) AS k_bucket
FROM events
"""


# --- contingency enrichment ----------------------------------------------
def q_enrichment_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per order-priority enrichment of finished status: 2×2 odds ratio
    + χ² test (via the χ²(1) survival kernel). The contingency build is
    one pass of conditional aggregation."""
    orders = read_table(spark, sf_dir, "orders")
    tagged = orders.select(
        "o_orderpriority", (F.col("o_orderstatus") == "F").alias("is_f")
    )
    per = tagged.groupBy("o_orderpriority").agg(
        F.sum(F.when(F.col("is_f"), 1).otherwise(0)).alias("a"),
        F.sum(F.when(~F.col("is_f"), 1).otherwise(0)).alias("b"),
    )
    tot = tagged.agg(
        F.sum(F.when(F.col("is_f"), 1).otherwise(0)).alias("tf"),
        F.sum(F.when(~F.col("is_f"), 1).otherwise(0)).alias("tn"),
    )
    j = per.crossJoin(F.broadcast(tot)).select(
        "o_orderpriority",
        "a",
        "b",
        (F.col("tf") - F.col("a")).alias("c"),
        (F.col("tn") - F.col("b")).alias("d"),
    )
    # Contingency arithmetic in doubles: the denominator product of four
    # ~N-sized margins overflows int64 already at sf0.1-scale counts.
    a, b, c, d = (F.col(x).cast("double") for x in ("a", "b", "c", "d"))
    n = a + b + c + d
    chi2 = (n * F.pow(a * d - b * c, 2)) / ((a + b) * (c + d) * (a + c) * (b + d))
    return j.select(
        "o_orderpriority",
        "a",
        "b",
        "c",
        "d",
        F.round((a * d) / (b * c), 6).alias("odds_ratio"),
        F.round(chi2, 6).alias("chi2"),
        F.round(chi2_sf_1df_col(chi2), 6).alias("p_value"),
    )


def _enrichment_sql() -> str:
    chi2 = (
        "((ad + bd + cd + dd) * POW(ad * dd - bd * cd, 2))"
        " / ((ad + bd) * (cd + dd) * (ad + cd) * (bd + dd))"
    )
    return f"""
WITH per AS (
  SELECT o_orderpriority,
         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT) AS b
  FROM orders GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS tf,
         CAST(SUM(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM orders
),
j AS (
  SELECT o_orderpriority, a, b, tf - a AS c, tn - b AS d FROM per, tot
)
SELECT o_orderpriority, a, b, c, d,
       ROUND((ad * dd) / (bd * cd), 6) AS odds_ratio,
       ROUND({chi2}, 6) AS chi2,
       ROUND({chi2_sf_1df_sql(chi2)}, 6) AS p_value
FROM (SELECT *, CAST(a AS DOUBLE) AS ad, CAST(b AS DOUBLE) AS bd,
             CAST(c AS DOUBLE) AS cd, CAST(d AS DOUBLE) AS dd FROM j)
"""


REGISTRY: dict[str, QuerySpec] = {
    "v2g_distance": QuerySpec(q_v2g_distance, V2G_SQL),
    "l2g_score": QuerySpec(q_l2g_score, L2G_SCORE_SQL),
    "study_validation": QuerySpec(q_study_validation, STUDY_VALIDATION_SQL),
    "props_json_parse": QuerySpec(q_props_json_parse, PROPS_JSON_SQL),
    "enrichment_odds_ratio": QuerySpec(q_enrichment_odds_ratio, _enrichment_sql()),
}


# --- L2G gold standard ----------------------------------------------------
def q_l2g_gold_standard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positive/negative training labels per (lead, gene).

    Reference: dataset/l2g_gold_standard.py — the nearest gene is the
    positive; other genes reachable from the locus are negatives;
    ambiguous loci (tied top weight) are excluded entirely.
    """
    v2g = q_v2g_distance(spark, sf_dir)
    per_pair = v2g.groupBy("point_id", "study_id", "gene_id").agg(
        F.max("v2g_weight").alias("w")
    )
    lead_w = Window.partitionBy("point_id", "study_id")
    ranked = per_pair.withColumn("top_w", F.max("w").over(lead_w)).withColumn(
        "n_at_top",
        F.sum(F.when(F.col("w") == F.col("top_w"), 1).otherwise(0)).over(lead_w),
    )
    return (
        ranked.filter(F.col("n_at_top") == 1)
        .select(
            "point_id",
            "study_id",
            "gene_id",
            F.when(F.col("w") == F.col("top_w"), F.lit("positive"))
            .otherwise(F.lit("negative"))
            .alias("label"),
        )
    )


L2G_GOLD_SQL = f"""
WITH v2g AS ({V2G_SQL}),
per_pair AS (
  SELECT point_id, study_id, gene_id, MAX(v2g_weight) AS w
  FROM v2g GROUP BY 1, 2, 3
),
with_top AS (
  SELECT *, MAX(w) OVER (PARTITION BY point_id, study_id) AS top_w
  FROM per_pair
),
ranked AS (
  SELECT *,
    SUM(CASE WHEN w = top_w THEN 1 ELSE 0 END)
      OVER (PARTITION BY point_id, study_id) AS n_at_top
  FROM with_top
)
SELECT point_id, study_id, gene_id,
       CASE WHEN w = top_w THEN 'positive' ELSE 'negative' END AS label
FROM ranked
WHERE n_at_top = 1
"""


REGISTRY["l2g_gold_standard"] = QuerySpec(q_l2g_gold_standard, L2G_GOLD_SQL)


REGISTRY["l2g_coloc_features"] = QuerySpec(q_l2g_coloc_features, COLOC_FEAT_SQL)

# --- GBM L2G scorer (frozen boosted ensemble; method/l2g upgrade) ---------
def q_l2g_score_gbm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2G scoring with the frozen gradient-boosted ensemble
    (operators/l2g_model.py): Arrow-batched margin predict + JVM
    sigmoid, ranked per lead. The feature->score contract matches the
    reference's dataset/l2g_prediction.py."""
    from gentropy_spark.operators.l2g_model import FEATURES, margin_udf

    feats = q_l2g_features(spark, sf_dir)
    margin = margin_udf()(*[F.col(c) for c in FEATURES])
    scored = feats.withColumn(
        "l2g_score", F.round(1.0 / (1.0 + F.exp(-margin)), 6)
    )
    w = Window.partitionBy("point_id", "study_id").orderBy(
        F.col("l2g_score").desc(), F.col("gene_id").asc()
    )
    return (
        scored.withColumn("gene_rank", F.row_number().over(w))
        .select("point_id", "study_id", "gene_id", "l2g_score", "gene_rank")
    )


def _l2g_gbm_sql() -> str:
    from gentropy_spark.operators.l2g_model import margin_sql

    return f"""
WITH feats AS ({{L2G_FEAT_SQL}}),
scored AS (
  SELECT point_id, study_id, gene_id,
         ROUND(1.0 / (1.0 + EXP(-({margin_sql()}))), 6) AS l2g_score
  FROM feats
)
SELECT point_id, study_id, gene_id, l2g_score,
       CAST(ROW_NUMBER() OVER (PARTITION BY point_id, study_id
                          ORDER BY l2g_score DESC, gene_id) AS INT) AS gene_rank
FROM scored
"""
# (registered at the end of the module, once L2G_FEAT_SQL exists)


# --- interval evidence (PCHiC/E2G-style datasource) -----------------------
# Reference: dataset/intervals.py — typed genomic intervals linking a
# region to a gene with a score: distance_to_tss (:120 — promoter and
# tss-inside-interval are distance 0), interval-range validation
# (:207), supported-type validation (:392), multiple-types-per-
# (region, gene) flag. Composed as one flagged evidence table (flags
# accumulate, rows are never dropped — the reference's qc_test
# contract).
INTERVAL_TYPES = ("promoter", "enhancer", "intragenic", "intergenic")


def q_interval_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    genes = gene_index(spark, sf_dir)
    n_genes = F.col("gn")
    gcount = genes.groupBy().agg(F.count("*").alias("gn"))
    base = orders.crossJoin(F.broadcast(gcount)).select(
        F.col("o_orderkey").alias("interval_id"),
        # deterministic gene link: order key modulo gene count (+1)
        (F.col("o_orderkey") % n_genes + 1).alias("gene_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in INTERVAL_TYPES], F.lit("other")),
            (F.col("o_orderkey") % 5 + 1).cast("int"),
        ).alias("interval_type"),
        # truncate, not ROUND: the price/constant quotient lands on
        # half-ties where the engines' rounding diverges (seen sf0.1)
        (F.floor(F.col("o_totalprice") / 600_000.0 * 1e6) / 1e6).alias("score"),
    )
    joined = base.join(F.broadcast(genes), on="gene_id")
    # synthetic interval geometry around the gene TSS (gene_start):
    # enhancers upstream, promoters at the TSS, some inverted (invalid).
    istart = F.when(
        F.col("interval_id") % 11 == 0,
        F.col("gene_start") + 1_000_000_000,  # inverted range (invalid)
    ).otherwise(F.col("gene_start") - (F.col("interval_id") % 4 + 1) * 600_000_000)
    iend = F.when(
        F.col("interval_id") % 11 == 0, F.col("gene_start")
    ).otherwise(istart + 900_000_000)
    shaped = joined.select(
        "interval_id",
        "gene_id",
        "contig",
        "interval_type",
        "score",
        istart.alias("istart"),
        iend.alias("iend"),
        F.col("gene_start").alias("tss"),
    )
    bad_range = F.col("istart") > F.col("iend")
    bad_type = ~F.col("interval_type").isin(*INTERVAL_TYPES)
    from pyspark.sql import Window

    w_pair = Window.partitionBy("contig", "istart", "iend", "gene_id")
    multi_type = F.size(F.collect_set("interval_type").over(w_pair)) > 1
    is_promoter = F.col("interval_type") == "promoter"
    tss_inside = (F.col("tss") >= F.col("istart")) & (F.col("tss") <= F.col("iend"))
    dist = (
        F.when(is_promoter | tss_inside, F.lit(0))
        .otherwise(
            F.least(
                F.abs(F.col("tss") - F.col("istart")),
                F.abs(F.col("tss") - F.col("iend")),
            )
        )
        .cast("long")
    )
    flags = F.concat_ws(
        ";",
        F.when(bad_range, F.lit("INVALID_RANGE")),
        F.when(bad_type, F.lit("UNSUPPORTED_TYPE")),
        F.when(multi_type, F.lit("MULTIPLE_TYPES")),
    )
    return shaped.select(
        "interval_id",
        "gene_id",
        "contig",
        "interval_type",
        "score",
        "istart",
        "iend",
        dist.alias("distance_to_tss"),
        flags.alias("qc_flags"),
        (flags == "").alias("is_valid"),
    )


INTERVAL_EVIDENCE_SQL = f"""
WITH gcount AS (SELECT COUNT(*) AS gn FROM part),
genes AS ({GENE_INDEX_SQL}),
base AS (
  SELECT o_orderkey AS interval_id,
         o_orderkey % gn + 1 AS gene_id,
         (['promoter','enhancer','intragenic','intergenic','other'])
           [CAST(o_orderkey % 5 AS INT) + 1] AS interval_type,
         FLOOR(o_totalprice / 600000.0 * 1000000.0) / 1000000.0 AS score
  FROM orders, gcount
),
joined AS (
  SELECT b.*, g.contig, g.gene_start AS tss,
    CASE WHEN interval_id % 11 = 0 THEN g.gene_start + 1000000000
         ELSE g.gene_start - (interval_id % 4 + 1) * 600000000 END AS istart,
    CASE WHEN interval_id % 11 = 0 THEN g.gene_start
         ELSE g.gene_start - (interval_id % 4 + 1) * 600000000 + 900000000
    END AS iend
  FROM base b JOIN genes g USING (gene_id)
),
flagged AS (
  SELECT *,
    istart > iend AS bad_range,
    interval_type NOT IN ('promoter','enhancer','intragenic','intergenic')
      AS bad_type,
    COUNT(DISTINCT interval_type)
      OVER (PARTITION BY contig, istart, iend, gene_id) > 1 AS multi_type
  FROM joined
)
SELECT interval_id, gene_id, contig, interval_type, score, istart, iend,
  CAST(CASE WHEN interval_type = 'promoter'
                 OR (tss >= istart AND tss <= iend) THEN 0
            ELSE LEAST(ABS(tss - istart), ABS(tss - iend)) END AS BIGINT)
    AS distance_to_tss,
  concat_ws(';',
    CASE WHEN bad_range THEN 'INVALID_RANGE' END,
    CASE WHEN bad_type THEN 'UNSUPPORTED_TYPE' END,
    CASE WHEN multi_type THEN 'MULTIPLE_TYPES' END) AS qc_flags,
  (concat_ws(';',
    CASE WHEN bad_range THEN 'INVALID_RANGE' END,
    CASE WHEN bad_type THEN 'UNSUPPORTED_TYPE' END,
    CASE WHEN multi_type THEN 'MULTIPLE_TYPES' END) = '') AS is_valid
FROM flagged
"""


REGISTRY["interval_evidence"] = QuerySpec(q_interval_evidence, INTERVAL_EVIDENCE_SQL)


# --- extended feature matrix (r4): all families via the factory ------------
@prepared
def q_l2g_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL L2G feature matrix: distance + coloc families (base)
    plus the VEP / gene-structure / interval families assembled by the
    feature factory (plans/l2g_features.py), mapped from their
    credible-set locus key to the lead variant and left-joined with
    0-fill — the reference's dataset/l2g_feature_matrix.py with every
    l2g_features/* family populated."""
    from gentropy_spark.plans.l2g_features import (
        EXT_FEAT_COLS,
        _INT_COLS,
        assemble_locus_features,
    )

    from gentropy_spark.plans.l2g_features import _leads

    base = _l2g_features_base(spark, sf_dir)
    leads_full = _leads(spark, sf_dir)
    fam = assemble_locus_features(spark, sf_dir, _leads_df=leads_full)
    leads = leads_full.select(
        "study_id", "contig", "cluster_seq", "lead_point_id"
    )
    fam_lead = fam.join(leads, on=["study_id", "contig", "cluster_seq"]).select(
        F.col("lead_point_id").alias("point_id"),
        "study_id",
        "contig",
        "gene_id",
        *EXT_FEAT_COLS,
    )
    joined = base.join(
        fam_lead, on=["point_id", "study_id", "contig", "gene_id"], how="left"
    )
    return joined.select(
        *base.columns,
        *[
            F.coalesce(
                F.col(c), F.lit(0) if c in _INT_COLS else F.lit(0.0)
            ).alias(c)
            for c in EXT_FEAT_COLS
        ],
    )


def _l2g_ext_sql() -> str:
    from gentropy_spark.plans.genomics import WINDOW_CLUMP_SQL
    from gentropy_spark.plans.l2g_features import (
        EXT_FEAT_COLS,
        _INT_COLS,
        _assemble_sql,
    )

    ext_cols = ",\n       ".join(
        f"COALESCE(f.{c}, {'0' if c in _INT_COLS else '0.0'}) AS {c}"
        for c in EXT_FEAT_COLS
    )
    fam_cols = ", ".join(f"f.{c}" for c in EXT_FEAT_COLS)
    return f"""
WITH base AS ({L2G_BASE_SQL}),
fam AS ({_assemble_sql()}),
leads AS ({WINDOW_CLUMP_SQL}),
fam_lead AS (
  SELECT l.lead_point_id AS point_id, f.study_id, f.contig, f.gene_id,
         {fam_cols}
  FROM fam f
  JOIN leads l USING (study_id, contig, cluster_seq)
)
SELECT base.*,
       {ext_cols}
FROM base
LEFT JOIN fam_lead f
  ON base.point_id = f.point_id AND base.study_id = f.study_id
 AND base.contig = f.contig AND base.gene_id = f.gene_id
"""


L2G_FEAT_SQL = _l2g_ext_sql()

REGISTRY["l2g_feature_matrix"] = QuerySpec(q_l2g_features, L2G_FEAT_SQL)
REGISTRY["l2g_score_gbm"] = QuerySpec(
    q_l2g_score_gbm, _l2g_gbm_sql().replace("{L2G_FEAT_SQL}", L2G_FEAT_SQL)
)


def q_l2g_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-prediction feature contributions for the frozen L2G GBM.

    Reference: dataset/l2g_prediction.py:180-303 ``L2GPrediction
    .explain`` (shap.TreeExplainer over a random background sample).
    Here: EXACT closed-form interventional TreeSHAP over the frozen
    depth-2 ensemble with the full frozen training matrix as the
    background (operators/l2g_model.py shap_ast) — deterministic, so
    the contributions are value-hash oracle-checkable, and additive in
    margin space (shap_base + sum(shap_*) == margin, the SHAP
    local-accuracy axiom, property-tested). Features the ensemble
    never splits on have identically-zero contributions and are
    omitted from the output.
    """
    from gentropy_spark.operators.l2g_model import (
        FEATURES,
        margin_udf,
        shap_columns,
    )

    feats = q_l2g_features(spark, sf_dir)
    phis, base = shap_columns()
    margin = margin_udf()(*[F.col(c) for c in FEATURES])
    return feats.select(
        "point_id",
        "study_id",
        "gene_id",
        F.round(margin, 6).alias("margin"),
        F.lit(base).alias("shap_base"),
        *[
            F.round(phis[g], 6).alias(f"shap_{g}")
            for g in sorted(phis)
        ],
    )


def _l2g_explain_sql() -> str:
    from gentropy_spark.operators.l2g_model import margin_sql, shap_sql_exprs

    phis, base = shap_sql_exprs()
    shap_cols = ",\n       ".join(
        f"ROUND({phis[g]}, 6) AS shap_{g}" for g in sorted(phis)
    )
    return f"""
WITH feats AS ({L2G_FEAT_SQL})
SELECT point_id, study_id, gene_id,
       ROUND({margin_sql()}, 6) AS margin,
       {format(base, '.17e')} AS shap_base,
       {shap_cols}
FROM feats
"""


REGISTRY["l2g_explain"] = QuerySpec(q_l2g_explain, _l2g_explain_sql())


# --- evidence-string export -------------------------------------------------
_EVIDENCE_L2G_THRESHOLD = 0.05


def q_l2g_evidence_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2G predictions -> disease/target evidence strings.

    Reference: dataset/l2g_prediction.py:108-178
    ``to_disease_target_evidence`` — score-thresholded predictions
    joined to the study index, diseaseIds exploded to one evidence row
    per (target, disease), constant datasourceId/datatypeId, the
    publicationDate kept as curationDate only when it parses as a
    date, and pubmedId wrapped as the literature list only when
    present. Study metadata is synthesized from ``customer`` (study
    index = customer keys, the study_validation convention; diseases =
    the EFO keyspace drug_enrichment established). ``literature`` is
    emitted flattened (single pubmed id or NULL) — the repo-wide
    array_join convention for oracle-hashed list outputs.
    """
    scored = q_l2g_score_gbm(spark, sf_dir).filter(
        F.col("l2g_score") >= _EVIDENCE_L2G_THRESHOLD
    )
    cust = read_table(spark, sf_dir, "customer")
    ck = F.col("c_custkey") % 120
    efo = F.concat(F.lit("EFO_"), F.lpad(ck.cast("string"), 7, "0"))
    efo2 = F.concat(
        F.lit("EFO_"), F.lpad(F.expr("c_custkey % 120 div 3").cast("string"), 7, "0")
    )
    pub_date = F.when(
        F.col("c_custkey") % 7 == 0, F.lit("not curated")
    ).otherwise(
        F.concat(
            F.lit("20"),
            F.lpad((F.col("c_custkey") % 25).cast("string"), 2, "0"),
            F.lit("-06-1"),
            (F.col("c_custkey") % 9).cast("string"),
        )
    )
    pubmed = F.when(
        F.col("c_custkey") % 5 != 0,
        ((F.col("c_custkey") * 37) % 100000).cast("string"),
    )
    study_index = cust.select(
        F.col("c_custkey").alias("study_id"),
        F.when(ck % 3 == 0, F.array(efo, efo2))
        .otherwise(F.array(efo))
        .alias("disease_ids"),
        F.when(
            pub_date.rlike(r"\d{4}-\d{2}-\d{2}"), pub_date
        ).alias("curation_date"),
        pubmed.alias("literature"),
    )
    return (
        scored.join(study_index, on="study_id", how="inner")
        .select(
            F.lit("genetic_association").alias("datatype_id"),
            F.lit("gwas_credible_sets").alias("datasource_id"),
            F.col("gene_id").alias("target_from_source_id"),
            F.explode(F.col("disease_ids")).alias(
                "disease_from_source_mapped_id"
            ),
            F.col("l2g_score").alias("resource_score"),
            "curation_date",
            F.col("point_id").alias("study_locus_id"),
            "study_id",
            "literature",
        )
    )


def _l2g_evidence_sql() -> str:
    gbm = _l2g_gbm_sql().replace("{L2G_FEAT_SQL}", L2G_FEAT_SQL)
    return f"""
WITH scored AS ({gbm}),
study_index AS (
  SELECT c_custkey AS study_id,
         CASE WHEN (c_custkey % 120) % 3 = 0
              THEN ['EFO_' || lpad(CAST(c_custkey % 120 AS VARCHAR), 7, '0'),
                    'EFO_' || lpad(CAST((c_custkey % 120) // 3 AS VARCHAR), 7, '0')]
              ELSE ['EFO_' || lpad(CAST(c_custkey % 120 AS VARCHAR), 7, '0')]
         END AS disease_ids,
         CASE WHEN regexp_matches(
                CASE WHEN c_custkey % 7 = 0 THEN 'not curated'
                     ELSE '20' || lpad(CAST(c_custkey % 25 AS VARCHAR), 2, '0')
                          || '-06-1' || CAST(c_custkey % 9 AS VARCHAR) END,
                '\\d{{4}}-\\d{{2}}-\\d{{2}}')
              THEN CASE WHEN c_custkey % 7 = 0 THEN 'not curated'
                        ELSE '20' || lpad(CAST(c_custkey % 25 AS VARCHAR), 2, '0')
                             || '-06-1' || CAST(c_custkey % 9 AS VARCHAR) END
         END AS curation_date,
         CASE WHEN c_custkey % 5 <> 0
              THEN CAST((c_custkey * 37) % 100000 AS VARCHAR) END AS literature
  FROM customer
)
SELECT 'genetic_association' AS datatype_id,
       'gwas_credible_sets' AS datasource_id,
       s.gene_id AS target_from_source_id,
       unnest(i.disease_ids) AS disease_from_source_mapped_id,
       s.l2g_score AS resource_score,
       i.curation_date,
       s.point_id AS study_locus_id,
       s.study_id,
       i.literature
FROM scored s
JOIN study_index i USING (study_id)
WHERE s.l2g_score >= {_EVIDENCE_L2G_THRESHOLD}
"""


REGISTRY["l2g_evidence_export"] = QuerySpec(
    q_l2g_evidence_export, _l2g_evidence_sql()
)


# --- H77: ChEMBL drug-target enrichment ------------------------------------
_DRUG_SUPPORT_THR = 0.5
_DRUG_PHASES = (2, 3, 4)
_Z95 = 1.96


def q_drug_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genetic-support enrichment of clinical drug targets.

    Reference: method/drug_enrichment_from_evid.py (the Nelson-style
    relative-success analysis, doi.org/10.1038/s41586-024-07316-0 —
    public method): evidence scores rolled up to INDIRECT
    disease-target associations through the EFO ancestor closure
    (self ∪ ancestors union join, max score — :145), ChEMBL evidence
    reduced to max clinical phase per pair with the >0.5 gate (:202),
    a RIGHT join so every clinical pair is evaluated (:270), the
    geneticSupport flag at the 0.5 score threshold, and per-phase
    2×2 contingency with sample odds ratio + 95% CI, relative
    success + CI, and its χ²(1) p-value (:283-358).

    Re-architecture (:283): the reference drives TWELVE separate
    ``df.count()`` actions (4 cells × 3 phases) plus a cached loop —
    here the full per-phase contingency comes from ONE conditional
    aggregation over a phase-exploded frame (a single tiny shuffle),
    and the scalar OR/RS/CI math is Column arithmetic on the
    aggregate row. scipy's ``fisher_exact`` p-value is the one piece
    deliberately not mirrored (non-SQL hypergeometric; the published
    headline metric is the relative-success track, whose χ² p IS
    computed — via the repo erfc kernel).
    """
    li = read_table(spark, sf_dir, "lineitem")
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")

    evid = li.select(
        F.concat(
            F.lit("ENSG"), F.lpad((F.col("l_partkey") % 400).cast("string"), 11, "0")
        ).alias("target_id"),
        F.concat(
            F.lit("EFO_"), F.lpad((F.col("l_suppkey") % 120).cast("string"), 7, "0")
        ).alias("disease_id"),
        F.round(((F.col("l_partkey") * 7) % 1000) / 1000.0, 6).alias(
            "resource_score"
        ),
    )
    ck = F.col("c_custkey") % 120
    disease_dim = cust.select(
        F.concat(F.lit("EFO_"), F.lpad(ck.cast("string"), 7, "0")).alias("id"),
        F.when(
            ck >= 3,
            F.array(
                F.concat(
                    F.lit("EFO_"),
                    F.lpad(F.expr("c_custkey % 120 div 3").cast("string"), 7, "0"),
                ),
                F.concat(
                    F.lit("EFO_"),
                    F.lpad(F.expr("c_custkey % 120 div 9").cast("string"), 7, "0"),
                ),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("ancestors"),
    ).distinct()
    chembl = orders.select(
        F.concat(
            F.lit("ENSG"), F.lpad((F.col("o_custkey") % 400).cast("string"), 11, "0")
        ).alias("target_id"),
        F.concat(
            F.lit("EFO_"), F.lpad((F.col("o_orderkey") % 120).cast("string"), 7, "0")
        ).alias("disease_id"),
        (F.col("o_orderkey") % 5).cast("double").alias("clinical_phase"),
    )

    # Ancestor closure: self ∪ ancestors (reference :225-236).
    closure = disease_dim.select(
        F.col("id").alias("disease_id"),
        F.explode(
            F.array_union(F.array(F.col("id")), F.col("ancestors"))
        ).alias("ancestor_disease_id"),
    )
    evid_indirect = (
        evid.join(closure, on="disease_id", how="inner")
        .groupBy("target_id", "ancestor_disease_id")
        .agg(F.max("resource_score").alias("indirect_assoc_score"))
        .withColumnRenamed("ancestor_disease_id", "disease_id")
    )
    chembl_max = (
        chembl.groupBy("target_id", "disease_id")
        .agg(F.max("clinical_phase").alias("max_clinical_phase"))
        .filter(F.col("max_clinical_phase") > 0.5)
    )
    joined = evid_indirect.join(
        chembl_max, on=["target_id", "disease_id"], how="right"
    ).withColumn(
        "genetic_support",
        F.coalesce(
            F.col("indirect_assoc_score") >= _DRUG_SUPPORT_THR, F.lit(False)
        ),
    )
    n_indirect = evid_indirect.filter(
        F.col("indirect_assoc_score") >= _DRUG_SUPPORT_THR
    ).agg(F.count("*").alias("total_indirect_assoc"))

    phases = F.explode(
        F.array(*[F.lit(p) for p in _DRUG_PHASES])
    ).alias("phase")
    g, mcp = F.col("genetic_support"), F.col("max_clinical_phase")
    cells = (
        joined.select("genetic_support", "max_clinical_phase", phases)
        .groupBy("phase")
        .agg(
            F.sum(g.cast("long")).alias("n_g"),
            F.sum((~g).cast("long")).alias("n_negg"),
            F.sum((g & (mcp >= F.col("phase"))).cast("long")).alias("x_g"),
            F.sum(((~g) & (mcp >= F.col("phase"))).cast("long")).alias(
                "x_negg"
            ),
        )
    )
    a = (F.col("n_negg") - F.col("x_negg")).cast("double")
    b = F.col("x_negg").cast("double")
    c = (F.col("n_g") - F.col("x_g")).cast("double")
    d = F.col("x_g").cast("double")
    any_zero = (a == 0) | (b == 0) | (c == 0) | (d == 0)
    odds = (d * a) / (b * c)
    ln_or = F.log(odds)
    se_ln_or = F.sqrt(1 / a + 1 / b + 1 / c + 1 / d)
    rs = (d / F.col("n_g")) / (b / F.col("n_negg"))
    ln_rs = F.log(rs)
    se_ln_rs = F.sqrt(
        1 / b - 1 / F.col("n_negg") + 1 / d - 1 / F.col("n_g")
    )
    rs_p = chi2_sf_1df_col((ln_rs / se_ln_rs) * (ln_rs / se_ln_rs))
    guard = lambda expr, fallback: F.when(any_zero, F.lit(fallback)).otherwise(  # noqa: E731
        expr
    )
    return (
        cells.crossJoin(F.broadcast(n_indirect))
        .select(
            F.concat(F.col("phase").cast("string"), F.lit("+")).alias(
                "clinical_phase"
            ),
            a.cast("long").alias("no_evid_low_phase"),
            b.cast("long").alias("no_evid_high_phase"),
            c.cast("long").alias("yes_evid_low_phase"),
            d.cast("long").alias("yes_evid_high_phase"),
            F.round(guard(odds, 1.0), 6).alias("odds_ratio"),
            F.round(guard(F.exp(ln_or - _Z95 * se_ln_or), 1.0), 6).alias(
                "ci_low"
            ),
            F.round(guard(F.exp(ln_or + _Z95 * se_ln_or), 1.0), 6).alias(
                "ci_high"
            ),
            F.round(guard(rs, 1.0), 6).alias("relative_success"),
            F.round(guard(F.exp(ln_rs - _Z95 * se_ln_rs), 1.0), 6).alias(
                "ci_rs_low"
            ),
            F.round(guard(F.exp(ln_rs + _Z95 * se_ln_rs), 1.0), 6).alias(
                "ci_rs_high"
            ),
            F.round(guard(rs_p, 1.0), 6).alias("rs_p_value"),
            F.col("total_indirect_assoc").cast("long").alias(
                "total_indirect_assoc"
            ),
        )
    )


def _drug_enrichment_sql() -> str:
    rs_p = chi2_sf_1df_sql("((ln_rs / se_ln_rs) * (ln_rs / se_ln_rs))")
    return f"""
WITH evid AS (
  SELECT 'ENSG' || lpad(CAST(l_partkey % 400 AS VARCHAR), 11, '0')
           AS target_id,
         'EFO_' || lpad(CAST(l_suppkey % 120 AS VARCHAR), 7, '0')
           AS disease_id,
         ROUND(((l_partkey * 7) % 1000) / 1000.0, 6) AS resource_score
  FROM lineitem
),
disease_dim AS (
  SELECT DISTINCT
         'EFO_' || lpad(CAST(c_custkey % 120 AS VARCHAR), 7, '0') AS id,
         CASE WHEN c_custkey % 120 >= 3 THEN
           ['EFO_' || lpad(CAST(c_custkey % 120 // 3 AS VARCHAR), 7, '0'),
            'EFO_' || lpad(CAST(c_custkey % 120 // 9 AS VARCHAR), 7, '0')]
         ELSE CAST([] AS VARCHAR[]) END AS ancestors
  FROM customer
),
closure AS (
  SELECT id AS disease_id, u.anc AS ancestor_disease_id
  FROM disease_dim,
       unnest(list_distinct(list_prepend(id, ancestors))) AS u(anc)
),
evid_indirect AS (
  SELECT e.target_id, c.ancestor_disease_id AS disease_id,
         MAX(e.resource_score) AS indirect_assoc_score
  FROM evid e JOIN closure c USING (disease_id)
  GROUP BY 1, 2
),
chembl_max AS (
  SELECT 'ENSG' || lpad(CAST(o_custkey % 400 AS VARCHAR), 11, '0')
           AS target_id,
         'EFO_' || lpad(CAST(o_orderkey % 120 AS VARCHAR), 7, '0')
           AS disease_id,
         MAX(CAST(o_orderkey % 5 AS DOUBLE)) AS max_clinical_phase
  FROM orders
  GROUP BY 1, 2
  HAVING MAX(CAST(o_orderkey % 5 AS DOUBLE)) > 0.5
),
joined AS (
  SELECT c.target_id, c.disease_id, c.max_clinical_phase,
         COALESCE(e.indirect_assoc_score >= {_DRUG_SUPPORT_THR}, FALSE)
           AS genetic_support
  FROM chembl_max c
  LEFT JOIN evid_indirect e USING (target_id, disease_id)
),
n_indirect AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS total_indirect_assoc
  FROM evid_indirect WHERE indirect_assoc_score >= {_DRUG_SUPPORT_THR}
),
cells AS (
  SELECT p.phase,
         CAST(SUM(CASE WHEN genetic_support THEN 1 ELSE 0 END) AS BIGINT)
           AS n_g,
         CAST(SUM(CASE WHEN NOT genetic_support THEN 1 ELSE 0 END) AS BIGINT)
           AS n_negg,
         CAST(SUM(CASE WHEN genetic_support
                            AND max_clinical_phase >= p.phase
                       THEN 1 ELSE 0 END) AS BIGINT) AS x_g,
         CAST(SUM(CASE WHEN NOT genetic_support
                            AND max_clinical_phase >= p.phase
                       THEN 1 ELSE 0 END) AS BIGINT) AS x_negg
  FROM joined, (SELECT unnest([{", ".join(str(p) for p in _DRUG_PHASES)}]) AS phase) p
  GROUP BY 1
),
scalars AS (
  SELECT *,
         CAST(n_negg - x_negg AS DOUBLE) AS a,
         CAST(x_negg AS DOUBLE) AS b,
         CAST(n_g - x_g AS DOUBLE) AS c,
         CAST(x_g AS DOUBLE) AS d
  FROM cells
),
math AS (
  SELECT *,
         (d * a) / (b * c) AS odds,
         -- NULLIF: the math CTE projection is evaluated EAGERLY by
         -- DuckDB, so a zero cell would raise LN(0) before the outer
         -- any_zero CASE could skip the row; NULL propagates safely.
         LN(NULLIF((d * a) / (b * c), 0)) AS ln_or,
         SQRT(1/a + 1/b + 1/c + 1/d) AS se_ln_or,
         (d / n_g) / (b / n_negg) AS rs,
         LN(NULLIF((d / n_g) / (b / n_negg), 0)) AS ln_rs,
         SQRT(1/b - 1.0/n_negg + 1/d - 1.0/n_g) AS se_ln_rs,
         (a = 0 OR b = 0 OR c = 0 OR d = 0) AS any_zero
  FROM scalars
)
SELECT CAST(phase AS VARCHAR) || '+' AS clinical_phase,
       CAST(a AS BIGINT) AS no_evid_low_phase,
       CAST(b AS BIGINT) AS no_evid_high_phase,
       CAST(c AS BIGINT) AS yes_evid_low_phase,
       CAST(d AS BIGINT) AS yes_evid_high_phase,
       ROUND(CASE WHEN any_zero THEN 1.0 ELSE odds END, 6) AS odds_ratio,
       ROUND(CASE WHEN any_zero THEN 1.0
                  ELSE EXP(ln_or - {_Z95} * se_ln_or) END, 6) AS ci_low,
       ROUND(CASE WHEN any_zero THEN 1.0
                  ELSE EXP(ln_or + {_Z95} * se_ln_or) END, 6) AS ci_high,
       ROUND(CASE WHEN any_zero THEN 1.0 ELSE rs END, 6) AS relative_success,
       ROUND(CASE WHEN any_zero THEN 1.0
                  ELSE EXP(ln_rs - {_Z95} * se_ln_rs) END, 6) AS ci_rs_low,
       ROUND(CASE WHEN any_zero THEN 1.0
                  ELSE EXP(ln_rs + {_Z95} * se_ln_rs) END, 6) AS ci_rs_high,
       ROUND(CASE WHEN any_zero THEN 1.0 ELSE {rs_p} END, 6) AS rs_p_value,
       n.total_indirect_assoc
FROM math, n_indirect n
"""


REGISTRY["drug_enrichment"] = QuerySpec(
    q_drug_enrichment, _drug_enrichment_sql()
)


# --- H78: evidence vs gold-standard confusion metrics ----------------------
_EVID_MIN_SCORE = 0.5


def q_evidence_vs_gold_standard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-style evaluation of a scored evidence table against
    the L2G gold-standard training set.

    Reference: method/drug_enrichment_from_evid.py:361
    ``studyLocusId_based_evidence_table_vs_training_set`` —
    significance thresholding of the score column, RIGHT join onto
    the training set on (studyLocusId, geneId) with the missing-score
    fillna(0), then TP/TN/FP/FN and sensitivity / specificity / PPV /
    FDR / balanced accuracy. The reference issues FOUR driver
    ``count()`` actions over a cached frame; here the confusion
    matrix is ONE conditional aggregation and the metric arithmetic
    rides the aggregate row (round-6 doubles; pure division —
    IEEE-identical cross-engine).
    """
    li = read_table(spark, sf_dir, "lineitem")
    cust = read_table(spark, sf_dir, "customer")
    lk, pk = F.col("l_orderkey"), F.col("l_partkey")
    scored = li.select(
        F.md5(F.concat(F.lit("sl"), (lk % 4000).cast("string"))).alias(
            "study_locus_id"
        ),
        F.concat(
            F.lit("ENSG"), F.lpad((pk % 500).cast("string"), 11, "0")
        ).alias("gene_id"),
        F.round(((pk * 13) % 1000) / 1000.0, 6).alias("score"),
    ).groupBy("study_locus_id", "gene_id").agg(
        F.max("score").alias("score")
    )
    # Every training attribute derives from the SAME folded key k: at
    # sf>=0.1 the customer keyspace wraps the modulus, and a label
    # derived from the raw key would give one (locus, gene) pair BOTH
    # labels — degenerating the confusion matrix to symmetry.
    ck = F.col("c_custkey") % 5000
    training = cust.select(
        F.md5(F.concat(F.lit("sl"), ck.cast("string"))).alias(
            "study_locus_id"
        ),
        F.concat(
            F.lit("ENSG"), F.lpad(((ck * 3) % 500).cast("string"), 11, "0")
        ).alias("gene_id"),
        F.when(ck % 3 == 0, F.lit("positive"))
        .otherwise(F.lit("negative"))
        .alias("gold_standard_set"),
    ).distinct()
    joined = (
        scored.withColumn(
            "significant_score",
            F.when(F.col("score") >= _EVID_MIN_SCORE, F.lit(1)).otherwise(
                F.lit(0)
            ),
        )
        .select("study_locus_id", "gene_id", "significant_score")
        .join(training, on=["study_locus_id", "gene_id"], how="right")
        .fillna({"significant_score": 0})
    )
    sig = F.col("significant_score") == 1
    pos = F.col("gold_standard_set") == "positive"
    cells = joined.agg(
        F.sum((sig & pos).cast("long")).alias("tp"),
        F.sum(((~sig) & (~pos)).cast("long")).alias("tn"),
        F.sum((sig & (~pos)).cast("long")).alias("fp"),
        F.sum(((~sig) & pos).cast("long")).alias("fn"),
    )
    tp, tn = F.col("tp").cast("double"), F.col("tn").cast("double")
    fp, fn = F.col("fp").cast("double"), F.col("fn").cast("double")
    # try_divide: an empty margin (e.g. zero significant pairs → tp+fp
    # = 0) must yield NULL, not an ANSI DIVIDE_BY_ZERO crash — and
    # must match the oracle's NULLIF-guarded division.
    sens = F.try_divide(tp, tp + fn)
    spec = F.try_divide(tn, fp + tn)
    ppv = F.try_divide(tp, tp + fp)
    return cells.select(
        F.lit("l2g_evidence").alias("evidence"),
        "tp",
        "tn",
        "fp",
        "fn",
        F.round(sens, 6).alias("sensitivity"),
        F.round(spec, 6).alias("specificity"),
        F.round(ppv, 6).alias("ppv"),
        F.round(1 - ppv, 6).alias("fdr"),
        F.round((sens + spec) / 2, 6).alias("balanced_accuracy"),
    )


EVIDENCE_GOLD_SQL = f"""
WITH scored AS (
  SELECT md5('sl' || CAST(l_orderkey % 4000 AS VARCHAR)) AS study_locus_id,
         'ENSG' || lpad(CAST(l_partkey % 500 AS VARCHAR), 11, '0')
           AS gene_id,
         MAX(ROUND(((l_partkey * 13) % 1000) / 1000.0, 6)) AS score
  FROM lineitem
  GROUP BY 1, 2
),
training AS (
  SELECT DISTINCT
         md5('sl' || CAST(c_custkey % 5000 AS VARCHAR)) AS study_locus_id,
         'ENSG' || lpad(CAST((c_custkey % 5000 * 3) % 500 AS VARCHAR), 11, '0')
           AS gene_id,
         CASE WHEN c_custkey % 5000 % 3 = 0 THEN 'positive'
              ELSE 'negative' END AS gold_standard_set
  FROM customer
),
joined AS (
  SELECT t.gold_standard_set,
         COALESCE(CASE WHEN s.score >= {_EVID_MIN_SCORE} THEN 1 ELSE 0 END, 0)
           AS significant_score
  FROM training t
  LEFT JOIN scored s USING (study_locus_id, gene_id)
),
cells AS (
  SELECT
    CAST(SUM(CASE WHEN significant_score = 1
                       AND gold_standard_set = 'positive'
                  THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(SUM(CASE WHEN significant_score = 0
                       AND gold_standard_set = 'negative'
                  THEN 1 ELSE 0 END) AS BIGINT) AS tn,
    CAST(SUM(CASE WHEN significant_score = 1
                       AND gold_standard_set = 'negative'
                  THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(SUM(CASE WHEN significant_score = 0
                       AND gold_standard_set = 'positive'
                  THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM joined
)
SELECT 'l2g_evidence' AS evidence, tp, tn, fp, fn,
       ROUND(tp / NULLIF(CAST(tp + fn AS DOUBLE), 0), 6) AS sensitivity,
       ROUND(tn / NULLIF(CAST(fp + tn AS DOUBLE), 0), 6) AS specificity,
       ROUND(tp / NULLIF(CAST(tp + fp AS DOUBLE), 0), 6) AS ppv,
       ROUND(1 - tp / NULLIF(CAST(tp + fp AS DOUBLE), 0), 6) AS fdr,
       ROUND((tp / NULLIF(CAST(tp + fn AS DOUBLE), 0)
              + tn / NULLIF(CAST(fp + tn AS DOUBLE), 0)) / 2, 6)
         AS balanced_accuracy
FROM cells
"""


REGISTRY["evidence_vs_gold_standard"] = QuerySpec(
    q_evidence_vs_gold_standard, EVIDENCE_GOLD_SQL
)
