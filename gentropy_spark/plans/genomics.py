"""Genomic-shaped operator queries on the events table (SURVEY §2.C).

Data mapping (SURVEY §4): ``events`` plays the summary-statistics
table — study_id = user_id, contig = event_type, pos = µs epoch of
ts, signif = value (a −log10 p proxy), point_id = event_id. Left/right
"study types" for overlap/coloc are the even/odd study_id halves.

Every Spark query here has a structurally identical DuckDB oracle
built from shared SQL fragments, so the clumping/sessionization/
overlap/coloc semantics are value-hash-verified end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gentropy_spark.functions.exact import exact_sum
from gentropy_spark.operators.clumping import (
    _cluster_seq,
    exclude_regions,
    locus_breaker,
    semi_lead_clump,
    window_clump,
)
from gentropy_spark.operators.finemapping import carma_like, pics, susie_like
from gentropy_spark.operators.coloc import beta_ratio_sign_avg, coloc, ecaviar_clpp
from gentropy_spark.operators.overlaps import overlap_join, overlap_length
from gentropy_spark.plans.registry import QuerySpec
from gentropy_spark.session import prepared
from gentropy_spark.sources.readers import read_table, ts_micros


# Clumping calibration (positions are µs; events span ~weeks).
SIGNIF_MIN = 100.0
CLUMP_WINDOW_US = 21_600_000_000  # 6 h
LB_BASELINE = 50.0
LB_DIST_US = 43_200_000_000  # 12 h
LB_LEAD = 150.0
LB_FLANK_US = 3_600_000_000  # 1 h
TAG_BUCKET_US = 3_600_000_000  # 1 h tag-variant buckets for coloc
EXCLUDE = [
    ("error", 1_704_844_800_000_000, 1_705_708_800_000_000),  # 2024-01-10..20
    ("click", 1_704_067_200_000_000, 1_704_412_800_000_000),  # 2024-01-01..05
]


def sumstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → summary-statistics shape."""
    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").alias("point_id"),
        F.col("user_id").alias("study_id"),
        F.col("event_type").alias("contig"),
        ts_micros(ev).alias("pos"),
        F.col("value").alias("signif"),
    )


SUMSTATS_SQL = """
  SELECT event_id AS point_id, user_id AS study_id, event_type AS contig,
         epoch_us(ts) AS pos, value AS signif
  FROM events
"""


def _clustered_sql(signif_min: float, max_gap: int) -> str:
    """Shared SQL fragment: filter + gap-boundary running-sum clusters."""
    return f"""
  SELECT *, CAST(SUM(CASE WHEN gap IS NULL OR gap > {max_gap} THEN 1 ELSE 0 END)
       OVER (PARTITION BY study_id, contig ORDER BY pos, point_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cluster_seq
  FROM (
    SELECT *, pos - LAG(pos) OVER (PARTITION BY study_id, contig
                                   ORDER BY pos, point_id) AS gap
    FROM ({SUMSTATS_SQL}) WHERE signif >= {signif_min}
  )
"""


_RANKED_SQL_TEMPLATE = """
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY study_id, contig, cluster_seq
                       ORDER BY signif DESC, pos, point_id) AS lead_rank,
    COUNT(*) OVER (PARTITION BY study_id, contig, cluster_seq) AS n_members,
    MIN(pos) OVER (PARTITION BY study_id, contig, cluster_seq) AS mn_pos,
    MAX(pos) OVER (PARTITION BY study_id, contig, cluster_seq) AS mx_pos
  FROM ({clustered})
"""


# --- C1: window-based clumping -------------------------------------------
@prepared
def q_window_clump_leads(
    spark: SparkSession,
    sf_dir: str,
    window: int = CLUMP_WINDOW_US,
    min_signif: float = SIGNIF_MIN,
) -> DataFrame:
    return window_clump(
        sumstats(spark, sf_dir), window=window, min_signif=min_signif
    )


WINDOW_CLUMP_SQL = f"""
SELECT study_id, contig, cluster_seq, n_members,
       mn_pos AS cluster_start, mx_pos AS cluster_end,
       point_id AS lead_point_id, pos AS lead_pos, signif AS lead_signif
FROM ({_RANKED_SQL_TEMPLATE.format(clustered=_clustered_sql(SIGNIF_MIN, CLUMP_WINDOW_US))})
WHERE lead_rank = 1
"""


# --- C3: locus-breaker sessionization ------------------------------------
@prepared
def q_locus_breaker(
    spark: SparkSession,
    sf_dir: str,
    baseline_signif: float = LB_BASELINE,
    distance_cutoff: int = LB_DIST_US,
    lead_signif: float = LB_LEAD,
    flank: int = LB_FLANK_US,
) -> DataFrame:
    return locus_breaker(
        sumstats(spark, sf_dir),
        baseline_signif=baseline_signif,
        distance_cutoff=distance_cutoff,
        lead_signif=lead_signif,
        flank=flank,
    )


def _locus_breaker_sql() -> str:
    ranked = _RANKED_SQL_TEMPLATE.format(
        clustered=_clustered_sql(LB_BASELINE, LB_DIST_US)
    )
    return f"""
SELECT study_id, contig, cluster_seq, n_members,
       GREATEST(mn_pos - {LB_FLANK_US}, 0) AS locus_start,
       mx_pos + {LB_FLANK_US} AS locus_end,
       point_id AS lead_point_id, pos AS lead_pos, signif AS lead_signif
FROM ({ranked})
WHERE lead_rank = 1 AND signif >= {LB_LEAD}
"""


LOCUS_BREAKER_SQL = _locus_breaker_sql()


# --- C4: region blacklist filter -----------------------------------------
def q_exclude_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exclude_regions(sumstats(spark, sf_dir), EXCLUDE)


EXCLUDE_SQL = (
    f"SELECT * FROM ({SUMSTATS_SQL}) WHERE "
    + " AND ".join(
        f"NOT (contig = '{c}' AND pos >= {s} AND pos <= {e})" for c, s, e in EXCLUDE
    )
)


# --- C5: locus overlap join ----------------------------------------------
def _loci_sides(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    loci = locus_breaker(
        sumstats(spark, sf_dir),
        baseline_signif=LB_BASELINE,
        distance_cutoff=LB_DIST_US,
        lead_signif=LB_LEAD,
        flank=LB_FLANK_US,
    ).select("study_id", "contig", "cluster_seq", "locus_start", "locus_end")
    left = loci.filter(F.col("study_id") % 2 == 0)
    right = loci.filter(F.col("study_id") % 2 == 1)
    return left, right


@prepared
def q_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    left, right = _loci_sides(spark, sf_dir)
    # Tiled equi-join (scale path): proven pair-identical to the plain
    # range join in tests/test_operators.py; the oracle is the plain form.
    pairs = overlap_join(left, right, tile_width=86_400_000_000)
    return pairs.select(
        "contig",
        "left_study_id",
        "left_cluster_seq",
        "right_study_id",
        "right_cluster_seq",
        "left_locus_start",
        "left_locus_end",
        "right_locus_start",
        "right_locus_end",
        overlap_length(
            F.col("left_locus_start"),
            F.col("left_locus_end"),
            F.col("right_locus_start"),
            F.col("right_locus_end"),
        ).alias("overlap_len"),
    )


OVERLAP_SQL = f"""
WITH loci AS (
  SELECT study_id, contig, cluster_seq, locus_start, locus_end
  FROM ({LOCUS_BREAKER_SQL})
)
SELECT l.contig,
       l.study_id AS left_study_id, l.cluster_seq AS left_cluster_seq,
       r.study_id AS right_study_id, r.cluster_seq AS right_cluster_seq,
       l.locus_start AS left_locus_start, l.locus_end AS left_locus_end,
       r.locus_start AS right_locus_start, r.locus_end AS right_locus_end,
       GREATEST(LEAST(l.locus_end, r.locus_end)
                - GREATEST(l.locus_start, r.locus_start), 0) AS overlap_len
FROM loci l
JOIN loci r ON l.contig = r.contig
WHERE l.study_id % 2 = 0 AND r.study_id % 2 = 1
  AND l.locus_start <= r.locus_end AND r.locus_start <= l.locus_end
"""


# --- tag-level overlap rows shared by C6/C7 ------------------------------
def _tag_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tag overlap rows: left/right studies sharing a (contig, bucket)."""
    ss = sumstats(spark, sf_dir)
    w = Window.partitionBy("study_id", "contig")
    # Deliberately NOT persisted (measured r7, same verdict as the
    # overlap join in operators/coloc.py): the tag frame feeds four
    # subtree copies downstream, but recomputing the narrow scan +
    # window is cheaper than materialising and rescanning cached
    # blocks — caching cost coloc +20% at sf0.1.
    tags = (
        ss.withColumn("bucket", F.expr(f"pos div {TAG_BUCKET_US}"))
        .withColumn("logbf", F.col("signif") / 10.0)
        .withColumn(
            "pp",
            F.col("signif") / exact_sum(F.col("signif"), over=w),
        )
    )
    # Synthetic per-tag effect size: the repo-wide beta convention
    # (stats_kernel.py B4, (value - 150)/100) — feeds the
    # betaRatioSignAverage directionality column both colocalisation
    # methods emit (reference dataset/study_locus_overlap.py:55-84).
    beta = (F.col("signif") - 150.0) / 100.0
    left = tags.filter(F.col("study_id") % 2 == 0).select(
        "contig",
        "bucket",
        F.col("study_id").alias("left_study_id"),
        F.col("logbf").alias("left_logbf"),
        F.col("pp").alias("left_pp"),
        beta.alias("left_beta"),
    )
    right = tags.filter(F.col("study_id") % 2 == 1).select(
        "contig",
        "bucket",
        F.col("study_id").alias("right_study_id"),
        F.col("logbf").alias("right_logbf"),
        F.col("pp").alias("right_pp"),
        beta.alias("right_beta"),
    )
    return left.join(right, on=["contig", "bucket"], how="inner")


TAG_OVERLAPS_SQL = f"""
  WITH tags AS (
    SELECT contig, study_id, signif,
           pos // {TAG_BUCKET_US} AS bucket,
           signif / 10.0 AS logbf,
           signif / CAST(SUM(CAST(signif AS DECIMAL(38,6)))
                         OVER (PARTITION BY study_id, contig) AS DOUBLE) AS pp
    FROM ({SUMSTATS_SQL})
  )
  SELECT l.contig, l.bucket,
         l.study_id AS left_study_id, l.logbf AS left_logbf, l.pp AS left_pp,
         (l.signif - 150.0) / 100.0 AS left_beta,
         r.study_id AS right_study_id, r.logbf AS right_logbf, r.pp AS right_pp,
         (r.signif - 150.0) / 100.0 AS right_beta
  FROM tags l
  JOIN tags r ON l.contig = r.contig AND l.bucket = r.bucket
  WHERE l.study_id % 2 = 0 AND r.study_id % 2 = 1
"""


# --- C6: COLOC -----------------------------------------------------------
@prepared
def q_coloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = coloc(
        _tag_overlaps(spark, sf_dir),
        group_cols=["left_study_id", "right_study_id", "contig"],
        extra_aggs=[beta_ratio_sign_avg()],
    )
    return out.select(
        "left_study_id",
        "right_study_id",
        "contig",
        "n_overlapping",
        *[F.round(F.col(h), 6).alias(h) for h in ("h0", "h1", "h2", "h3", "h4")],
        F.round(F.col("beta_ratio_sign_avg"), 6).alias("beta_ratio_sign_avg"),
    )


COLOC_SQL = f"""
WITH pairs AS ({TAG_OVERLAPS_SQL}),
enriched AS (
  SELECT *, left_logbf + right_logbf AS sum_bf,
    MAX(left_logbf) OVER (PARTITION BY left_study_id, right_study_id, contig) AS mx_l,
    MAX(right_logbf) OVER (PARTITION BY left_study_id, right_study_id, contig) AS mx_r,
    MAX(left_logbf + right_logbf)
        OVER (PARTITION BY left_study_id, right_study_id, contig) AS mx_s
  FROM pairs
),
grouped AS (
  SELECT left_study_id, right_study_id, contig, mx_l, mx_r, mx_s,
    COUNT(*) AS n_overlapping,
    AVG(CASE WHEN left_beta <> 0 AND right_beta <> 0
             THEN CASE WHEN left_beta * right_beta > 0
                       THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END
        END) AS beta_ratio_sign_avg,
    LN(SUM(EXP(left_logbf - mx_l))) + mx_l AS logsum1,
    LN(SUM(EXP(right_logbf - mx_r))) + mx_r AS logsum2,
    LN(SUM(EXP(sum_bf - mx_s))) + mx_s AS logsum12
  FROM enriched
  GROUP BY 1, 2, 3, 4, 5, 6
),
hyps AS (
  SELECT left_study_id, right_study_id, contig, n_overlapping,
    beta_ratio_sign_avg,
    0.0 AS lh0,
    LN(1e-4) + logsum1 AS lh1,
    LN(1e-4) + logsum2 AS lh2,
    LN(1e-4) + LN(1e-4) + CASE
      WHEN logsum1 + logsum2 <= logsum12 THEN '-infinity'::DOUBLE
      ELSE GREATEST(logsum1 + logsum2, logsum12)
           + LN(EXP(logsum1 + logsum2 - GREATEST(logsum1 + logsum2, logsum12))
                - EXP(logsum12 - GREATEST(logsum1 + logsum2, logsum12)))
      END AS lh3,
    LN(1e-5) + logsum12 AS lh4
  FROM grouped
),
post AS (
  SELECT *, GREATEST(lh0, lh1, lh2, lh3, lh4) AS mx,
    EXP(lh0 - GREATEST(lh0, lh1, lh2, lh3, lh4))
    + EXP(lh1 - GREATEST(lh0, lh1, lh2, lh3, lh4))
    + EXP(lh2 - GREATEST(lh0, lh1, lh2, lh3, lh4))
    + EXP(lh3 - GREATEST(lh0, lh1, lh2, lh3, lh4))
    + EXP(lh4 - GREATEST(lh0, lh1, lh2, lh3, lh4)) AS denom
  FROM hyps
)
SELECT left_study_id, right_study_id, contig, n_overlapping,
  ROUND(EXP(lh0 - mx) / denom, 6) AS h0,
  ROUND(EXP(lh1 - mx) / denom, 6) AS h1,
  ROUND(EXP(lh2 - mx) / denom, 6) AS h2,
  ROUND(EXP(lh3 - mx) / denom, 6) AS h3,
  ROUND(EXP(lh4 - mx) / denom, 6) AS h4,
  ROUND(beta_ratio_sign_avg, 6) AS beta_ratio_sign_avg
FROM post
"""


# --- C7: eCAVIAR CLPP ----------------------------------------------------
def q_ecaviar(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ecaviar_clpp(
        _tag_overlaps(spark, sf_dir),
        group_cols=["left_study_id", "right_study_id", "contig"],
        extra_aggs=[beta_ratio_sign_avg()],
    )
    return out.select(
        "left_study_id",
        "right_study_id",
        "contig",
        "n_overlapping",
        F.round(F.col("clpp"), 6).alias("clpp"),
        F.round(F.col("beta_ratio_sign_avg"), 6).alias("beta_ratio_sign_avg"),
    )


ECAVIAR_SQL = f"""
WITH pairs AS ({TAG_OVERLAPS_SQL})
SELECT left_study_id, right_study_id, contig,
       COUNT(*) AS n_overlapping,
       ROUND(SUM(left_pp * right_pp), 6) AS clpp,
       ROUND(AVG(CASE WHEN left_beta <> 0 AND right_beta <> 0
                      THEN CASE WHEN left_beta * right_beta > 0
                                THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END
                 END), 6) AS beta_ratio_sign_avg
FROM pairs
GROUP BY 1, 2, 3
"""


# --- C9: 95% credible set filter -----------------------------------------
@prepared
def q_credible_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order by posterior desc per locus, keep rows until cum-mass ≥ 0.95.

    Reference: study_locus.py:803 ``filter_credible_set`` /
    :963 ``annotate_credible_sets``: keep all variants whose
    cumulative posterior (excluding own) is below the threshold.
    """
    ss = sumstats(spark, sf_dir)
    grp = Window.partitionBy("study_id", "contig")
    # truncation (floor of scaled value) instead of ROUND: IEEE-exact in
    # both engines, so the per-row pp — and hence every cumulative sum —
    # is bit-identical cross-engine.
    raw_pp = (
        F.col("signif") / exact_sum(F.col("signif"), over=grp)
    )
    pp = F.floor(raw_pp * 1e9) / 1e9
    ordered = Window.partitionBy("study_id", "contig").orderBy(
        F.col("pp").desc(), F.col("point_id").asc()
    )
    return (
        ss.withColumn("pp", pp)
        .withColumn(
            "cum_pp",
            F.sum("pp").over(
                ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .filter(F.col("cum_pp") - F.col("pp") < 0.95)
        .select(
            "study_id",
            "contig",
            "point_id",
            "pos",
            "signif",
            "pp",
            (F.floor(F.col("cum_pp") * 1e6) / 1e6).alias("cum_pp"),
        )
    )


CREDIBLE_SQL = f"""
WITH pp_tab AS (
  SELECT *, FLOOR((signif / CAST(SUM(CAST(signif AS DECIMAL(38,6)))
                   OVER (PARTITION BY study_id, contig) AS DOUBLE)) * 1e9) / 1e9 AS pp
  FROM ({SUMSTATS_SQL})
),
cum AS (
  SELECT *, SUM(pp) OVER (PARTITION BY study_id, contig
                          ORDER BY pp DESC, point_id
                          ROWS UNBOUNDED PRECEDING) AS cum_pp
  FROM pp_tab
)
SELECT study_id, contig, point_id, pos, signif, pp, FLOOR(cum_pp * 1e6) / 1e6 AS cum_pp
FROM cum
WHERE cum_pp - pp < 0.95
"""


REGISTRY: dict[str, QuerySpec] = {
    "window_clump_leads": QuerySpec(q_window_clump_leads, WINDOW_CLUMP_SQL),
    "locus_breaker": QuerySpec(q_locus_breaker, LOCUS_BREAKER_SQL),
    "exclude_region": QuerySpec(q_exclude_region, EXCLUDE_SQL),
    "overlap_join": QuerySpec(q_overlap_join, OVERLAP_SQL),
    "coloc": QuerySpec(q_coloc, COLOC_SQL),
    "ecaviar_clpp": QuerySpec(q_ecaviar, ECAVIAR_SQL),
    "credible_set_filter": QuerySpec(q_credible_set, CREDIBLE_SQL),
}


# --- C8: PICS fine-mapping (oracle-checked via erfc kernel) --------------
PICS_TAU = 10_800_000_000  # 3 h distance-decay scale for synthetic r²


@prepared
def q_pics_finemap(
    spark: SparkSession, sf_dir: str, tau: int = PICS_TAU
) -> DataFrame:
    ss = sumstats(spark, sf_dir).filter(F.col("signif") >= SIGNIF_MIN)
    clustered = _cluster_seq(
        ss, "study_id", "point_id", CLUMP_WINDOW_US
    )
    return pics(clustered, tau=tau)


def _pics_sql() -> str:
    from gentropy_spark.functions.distributions import norm_sf_sql

    clustered = _clustered_sql(SIGNIF_MIN, CLUMP_WINDOW_US)
    nlp_lead = "nlp_lead"
    z = f"(({nlp_lead}) - ({nlp_lead}) * r2) / (SQRT(1.0 - POW(SQRT(r2), 6.4)) * SQRT({nlp_lead}) / 2.0)"
    prob = (
        f"CASE WHEN pos = lead_pos THEN 1.0 "
        f"WHEN r2 >= 0.5 AND {nlp_lead} > 0 THEN 2.0 * {norm_sf_sql(z)} "
        f"WHEN r2 >= 0.5 THEN 1.0 END"
    )
    return f"""
WITH clustered AS ({clustered}),
annotated AS (
  SELECT *,
    FIRST_VALUE(signif / 10.0) OVER w AS nlp_lead,
    FIRST_VALUE(pos) OVER w AS lead_pos
  FROM clustered
  WINDOW w AS (PARTITION BY study_id, contig, cluster_seq
               ORDER BY signif DESC, pos, point_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
with_r2 AS (
  SELECT *, EXP(-ABS(pos - lead_pos) / {float(PICS_TAU)!r}) AS r2
  FROM annotated
),
with_prob AS (
  SELECT *, {prob} AS prob FROM with_r2
)
SELECT study_id, contig, cluster_seq, point_id, pos,
       ROUND(r2, 6) AS r2,
       ROUND(prob / SUM(prob) OVER (PARTITION BY study_id, contig, cluster_seq), 6)
         AS pics_pp
FROM with_prob
"""


PICS_SQL = _pics_sql()


# --- C10: LD-based (dominance) clumping ----------------------------------
LD_R2_THRESHOLD = 0.5


@prepared
def q_ld_clump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep associations not linked to any more-significant one.

    Reference: method/clump.py:20 ``_is_lead_linked`` — a lead is
    flagged when a more significant lead appears among its LD tags
    (a dominance rule, not the iterative PLINK walk). Synthetic LD:
    r² = exp(−|Δpos|/τ) ≥ 0.5 ⟺ |Δpos| ≤ τ·ln2.
    """
    import math as _math

    from pyspark.sql import Window

    max_gap = int(PICS_TAU * _math.log(1.0 / LD_R2_THRESHOLD))
    ss = sumstats(spark, sf_dir).filter(F.col("signif") >= SIGNIF_MIN).select(
        "point_id", "study_id", "contig", "pos", "signif"
    )
    # r9: dominance probe as ONE RANGE-frame window (the transformation
    # proven on study_locus_qc_flags): a point is dominated iff the
    # frame max of struct(signif, -point_id) over ±max_gap exceeds its
    # own struct. Replaces the r6 span-tile explode + equi-join +
    # distinct + left_anti (4 exchanges → 1, no Generate). At 100 TB
    # the window sorts per (study, contig) partition exactly like the
    # clumping family — same shuffle key space, no candidate blowup on
    # dense regions (the tile join emitted O(pairs) rows).
    w_dom = (
        Window.partitionBy("study_id", "contig")
        .orderBy("pos")
        .rangeBetween(-max_gap, max_gap)
    )
    own = F.struct(
        F.col("signif").alias("s"), (-F.col("point_id")).alias("nid")
    )
    return (
        ss.withColumn("_mx", F.max(own).over(w_dom))
        .filter(~(F.col("_mx") > own))
        .select("point_id", "study_id", "contig", "pos", "signif")
    )


def _ld_clump_sql() -> str:
    import math as _math

    max_gap = int(PICS_TAU * _math.log(1.0 / LD_R2_THRESHOLD))
    return f"""
WITH ss AS (SELECT * FROM ({SUMSTATS_SQL}) WHERE signif >= {SIGNIF_MIN})
SELECT point_id, study_id, contig, pos, signif
FROM ss a
WHERE NOT EXISTS (
  SELECT 1 FROM ss b
  WHERE b.study_id = a.study_id AND b.contig = a.contig
    AND ABS(a.pos - b.pos) <= {max_gap}
    AND (b.signif > a.signif
         OR (b.signif = a.signif AND b.point_id < a.point_id))
)
"""


LD_CLUMP_SQL = _ld_clump_sql()


# --- C2: iterative semi-lead clumping (rows-only: sequential prune) ------
def q_window_clump_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semi_lead_clump(
        sumstats(spark, sf_dir), window=CLUMP_WINDOW_US, min_signif=SIGNIF_MIN
    )


# r6: the greedy walk IS SQL-expressible — a recursive CTE whose state
# is the per-cluster list of chosen positions (one row per cluster per
# step, so recursion depth = largest cluster, rows = member count).
# This upgrades C2 from rows-only to the full value-hash gate.
WINDOW_CLUMP_SEMI_SQL = f"""
WITH RECURSIVE
clustered AS ({_clustered_sql(SIGNIF_MIN, CLUMP_WINDOW_US)}),
m AS (
  SELECT study_id, contig, cluster_seq, point_id, pos, signif,
    CAST(ROW_NUMBER() OVER (PARTITION BY study_id, contig, cluster_seq
                       ORDER BY signif DESC, pos, point_id) AS BIGINT) AS rk
  FROM clustered
),
walk(study_id, contig, cluster_seq, rk, chosen) AS (
  SELECT study_id, contig, cluster_seq, CAST(0 AS BIGINT), []::BIGINT[]
  FROM (SELECT DISTINCT study_id, contig, cluster_seq FROM m)
  UNION ALL
  SELECT w.study_id, w.contig, w.cluster_seq, mm.rk,
         CASE WHEN len(list_filter(w.chosen,
                       c -> abs(c - mm.pos) < {CLUMP_WINDOW_US})) = 0
              THEN list_append(w.chosen, mm.pos) ELSE w.chosen END
  FROM walk w
  JOIN m mm ON mm.study_id = w.study_id AND mm.contig = w.contig
   AND mm.cluster_seq = w.cluster_seq AND mm.rk = w.rk + 1
)
SELECT mm.study_id, mm.contig, mm.cluster_seq, mm.point_id, mm.pos, mm.signif,
       len(w2.chosen) > len(w1.chosen) AS is_semi_lead
FROM m mm
JOIN walk w1 ON w1.study_id = mm.study_id AND w1.contig = mm.contig
 AND w1.cluster_seq = mm.cluster_seq AND w1.rk = mm.rk - 1
JOIN walk w2 ON w2.study_id = mm.study_id AND w2.contig = mm.contig
 AND w2.cluster_seq = mm.cluster_seq AND w2.rk = mm.rk
"""


# --- G1: SuSiE-like iterative fine-mapping (rows-only: iterative) --------
def q_susie_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    ss = sumstats(spark, sf_dir).filter(F.col("signif") >= LB_BASELINE)
    return susie_like(
        ss.withColumn("z", F.col("signif") / 10.0), tau=float(PICS_TAU)
    )


# --- G1b: faithful SuSiE-inf fine-mapping (rows-only: iterative
# eigendecomposition + per-effect Bayesian updates; kernel validated
# against the reference's own fixtures to 1e-8 for method-of-moments) ----
def q_susie_inf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gentropy_spark.operators.susie import susie_inf_finemap

    ss = sumstats(spark, sf_dir).filter(F.col("signif") >= SIGNIF_MIN)
    clustered = _cluster_seq(
        ss, "study_id", "point_id", CLUMP_WINDOW_US
    )
    return susie_inf_finemap(
        clustered.withColumn("z", F.col("signif") / 10.0),
        tau=float(PICS_TAU),
        L=5,
    )


def q_carma_finemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy CARMA-style configuration search per locus (rows-only:
    iterative linear algebra)."""
    ss = sumstats(spark, sf_dir).filter(F.col("signif") >= LB_BASELINE)
    return carma_like(ss.withColumn("z", F.col("signif") / 10.0))


def q_susie_finemapper_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship fine-mapping step: per-credible-set StudyLocus rows
    (lead variant, log10 BF, purity metrics, purity filters) — the
    susie_finemapper.py orchestration composed around the faithful
    SuSiE-inf kernel (rows-only: iterative)."""
    from gentropy_spark.operators.susie import susie_finemapper_step

    ss = sumstats(spark, sf_dir).filter(F.col("signif") >= SIGNIF_MIN)
    clustered = _cluster_seq(
        ss, "study_id", "point_id", CLUMP_WINDOW_US
    )
    return susie_finemapper_step(
        clustered.withColumn("z", F.col("signif") / 10.0),
        tau=float(PICS_TAU),
    )


def q_carma_shotgun(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faithful CARMA: deterministic shotgun configuration search with
    spike-slab BF model averaging and ridge-BF outlier detection
    (rows-only: iterative matrix search; kernel validated against the
    reference's own fixtures — PIP correlation 0.999, same outlier)."""
    from gentropy_spark.operators.carma_full import carma_finemap_full

    ss = sumstats(spark, sf_dir).filter(F.col("signif") >= SIGNIF_MIN)
    clustered = _cluster_seq(
        ss, "study_id", "point_id", CLUMP_WINDOW_US
    )
    return carma_finemap_full(
        clustered.withColumn("z", F.col("signif") / 10.0),
        tau_ld=float(PICS_TAU),
    )


REGISTRY.update(
    {
        "carma_finemap": QuerySpec(q_carma_finemap, None),
        "pics_finemap": QuerySpec(q_pics_finemap, PICS_SQL),
        "ld_clump": QuerySpec(q_ld_clump, LD_CLUMP_SQL),
        "window_clump_semi": QuerySpec(q_window_clump_semi, WINDOW_CLUMP_SEMI_SQL),
        "susie_like_finemap": QuerySpec(q_susie_like, None),
        "susie_inf_finemap": QuerySpec(q_susie_inf, None),
        "susie_finemapper_step": QuerySpec(q_susie_finemapper_step, None),
        "carma_shotgun_finemap": QuerySpec(q_carma_shotgun, None),
    }
)


# --- CARMA-style outlier detection + kNN imputation ----------------------
NEIGH_TAU = 10_800_000_000  # LD decay scale (3 h)
NEIGH_SPAN = 2 * NEIGH_TAU  # neighbourhood radius


def _neighbour_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out LD-weighted neighbour expectation of z per point.

    Shared kernel for carma_outliers / sumstat_imputation: a range
    self-join within (study, contig) bounded by NEIGH_SPAN, weights
    w = exp(−|Δpos|/τ). Scale: the join keys carry the partitioning;
    the span bound keeps per-row fan-in constant.
    """
    from gentropy_spark.operators.overlaps import span_self_pairs

    ss = sumstats(spark, sf_dir).select(
        "study_id", "contig", "pos", "point_id", (F.col("signif") / 10.0).alias("z")
    )
    # r6: span-tile equi-join (operators/overlaps.py span_self_pairs)
    # replaces the raw range self-join — quadratic per (study, contig)
    # group becomes bucket-occupancy bounded; identical pair set.
    pairs = span_self_pairs(ss, ["study_id", "contig"], "pos", NEIGH_SPAN).filter(
        F.col("point_id") != F.col("point_id_b")
    ).withColumn("w", F.exp(-F.abs(F.col("pos") - F.col("pos_b")) / F.lit(float(NEIGH_TAU))))
    return pairs.groupBy("point_id", "study_id", "contig", "pos", "z").agg(
        F.count("*").alias("n_neighbours"),
        F.sum(F.col("w") * F.col("z_b")).alias("wz_sum"),
        F.sum("w").alias("w_sum"),
    )


_NEIGH_SQL = f"""
  SELECT a.point_id, a.study_id, a.contig, a.pos, a.signif / 10.0 AS z,
         COUNT(*) AS n_neighbours,
         SUM(EXP(-ABS(a.pos - b.pos) / {float(NEIGH_TAU)!r}) * (b.signif / 10.0)) AS wz_sum,
         SUM(EXP(-ABS(a.pos - b.pos) / {float(NEIGH_TAU)!r})) AS w_sum
  FROM ({SUMSTATS_SQL}) a
  JOIN ({SUMSTATS_SQL}) b
    ON a.study_id = b.study_id AND a.contig = b.contig
   AND a.point_id <> b.point_id AND ABS(a.pos - b.pos) <= {NEIGH_SPAN}
  GROUP BY 1, 2, 3, 4, 5
"""


def q_carma_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag points inconsistent with their LD neighbourhood.

    The essence of CARMA's outlier step (method/carma.py: per-locus
    Bayesian model flags variants whose z conflicts with LD-implied
    expectation) as a declarative plan: outlier ⟺
    |z − E_LD[z]| > threshold.
    """
    stats = _neighbour_stats(spark, sf_dir)
    expected = F.col("wz_sum") / F.col("w_sum")
    resid = F.col("z") - expected
    return stats.select(
        "point_id",
        "study_id",
        "contig",
        F.col("n_neighbours"),
        F.round(expected, 6).alias("expected_z"),
        F.round(resid, 6).alias("residual"),
        (F.round(F.abs(resid), 6) > 8.0).alias("is_outlier"),
    )


CARMA_SQL = f"""
SELECT point_id, study_id, contig, n_neighbours,
       ROUND(wz_sum / w_sum, 6) AS expected_z,
       ROUND(z - wz_sum / w_sum, 6) AS residual,
       ROUND(ABS(z - wz_sum / w_sum), 6) > 8.0 AS is_outlier
FROM ({_NEIGH_SQL})
"""


def q_sumstat_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out LD-weighted z imputation + imputation info score.

    Reference: method/sumstat_imputation.py (per-region numpy solve);
    the kNN-smoother formulation keeps the same contract (imputed z +
    quality) as one distributed range join.
    """
    stats = _neighbour_stats(spark, sf_dir)
    return stats.select(
        "point_id",
        "study_id",
        "contig",
        F.round(F.col("wz_sum") / F.col("w_sum"), 6).alias("z_imputed"),
        F.round(F.col("z"), 6).alias("z_observed"),
        F.round(F.col("w_sum") / F.col("n_neighbours"), 6).alias("impute_info"),
    )


IMPUTE_SQL = f"""
SELECT point_id, study_id, contig,
       ROUND(wz_sum / w_sum, 6) AS z_imputed,
       ROUND(z, 6) AS z_observed,
       ROUND(w_sum / n_neighbours, 6) AS impute_info
FROM ({_NEIGH_SQL})
"""


REGISTRY.update(
    {
        "carma_outliers": QuerySpec(q_carma_outliers, CARMA_SQL),
        "sumstat_imputation": QuerySpec(q_sumstat_imputation, IMPUTE_SQL),
    }
)


# --- StudyLocus surface: id assignment, trans flags, locus stats ---------
def q_study_locus_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic study-locus id: md5 of the '_'-joined key columns.

    Reference: study_locus.py:628 ``assign_study_locus_id`` (md5 of
    concatenated uniqueness-defining columns).
    """
    ss = sumstats(spark, sf_dir)
    return ss.select(
        "point_id",
        "study_id",
        "contig",
        F.md5(
            F.concat_ws("_", F.col("study_id"), F.col("contig"), F.col("pos"))
        ).alias("study_locus_id"),
    )


STUDY_LOCUS_ID_SQL = f"""
SELECT point_id, study_id, contig,
       md5(CONCAT_WS('_', study_id, contig, pos)) AS study_locus_id
FROM ({SUMSTATS_SQL})
"""


TRANS_DIST_US = 2 * 86_400_000_000  # cis window: 2 days


def q_trans_qtl_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag trans associations: lead further than the cis window from
    its gene (study_locus.py:710 ``flag_trans_qtls`` — distance rule
    against the study's target gene; gene = study_id-keyed interval).
    """
    ss = sumstats(spark, sf_dir)
    from gentropy_spark.plans.synthmap import BASE_US, GENE_SPACING_US

    gene_start = BASE_US + (F.col("study_id") % 100) * GENE_SPACING_US
    dist = F.abs(F.col("pos") - gene_start)
    return ss.select(
        "point_id",
        "study_id",
        "contig",
        (dist > TRANS_DIST_US).alias("is_trans"),
        F.when(dist > TRANS_DIST_US, F.lit("TRANS_QTL")).otherwise(F.lit("")).alias(
            "qc_flag"
        ),
    )


def _trans_sql() -> str:
    from gentropy_spark.plans.synthmap import BASE_US, GENE_SPACING_US

    gene_start = f"({BASE_US} + (study_id % 100) * {GENE_SPACING_US})"
    return f"""
SELECT point_id, study_id, contig,
       ABS(pos - {gene_start}) > {TRANS_DIST_US} AS is_trans,
       CASE WHEN ABS(pos - {gene_start}) > {TRANS_DIST_US}
            THEN 'TRANS_QTL' ELSE '' END AS qc_flag
FROM ({SUMSTATS_SQL})
"""


def q_locus_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-locus composition stats: variant count, distinct positions,
    span, signal mass (study_locus.py:1018 ``annotate_locus_statistics``
    + :892 ``unique_variants_in_locus``)."""
    ss = sumstats(spark, sf_dir).filter(F.col("signif") >= LB_BASELINE)
    clustered = _cluster_seq(ss, "study_id", "point_id", LB_DIST_US)
    return clustered.groupBy("study_id", "contig", "cluster_seq").agg(
        F.count("*").alias("n_variants"),
        F.countDistinct("pos").alias("n_unique_positions"),
        (F.max("pos") - F.min("pos")).alias("locus_span"),
        exact_sum(F.col("signif")).alias("signal_mass"),
    )


LOCUS_STATS_SQL = f"""
SELECT study_id, contig, cluster_seq,
       COUNT(*) AS n_variants,
       COUNT(DISTINCT pos) AS n_unique_positions,
       MAX(pos) - MIN(pos) AS locus_span,
       CAST(SUM(CAST(signif AS DECIMAL(38,6))) AS DOUBLE) AS signal_mass
FROM ({_clustered_sql(LB_BASELINE, LB_DIST_US)})
GROUP BY 1, 2, 3
"""


@prepared
def q_sumstat_qc_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All QC metrics joined into one per-study table — the
    summary_statistics_qc dataset shape (dataset/summary_statistics_qc.py)."""
    from gentropy_spark.plans.qc import qc_metrics

    # Single-pass aggregation: the three QC metrics share one scan and
    # one shuffle instead of three scans joined (4.8s -> ~1s at sf0.1).
    # Values are identical to the per-metric queries (the same
    # qc_metrics expressions), so the composed oracle SQL is unchanged.
    out = qc_metrics(
        spark,
        sf_dir,
        ["gc_lambda", "pz_corr", "mean_diff", "mean_beta", "n_variants"],
    )
    # trunc (floor of the scaled value), not round: multiply+floor are
    # IEEE-exact in both engines, while ROUND diverges on exact ties.
    t6 = lambda c: F.floor(F.col(c) * 1e6) / 1e6  # noqa: E731
    return out.select(
        "study_id",
        t6("gc_lambda").alias("gc_lambda"),
        "pz_corr",
        t6("mean_diff").alias("mean_diff"),
        t6("mean_beta").alias("mean_beta"),
        "n_variants",
        (
            (F.col("gc_lambda") < 2.0)
            & (F.abs(F.col("mean_beta")) < 0.1)
            & (F.col("pz_corr") > 0.9)
        ).alias("qc_pass"),
    )


def _qc_summary_sql() -> str:
    from gentropy_spark.plans.qc import GC_LAMBDA_SQL, MEAN_BETA_SQL, PZ_SQL

    return f"""
WITH gc AS ({GC_LAMBDA_SQL}), pz AS ({PZ_SQL}), mb AS ({MEAN_BETA_SQL})
SELECT gc.study_id,
       FLOOR(gc.gc_lambda * 1e6) / 1e6 AS gc_lambda,
       pz.pz_corr,
       FLOOR(pz.mean_diff * 1e6) / 1e6 AS mean_diff,
       FLOOR(mb.mean_beta * 1e6) / 1e6 AS mean_beta,
       mb.n_variants,
       (gc.gc_lambda < 2.0 AND ABS(mb.mean_beta) < 0.1 AND pz.pz_corr > 0.9)
         AS qc_pass
FROM gc JOIN pz ON gc.study_id = pz.study_id
JOIN mb ON gc.study_id = mb.study_id
"""


REGISTRY.update(
    {
        "study_locus_id": QuerySpec(q_study_locus_id, STUDY_LOCUS_ID_SQL),
        "trans_qtl_flag": QuerySpec(q_trans_qtl_flag, _trans_sql()),
        "locus_statistics": QuerySpec(q_locus_statistics, LOCUS_STATS_SQL),
        "sumstat_qc_summary": QuerySpec(q_sumstat_qc_summary, _qc_summary_sql()),
    }
)


# --- C11: interval coverage (merge-overlaps union length) -----------------
def q_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union coverage of the locus intervals per (study, contig): merge
    overlapping/adjacent loci into islands (boundary = cumulative-max
    of previous ends stays below the next start — one window pass, the
    interval-algebra dual of the gap-sessionizer) and report island
    count, covered length, and span utilisation."""
    loci = q_locus_breaker(spark, sf_dir).select(
        "study_id", "contig", "locus_start", "locus_end"
    )
    w = Window.partitionBy("study_id", "contig").orderBy(
        "locus_start", "locus_end"
    )
    prev_max_end = F.max("locus_end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = loci.withColumn(
        "new_island",
        F.when(
            prev_max_end.isNull() | (F.col("locus_start") > prev_max_end), 1
        ).otherwise(0),
    )
    w2 = Window.partitionBy("study_id", "contig").orderBy(
        "locus_start", "locus_end"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    islands = marked.withColumn("island_id", F.sum("new_island").over(w2))
    per_island = islands.groupBy("study_id", "contig", "island_id").agg(
        F.min("locus_start").alias("i_start"),
        F.max("locus_end").alias("i_end"),
    )
    return per_island.groupBy("study_id", "contig").agg(
        F.count("*").alias("n_islands"),
        F.sum(F.col("i_end") - F.col("i_start") + 1).alias("covered_len"),
        (F.max("i_end") - F.min("i_start") + 1).alias("span_len"),
    ).withColumn(
        "coverage_ratio",
        F.round(F.col("covered_len") / F.col("span_len"), 6),
    )


INTERVAL_COVERAGE_SQL = f"""
WITH loci AS (
  SELECT study_id, contig, locus_start, locus_end FROM ({LOCUS_BREAKER_SQL})
),
marked AS (
  SELECT *, CASE WHEN MAX(locus_end) OVER (
                   PARTITION BY study_id, contig ORDER BY locus_start, locus_end
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 IS NULL
              OR locus_start > MAX(locus_end) OVER (
                   PARTITION BY study_id, contig ORDER BY locus_start, locus_end
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            THEN 1 ELSE 0 END AS new_island
  FROM loci
),
islands AS (
  SELECT *, SUM(new_island) OVER (
              PARTITION BY study_id, contig ORDER BY locus_start, locus_end
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
  FROM marked
),
per_island AS (
  SELECT study_id, contig, island_id,
         MIN(locus_start) AS i_start, MAX(locus_end) AS i_end
  FROM islands GROUP BY 1, 2, 3
)
SELECT study_id, contig, COUNT(*) AS n_islands,
       -- BIGINT cast: DuckDB SUM(BIGINT) -> HUGEINT breaks driver hash parity.
       CAST(SUM(i_end - i_start + 1) AS BIGINT) AS covered_len,
       MAX(i_end) - MIN(i_start) + 1 AS span_len,
       ROUND(CAST(SUM(i_end - i_start + 1) AS DOUBLE)
             / (MAX(i_end) - MIN(i_start) + 1), 6) AS coverage_ratio
FROM per_island GROUP BY 1, 2
"""


REGISTRY["interval_coverage"] = QuerySpec(q_interval_coverage, INTERVAL_COVERAGE_SQL)


# --- C12: boundary-bounded locus statistics --------------------------------
def q_locus_statistics_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sumstat annotation bounded by locusStart/locusEnd (reference
    dataset/study_locus.py:1342 ``annotate_locus_statistics_boundaries``):
    join the FULL summary statistics (no significance filter) into each
    locus_breaker locus wherever study+contig match and the position
    falls inside the flanked [locus_start, locus_end] window, then
    aggregate per locus.

    This differs from ``locus_statistics`` (H11) in exactly the way the
    reference's two verbs differ: H11 aggregates the CLUSTER MEMBERS
    (baseline-significant points that formed the locus); this key
    aggregates every tag inside the locus BOUNDARIES — sub-significant
    points in the flanks included, and a tag inside two overlapping
    flanked loci annotates both.

    Spark-first shape: the clumped side is the dimension (the reference
    broadcasts it too, study_locus.py:1365) — broadcast hash join on
    (study_id, contig) with the range as a join filter, so the sumstat
    fact table is scanned once and never shuffled; the per-locus
    aggregation shuffles locus-grain rows only. The reference's
    collect_list of tag structs is replaced by the aggregate statistics
    (count / distinct positions / DECIMAL-exact signal mass) so the
    result is hash-gateable; the LEFT join back to loci preserves the
    reference's "no statistics found -> empty locus" semantics.
    """
    loci = q_locus_breaker(spark, sf_dir)
    ss = sumstats(spark, sf_dir)
    tagged = ss.join(
        F.broadcast(
            loci.select(
                "study_id", "contig", "cluster_seq", "locus_start", "locus_end"
            )
        ),
        on=["study_id", "contig"],
    ).filter(
        (F.col("pos") >= F.col("locus_start"))
        & (F.col("pos") <= F.col("locus_end"))
    )
    agg = tagged.groupBy("study_id", "contig", "cluster_seq").agg(
        F.count("*").alias("n_tags"),
        F.countDistinct("pos").alias("n_unique_positions"),
        exact_sum(F.col("signif")).alias("tag_signal_mass"),
    )
    return (
        loci.select(
            "study_id",
            "contig",
            "cluster_seq",
            "locus_start",
            "locus_end",
            "lead_pos",
            "lead_signif",
        )
        .join(
            # locus-grain build side: broadcast so the (equally small)
            # loci side avoids a sort-merge exchange pair.
            F.broadcast(agg),
            on=["study_id", "contig", "cluster_seq"],
            how="left",
        )
        .select(
            "study_id",
            "contig",
            "cluster_seq",
            "locus_start",
            "locus_end",
            "lead_pos",
            "lead_signif",
            F.coalesce(F.col("n_tags"), F.lit(0).cast("bigint")).alias("n_tags"),
            F.coalesce(
                F.col("n_unique_positions"), F.lit(0).cast("bigint")
            ).alias("n_unique_positions"),
            F.coalesce(F.col("tag_signal_mass"), F.lit(0.0)).alias(
                "tag_signal_mass"
            ),
        )
    )


LOCUS_STATS_BOUNDARIES_SQL = f"""
WITH loci AS ({LOCUS_BREAKER_SQL}),
ss AS ({SUMSTATS_SQL}),
agg AS (
  SELECT l.study_id, l.contig, l.cluster_seq,
         CAST(COUNT(*) AS BIGINT) AS n_tags,
         CAST(COUNT(DISTINCT s.pos) AS BIGINT) AS n_unique_positions,
         CAST(SUM(CAST(s.signif AS DECIMAL(38,6))) AS DOUBLE)
           AS tag_signal_mass
  FROM loci l JOIN ss s
    ON s.study_id = l.study_id AND s.contig = l.contig
   AND s.pos >= l.locus_start AND s.pos <= l.locus_end
  GROUP BY 1, 2, 3
)
SELECT l.study_id, l.contig, l.cluster_seq, l.locus_start, l.locus_end,
       l.lead_pos, l.lead_signif,
       COALESCE(a.n_tags, 0) AS n_tags,
       COALESCE(a.n_unique_positions, 0) AS n_unique_positions,
       COALESCE(a.tag_signal_mass, 0.0::DOUBLE) AS tag_signal_mass
FROM loci l LEFT JOIN agg a
  ON a.study_id = l.study_id AND a.contig = l.contig
 AND a.cluster_seq = l.cluster_seq
"""

REGISTRY["locus_statistics_boundaries"] = QuerySpec(
    q_locus_statistics_boundaries, LOCUS_STATS_BOUNDARIES_SQL
)


# --- C13: study-type annotation --------------------------------------------
# The synthetic study index is the customer table (the study_validation
# convention); study types derive from the market segment via a fixed
# LUT so both engines compute the identical 5-value mapping.
_SEGMENT_STUDY_TYPE = {
    "BUILDING": "gwas",
    "AUTOMOBILE": "eqtl",
    "MACHINERY": "pqtl",
    "HOUSEHOLD": "sqtl",
    "FURNITURE": "tuqtl",
}


def q_locus_study_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StudyLocus-side study-type annotation (reference
    dataset/study_locus.py:233 ``annotate_study_type`` over
    study_index.py:226 ``study_type_lut``): LEFT-join the 2-column
    (studyId, studyType) LUT onto the clumped locus table — loci whose
    study is missing from the index keep a NULL type (annotation is
    never a filter; MISSING_STUDY flagging is ``study_validation``).
    The LUT is a broadcast dimension, so the locus table never
    shuffles. Composable surface: operators/coloc.py
    ``annotate_study_type``."""
    from gentropy_spark.operators.coloc import annotate_study_type

    loci = q_window_clump_leads(spark, sf_dir)
    seg = F.col("c_mktsegment")
    mapping = F.lit(None).cast("string")
    for k, v in reversed(_SEGMENT_STUDY_TYPE.items()):
        mapping = F.when(seg == k, F.lit(v)).otherwise(mapping)
    idx = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("study_id"), mapping.alias("study_type")
    )
    return annotate_study_type(loci, idx).select(
        "study_id",
        "contig",
        "cluster_seq",
        "lead_point_id",
        "lead_signif",
        "study_type",
    )


_SEGMENT_CASE_SQL = "CASE c_mktsegment " + " ".join(
    f"WHEN '{k}' THEN '{v}'" for k, v in _SEGMENT_STUDY_TYPE.items()
) + " END"

LOCUS_STUDY_TYPE_SQL = f"""
WITH loci AS ({WINDOW_CLUMP_SQL}),
idx AS (
  SELECT c_custkey AS study_id, {_SEGMENT_CASE_SQL} AS study_type
  FROM customer
)
SELECT l.study_id, l.contig, l.cluster_seq, l.lead_point_id, l.lead_signif,
       i.study_type
FROM loci l LEFT JOIN idx i ON i.study_id = l.study_id
"""

REGISTRY["locus_study_type"] = QuerySpec(q_locus_study_type, LOCUS_STUDY_TYPE_SQL)


# --- G4: fine-mapping simulation calibration (rows-only) -------------------
def q_finemap_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simulation-calibrated fine-mapping evidence (reference
    finemapping_simulations.py): plant known causals in an AR(1)-LD
    region, simulate GWAS z-scores, run the SuSiE-inf and CARMA ports,
    and report credible-set accuracy / lead accuracy / sensitivity /
    false-positive rate per method. Driver-side numpy by nature
    (iterative per-region fits over a ~60-variant matrix — the same
    posture as the reference harness); seeded, so byte-reproducible —
    which is why the oracle is a pinned-fixture VALUES literal (see
    FINEMAP_CALIBRATION_SQL) rather than rows-only: the simulation
    loop itself is not SQL-expressible, but its deterministic report
    row is hash-gateable."""
    from gentropy_spark.operators.finemap_sim import run_finemap_calibration

    rows = []
    for method, n_iter in (("susie_inf", 20), ("carma", 8)):
        s = run_finemap_calibration(n_iter=n_iter, method=method)
        rows.append(
            (
                method,
                s["successful_runs"],
                s["number_of_cs"],
                s["expected_results"],
                float(s["false_positives"]),
                float(s["accuracy"]),
                float(s["accuracy_lead"]),
                float(s["sensitivity"]),
            )
        )
    return spark.createDataFrame(
        rows,
        "method string, successful_runs long, number_of_cs long, "
        "expected_results long, false_positives double, accuracy double, "
        "accuracy_lead double, sensitivity double",
    )


# Hash-gated since r14 (was rows-only): the simulation is fully seeded
# and sf-independent, so its report row is a frozen fixture — the
# oracle pins the expected metrics as a VALUES literal and the driver's
# value-hash gate now catches any drift in the SuSiE-inf/CARMA kernels
# or the calibration harness (verdict item 9; the metrics are already
# quantized by the fn). Regenerate by running the key and updating
# this literal IF a deliberate kernel change shifts them.
FINEMAP_CALIBRATION_SQL = """
SELECT * FROM (VALUES
  ('susie_inf', 13::BIGINT, 18::BIGINT, 26::BIGINT,
   0.0::DOUBLE, 1.0::DOUBLE, 1.0::DOUBLE, 0.692308::DOUBLE),
  ('carma', 4::BIGINT, 4::BIGINT, 8::BIGINT,
   0.0::DOUBLE, 1.0::DOUBLE, 1.0::DOUBLE, 0.5::DOUBLE)
) AS t(method, successful_runs, number_of_cs, expected_results,
       false_positives, accuracy, accuracy_lead, sensitivity)
"""

REGISTRY["finemap_calibration"] = QuerySpec(
    q_finemap_calibration, FINEMAP_CALIBRATION_SQL
)
