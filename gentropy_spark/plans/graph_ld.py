"""Ontology closure + pairwise LD queries (SURVEY §2 extras).

- ontology_closure: ancestor closure of a deterministic part-keyed
  tree via iterative distributed BFS (biosample_index.py analog);
  oracle is a recursive CTE.
- pairwise_ld: bounded-span pairwise LD table within (study, contig)
  (dataset/pairwise_ld.py: upper-triangular r matrix per region).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gentropy_spark.operators.graph import transitive_closure
from gentropy_spark.plans.genomics import SUMSTATS_SQL, sumstats
from gentropy_spark.plans.registry import QuerySpec
from gentropy_spark.session import prepared
from gentropy_spark.sources.readers import read_table


# --- ontology ancestor closure -------------------------------------------
def q_ontology_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tree edges: parent(k) = k div 3 (valid while 1 <= parent < k)."""
    part = read_table(spark, sf_dir, "part")
    edges = part.select(
        F.col("p_partkey").alias("child"),
        F.expr("p_partkey div 3").alias("parent"),
    ).filter((F.col("parent") >= 1) & (F.col("parent") < F.col("child")))
    return transitive_closure(edges)


ONTOLOGY_SQL = """
WITH RECURSIVE edges AS (
  SELECT p_partkey AS child, p_partkey // 3 AS parent
  FROM part
  WHERE p_partkey // 3 >= 1 AND p_partkey // 3 < p_partkey
),
closure(child, ancestor, depth) AS (
  SELECT child, parent, 1 FROM edges
  UNION ALL
  SELECT c.child, e.parent, c.depth + 1
  FROM closure c JOIN edges e ON c.ancestor = e.child
)
SELECT child, ancestor, CAST(depth AS INT) AS depth FROM closure
"""


# --- pairwise LD table ----------------------------------------------------
LD_TAU_US = 10_800_000_000.0
LD_SPAN_US = 21_600_000_000  # only emit pairs within 6 h


def q_pairwise_ld(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangular pairwise LD within (study, contig), bounded span.

    Reference: dataset/pairwise_ld.py (square r matrix per region;
    here the sparse bounded-distance form a 100 TB run would store).
    """
    from gentropy_spark.operators.overlaps import span_self_pairs

    ss = sumstats(spark, sf_dir).filter(F.col("signif") >= 100.0).select(
        "study_id", "contig", "pos", "point_id"
    )
    # r6: span-tile equi-join (operators/overlaps.py span_self_pairs)
    # replaces the raw range self-join — per-key-group quadratic cost
    # becomes bucket-occupancy cost; identical output.
    pairs = span_self_pairs(
        ss, ["study_id", "contig"], "pos", LD_SPAN_US
    ).filter(F.col("point_id") < F.col("point_id_b"))
    r = F.exp(-F.abs(F.col("pos") - F.col("pos_b")) / F.lit(LD_TAU_US))
    return pairs.select(
        "study_id",
        "contig",
        F.col("point_id").alias("id_a"),
        F.col("point_id_b").alias("id_b"),
        F.round(r, 6).alias("r"),
        F.round(r * r, 6).alias("r2"),
    )


PAIRWISE_LD_SQL = f"""
SELECT a.study_id, a.contig, a.point_id AS id_a, b.point_id AS id_b,
       ROUND(EXP(-ABS(a.pos - b.pos) / {LD_TAU_US!r}), 6) AS r,
       ROUND(EXP(-ABS(a.pos - b.pos) / {LD_TAU_US!r})
             * EXP(-ABS(a.pos - b.pos) / {LD_TAU_US!r}), 6) AS r2
FROM ({SUMSTATS_SQL}) a
JOIN ({SUMSTATS_SQL}) b
  ON a.study_id = b.study_id AND a.contig = b.contig
 AND a.point_id < b.point_id AND ABS(a.pos - b.pos) <= {LD_SPAN_US}
WHERE a.signif >= 100.0 AND b.signif >= 100.0
"""


REGISTRY: dict[str, QuerySpec] = {
    "ontology_closure": QuerySpec(q_ontology_closure, ONTOLOGY_SQL),
    "pairwise_ld": QuerySpec(q_pairwise_ld, PAIRWISE_LD_SQL),
}


# --- LD block-matrix slice (gnomAD LD posture) ----------------------------
LD_BLOCK_BAND = 5  # banded synthetic entries: |i-j| <= band
LD_BLOCK_LO, LD_BLOCK_HI = 10, 60  # slice window [lo, hi]


def q_ld_block_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-matrix pipeline: banded upper-triangular entries →
    symmetric transpose → square index-window slice → variant-id
    resolution (gnomad/ld.py:101/:223/:364/:200 composed).

    The locus index is the ranked variant list of one contig; entries
    are a banded synthetic r decay — the pipeline shape (not the r
    values) is what the reference computes over Hail block matrices.
    """
    from pyspark.sql import Window

    from gentropy_spark.operators.ld_matrix import (
        ld_block_slice,
        resolve_variant_indices,
        transpose_ld_triangular,
    )

    ss = sumstats(spark, sf_dir).filter(
        (F.col("contig") == "click") & (F.col("signif") >= 150.0)
    )
    w = Window.partitionBy("contig").orderBy("pos", "point_id")
    idx = ss.select(
        F.col("point_id").alias("variant_id"),
        (F.row_number().over(w) - 1).alias("idx"),
    )
    a = idx.select(F.col("idx").alias("idx_i"))
    b = idx.select(F.col("idx").alias("idx_j"))
    tri = (
        a.join(
            b,
            (F.col("idx_j") >= F.col("idx_i"))
            & (F.col("idx_j") - F.col("idx_i") <= LD_BLOCK_BAND),
        )
        .withColumn(
            "r",
            F.round(
                F.exp(-(F.col("idx_j") - F.col("idx_i")) / F.lit(float(LD_BLOCK_BAND))),
                6,
            ),
        )
    )
    sym = transpose_ld_triangular(tri)
    sliced = ld_block_slice(sym, LD_BLOCK_LO, LD_BLOCK_HI)
    return resolve_variant_indices(sliced, idx).select(
        "idx_i", "idx_j", "variant_id_a", "variant_id_b", "r"
    )


LD_BLOCK_SQL = f"""
WITH ranked AS (
  SELECT point_id AS variant_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY contig ORDER BY pos, point_id) - 1
              AS INT) AS idx
  FROM ({SUMSTATS_SQL})
  WHERE contig = 'click' AND signif >= 150.0
),
tri AS (
  SELECT a.idx AS idx_i, b.idx AS idx_j,
         ROUND(EXP(-(b.idx - a.idx) / {float(LD_BLOCK_BAND)!r}), 6) AS r
  FROM ranked a JOIN ranked b
    ON b.idx >= a.idx AND b.idx - a.idx <= {LD_BLOCK_BAND}
),
sym AS (
  SELECT idx_i, idx_j, r FROM tri
  UNION ALL
  SELECT idx_j AS idx_i, idx_i AS idx_j, r FROM tri WHERE idx_i <> idx_j
),
sliced AS (
  SELECT * FROM sym
  WHERE idx_i BETWEEN {LD_BLOCK_LO} AND {LD_BLOCK_HI}
    AND idx_j BETWEEN {LD_BLOCK_LO} AND {LD_BLOCK_HI}
)
SELECT idx_i, idx_j,
       ia.variant_id AS variant_id_a, ib.variant_id AS variant_id_b, r
FROM sliced
JOIN ranked ia ON ia.idx = idx_i
JOIN ranked ib ON ib.idx = idx_j
"""


REGISTRY["ld_block_slice"] = QuerySpec(q_ld_block_slice, LD_BLOCK_SQL)


# --- LDIndex construction (gnomad/ld.py:200-364 + dataset/ld_index.py) ----
# The reference aggregates per-population triangular block matrices
# into a per-variant LD set: triangular → symmetric (:223), indices →
# variant ids (:200), union across populations, r² filter, then the
# two-level collect into ldSet[tag → rValues[(population, r)]] (:55
# _aggregate_ld_index_across_populations). Re-expressed with the
# population axis PIVOTED WIDE (r_afr/r_fin/r_nfe columns): nested
# array-of-struct outputs hash poorly across engines, and the wide form
# carries identical information for a fixed population list (the
# reference's ld_populations is a fixed config list too).
LD_POPS = (("afr", 1.0), ("fin", 0.8), ("nfe", 1.25))
LD_INDEX_BAND = 5  # banded entries: |i-j| <= band (block sparsity)
LD_INDEX_MIN_R2 = 0.25
LD_INDEX_SIGNIF = 100.0


@prepared
def q_ld_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded per-population triangular matrices → per-variant LD sets.

    One row per (contig, variant, tag): the population r values wide,
    how many populations support the pair, and the variant's total tag
    count (the size of its ldSet).
    """
    from pyspark.sql import Window

    ss = sumstats(spark, sf_dir).filter(F.col("signif") >= LD_INDEX_SIGNIF)
    w = Window.partitionBy("contig").orderBy("pos", "point_id")
    ranked = ss.select(
        "contig",
        F.col("point_id").alias("variant_id"),
        (F.row_number().over(w) - 1).alias("idx"),
    )
    a = ranked.select("contig", F.col("variant_id").alias("vid_i"), F.col("idx").alias("idx_i"))
    b = ranked.select("contig", F.col("variant_id").alias("vid_j"), F.col("idx").alias("idx_j"))
    # Symmetric banded pairs via explode-to-equi-join: for a FIXED band
    # the |i-j| <= band predicate is enumerable, so generate each row's
    # candidate idx_j for BOTH directions (d in [-band, band]) and
    # equi-join on (contig, idx_j). Catalyst gets a shuffled hash join
    # instead of the per-contig nested-loop a range predicate would
    # force (quadratic per contig), and emitting both orientations here
    # replaces the triangular-build + transpose-union the reference
    # does (gnomad/ld.py:223) — that union re-ran the whole upstream
    # pipeline (scan, window-rank, join) twice for identical output.
    sym = (
        a.select(
            "contig",
            "vid_i",
            "idx_i",
            F.explode(
                F.sequence(
                    F.col("idx_i") - LD_INDEX_BAND,
                    F.col("idx_i") + LD_INDEX_BAND,
                )
            ).alias("idx_j"),
        )
        .join(b, on=["contig", "idx_j"])
        .select("contig", "idx_i", "idx_j", "vid_i", "vid_j")
    )
    # population axis: one entry per (pair, population) with its own
    # decay scale — the per-population block matrices of the reference.
    pop_scale = F.create_map(
        *[x for p, s in LD_POPS for x in (F.lit(p), F.lit(s))]
    )
    per_pop = sym.withColumn(
        "population", F.explode(F.array(*[F.lit(p) for p, _ in LD_POPS]))
    ).withColumn(
        "r",
        F.round(
            F.exp(
                -F.abs(F.col("idx_j") - F.col("idx_i"))
                / (F.lit(float(LD_INDEX_BAND)) * pop_scale[F.col("population")])
            ),
            6,
        ),
    )
    # The row's variant is the exploding side (vid_i); the joined side
    # is its tag — both orientations of every pair are present.
    oriented = per_pop.select(
        "contig",
        "population",
        F.col("vid_i").alias("variant_id"),
        F.col("vid_j").alias("tag_variant_id"),
        "r",
    )
    filtered = oriented.filter(F.col("r") * F.col("r") >= LD_INDEX_MIN_R2)
    wide = filtered.groupBy("contig", "variant_id", "tag_variant_id").agg(
        *[
            F.max(F.when(F.col("population") == p, F.col("r"))).alias(f"r_{p}")
            for p, _ in LD_POPS
        ],
        F.count("*").alias("n_pops"),
    )
    wv = Window.partitionBy("contig", "variant_id")
    return wide.withColumn("n_tags", F.count("*").over(wv))


def _ld_index_sql() -> str:
    pop_values = ", ".join(f"('{p}', {s!r})" for p, s in LD_POPS)
    r_cols = ",\n         ".join(
        f"MAX(CASE WHEN population = '{p}' THEN r END) AS r_{p}"
        for p, _ in LD_POPS
    )
    return f"""
WITH ranked AS (
  SELECT contig, point_id AS variant_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY contig ORDER BY pos, point_id) - 1
              AS INT) AS idx
  FROM ({SUMSTATS_SQL}) WHERE signif >= {LD_INDEX_SIGNIF!r}
),
tri AS (
  SELECT a.contig, a.idx AS idx_i, b.idx AS idx_j,
         a.variant_id AS vid_i, b.variant_id AS vid_j
  FROM ranked a JOIN ranked b
    ON a.contig = b.contig AND b.idx >= a.idx
   AND b.idx - a.idx <= {LD_INDEX_BAND}
),
per_pop AS (
  SELECT t.*, p.population,
         ROUND(EXP(-(t.idx_j - t.idx_i)
                   / ({float(LD_INDEX_BAND)!r} * p.scale)), 6) AS r
  FROM tri t CROSS JOIN (VALUES {pop_values}) AS p(population, scale)
),
sym AS (
  SELECT contig, population, vid_i AS variant_id, vid_j AS tag_variant_id, r
  FROM per_pop
  UNION ALL
  SELECT contig, population, vid_j AS variant_id, vid_i AS tag_variant_id, r
  FROM per_pop WHERE idx_i <> idx_j
),
filtered AS (SELECT * FROM sym WHERE r * r >= {LD_INDEX_MIN_R2!r}),
wide AS (
  SELECT contig, variant_id, tag_variant_id,
         {r_cols},
         COUNT(*) AS n_pops
  FROM filtered GROUP BY 1, 2, 3
)
SELECT *, COUNT(*) OVER (PARTITION BY contig, variant_id) AS n_tags
FROM wide
"""


LD_INDEX_SQL = _ld_index_sql()
REGISTRY["ld_index_build"] = QuerySpec(q_ld_index_build, LD_INDEX_SQL)


# --- LD clumping fed from the built index ---------------------------------
LD_CLUMP_IDX_R2 = 0.5


def q_ld_clump_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_is_lead_linked`` (method/clump.py:20) against the REAL LDIndex:
    a lead is dominated when a more significant same-study lead appears
    among its LD tags with max-population r² over threshold — the
    production wiring (clump reads LDIndex), replacing the synthetic
    distance-decay r of ``ld_clump``."""
    ss = sumstats(spark, sf_dir).filter(F.col("signif") >= LD_INDEX_SIGNIF)
    idx = q_ld_index_build(spark, sf_dir)
    r_best = F.greatest(*[F.col(f"r_{p}") for p, _ in LD_POPS])
    tags = idx.filter(
        (r_best * r_best >= LD_CLUMP_IDX_R2)
        & (F.col("variant_id") != F.col("tag_variant_id"))
    ).select("variant_id", "tag_variant_id")
    b = ss.select(
        F.col("point_id").alias("tag_variant_id"),
        F.col("study_id").alias("b_study"),
        F.col("signif").alias("b_signif"),
        F.col("point_id").alias("b_id"),
    )
    linked = (
        ss.join(tags, ss.point_id == tags.variant_id)
        .join(b, on="tag_variant_id")
        .filter(
            (F.col("b_study") == F.col("study_id"))
            & (
                (F.col("b_signif") > F.col("signif"))
                | (
                    (F.col("b_signif") == F.col("signif"))
                    & (F.col("b_id") < F.col("point_id"))
                )
            )
        )
        .select("point_id")
        .distinct()
    )
    return ss.join(linked, on="point_id", how="left_anti").select(
        "point_id", "study_id", "contig", "pos", "signif"
    )


def _ld_clump_indexed_sql() -> str:
    r_best = "GREATEST(" + ", ".join(f"r_{p}" for p, _ in LD_POPS) + ")"
    return f"""
WITH ss AS (SELECT * FROM ({SUMSTATS_SQL}) WHERE signif >= {LD_INDEX_SIGNIF!r}),
ldx AS ({LD_INDEX_SQL}),
tags AS (
  SELECT variant_id, tag_variant_id FROM ldx
  WHERE {r_best} * {r_best} >= {LD_CLUMP_IDX_R2!r}
    AND variant_id <> tag_variant_id
)
SELECT point_id, study_id, contig, pos, signif
FROM ss a
WHERE NOT EXISTS (
  SELECT 1 FROM tags t JOIN ss b ON b.point_id = t.tag_variant_id
  WHERE t.variant_id = a.point_id AND b.study_id = a.study_id
    AND (b.signif > a.signif
         OR (b.signif = a.signif AND b.point_id < a.point_id))
)
"""


REGISTRY["ld_clump_indexed"] = QuerySpec(q_ld_clump_indexed, _ld_clump_indexed_sql())


# --- PICS fed from the built index ----------------------------------------
def q_pics_finemap_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PICS posteriors with r² read from the LDIndex (method/pics.py
    wired to dataset/ld_index.py — the production configuration),
    replacing the distance-decay r² of ``pics_finemap``. Tags absent
    from the lead's LD set get a null posterior, exactly as the
    reference drops non-ldSet tags from the credible set."""
    from pyspark.sql import Window

    from gentropy_spark.functions.distributions import norm_sf_col
    from gentropy_spark.operators.clumping import _cluster_seq
    from gentropy_spark.plans.genomics import CLUMP_WINDOW_US

    ss = sumstats(spark, sf_dir).filter(F.col("signif") >= LD_INDEX_SIGNIF)
    clustered = _cluster_seq(
        ss, "study_id", "point_id", CLUMP_WINDOW_US
    )
    keys = ["study_id", "contig", "cluster_seq"]
    ordered = Window.partitionBy(*keys).orderBy(
        F.col("signif").desc(), F.col("pos").asc(), F.col("point_id").asc()
    )
    ann = (
        clustered.withColumn("nlp_lead", F.first(F.col("signif") / 10.0).over(ordered))
        .withColumn("lead_pos", F.first("pos").over(ordered))
        .withColumn("lead_id", F.first("point_id").over(ordered))
    )
    idx = q_ld_index_build(spark, sf_dir)
    r_best = F.greatest(*[F.col(f"r_{p}") for p, _ in LD_POPS])
    tags = idx.select(
        F.col("variant_id").alias("lead_id"),
        F.col("tag_variant_id").alias("point_id"),
        (F.round(r_best, 6) * F.round(r_best, 6)).alias("r2"),
    )
    withr = ann.join(tags, on=["lead_id", "point_id"], how="left")
    mu = F.col("nlp_lead") * F.col("r2")
    std = (
        F.sqrt(1.0 - F.pow(F.sqrt(F.col("r2")), 6.4))
        * F.sqrt(F.col("nlp_lead"))
        / 2.0
    )
    prob = (
        F.when(F.col("point_id") == F.col("lead_id"), F.lit(1.0))
        .when(
            (F.col("r2") >= 0.5) & (F.col("nlp_lead") > 0.0),
            2.0 * norm_sf_col((F.col("nlp_lead") - mu) / std),
        )
        .when(F.col("r2") >= 0.5, F.lit(1.0))
    )
    grp = Window.partitionBy(*keys)
    return (
        withr.withColumn("prob", prob)
        .withColumn("prob_sum", F.sum("prob").over(grp))
        .select(
            *keys,
            "point_id",
            "pos",
            F.round("r2", 6).alias("r2"),
            F.round(F.col("prob") / F.col("prob_sum"), 6).alias("pics_pp"),
        )
    )


def _pics_indexed_sql() -> str:
    from gentropy_spark.functions.distributions import norm_sf_sql
    from gentropy_spark.plans.genomics import CLUMP_WINDOW_US, _clustered_sql

    r_best = "GREATEST(" + ", ".join(f"r_{p}" for p, _ in LD_POPS) + ")"
    clustered = _clustered_sql(LD_INDEX_SIGNIF, CLUMP_WINDOW_US)
    z = (
        "((nlp_lead) - (nlp_lead) * r2)"
        " / (SQRT(1.0 - POW(SQRT(r2), 6.4)) * SQRT(nlp_lead) / 2.0)"
    )
    prob = (
        f"CASE WHEN point_id = lead_id THEN 1.0 "
        f"WHEN r2 >= 0.5 AND nlp_lead > 0 THEN 2.0 * {norm_sf_sql(z)} "
        f"WHEN r2 >= 0.5 THEN 1.0 END"
    )
    return f"""
WITH clustered AS ({clustered}),
ann AS (
  SELECT *,
    FIRST_VALUE(signif / 10.0) OVER w AS nlp_lead,
    FIRST_VALUE(pos) OVER w AS lead_pos,
    FIRST_VALUE(point_id) OVER w AS lead_id
  FROM clustered
  WINDOW w AS (PARTITION BY study_id, contig, cluster_seq
               ORDER BY signif DESC, pos, point_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
ldx AS ({LD_INDEX_SQL}),
tags AS (
  SELECT variant_id AS lead_id, tag_variant_id AS point_id,
         ROUND({r_best}, 6) * ROUND({r_best}, 6) AS r2
  FROM ldx
),
withr AS (
  SELECT a.*, t.r2 FROM ann a
  LEFT JOIN tags t ON t.lead_id = a.lead_id AND t.point_id = a.point_id
),
with_prob AS (
  SELECT *, {prob} AS prob FROM withr
)
SELECT study_id, contig, cluster_seq, point_id, pos,
       ROUND(r2, 6) AS r2,
       ROUND(prob / SUM(prob) OVER (PARTITION BY study_id, contig, cluster_seq), 6)
         AS pics_pp
FROM with_prob
"""


REGISTRY["pics_finemap_indexed"] = QuerySpec(
    q_pics_finemap_indexed, _pics_indexed_sql()
)


# --- PanUKBB LD variant-index allele alignment ------------------------------
def q_panukbb_ld_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PanUKBB LD-index allele alignment against the OT variant annotation.

    Reference: datasource/pan_ukbb_ld/ld.py:48 ``align_ld_index_alleles``
    — the Hail LD variant index (contig / position / two-element
    allele array / block-matrix row idx) is normalized (chr prefix
    strip, allele unpack, (chrom,pos,ref,alt) dedup), LEFT-joined to
    the deduped variant annotation on (chromosome, position), kept
    when the alleles match directly, match flipped, or the annotation
    is absent (:99); ``alleleOrder`` is -1 for flipped rows (the sign
    later applied to off-diagonal LD entries, :187), alleles are
    rewritten to the annotation's orientation, and per-idx duplicates
    are resolved by rank over alleleOrder desc keeping rank 1 (:147)
    — preferring the direct-orientation row. The Hail-specific
    ``BlockMatrix.read`` half-matrix densification is not reproduced.
    """
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    eid = F.col("event_id")
    bases = F.array(F.lit("A"), F.lit("C"), F.lit("G"), F.lit("T"))
    a1 = F.element_at(bases, (eid % 4 + 1).cast("int"))
    a2 = F.element_at(bases, ((eid % 4 + 1 + eid % 3) % 4 + 1).cast("int"))
    ht = ev.select(
        F.concat(F.lit("chr"), ((eid % 22) + 1).cast("string")).alias(
            "contig"
        ),
        ((eid * 53) % 1_000_000).alias("position"),
        F.array(a1, a2).alias("alleles"),
        eid.alias("idx"),
    )
    # The reference dropDuplicates here (:81); dropDuplicates keeps an
    # ARBITRARY survivor, which is fine for its pipeline but not for an
    # oracle-hashed query — resolved deterministically to the min idx.
    ht_norm = (
        ht.withColumn(
            "chromosome", F.element_at(F.split(F.col("contig"), "chr"), 2)
        )
        .withColumn("reference_allele", F.element_at(F.col("alleles"), 1))
        .withColumn("alternate_allele", F.element_at(F.col("alleles"), 2))
        .groupBy(
            "chromosome", "position", "reference_allele", "alternate_allele"
        )
        .agg(F.min("idx").alias("idx"))
    )
    va = (
        ev.filter(eid % 5 != 0)
        .select(
            ((eid % 22) + 1).cast("string").alias("chromosome"),
            ((eid * 53) % 1_000_000).alias("position"),
            F.when(eid % 7 == 0, F.lit("AT"))
            .when(eid % 3 == 0, a2)
            .otherwise(a1)
            .alias("va_ref"),
            F.when(eid % 7 == 0, F.lit("GG"))
            .when(eid % 3 == 0, a1)
            .otherwise(a2)
            .alias("va_alt"),
        )
        .dropDuplicates(["chromosome", "position", "va_ref", "va_alt"])
    )
    ref, alt = F.col("reference_allele"), F.col("alternate_allele")
    direct = (ref == F.col("va_ref")) & (alt == F.col("va_alt"))
    flipped = (ref == F.col("va_alt")) & (alt == F.col("va_ref"))
    joined = (
        ht_norm.join(va, on=["chromosome", "position"], how="left")
        .filter(
            direct
            | flipped
            | F.col("va_ref").isNull()
            | F.col("va_alt").isNull()
        )
        .withColumn(
            "allele_order", F.when(flipped, F.lit(-1)).otherwise(F.lit(1))
        )
        .withColumn(
            "new_ref", F.when(flipped, F.col("va_ref")).otherwise(ref)
        )
        .withColumn(
            "new_alt", F.when(flipped, F.col("va_alt")).otherwise(alt)
        )
        .select(
            F.concat_ws(
                "_",
                "chromosome",
                F.col("position").cast("string"),
                "new_ref",
                "new_alt",
            ).alias("variant_id"),
            "chromosome",
            "position",
            F.col("new_ref").alias("reference_allele"),
            F.col("new_alt").alias("alternate_allele"),
            "allele_order",
            "idx",
        )
    )
    w = Window.partitionBy("idx").orderBy(F.col("allele_order").desc())
    return (
        joined.withColumn("rank", F.rank().over(w))
        .filter(F.col("rank") == 1)
        .drop("rank")
    )


PANUKBB_ALIGN_SQL = """
WITH ht AS (
  SELECT 'chr' || CAST((event_id % 22) + 1 AS VARCHAR) AS contig,
         (event_id * 53) % 1000000 AS position,
         (['A','C','G','T'])[CAST(event_id % 4 AS INT) + 1] AS a1,
         (['A','C','G','T'])
           [CAST((event_id % 4 + 1 + event_id % 3) % 4 AS INT) + 1] AS a2,
         event_id AS idx
  FROM events
),
ht_norm AS (
  SELECT str_split(contig, 'chr')[2] AS chromosome, position,
         a1 AS reference_allele, a2 AS alternate_allele,
         MIN(idx) AS idx
  FROM ht
  GROUP BY 1, 2, 3, 4
),
va AS (
  SELECT DISTINCT CAST((event_id % 22) + 1 AS VARCHAR) AS chromosome,
         (event_id * 53) % 1000000 AS position,
         CASE WHEN event_id % 7 = 0 THEN 'AT'
              WHEN event_id % 3 = 0 THEN (['A','C','G','T'])
                [CAST((event_id % 4 + 1 + event_id % 3) % 4 AS INT) + 1]
              ELSE (['A','C','G','T'])[CAST(event_id % 4 AS INT) + 1]
         END AS va_ref,
         CASE WHEN event_id % 7 = 0 THEN 'GG'
              WHEN event_id % 3 = 0 THEN (['A','C','G','T'])
                [CAST(event_id % 4 AS INT) + 1]
              ELSE (['A','C','G','T'])
                [CAST((event_id % 4 + 1 + event_id % 3) % 4 AS INT) + 1]
         END AS va_alt
  FROM events WHERE event_id % 5 <> 0
),
joined AS (
  SELECT h.chromosome, h.position,
         CASE WHEN h.reference_allele = v.va_alt
                   AND h.alternate_allele = v.va_ref THEN -1
              ELSE 1 END AS allele_order,
         CASE WHEN h.reference_allele = v.va_alt
                   AND h.alternate_allele = v.va_ref
              THEN v.va_ref ELSE h.reference_allele END AS reference_allele,
         CASE WHEN h.reference_allele = v.va_alt
                   AND h.alternate_allele = v.va_ref
              THEN v.va_alt ELSE h.alternate_allele END AS alternate_allele,
         h.idx
  FROM ht_norm h
  LEFT JOIN va v USING (chromosome, position)
  WHERE (h.reference_allele = v.va_ref AND h.alternate_allele = v.va_alt)
     OR (h.reference_allele = v.va_alt AND h.alternate_allele = v.va_ref)
     OR v.va_ref IS NULL OR v.va_alt IS NULL
),
ranked AS (
  SELECT *, RANK() OVER (PARTITION BY idx
                         ORDER BY allele_order DESC) AS rnk
  FROM joined
)
SELECT chromosome || '_' || CAST(position AS VARCHAR) || '_'
         || reference_allele || '_' || alternate_allele AS variant_id,
       chromosome, position, reference_allele, alternate_allele,
       allele_order, idx
FROM ranked WHERE rnk = 1
"""


REGISTRY["panukbb_ld_align"] = QuerySpec(q_panukbb_ld_align, PANUKBB_ALIGN_SQL)
