"""Variant-index and credible-set QC queries (SURVEY §2 extras).

- variant_id_normalize: long/unplaced variant ID hashing, mirroring
  /root/reference/src/gentropy/dataset/variant_index.py:73
  ``hash_long_variant_ids`` exactly (OTVAR_ md5 forms, threshold
  branch, pass-through for short IDs).
- credible_set_qc: per-locus posterior sanity (Σpp ≈ 1, set size
  bounds) — the credible_set_qc.py step re-expressed as one grouped
  aggregation over the credible-set filter output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gentropy_spark.functions.exact import exact_sum
from gentropy_spark.plans.genomics import CREDIBLE_SQL, SUMSTATS_SQL, q_credible_set
from gentropy_spark.plans.registry import QuerySpec
from gentropy_spark.session import prepared
from gentropy_spark.sources.readers import read_table  # noqa: F401 (module pattern)

ID_HASH_THRESHOLD = 40


def hash_long_variant_ids(
    variant_id: F.Column, chromosome: F.Column, position: F.Column, threshold: int
) -> F.Column:
    """Reference-faithful ID normalisation (variant_index.py:73)."""
    return (
        F.when(
            chromosome.isNull() | position.isNull(),
            F.concat(F.lit("OTVAR_"), F.md5(variant_id)),
        )
        .when(
            F.length(variant_id) >= threshold,
            F.concat_ws(
                "_", F.lit("OTVAR"), chromosome, position, F.md5(variant_id)
            ),
        )
        .otherwise(variant_id)
    )


def q_variant_id_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic variant IDs with long-allele and unplaced cases."""
    ss_sql_cols = (
        read_table(spark, sf_dir, "events")
        .select(
            F.col("event_id").alias("point_id"),
            F.col("event_type").alias("contig"),
            F.unix_micros(F.col("ts")).alias("pos"),
        )
    )
    raw_id = F.concat_ws(
        "_",
        F.col("contig"),
        F.col("pos"),
        F.expr("repeat('A', CAST(point_id % 30 AS INT))"),
    )
    chrom = F.when(F.col("point_id") % 17 != 0, F.col("contig"))
    pos = F.when(F.col("point_id") % 17 != 0, F.col("pos"))
    return ss_sql_cols.select(
        "point_id",
        raw_id.alias("raw_variant_id"),
        hash_long_variant_ids(raw_id, chrom, pos, ID_HASH_THRESHOLD).alias(
            "variant_id"
        ),
        (F.length(raw_id) >= ID_HASH_THRESHOLD).alias("was_hashed"),
    )


VARIANT_ID_SQL = f"""
WITH base AS (
  SELECT event_id AS point_id, event_type AS contig, epoch_us(ts) AS pos
  FROM events
),
built AS (
  SELECT point_id,
         CONCAT_WS('_', contig, pos, repeat('A', CAST(point_id % 30 AS INT))) AS raw_variant_id,
         CASE WHEN point_id % 17 <> 0 THEN contig END AS chrom,
         CASE WHEN point_id % 17 <> 0 THEN pos END AS cpos
  FROM base
)
SELECT point_id, raw_variant_id,
  CASE
    WHEN chrom IS NULL OR cpos IS NULL THEN 'OTVAR_' || md5(raw_variant_id)
    WHEN LENGTH(raw_variant_id) >= {ID_HASH_THRESHOLD}
      THEN CONCAT_WS('_', 'OTVAR', chrom, cpos, md5(raw_variant_id))
    ELSE raw_variant_id
  END AS variant_id,
  LENGTH(raw_variant_id) >= {ID_HASH_THRESHOLD} AS was_hashed
FROM built
"""


def q_credible_set_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-locus credible-set sanity: Σpp, set size, abnormal-pip flag.

    Reference: credible_set_qc.py step + study_locus.py:439
    ``qc_abnormal_pips`` (valid when cumulative posterior mass is in
    [0.99, 1.0] for a full locus; here the 95% set keeps mass ≤ 1).
    """
    cs = q_credible_set(spark, sf_dir)
    # pp is 9-dp-truncated upstream → the decimal(38,9) cast is exact;
    # outputs are truncated (IEEE-exact), not rounded (tie-divergent).
    t6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    return cs.groupBy("study_id", "contig").agg(
        F.count("*").alias("set_size"),
        t6(exact_sum(F.col("pp"), 9)).alias("pp_mass"),
        F.max("pp").alias("top_pp"),
    ).select(
        "study_id",
        "contig",
        "set_size",
        "pp_mass",
        t6(F.col("top_pp")).alias("top_pp"),
        ((F.col("pp_mass") >= 0.95) & (F.col("pp_mass") <= 1.000001)).alias(
            "mass_in_range"
        ),
    )


CREDIBLE_QC_SQL = f"""
WITH cs AS ({CREDIBLE_SQL})
SELECT study_id, contig,
       COUNT(*) AS set_size,
       FLOOR(CAST(SUM(CAST(pp AS DECIMAL(38,9))) AS DOUBLE) * 1e6) / 1e6 AS pp_mass,
       FLOOR(MAX(pp) * 1e6) / 1e6 AS top_pp,
       (FLOOR(CAST(SUM(CAST(pp AS DECIMAL(38,9))) AS DOUBLE) * 1e6) / 1e6 >= 0.95
        AND FLOOR(CAST(SUM(CAST(pp AS DECIMAL(38,9))) AS DOUBLE) * 1e6) / 1e6 <= 1.000001)
         AS mass_in_range
FROM cs
GROUP BY 1, 2
"""


REGISTRY: dict[str, QuerySpec] = {
    "variant_id_normalize": QuerySpec(q_variant_id_normalize, VARIANT_ID_SQL),
    "credible_set_qc": QuerySpec(q_credible_set_qc, CREDIBLE_QC_SQL),
}


# --- allele direction / variant typing -----------------------------------
ALLELES = ["A", "C", "G", "T", "AT", "GCC"]


def q_allele_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allele-level direction ops on synthetic ref/alt pairs.

    Reference: dataset/variant_direction.py — reverse, complement,
    strand-ambiguity and variant-type coding (1=SNP 2=INS 3=DEL 4=MNP).
    """
    from gentropy_spark.functions.alleles import (
        complement_allele,
        is_strand_ambiguous,
        reverse_allele,
        variant_type,
    )

    ev = read_table(spark, sf_dir, "events")
    allele_arr = F.array(*[F.lit(a) for a in ALLELES])
    ref = F.element_at(allele_arr, (F.col("event_id") % 6 + 1).cast("int"))
    alt = F.element_at(allele_arr, (F.expr("event_id div 7") % 6 + 1).cast("int"))
    return ev.select(
        "event_id",
        ref.alias("ref"),
        alt.alias("alt"),
        reverse_allele(ref).alias("ref_reversed"),
        complement_allele(ref).alias("ref_complement"),
        is_strand_ambiguous(ref, alt).alias("strand_ambiguous"),
        variant_type(ref, alt).alias("variant_type"),
    )


ALLELE_SQL = """
WITH built AS (
  SELECT event_id,
    (['A','C','G','T','AT','GCC'])[(event_id % 6) + 1] AS ref,
    (['A','C','G','T','AT','GCC'])[((event_id // 7) % 6) + 1] AS alt
  FROM events
)
SELECT event_id, ref, alt,
  reverse(upper(ref)) AS ref_reversed,
  translate(upper(ref), 'ACGT', 'TGCA') AS ref_complement,
  (LENGTH(ref) = LENGTH(alt)
   AND reverse(translate(upper(alt), 'ACGT', 'TGCA')) = upper(ref))
    AS strand_ambiguous,
  CAST(CASE WHEN LENGTH(alt) > LENGTH(ref) THEN 2
            WHEN LENGTH(alt) < LENGTH(ref) THEN 3
            WHEN LENGTH(alt) = 1 AND LENGTH(ref) = 1 THEN 1
            ELSE 4 END AS INT) AS variant_type
FROM built
"""


def q_direction_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effect-direction concordance between study pairs sharing tag
    buckets — the cross-study sign test the direction dataset feeds."""
    from gentropy_spark.plans.genomics import TAG_BUCKET_US

    ss_sql = SUMSTATS_SQL  # noqa: F841 (mirrors oracle structure)
    ev = read_table(spark, sf_dir, "events")
    tags = ev.select(
        F.col("user_id").alias("study_id"),
        F.col("event_type").alias("contig"),
        F.expr(f"unix_micros(ts) div {TAG_BUCKET_US}").alias("bucket"),
        F.signum(F.col("value") - 150.0).alias("direction"),
    )
    left = tags.filter(F.col("study_id") % 2 == 0).select(
        "contig", "bucket", F.col("study_id").alias("left_study"),
        F.col("direction").alias("left_dir"),
    )
    right = tags.filter(F.col("study_id") % 2 == 1).select(
        "contig", "bucket", F.col("study_id").alias("right_study"),
        F.col("direction").alias("right_dir"),
    )
    pairs = left.join(right, on=["contig", "bucket"])
    return pairs.groupBy("left_study", "right_study").agg(
        F.count("*").alias("n_shared"),
        F.sum(
            F.when(F.col("left_dir") == F.col("right_dir"), 1).otherwise(0)
        ).cast("long").alias("n_concordant"),
        F.round(
            F.sum(
                F.when(F.col("left_dir") == F.col("right_dir"), 1).otherwise(0)
            )
            / F.count("*"),
            6,
        ).alias("concordance"),
    )


def _concordance_sql() -> str:
    from gentropy_spark.plans.genomics import TAG_BUCKET_US

    return f"""
WITH tags AS (
  SELECT user_id AS study_id, event_type AS contig,
         epoch_us(ts) // {TAG_BUCKET_US} AS bucket,
         SIGN(value - 150.0) AS direction
  FROM events
)
SELECT l.study_id AS left_study, r.study_id AS right_study,
       COUNT(*) AS n_shared,
       CAST(SUM(CASE WHEN l.direction = r.direction THEN 1 ELSE 0 END) AS BIGINT)
         AS n_concordant,
       ROUND(SUM(CASE WHEN l.direction = r.direction THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS concordance
FROM tags l
JOIN tags r ON l.contig = r.contig AND l.bucket = r.bucket
WHERE l.study_id % 2 = 0 AND r.study_id % 2 = 1
GROUP BY 1, 2
"""


REGISTRY.update(
    {
        "allele_direction": QuerySpec(q_allele_direction, ALLELE_SQL),
        "direction_concordance": QuerySpec(q_direction_concordance, _concordance_sql()),
    }
)


# --- chromosome/contig label validation ----------------------------------
VALID_CONTIGS = ["click", "view", "purchase", "signup", "error"]


def q_contig_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag rows whose contig label is not in the contig index.

    Reference: study_locus.py:252 ``validate_chromosome_label`` (flag,
    never drop) against dataset/contig_index.py. A literal IN-list at
    this cardinality; a broadcast join against the index table at real
    cardinality.
    """
    from gentropy_spark.plans.genomics import sumstats as _sumstats

    ss = _sumstats(spark, sf_dir)
    valid = F.col("contig").isin(VALID_CONTIGS)
    return ss.select(
        "point_id",
        "contig",
        valid.alias("contig_valid"),
        F.when(~valid, F.lit("INVALID_CHROMOSOME")).otherwise(F.lit("")).alias(
            "qc_flag"
        ),
    )


CONTIG_VALIDATION_SQL = f"""
SELECT point_id, contig,
       contig IN ('click','view','purchase','signup','error') AS contig_valid,
       CASE WHEN contig IN ('click','view','purchase','signup','error')
            THEN '' ELSE 'INVALID_CHROMOSOME' END AS qc_flag
FROM ({SUMSTATS_SQL})
"""


REGISTRY["contig_validation"] = QuerySpec(q_contig_validation, CONTIG_VALIDATION_SQL)


# --- VEP-style consequence annotation ------------------------------------
# Reference: datasource/ensembl/vep_parser.py — per-variant transcript
# consequences with a severity-score map (:341 _get_vep_prediction),
# most-severe-transcript selection (:291 _get_most_severe_transcript)
# and distance/biotype processing (:945 _process_overlap). Re-expressed
# flat (one row per variant×gene consequence + an is_most_severe pick)
# over the synthetic gene grid: nested-array outputs hash poorly across
# engines, and the flat form is the same information with exact oracle
# comparability.
CONSEQUENCE_SEVERITY = [
    ("exon_variant", 0.66),
    ("intron_variant", 0.4),
    ("upstream_gene_variant", 0.25),
    ("downstream_gene_variant", 0.2),
]
EXON_GRID_US = 1_800_000_000  # 30 min alternating exon/intron blocks


def q_vep_consequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from gentropy_spark.plans.genomics import sumstats as _sumstats
    from gentropy_spark.plans.l2g import gene_index
    from gentropy_spark.plans.synthmap import (
        BASE_US,
        GENE_SPACING_US,
        GENE_WIDTH_US,
        V2G_FLANK_US,
    )

    variants = _sumstats(spark, sf_dir).filter(F.col("signif") >= 50.0)
    genes = gene_index(spark, sf_dir).withColumn(
        "gk", F.expr(f"(gene_start - {BASE_US}) div {GENE_SPACING_US}")
    )
    k_hi = F.expr(f"(pos - {BASE_US} + {V2G_FLANK_US}) div {GENE_SPACING_US}")
    k_lo = F.expr(
        f"(pos - {BASE_US} - {GENE_WIDTH_US} - {V2G_FLANK_US}) div {GENE_SPACING_US}"
    )
    vars_k = variants.withColumn("gk", F.explode(F.sequence(k_lo, k_hi)))
    joined = vars_k.join(F.broadcast(genes), on=["contig", "gk"]).filter(
        (F.col("pos") >= F.col("gene_start") - V2G_FLANK_US)
        & (F.col("pos") <= F.col("gene_end") + V2G_FLANK_US)
    )
    in_body = (F.col("pos") >= F.col("gene_start")) & (
        F.col("pos") <= F.col("gene_end")
    )
    in_exon = (
        F.expr(f"((pos - gene_start) div {EXON_GRID_US}) % 2") == 0
    )
    term = (
        F.when(in_body & in_exon, F.lit("exon_variant"))
        .when(in_body, F.lit("intron_variant"))
        .when(F.col("pos") < F.col("gene_start"), F.lit("upstream_gene_variant"))
        .otherwise(F.lit("downstream_gene_variant"))
    )
    sev: F.Column = F.lit(None).cast("double")
    for name, score in reversed(CONSEQUENCE_SEVERITY):
        sev = F.when(F.col("consequence_term") == name, F.lit(score)).otherwise(sev)
    dist = F.greatest(
        F.col("gene_start") - F.col("pos"),
        F.col("pos") - F.col("gene_end"),
        F.lit(0),
    )
    annotated = joined.withColumn("consequence_term", term).select(
        "point_id",
        "study_id",
        "contig",
        "gene_id",
        "consequence_term",
        sev.alias("severity"),
        dist.alias("distance_us"),
    )
    w = Window.partitionBy("point_id", "study_id").orderBy(
        F.col("severity").desc(), F.col("distance_us").asc(), F.col("gene_id").asc()
    )
    return annotated.withColumn(
        "is_most_severe", F.row_number().over(w) == 1
    )


def _vep_sql() -> str:
    from gentropy_spark.plans.l2g import GENE_INDEX_SQL
    from gentropy_spark.plans.synthmap import V2G_FLANK_US

    # Scientific notation: DuckDB parses plain decimal literals as
    # DECIMAL, which would hash-mismatch the Spark DOUBLE column.
    sev_case = "CASE consequence_term " + " ".join(
        f"WHEN '{n}' THEN {format(s, '.17e')}" for n, s in CONSEQUENCE_SEVERITY
    ) + " END"
    return f"""
WITH variants AS (SELECT * FROM ({SUMSTATS_SQL}) WHERE signif >= 50.0),
genes AS ({GENE_INDEX_SQL}),
joined AS (
  SELECT point_id, study_id, v.contig, gene_id, pos, gene_start, gene_end
  FROM variants v JOIN genes g ON v.contig = g.contig
  WHERE pos >= gene_start - {V2G_FLANK_US} AND pos <= gene_end + {V2G_FLANK_US}
),
termed AS (
  SELECT point_id, study_id, contig, gene_id,
    CASE
      WHEN pos >= gene_start AND pos <= gene_end
           AND ((pos - gene_start) // {EXON_GRID_US}) % 2 = 0 THEN 'exon_variant'
      WHEN pos >= gene_start AND pos <= gene_end THEN 'intron_variant'
      WHEN pos < gene_start THEN 'upstream_gene_variant'
      ELSE 'downstream_gene_variant'
    END AS consequence_term,
    GREATEST(gene_start - pos, pos - gene_end, 0) AS distance_us
  FROM joined
)
SELECT point_id, study_id, contig, gene_id, consequence_term,
       {sev_case} AS severity,
       distance_us,
       ROW_NUMBER() OVER (PARTITION BY point_id, study_id
                          ORDER BY {sev_case} DESC, distance_us, gene_id) = 1
         AS is_most_severe
FROM termed
"""


REGISTRY["vep_consequence_annotate"] = QuerySpec(q_vep_consequence, _vep_sql())


# --- study-index validation ----------------------------------------------
# Reference: dataset/study_index.py — :279 validate_unique_study_id
# (duplicate flag, never drop), :436 validate_study_type against
# VALID_TYPES, :298 validate_project_id (deprecated projects), plus
# the target/gene resolution check (:461). The synthetic study index
# derives from customer: study_id, a type label (with some invalid),
# a project and a linked gene id (some unresolvable). Flags accumulate
# as a ';'-joined string for exact cross-engine hashing.
STUDY_TYPES = ("gwas", "eqtl", "pqtl", "sqtl", "tuqtl")
DEPRECATED_PROJECTS = ("proj_legacy",)


def q_study_index_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cust = read_table(spark, sf_dir, "customer")
    part = read_table(spark, sf_dir, "part")
    n_genes = part.groupBy().agg(F.count("*").alias("gn"))
    types = F.array(
        *[F.lit(t) for t in STUDY_TYPES], F.lit("bulk_rna"), F.lit("")
    )
    base = cust.crossJoin(F.broadcast(n_genes)).select(
        # duplicate ids on purpose: key div 50 collides within nations
        F.expr("c_custkey div 50").alias("study_id"),
        F.col("c_custkey").alias("row_id"),
        F.element_at(types, (F.col("c_custkey") % 7 + 1).cast("int")).alias(
            "study_type"
        ),
        F.when(F.col("c_custkey") % 13 == 0, F.lit("proj_legacy"))
        .otherwise(F.concat(F.lit("proj_"), (F.col("c_nationkey") % 5).cast("string")))
        .alias("project_id"),
        # some gene links point past the gene index (unresolvable)
        (F.col("c_custkey") % (F.col("gn") + F.lit(500)) + 1).alias("gene_id"),
        F.col("gn"),
    )
    w_id = Window.partitionBy("study_id")
    dup = F.count("*").over(w_id) > 1
    bad_type = ~F.col("study_type").isin(*STUDY_TYPES)
    deprecated = F.col("project_id").isin(*DEPRECATED_PROJECTS)
    unresolved = F.col("gene_id") > F.col("gn")
    flags = F.concat_ws(
        ";",
        F.when(dup, F.lit("DUPLICATED_STUDY")),
        F.when(bad_type, F.lit("UNKNOWN_STUDY_TYPE")),
        F.when(deprecated, F.lit("DEPRECATED_PROJECT")),
        F.when(unresolved, F.lit("UNRESOLVED_TARGET")),
    )
    return base.select(
        "study_id",
        "row_id",
        "study_type",
        "project_id",
        "gene_id",
        flags.alias("qc_flags"),
        (flags == "").alias("is_valid"),
    )


STUDY_INDEX_VALIDATE_SQL = """
WITH gc AS (SELECT COUNT(*) AS gn FROM part),
base AS (
  SELECT c_custkey // 50 AS study_id,
         c_custkey AS row_id,
         (['gwas','eqtl','pqtl','sqtl','tuqtl','bulk_rna',''])
           [CAST(c_custkey % 7 AS INT) + 1] AS study_type,
         CASE WHEN c_custkey % 13 = 0 THEN 'proj_legacy'
              ELSE 'proj_' || CAST(c_nationkey % 5 AS VARCHAR) END AS project_id,
         c_custkey % (gn + 500) + 1 AS gene_id,
         gn
  FROM customer, gc
),
flagged AS (
  SELECT *,
    COUNT(*) OVER (PARTITION BY study_id) > 1 AS dup,
    study_type NOT IN ('gwas','eqtl','pqtl','sqtl','tuqtl') AS bad_type,
    project_id IN ('proj_legacy') AS deprecated,
    gene_id > gn AS unresolved
  FROM base
)
SELECT study_id, row_id, study_type, project_id, gene_id,
  concat_ws(';',
    CASE WHEN dup THEN 'DUPLICATED_STUDY' END,
    CASE WHEN bad_type THEN 'UNKNOWN_STUDY_TYPE' END,
    CASE WHEN deprecated THEN 'DEPRECATED_PROJECT' END,
    CASE WHEN unresolved THEN 'UNRESOLVED_TARGET' END) AS qc_flags,
  (concat_ws(';',
    CASE WHEN dup THEN 'DUPLICATED_STUDY' END,
    CASE WHEN bad_type THEN 'UNKNOWN_STUDY_TYPE' END,
    CASE WHEN deprecated THEN 'DEPRECATED_PROJECT' END,
    CASE WHEN unresolved THEN 'UNRESOLVED_TARGET' END) = '') AS is_valid
FROM flagged
"""


REGISTRY["study_index_validate"] = QuerySpec(
    q_study_index_validate, STUDY_INDEX_VALIDATE_SQL
)


# --- StudyLocus QC flag parity sweep --------------------------------------
# Reference: dataset/study_locus.py:62 ``StudyLocusQualityCheck`` — all
# 23 flags, re-expressed as ONE accumulate-never-drop surface over the
# clustered significant associations (one row per candidate study
# locus). Flag semantics that the synthetic tables can express
# structurally use the real joins (window/LD dominance :100/:99 via
# method/clump.py:20, SuSiE-region overlap :1243 qc_explained_by_SuSiE,
# PIP-mass sanity :439 qc_abnormal_pips, MHC region :1180, top-hit
# redundancy :1204); study-/variant-level annotations the tables lack
# (population, gnomAD mapping, curation) derive deterministically from
# ids — the same convention as ``study_index_validate`` above. Flags
# ACCUMULATE in enum order into a ';'-joined string; nothing is
# dropped (the reference's update_quality_flag contract).
SUBSIGNIF_NLP = 120.0
# LD for the dominance flag reaches past the clump window (leads are
# >= CLUMP_WINDOW_US apart, so the r2>=0.5 clump gap can never link
# two leads): r2 >= 0.05 ~ gap of tau*ln(20).
LD_FLAG_R2 = 0.05
MHC_CONTIG = "signup"
MHC_START_US = 1_704_240_000_000_000  # 2024-01-03
MHC_END_US = 1_704_499_200_000_000  # 2024-01-06


_QC_FLAGS_SPARK_SQL: dict[int, str] = {}
_QC_FLAGS_SRC_VIEW = "qcflags_sumstats_src"


def _study_locus_qc_spark_sql(n_parts: int) -> str:
    """Spark-dialect SQL for the 23-flag sweep (memoised per n_parts).

    r9 perf rewrite, second pass (first pass got 8 exchanges down to
    3; this one reaches the minimum):

    1. ONE SCAN, ONE EXCHANGE, ZERO JOINS. The base rows
       (signif >= SIGNIF_MIN) are a SUBSET of the locus-breaker rows
       (signif >= LB_BASELINE < SIGNIF_MIN), so the whole sweep reads
       the source once at the wider threshold, computes the
       locus-breaker clustering first, filters to the significant
       subset, and derives every annotation as a window over the same
       hash(study_id) exchange — `REPARTITION(n, study_id)` satisfies
       every window's ClusteredDistribution via the subset-key rule,
       including the per-study sumstats bit that previously forced
       its own aggregate + broadcast. n is the session's default
       parallelism at build time (total cores — the classic sizing),
       embedded because AQE would otherwise coalesce this small-data
       shuffle to one task and serialize the whole window stack
       (measured ~2x wall at sf0.1).

    2. SuSiE regions WITHOUT arrays or joins: LB_FLANK_US <
       LB_DIST_US, so a region [mn-flank, mx+flank] can only ever
       contain rows of its OWN locus-breaker cluster (the next
       cluster starts > LB_DIST_US past mx). `exists(regions, ...)`
       therefore reduces to "my lb cluster has a qualifying lead" —
       one MAX window — which also removes the only higher-order
       function from the flag projection (HOFs block codegen for the
       entire projection).

    3. Dominance probe as two O(n) running frames: max_gap <
       2*CLUMP_WINDOW_US and consecutive leads are > CLUMP_WINDOW_US
       apart, so only the IMMEDIATE neighbouring leads can sit within
       +/-max_gap — `LAST_VALUE(... IGNORE NULLS)` over ascending and
       descending unbounded-preceding frames (both incremental)
       replaces the O(n*frame) sliding RANGE MAX. The generator
       asserts the constant relations that make both reductions
       exact.

    4. Factored scalars: ref/alt alleles and the PICS z-score are
       computed once as columns instead of textually duplicated
       through the erfc polynomial and the 23 CASE arms — smaller
       Catalyst tree, faster parse/optimize (~0.4s -> ~0.15s driver
       time per build). The z CASE-guard preserves the original
       lazy-branch semantics under ANSI (division by zero at
       pos = lead_pos must not evaluate).

    The arithmetic (erfc polynomial, PICS prob) reuses the same
    Horner-form builders as the DuckDB oracle, so Spark evaluates
    bit-identical expressions; both exceptAll directions are empty at
    sf0.01 and sf0.1 against the previous 3-exchange formulation.
    """
    if n_parts in _QC_FLAGS_SPARK_SQL:
        return _QC_FLAGS_SPARK_SQL[n_parts]
    import math as _math

    from gentropy_spark.functions.distributions import norm_sf_sql
    from gentropy_spark.plans.genomics import (
        CLUMP_WINDOW_US,
        LB_BASELINE,
        LB_DIST_US,
        LB_FLANK_US,
        LB_LEAD,
        PICS_TAU,
        SIGNIF_MIN,
    )

    max_gap = int(PICS_TAU * _math.log(1.0 / LD_FLAG_R2))
    # Constant relations the zero-join formulation depends on (see
    # docstring items 2 and 3); fail LOUD if a constants change ever
    # invalidates either reduction. Explicit raises, not assert —
    # these are load-bearing and must survive `python -O`.
    if not LB_FLANK_US < LB_DIST_US:
        raise ValueError("susie-region window reduction invalid")
    if not max_gap < 2 * CLUMP_WINDOW_US:
        raise ValueError("prev/next dominance reduction invalid")
    tau_f = repr(float(PICS_TAU))
    view = _QC_FLAGS_SRC_VIEW
    valid_list = ", ".join(f"'{c}'" for c in VALID_CONTIGS)
    allele_sql = ", ".join(f"'{a}'" for a in ALLELES)
    ref, alt = "ref_a", "alt_a"
    ref_e = (
        f"element_at(array({allele_sql}), CAST(point_id % 6 AS INT) + 1)"
    )
    alt_e = (
        f"element_at(array({allele_sql}),"
        " CAST((point_id div 7) % 6 AS INT) + 1)"
    )
    palindromic = (
        f"(LENGTH({ref}) = LENGTH({alt})"
        f" AND reverse(translate(upper({alt}), 'ACGT', 'TGCA'))"
        f" = upper({ref}))"
    )
    z = (
        "((nlp_lead) - (nlp_lead) * r2)"
        " / (SQRT(1.0 - POW(SQRT(r2), 6.4)) * SQRT(nlp_lead) / 2.0)"
    )
    prob = (
        "CASE WHEN pos = lead_pos THEN 1.0 "
        f"WHEN r2 >= 0.5 AND nlp_lead > 0 THEN 2.0 * {norm_sf_sql('zv')} "
        "WHEN r2 >= 0.5 THEN 1.0 END"
    )
    own_struct = "named_struct('s', signif, 'nid', -point_id)"
    in_susie = "in_susie"
    conds = [
        ("SUBSIGNIFICANT_FLAG", f"signif < {SUBSIGNIF_NLP!r}"),
        ("NO_GENOMIC_LOCATION_FLAG", "point_id % 97 = 0"),
        ("COMPOSITE_FLAG", "point_id % 101 = 0"),
        ("INCONSISTENCY_FLAG", f"{ref} = {alt}"),
        ("NON_MAPPED_VARIANT_FLAG", "point_id % 89 = 0"),
        ("PALINDROMIC_ALLELE_FLAG", palindromic),
        ("AMBIGUOUS_STUDY", "study_id % 31 = 0"),
        ("UNRESOLVED_LD", "point_id % 41 = 0"),
        ("LD_CLUMPED", "ld_clumped"),
        ("WINDOW_CLUMPED", "lead_rank > 1"),
        ("NO_POPULATION", "study_id % 23 = 0"),
        ("FLAGGED_STUDY", "study_id % 7 = 0"),
        ("MISSING_STUDY", "study_id % 29 = 0"),
        ("DUPLICATED_STUDYLOCUS_ID", "dup_id"),
        ("INVALID_VARIANT_IDENTIFIER", "any_unresolvable = 1"),
        ("TOP_HIT", "point_id % 11 = 0"),
        (
            "IN_MHC",
            f"(contig = '{MHC_CONTIG}' AND pos >= {MHC_START_US}"
            f" AND pos <= {MHC_END_US})",
        ),
        ("REDUNDANT_PICS_TOP_HIT", "point_id % 11 = 0 AND has_ss"),
        (
            "EXPLAINED_BY_SUSIE",
            f"(study_id + cluster_seq) % 3 <> 0 AND {in_susie}",
        ),
        (
            "ABNORMAL_PIPS",
            "(pip_mass IS NULL OR pip_mass < 0.99"
            " OR pip_mass > 1.000001)",
        ),
        ("OUT_OF_SAMPLE_LD", "study_id % 19 = 0"),
        ("INVALID_CHROMOSOME", f"contig NOT IN ({valid_list})"),
        ("TOP_HIT_AND_SUMMARY_STATS", "point_id % 11 = 0 AND has_ss"),
    ]
    flag_cases = ",\n    ".join(
        f"CASE WHEN {cond} THEN '{name}' END" for name, cond in conds
    )
    _QC_FLAGS_SPARK_SQL[n_parts] = f"""
WITH src50 AS (
  SELECT /*+ REPARTITION({n_parts}, study_id) */
    point_id, study_id, contig, pos, signif
  FROM {view} WHERE signif >= {LB_BASELINE}
),
lb_gap AS (
  SELECT *, pos - LAG(pos) OVER (PARTITION BY study_id, contig
                                 ORDER BY pos, point_id) AS lb_gap
  FROM src50
),
lb_clustered AS (
  SELECT *,
    SUM(CASE WHEN lb_gap IS NULL OR lb_gap > {LB_DIST_US} THEN 1 ELSE 0 END)
      OVER (PARTITION BY study_id, contig ORDER BY pos, point_id
            ROWS UNBOUNDED PRECEDING) AS lb_seq
  FROM lb_gap
),
lb_ranked AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY study_id, contig, lb_seq
                       ORDER BY signif DESC, pos, point_id) AS lb_rank
  FROM lb_clustered
),
lb_flagged AS (
  SELECT *,
    MAX(CASE WHEN lb_rank = 1 AND signif >= {LB_LEAD} THEN 1 ELSE 0 END)
      OVER (PARTITION BY study_id, contig, lb_seq) AS lb_has_lead
  FROM lb_ranked
),
ss AS (
  SELECT point_id, study_id, contig, pos, signif,
    lb_has_lead = 1 AND (study_id + lb_seq) % 3 = 0 AS in_susie
  FROM lb_flagged WHERE signif >= {SIGNIF_MIN}
),
clustered AS (
  SELECT *,
    SUM(CASE WHEN gap IS NULL OR gap > {CLUMP_WINDOW_US} THEN 1 ELSE 0 END)
      OVER (PARTITION BY study_id, contig ORDER BY pos, point_id
            ROWS UNBOUNDED PRECEDING) AS cluster_seq
  FROM (
    SELECT *, pos - LAG(pos) OVER (PARTITION BY study_id, contig
                                   ORDER BY pos, point_id) AS gap
    FROM ss
  )
),
ranked AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY study_id, contig, cluster_seq
                       ORDER BY signif DESC, pos, point_id) AS lead_rank,
    FIRST_VALUE(signif / 10.0)
      OVER (PARTITION BY study_id, contig, cluster_seq
            ORDER BY signif DESC, pos, point_id) AS nlp_lead,
    FIRST_VALUE(pos)
      OVER (PARTITION BY study_id, contig, cluster_seq
            ORDER BY signif DESC, pos, point_id) AS lead_pos,
    MAX(CASE WHEN point_id % 89 = 0 THEN 1 ELSE 0 END)
      OVER (PARTITION BY study_id, contig, cluster_seq)
      AS any_unresolvable,
    COUNT(*) OVER (PARTITION BY study_id, contig, pos) > 1 AS dup_id,
    MAX(CASE WHEN point_id % 11 = 0 THEN 0 ELSE 1 END)
      OVER (PARTITION BY study_id) = 1 AS has_ss
  FROM clustered
),
with_prob AS (
  SELECT *, {prob} AS prob
  FROM (
    SELECT *, CASE WHEN pos <> lead_pos AND r2 >= 0.5 AND nlp_lead > 0
                   THEN {z} END AS zv
    FROM (SELECT *, EXP(-ABS(pos - lead_pos) / {tau_f}) AS r2 FROM ranked)
  )
),
probed AS (
  SELECT *,
    SUM(prob) OVER (PARTITION BY study_id, contig, cluster_seq)
      AS prob_sum,
    LAST_VALUE(CASE WHEN lead_rank = 1
                    THEN named_struct('p', pos, 'v', {own_struct}) END, TRUE)
      OVER (PARTITION BY study_id, contig ORDER BY pos, point_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_lead,
    LAST_VALUE(CASE WHEN lead_rank = 1
                    THEN named_struct('p', pos, 'v', {own_struct}) END, TRUE)
      OVER (PARTITION BY study_id, contig ORDER BY pos DESC, point_id DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS next_lead
  FROM with_prob
),
flag_base AS (
  SELECT *,
    CAST(SUM(CAST(ROUND(prob / prob_sum, 6) AS DECIMAL(38,6)))
         OVER (PARTITION BY study_id, contig, cluster_seq) AS DOUBLE)
      AS pip_mass,
    lead_rank = 1 AND (
      (prev_lead IS NOT NULL AND pos - prev_lead.p <= {max_gap}
       AND prev_lead.v > {own_struct})
      OR (next_lead IS NOT NULL AND next_lead.p - pos <= {max_gap}
          AND next_lead.v > {own_struct})) AS ld_clumped,
    {ref_e} AS ref_a, {alt_e} AS alt_a
  FROM probed
),
flagged AS (
  SELECT point_id, study_id, contig, pos, cluster_seq, lead_rank,
    concat_ws(';',
    {flag_cases}) AS qc_flags
  FROM flag_base
)
SELECT point_id, study_id, contig, pos, cluster_seq,
  lead_rank = 1 AS is_lead,
  qc_flags,
  CASE WHEN qc_flags = '' THEN 0
       ELSE size(split(qc_flags, ';')) END AS n_flags,
  qc_flags = '' AS is_clean
FROM flagged
"""
    return _QC_FLAGS_SPARK_SQL[n_parts]


@prepared
def q_study_locus_qc_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """23-flag QC sweep over the clustered significant associations.

    ``prepared``: the repeated parse+analyze of the large SQL string
    (~0.4s driver time) otherwise dominates the sub-second execution.
    The resolved plan is kept, so later re-registrations of the temp
    view by other sf_dirs don't affect earlier entries.
    """
    from gentropy_spark.plans.genomics import sumstats

    sumstats(spark, sf_dir).createOrReplaceTempView(_QC_FLAGS_SRC_VIEW)
    return spark.sql(
        _study_locus_qc_spark_sql(spark.sparkContext.defaultParallelism)
    )


def _study_locus_qc_sql() -> str:
    import math as _math

    from gentropy_spark.plans.genomics import (
        CLUMP_WINDOW_US,
        LOCUS_BREAKER_SQL,
        PICS_SQL,
        PICS_TAU,
        SIGNIF_MIN,
        _clustered_sql,
    )

    max_gap = int(PICS_TAU * _math.log(1.0 / LD_FLAG_R2))
    valid_list = ", ".join(f"'{c}'" for c in VALID_CONTIGS)
    ref = "(['A','C','G','T','AT','GCC'])[CAST(point_id % 6 AS INT) + 1]"
    alt = "(['A','C','G','T','AT','GCC'])[CAST((point_id // 7) % 6 AS INT) + 1]"
    palindromic = (
        f"(LENGTH({ref}) = LENGTH({alt})"
        f" AND reverse(translate(upper({alt}), 'ACGT', 'TGCA')) = upper({ref}))"
    )
    conds = [
        ("SUBSIGNIFICANT_FLAG", f"signif < {SUBSIGNIF_NLP!r}"),
        ("NO_GENOMIC_LOCATION_FLAG", "point_id % 97 = 0"),
        ("COMPOSITE_FLAG", "point_id % 101 = 0"),
        ("INCONSISTENCY_FLAG", f"{ref} = {alt}"),
        ("NON_MAPPED_VARIANT_FLAG", "point_id % 89 = 0"),
        ("PALINDROMIC_ALLELE_FLAG", palindromic),
        ("AMBIGUOUS_STUDY", "study_id % 31 = 0"),
        ("UNRESOLVED_LD", "point_id % 41 = 0"),
        ("LD_CLUMPED", "COALESCE(ld_clumped, FALSE)"),
        ("WINDOW_CLUMPED", "lead_rank > 1"),
        ("NO_POPULATION", "study_id % 23 = 0"),
        ("FLAGGED_STUDY", "study_id % 7 = 0"),
        ("MISSING_STUDY", "study_id % 29 = 0"),
        ("DUPLICATED_STUDYLOCUS_ID", "dup_id"),
        ("INVALID_VARIANT_IDENTIFIER", "any_unresolvable"),
        ("TOP_HIT", "point_id % 11 = 0"),
        (
            "IN_MHC",
            f"(contig = '{MHC_CONTIG}' AND pos >= {MHC_START_US}"
            f" AND pos <= {MHC_END_US})",
        ),
        ("REDUNDANT_PICS_TOP_HIT", "point_id % 11 = 0 AND has_sumstats"),
        (
            "EXPLAINED_BY_SUSIE",
            "(study_id + cluster_seq) % 3 <> 0 AND COALESCE(in_susie_region, FALSE)",
        ),
        (
            "ABNORMAL_PIPS",
            "(pip_mass IS NULL OR pip_mass < 0.99 OR pip_mass > 1.000001)",
        ),
        ("OUT_OF_SAMPLE_LD", "study_id % 19 = 0"),
        ("INVALID_CHROMOSOME", f"contig NOT IN ({valid_list})"),
        ("TOP_HIT_AND_SUMMARY_STATS", "point_id % 11 = 0 AND has_sumstats"),
    ]
    flag_cases = ",\n    ".join(
        f"CASE WHEN {cond} THEN '{name}' END" for name, cond in conds
    )
    n_flags = " + ".join(f"CAST({cond} AS INT)" for _, cond in conds)
    return f"""
WITH ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY study_id, contig, cluster_seq
                               ORDER BY signif DESC, pos, point_id) AS lead_rank
  FROM ({_clustered_sql(SIGNIF_MIN, CLUMP_WINDOW_US)})
),
dominated AS (
  SELECT a.point_id, TRUE AS ld_clumped
  FROM ranked a
  WHERE a.lead_rank = 1 AND EXISTS (
    SELECT 1 FROM ranked b
    WHERE b.lead_rank = 1 AND b.study_id = a.study_id
      AND b.contig = a.contig AND ABS(a.pos - b.pos) <= {max_gap}
      AND (b.signif > a.signif
           OR (b.signif = a.signif AND b.point_id < a.point_id))
  )
),
susie_regions AS (
  SELECT study_id, contig, locus_start, locus_end
  FROM ({LOCUS_BREAKER_SQL}) WHERE (study_id + cluster_seq) % 3 = 0
),
susie_hit AS (
  SELECT DISTINCT r.point_id, TRUE AS in_susie_region
  FROM ranked r JOIN susie_regions s
    ON r.study_id = s.study_id AND r.contig = s.contig
   AND r.pos >= s.locus_start AND r.pos <= s.locus_end
),
pip AS (
  SELECT study_id, contig, cluster_seq,
         CAST(SUM(CAST(pics_pp AS DECIMAL(38,6))) AS DOUBLE) AS pip_mass
  FROM ({PICS_SQL}) GROUP BY 1, 2, 3
),
ann AS (
  SELECT r.*, d.ld_clumped, h.in_susie_region, p.pip_mass,
    COUNT(*) OVER (PARTITION BY
      md5(CONCAT_WS('_', r.study_id, r.contig, r.pos))) > 1 AS dup_id,
    MAX(CASE WHEN r.point_id % 89 = 0 THEN 1 ELSE 0 END)
      OVER (PARTITION BY r.study_id, r.contig, r.cluster_seq) = 1
      AS any_unresolvable,
    MAX(CASE WHEN r.point_id % 11 = 0 THEN 0 ELSE 1 END)
      OVER (PARTITION BY r.study_id) = 1 AS has_sumstats
  FROM ranked r
  LEFT JOIN dominated d USING (point_id)
  LEFT JOIN susie_hit h USING (point_id)
  LEFT JOIN pip p USING (study_id, contig, cluster_seq)
)
SELECT point_id, study_id, contig, pos, cluster_seq,
  lead_rank = 1 AS is_lead,
  concat_ws(';',
    {flag_cases}) AS qc_flags,
  {n_flags} AS n_flags,
  (concat_ws(';',
    {flag_cases}) = '') AS is_clean
FROM ann
"""


REGISTRY["study_locus_qc_flags"] = QuerySpec(
    q_study_locus_qc_flags, _study_locus_qc_sql()
)


# --- H43: ancestry → LD-population aggregation (array HOFs, zero-shuffle) --
ANCESTRY_LABELS = ("european", "african", "finnish", "east_asian", "american", "nfe_est")
ANCESTRY_TO_POP = {
    "european": "nfe",
    "nfe_est": "nfe",
    "african": "afr",
    "american": "afr",
    "finnish": "fin",
    "east_asian": "fin",
}
LD_POPULATIONS = ("nfe", "afr", "fin")


def q_ancestry_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-study ancestry → LD-population relative sample sizes.

    Re-expresses study_index.py:182 aggregate_and_map_ancestries
    (reference: /root/reference/src/gentropy/dataset/study_index.py:182)
    the Spark-first way: the cohort list stays an ARRAY column and the
    map/aggregate/normalize steps are higher-order functions
    (transform / filter / aggregate) — per-row, zero shuffle, no
    explode of the cohort axis until the final tidy output. At 100 TB
    the difference between this and explode-groupBy is an entire
    shuffle of the cohort table.
    """
    cust = read_table(spark, sf_dir, "customer")
    label = lambda k: F.element_at(  # noqa: E731
        F.array(*[F.lit(x) for x in ANCESTRY_LABELS]),
        ((F.col("c_custkey") + k) % 6 + 1).cast("int"),
    )
    size = lambda k: ((F.col("c_custkey") % 100 + 1) * (k + 1)).cast("double")  # noqa: E731
    samples = F.array(
        *[
            F.struct(label(k).alias("ancestry"), size(k).alias("n"))
            for k in range(3)
        ]
    )
    pop_map = F.create_map(
        *[x for a, p in ANCESTRY_TO_POP.items() for x in (F.lit(a), F.lit(p))]
    )
    mapped = F.transform(
        samples,
        lambda s: F.struct(
            pop_map[s["ancestry"]].alias("pop"), s["n"].alias("n")
        ),
    )
    def pop_sum(p):
        return F.aggregate(
            F.filter(mapped, lambda s: s["pop"] == p),
            F.lit(0.0),
            lambda acc, s: acc + s["n"],
        )

    total = None
    for p in LD_POPULATIONS:
        total = pop_sum(p) if total is None else total + pop_sum(p)
    out = F.filter(
        F.array(
            *[
                F.struct(
                    F.lit(p).alias("ld_population"),
                    F.round(pop_sum(p) / total, 6).alias("rel_size"),
                )
                for p in LD_POPULATIONS
            ]
        ),
        lambda s: s["rel_size"] > 0.0,
    )
    return (
        cust.select(
            F.col("c_custkey").alias("study_id"), F.explode(out).alias("s")
        )
        .select(
            "study_id",
            F.col("s.ld_population").alias("ld_population"),
            F.col("s.rel_size").alias("rel_size"),
        )
    )


def _ancestry_sql() -> str:
    case = "CASE " + " ".join(
        f"WHEN (c_custkey + {k}) % 6 + 1 = {i + 1} THEN '{ANCESTRY_TO_POP[a]}'"
        for k in range(3)
        for i, a in enumerate(ANCESTRY_LABELS)
    )
    # per-k CASE is identical; build one CASE per k on the label index
    per_k = ",\n    ".join(
        "("
        + "CASE "
        + " ".join(
            f"WHEN (c_custkey + {k}) % 6 + 1 = {i + 1} THEN '{ANCESTRY_TO_POP[a]}'"
            for i, a in enumerate(ANCESTRY_LABELS)
        )
        + f" END, CAST((c_custkey % 100 + 1) * {k + 1} AS DOUBLE))"
        for k in range(3)
    )
    _ = case
    return f"""
WITH cohorts AS (
  SELECT c_custkey AS study_id, u.* FROM customer,
  LATERAL (VALUES {per_k}) AS u(pop, n)
),
sums AS (
  SELECT study_id, pop AS ld_population, SUM(n) AS n
  FROM cohorts GROUP BY 1, 2
)
SELECT study_id, ld_population,
       ROUND(n / SUM(n) OVER (PARTITION BY study_id), 6) AS rel_size
FROM sums
WHERE n > 0
"""


REGISTRY["ancestry_aggregate"] = QuerySpec(q_ancestry_aggregate, _ancestry_sql())


# --- H75: variant-effect score normalisation -------------------------------
_VEN_METHODS = (
    "LOFTEE", "SIFT", "PolyPhen", "AlphaMissense", "CADD", "Pangolin",
    "LossOfFunctionCuration", "SpliceAI", "VEP", "GERP", "FoldX",
)


def q_variant_effect_normalise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-silico predictor score normalisation to a common [-1, 1] axis.

    Reference: dataset/variant_index.py:382 ``VariantEffectNormaliser``
    — the method-dispatch cascade (:411 resolve_predictor_methods)
    over ELEVEN predictors, each with its published piecewise-linear
    rescale (:443 _rescaleColumnValue — min-max scaling):

    - FoldX |ΔΔG| capped at 2 kcal/mol → [0,1] (:467)
    - CADD 4-segment 0-10/-1..0, 10-20/0..0.5, 20-30/0.5..0.75,
      30-81/0.75..1 (:488)
    - GERP 5-segment with saturation outside [-3, 6] (:514)
    - LoF-curation 5-point ordinal verdicts → {±1, ±0.5, 0} (:546)
    - LOFTEE HC=1 / LC=0.85 (:575)
    - SIFT 1-score split at 0.95 BY THE 2-DP-ROUNDED value but
      rescaled on the raw value (:597 — mirrored exactly; synthetic
      scores are 2-dp so the round is an identity and the branch
      choice is tie-free cross-engine)
    - PolyPhen benign/possibly/probably segments, unknown → NULL (:641)
    - AlphaMissense 0.06/0.77 segments (:672)
    - Pangolin |score| split at 0.14 (:696)
    - SpliceAI / VEP pass through unnormalised (:437)

    The reference applies this inside a transform() over the
    variantEffect struct array; here the per-method kernel IS the
    operator, applied over an exploded predictor table (same algebra,
    flat and hash-checkable). All arithmetic is division/multiplication
    by constants — IEEE-identical cross-engine; rounded to 6 dp.
    """
    ev = read_table(spark, sf_dir, "events")
    eid = F.col("event_id")
    method = F.element_at(
        F.array(*[F.lit(m) for m in _VEN_METHODS]), (eid % 11 + 1).cast("int")
    )
    # 2-dp scores in [0, 1) for the bounded predictors; wider ranges
    # derived per-method below.
    u = (eid % 101) / 100.0  # exact 2-dp in [0, 1]
    raw_score = (
        F.when(method == "CADD", (eid % 8100) / 100.0)
        .when(method == "GERP", -4.0 + (eid % 1200) / 100.0)
        .when(method == "FoldX", -3.0 + (eid % 600) / 100.0)
        .when(method == "Pangolin", -1.0 + (eid % 200) / 100.0)
        .when(method.isin("SIFT", "PolyPhen", "AlphaMissense"), u)
        .when(method.isin("SpliceAI", "VEP"), u)
    )
    assessment = (
        F.when(
            method == "LOFTEE",
            F.element_at(
                F.array(F.lit("HC"), F.lit("LC"), F.lit("OS")),
                (eid % 3 + 1).cast("int"),
            ),
        )
        .when(
            method == "LossOfFunctionCuration",
            F.element_at(
                F.array(
                    F.lit("lof"), F.lit("likely_lof"), F.lit("uncertain"),
                    F.lit("likely_not_lof"), F.lit("not_lof"),
                ),
                (eid % 5 + 1).cast("int"),
            ),
        )
        .when(
            method == "SIFT",
            F.when(1 - u >= 0.95, F.lit("deleterious"))
            .when(eid % 2 == 0, F.lit("tolerated"))
            .otherwise(F.lit("tolerated_low_confidence")),
        )
        .when(
            method == "PolyPhen",
            F.when(eid % 23 == 0, F.lit("unknown"))
            .when(u <= 0.446, F.lit("benign"))
            .when(u <= 0.908, F.lit("possibly_damaging"))
            .otherwise(F.lit("probably_damaging")),
        )
    )
    effects = ev.select(
        F.concat_ws(
            "_",
            ((eid % 22) + 1).cast("string"),
            ((eid * 61) % 2_000_000).cast("string"),
        ).alias("variant_id"),
        method.alias("method"),
        raw_score.alias("score"),
        assessment.alias("assessment"),
    )

    def rescale(c, lo, hi, new_lo, new_hi):
        return (c - lo) / (hi - lo) * (new_hi - new_lo) + new_lo

    s, a = F.col("score"), F.col("assessment")
    one_minus = 1 - s
    one_minus_r = 1 - F.round(s, 2)
    normalised = (
        F.when(
            F.col("method") == "LOFTEE",
            F.when(a == "HC", F.lit(1.0)).when(a == "LC", F.lit(0.85)),
        )
        .when(
            F.col("method") == "SIFT",
            F.when(
                (one_minus_r >= 0.95) & (a == "deleterious"),
                rescale(one_minus, 0.95, 1.0, 0.5, 1.0),
            )
            .when(
                (one_minus_r >= 0.95) & (a == "deleterious_low_confidence"),
                rescale(one_minus, 0.95, 1.0, 0.0, 0.5),
            )
            .when(
                (one_minus_r <= 0.95) & (a == "tolerated_low_confidence"),
                rescale(one_minus, 0.0, 0.95, -0.5, 0.0),
            )
            .when(
                (one_minus_r <= 0.95) & (a == "tolerated"),
                rescale(one_minus, 0.0, 0.95, -1.0, -0.5),
            ),
        )
        .when(
            F.col("method") == "PolyPhen",
            F.when(a == "unknown", F.lit(None).cast("double"))
            .when(s <= 0.446, rescale(s, 0.0, 0.446, -1.0, -0.25))
            .when(s <= 0.908, rescale(s, 0.446, 0.908, -0.25, 0.25))
            .otherwise(rescale(s, 0.908, 1.0, 0.25, 1.0)),
        )
        .when(
            F.col("method") == "AlphaMissense",
            F.when(s < 0.06, rescale(s, 0.0, 0.06, -1.0, -0.25))
            .when(s < 0.77, rescale(s, 0.06, 0.77, -0.25, 0.25))
            .otherwise(rescale(s, 0.77, 1.0, 0.25, 1.0)),
        )
        .when(
            F.col("method") == "CADD",
            F.when(s <= 10, rescale(s, 0.0, 10.0, -1.0, 0.0))
            .when(s <= 20, rescale(s, 10.0, 20.0, 0.0, 0.5))
            .when(s <= 30, rescale(s, 20.0, 30.0, 0.5, 0.75))
            .otherwise(rescale(s, 30.0, 81.0, 0.75, 1.0)),
        )
        .when(
            F.col("method") == "Pangolin",
            F.when(
                F.abs(s) > 0.14, rescale(F.abs(s), 0.14, 1.0, 0.5, 1.0)
            ).otherwise(rescale(F.abs(s), 0.0, 0.14, 0.0, 0.5)),
        )
        .when(
            F.col("method") == "LossOfFunctionCuration",
            F.when(a == "lof", F.lit(1.0))
            .when(a == "likely_lof", F.lit(0.5))
            .when(a == "uncertain", F.lit(0.0))
            .when(a == "likely_not_lof", F.lit(-0.5))
            .when(a == "not_lof", F.lit(-1.0)),
        )
        .when(F.col("method").isin("SpliceAI", "VEP"), s)
        .when(
            F.col("method") == "GERP",
            F.when(s > 6, F.lit(1.0))
            .when(s >= 2, rescale(s, 2.0, 6.0, 0.75, 1.0))
            .when(s >= 0, rescale(s, 0.0, 2.0, 0.25, 0.75))
            .when(s >= -3, rescale(s, -3.0, 0.0, 0.0, 0.25))
            .otherwise(F.lit(0.0)),
        )
        .when(
            F.col("method") == "FoldX",
            F.when(F.abs(s) >= 2, F.lit(1.0)).otherwise(
                rescale(F.abs(s), 0.0, 2.0, 0.0, 1.0)
            ),
        )
    )
    return effects.select(
        "variant_id",
        "method",
        F.round(s, 6).alias("score"),
        "assessment",
        F.round(normalised, 6).alias("normalised_score"),
    )


def _ven_sql() -> str:
    methods = "(['" + "','".join(_VEN_METHODS) + "'])"

    def rs(c, lo, hi, nlo, nhi):
        return f"({c} - {lo}) / ({hi} - {lo}) * ({nhi} - {nlo}) + {nlo}"

    return f"""
WITH base AS (
  SELECT CAST((event_id % 22) + 1 AS VARCHAR) || '_'
           || CAST((event_id * 61) % 2000000 AS VARCHAR) AS variant_id,
         {methods}[CAST(event_id % 11 AS INT) + 1] AS method,
         (event_id % 101) / 100.0 AS u,
         event_id
  FROM events
),
effects AS (
  SELECT variant_id, method,
         CASE WHEN method = 'CADD' THEN (event_id % 8100) / 100.0
              WHEN method = 'GERP' THEN -4.0 + (event_id % 1200) / 100.0
              WHEN method = 'FoldX' THEN -3.0 + (event_id % 600) / 100.0
              WHEN method = 'Pangolin' THEN -1.0 + (event_id % 200) / 100.0
              WHEN method IN ('SIFT','PolyPhen','AlphaMissense',
                              'SpliceAI','VEP') THEN u
         END AS score,
         CASE WHEN method = 'LOFTEE'
                THEN (['HC','LC','OS'])[CAST(event_id % 3 AS INT) + 1]
              WHEN method = 'LossOfFunctionCuration'
                THEN (['lof','likely_lof','uncertain','likely_not_lof',
                       'not_lof'])[CAST(event_id % 5 AS INT) + 1]
              WHEN method = 'SIFT'
                THEN CASE WHEN 1 - u >= 0.95 THEN 'deleterious'
                          WHEN event_id % 2 = 0 THEN 'tolerated'
                          ELSE 'tolerated_low_confidence' END
              WHEN method = 'PolyPhen'
                THEN CASE WHEN event_id % 23 = 0 THEN 'unknown'
                          WHEN u <= 0.446 THEN 'benign'
                          WHEN u <= 0.908 THEN 'possibly_damaging'
                          ELSE 'probably_damaging' END
         END AS assessment
  FROM base
)
SELECT variant_id, method, ROUND(score, 6) AS score, assessment,
  ROUND(CASE method
    WHEN 'LOFTEE' THEN CASE assessment WHEN 'HC' THEN 1.0
                                       WHEN 'LC' THEN 0.85 END
    WHEN 'SIFT' THEN
      CASE WHEN 1 - ROUND(score, 2) >= 0.95 AND assessment = 'deleterious'
             THEN {rs("(1 - score)", 0.95, 1.0, 0.5, 1.0)}
           WHEN 1 - ROUND(score, 2) >= 0.95
                AND assessment = 'deleterious_low_confidence'
             THEN {rs("(1 - score)", 0.95, 1.0, 0.0, 0.5)}
           WHEN 1 - ROUND(score, 2) <= 0.95
                AND assessment = 'tolerated_low_confidence'
             THEN {rs("(1 - score)", 0.0, 0.95, -0.5, 0.0)}
           WHEN 1 - ROUND(score, 2) <= 0.95 AND assessment = 'tolerated'
             THEN {rs("(1 - score)", 0.0, 0.95, -1.0, -0.5)} END
    WHEN 'PolyPhen' THEN
      CASE WHEN assessment = 'unknown' THEN NULL
           WHEN score <= 0.446 THEN {rs("score", 0.0, 0.446, -1.0, -0.25)}
           WHEN score <= 0.908 THEN {rs("score", 0.446, 0.908, -0.25, 0.25)}
           ELSE {rs("score", 0.908, 1.0, 0.25, 1.0)} END
    WHEN 'AlphaMissense' THEN
      CASE WHEN score < 0.06 THEN {rs("score", 0.0, 0.06, -1.0, -0.25)}
           WHEN score < 0.77 THEN {rs("score", 0.06, 0.77, -0.25, 0.25)}
           ELSE {rs("score", 0.77, 1.0, 0.25, 1.0)} END
    WHEN 'CADD' THEN
      CASE WHEN score <= 10 THEN {rs("score", 0.0, 10.0, -1.0, 0.0)}
           WHEN score <= 20 THEN {rs("score", 10.0, 20.0, 0.0, 0.5)}
           WHEN score <= 30 THEN {rs("score", 20.0, 30.0, 0.5, 0.75)}
           ELSE {rs("score", 30.0, 81.0, 0.75, 1.0)} END
    WHEN 'Pangolin' THEN
      CASE WHEN ABS(score) > 0.14
             THEN {rs("ABS(score)", 0.14, 1.0, 0.5, 1.0)}
           ELSE {rs("ABS(score)", 0.0, 0.14, 0.0, 0.5)} END
    WHEN 'LossOfFunctionCuration' THEN
      CASE assessment WHEN 'lof' THEN 1.0 WHEN 'likely_lof' THEN 0.5
                      WHEN 'uncertain' THEN 0.0
                      WHEN 'likely_not_lof' THEN -0.5
                      WHEN 'not_lof' THEN -1.0 END
    WHEN 'SpliceAI' THEN score
    WHEN 'VEP' THEN score
    WHEN 'GERP' THEN
      CASE WHEN score > 6 THEN 1.0
           WHEN score >= 2 THEN {rs("score", 2.0, 6.0, 0.75, 1.0)}
           WHEN score >= 0 THEN {rs("score", 0.0, 2.0, 0.25, 0.75)}
           WHEN score >= -3 THEN {rs("score", -3.0, 0.0, 0.0, 0.25)}
           ELSE 0.0 END
    WHEN 'FoldX' THEN
      CASE WHEN ABS(score) >= 2 THEN 1.0
           ELSE {rs("ABS(score)", 0.0, 2.0, 0.0, 1.0)} END
  END, 6) AS normalised_score
FROM effects
"""


REGISTRY["variant_effect_normalise"] = QuerySpec(
    q_variant_effect_normalise, _ven_sql()
)


# --- H76: credible-set confidence assignment -------------------------------
_CONF_IN_SAMPLE = "SuSiE fine-mapped credible set with in-sample LD"
_CONF_OUT_SAMPLE = "SuSiE fine-mapped credible set with out-of-sample LD"
_CONF_PICS_SS = "PICS fine-mapped credible set extracted from summary statistics"
_CONF_PICS_TOP = "PICS fine-mapped credible set based on reported top hit"
_CONF_UNKNOWN = "Unknown confidence"
_QC_OOS_LD = "Study locus finemapped without in-sample LD reference"
_QC_TOP_HIT = "Study locus from curated top hit"


def q_credible_set_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinal confidence classes for credible sets.

    Reference: dataset/study_locus.py:1423 ``assign_confidence`` — the
    five-class cascade over (finemappingMethod × qualityControls):
    SuSiE/SuSiE-inf split by the OUT_OF_SAMPLE_LD flag, PICS split by
    the TOP_HIT flag, everything else UNKNOWN. The method/flag axes
    are synthesized to cover every branch (including SuSiE-inf and a
    no-method row); the flag membership test is the reference's
    ``array_contains`` over the QC array.
    """
    ev = read_table(spark, sf_dir, "events")
    eid = F.col("event_id")
    method = F.element_at(
        F.array(
            F.lit("SuSie"), F.lit("SuSiE-inf"), F.lit("PICS"),
            F.lit("conditional"), F.lit(None).cast("string"),
        ),
        (eid % 5 + 1).cast("int"),
    )
    qc = F.concat(
        F.when(eid % 3 == 0, F.array(F.lit(_QC_OOS_LD))).otherwise(
            F.array().cast("array<string>")
        ),
        F.when(eid % 7 == 0, F.array(F.lit(_QC_TOP_HIT))).otherwise(
            F.array().cast("array<string>")
        ),
    )
    # r9 advisory fix: concat_ws SKIPS nulls while the oracle's '||'
    # propagates them — identical today (no null user_id in testdata)
    # but a silent divergence trap. Pin identical null semantics by
    # coalescing the nullable key to '' on BOTH sides.
    loci = ev.select(
        F.md5(
            F.concat_ws(
                "_",
                F.coalesce(F.col("user_id").cast("string"), F.lit("")),
                eid.cast("string"),
            )
        ).alias("study_locus_id"),
        method.alias("finemapping_method"),
        qc.alias("quality_controls"),
    )
    is_susie = F.col("finemapping_method").isin("SuSie", "SuSiE-inf")
    has_oos = F.array_contains(F.col("quality_controls"), _QC_OOS_LD)
    has_top = F.array_contains(F.col("quality_controls"), _QC_TOP_HIT)
    return loci.select(
        "study_locus_id",
        "finemapping_method",
        F.array_join(F.col("quality_controls"), ";").alias("qc_csv"),
        F.when(is_susie & ~has_oos, F.lit(_CONF_IN_SAMPLE))
        .when(is_susie & has_oos, F.lit(_CONF_OUT_SAMPLE))
        .when((F.col("finemapping_method") == "PICS") & ~has_top,
              F.lit(_CONF_PICS_SS))
        .when((F.col("finemapping_method") == "PICS") & has_top,
              F.lit(_CONF_PICS_TOP))
        .otherwise(F.lit(_CONF_UNKNOWN))
        .alias("confidence"),
    )


def _confidence_sql() -> str:
    return f"""
WITH loci AS (
  SELECT md5(COALESCE(CAST(user_id AS VARCHAR), '') || '_'
             || CAST(event_id AS VARCHAR)) AS study_locus_id,
         (['SuSie','SuSiE-inf','PICS','conditional',NULL])
           [CAST(event_id % 5 AS INT) + 1] AS finemapping_method,
         (CASE WHEN event_id % 3 = 0 THEN ['{_QC_OOS_LD}']
               ELSE CAST([] AS VARCHAR[]) END)
         || (CASE WHEN event_id % 7 = 0 THEN ['{_QC_TOP_HIT}']
                  ELSE CAST([] AS VARCHAR[]) END) AS quality_controls
  FROM events
)
SELECT study_locus_id, finemapping_method,
       COALESCE(array_to_string(quality_controls, ';'), '') AS qc_csv,
       CASE
         WHEN finemapping_method IN ('SuSie', 'SuSiE-inf')
              AND NOT list_contains(quality_controls, '{_QC_OOS_LD}')
           THEN '{_CONF_IN_SAMPLE}'
         WHEN finemapping_method IN ('SuSie', 'SuSiE-inf')
              AND list_contains(quality_controls, '{_QC_OOS_LD}')
           THEN '{_CONF_OUT_SAMPLE}'
         WHEN finemapping_method = 'PICS'
              AND NOT list_contains(quality_controls, '{_QC_TOP_HIT}')
           THEN '{_CONF_PICS_SS}'
         WHEN finemapping_method = 'PICS'
              AND list_contains(quality_controls, '{_QC_TOP_HIT}')
           THEN '{_CONF_PICS_TOP}'
         ELSE '{_CONF_UNKNOWN}'
       END AS confidence
FROM loci
"""


REGISTRY["credible_set_confidence"] = QuerySpec(
    q_credible_set_confidence, _confidence_sql()
)
