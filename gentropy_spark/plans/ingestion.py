"""Datasource ingestion dialects (SURVEY §2.H — adapter breadth).

One mirrored dialect per reference datasource tree, beyond the
GWAS-Catalog-shaped (`sumstat_harmonise_full`) and FinnGen-meta-shaped
(`sumstat_harmonise_finngen`) pipelines that live in stats_kernel:

- ``eqtl_susie_ingest`` — eQTL-Catalogue SuSiE credible sets
  (datasource/eqtl_catalogue/finemapping.py): dataset-id regexp from
  file paths, credible-set-index parse, rsid-explosion dedup, the
  lbf_variable{1..10} pick, the four-key equi-join with a broadcast
  study-metadata dim, URL-safe study ids, max-PIP lead selection and
  the windowed-logsumexp credible-set log10BF.
- ``ukb_ppp_harmonise`` — UKB-PPP pQTL harmonisation
  (datasource/ukb_ppp_eur + common/processing.py
  harmonise_summary_stats): chr23→X, INFO/MAF gates, snp typing, the
  dual-orientation variant-annotation join with beta/EAF flipping,
  snp_c×flip drop, and χ²(1)-isf SE backfill.
- ``target_index_build`` — gene/target index (dataset/target_index.py):
  TSS priority coalesce, biotype filter, symbol union, PAR X/Y dedup.
- ``amino_acid_variants`` — FoldX ΔΔG ingestion
  (datasource/open_targets/foldex_integration.py).
- ``biosample_index_merge`` — two-ontology biosample index build +
  merge (datasource/biosample_ontologies + dataset/biosample_index.py).
- ``gnomad_variant_ingest`` — gnomAD variant frequencies
  (datasource/gnomad/variants.py) incl. the long-variant-id hashing.
- ``intervals_e2g_ingest`` — rE2G intervals (datasource/intervals/e2g)
  composing on the target-index TSS LUT.
- ``ukbiobank_study_ingest`` — UK Biobank SAIGE/Neale study index
  (datasource/ukbiobank/study_index.py).
- ``decode_aptamer_ingest`` / ``decode_sumstat_harmonise`` — deCODE
  SomaScan aptamer metadata + pQTL harmonisation
  (datasource/decode/*), the sumstats composing on the aptamer map.
- ``finngen_study_ingest`` / ``finngen_finemapping_ingest`` — FinnGen
  study index with EFO curation + SuSiE fine-mapping ingestion
  (datasource/finngen/*).
- ``vep_variant_index_ingest`` — Ensembl VEP output parsing
  (datasource/ensembl/vep_parser.py).
- ``lof_curation_ingest`` — OTAR2075 LoF curation
  (datasource/open_targets/lof_curation.py).

All raw shapes are derived deterministically from the synthetic
tables (events / nation / part / customer / supplier / orders /
lineitem) with exact integer arithmetic so both engines compute
identical values; everything passing through exp/ln is rounded to
6 dp (the repo-wide parity rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gentropy_spark.plans.registry import QuerySpec
from gentropy_spark.session import prepared
from gentropy_spark.sources.readers import read_table

REGISTRY: dict[str, QuerySpec] = {}


# --- eQTL Catalogue: SuSiE credible-set ingestion --------------------------
_QUANT_METHODS = ("ge", "exon", "tx", "leafcutter")
_QTL_TYPE = {"ge": "eqtl", "exon": "eqtl", "tx": "eqtl", "leafcutter": "sqtl"}
_N_LBF = 10
_LOG10E = 0.43429448190325176


def _clean_symbols(c):
    """URL-safe study id (reference common/spark.py:762
    clean_strings_from_symbols): lowercase, non [a-z0-9-_] runs → _."""
    return F.regexp_replace(F.lower(c), "[^a-z0-9-_]+", "_")


@prepared
def q_eqtl_susie_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eQTL-Catalogue SuSiE finemapping → credible-set study loci.

    Mirrors the reference flow end to end on synthetic raw shapes:
    raw credible sets carry an exploded rsid axis (dropped + distinct,
    finemapping.py:295), a file-path column the dataset id is regexp-
    extracted from (:120), and a cs_id the credible-set index is
    parsed from (:97). The per-variant logBF table ships ten
    lbf_variable columns; the matching one is picked by index (:148).
    Study metadata joins by broadcast (:143); the four-key equi-join
    (trait, region, variant, dataset) is the scale shape — never a
    cross join. Lead = max-PIP member per credible set (:226), with
    the credible-set log10BF = logsumexp of member logBFs + ln(1/500)
    prior, computed JVM-side over a deterministic window order (no
    UDF, unlike the reference's numpy logsumexp at study_locus.py:675).
    """
    from gentropy_spark.functions.stats import split_pvalue

    ev = read_table(spark, sf_dir, "events")
    nat = read_table(spark, sf_dir, "nation")

    # Study metadata dim (one row per dataset) — broadcast side.
    meta = nat.select(
        F.concat(
            F.lit("QTD"), F.lpad(F.col("n_nationkey").cast("string"), 6, "0")
        ).alias("dataset_id"),
        F.col("n_name").alias("study_label"),
        F.element_at(
            F.array(*[F.lit(m) for m in _QUANT_METHODS]),
            (F.col("n_nationkey") % 4 + 1).cast("int"),
        ).alias("quant_method"),
        F.concat(F.lit("tissue_"), (F.col("n_nationkey") % 7).cast("string")).alias(
            "sample_group"
        ),
        F.when(F.col("n_nationkey") % 5 == 0, F.lit("single-cell"))
        .otherwise(F.lit("bulk"))
        .alias("source_study_type"),
        F.concat(
            F.lit("UBERON_"), F.lpad(F.col("n_nationkey").cast("string"), 4, "0")
        ).alias("tissue_id"),
        (F.lit(1000) + F.col("n_nationkey") * 17).alias("sample_size"),
    )

    # Raw credible sets: member variants of each credible set, with an
    # rsid explosion exactly like the source TSVs (one row per rsid).
    pos = (F.col("event_id") * 131) % 5_000_000
    variant = F.concat_ws(
        "_",
        F.concat(F.lit("chr"), F.col("event_type")),
        pos.cast("string"),
        F.lit("A"),
        F.lit("G"),
    )
    ds_id = F.concat(
        F.lit("QTD"), F.lpad((F.col("user_id") % 25).cast("string"), 6, "0")
    )
    cs_raw = (
        ev.filter(F.col("event_id") % 2 == 0)
        .select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            F.concat(ds_id, F.lit(".credible_sets.tsv")).alias("file_path"),
            F.concat(
                F.lit("ENSG"),
                F.lpad((F.col("event_id") % 200).cast("string"), 11, "0"),
            ).alias("molecular_trait_id"),
            F.concat(
                F.lit("chr"),
                F.col("event_type"),
                F.lit(":"),
                ((F.col("event_id") % 5) + 1).cast("string"),
            ).alias("region"),
            variant.alias("variant"),
            F.concat(ds_id, F.lit("_L"), ((F.col("event_id") % 3) + 1).cast("string")).alias(
                "cs_id"
            ),
            (((F.col("event_id") * 31) % 999 + 1) / 1000.0).alias("pip"),
            (((F.col("event_id") * 53) % 999 + 1) / 1000.0).alias("pvalue"),
            F.round((F.col("value") - 150.0) / 100.0, 6).alias("beta"),
            F.round(0.5 + (F.col("event_id") % 10) / 20.0, 6).alias("se"),
            F.when(F.col("event_id") % 4 == 0, F.array(F.lit("rs1"), F.lit("rs2")))
            .otherwise(F.array(F.lit("rs1")))
            .alias("rsids"),
        )
        .withColumn("rsid", F.explode("rsids"))
        .drop("rsids")
    )
    cs = (
        cs_raw.withColumn(
            "dataset_id", F.regexp_extract(F.col("file_path"), r"QTD\d{6}", 0)
        )
        .withColumn(
            "credible_set_index",
            F.split(F.col("cs_id"), "_L").getItem(1).cast("int"),
        )
        # the rsid explosion duplicates every other column → drop + distinct
        .drop("rsid", "file_path", "cs_id", "event_id", "user_id", "event_type", "value")
        # Same 3-key prefix hash as the logBF side (r18): the distinct,
        # the 4-key equi-join (co-partitioned on a key prefix) and the
        # credible-set windows all ride it (subset rule) — whichever
        # side streams, the window exchange is elided.
        .repartition("dataset_id", "molecular_trait_id", "region")
        .distinct()
    )

    # Per-variant logBF table: ten lbf_variable columns, same join keys.
    lbf_cols = [
        F.round((((F.col("event_id") * (k + 3)) % 200) - 100) / 10.0, 6).alias(
            f"lbf_variable{k}"
        )
        for k in range(1, _N_LBF + 1)
    ]
    # ONE exchange for the logBF dedup AND the credible-set windows
    # (r18): hash the stream side on the (dataset, trait, region)
    # prefix FIRST — the all-columns distinct rides it (subset rule),
    # the broadcast study-metadata/credible-set joins preserve
    # stream-side partitioning, and the downstream 4-key credible-set
    # windows are satisfied by the same prefix — collapsing the old
    # (distinct, window) exchange pair to one. Bytes near-identical:
    # the logBF table is already near-unique per variant.
    lbf = ev.select(
        F.concat(
            F.lit("ENSG"), F.lpad((F.col("event_id") % 200).cast("string"), 11, "0")
        ).alias("molecular_trait_id"),
        F.concat(
            F.lit("chr"),
            F.col("event_type"),
            F.lit(":"),
            ((F.col("event_id") % 5) + 1).cast("string"),
        ).alias("region"),
        variant.alias("variant"),
        ds_id.alias("dataset_id"),
        F.col("event_type").alias("chromosome_raw"),
        pos.alias("position"),
        *lbf_cols,
    ).repartition("dataset_id", "molecular_trait_id", "region").distinct()

    joined = lbf.join(
        cs.join(F.broadcast(meta), on="dataset_id"),
        on=["molecular_trait_id", "region", "variant", "dataset_id"],
        how="inner",
    )
    log_bf = F.round(
        sum(
            (
                F.when(
                    F.col("credible_set_index") == k, F.col(f"lbf_variable{k}")
                ).otherwise(F.lit(0.0))
                for k in range(1, _N_LBF + 1)
            ),
            start=F.lit(0.0),
        ),
        6,
    )
    m, e = split_pvalue(F.col("pvalue"))
    qtl_map = F.create_map(
        *[F.lit(x) for kv in _QTL_TYPE.items() for x in kv]
    )[F.col("quant_method")]
    parsed = joined.select(
        F.regexp_replace(F.col("variant"), "chr", "").alias("variant_id"),
        "region",
        F.col("chromosome_raw").alias("chromosome"),
        "position",
        F.col("pip").alias("posterior_probability"),
        m.alias("p_mantissa"),
        e.alias("p_exponent"),
        F.col("sample_size").alias("n_samples"),
        "beta",
        F.col("se").alias("standard_error"),
        "credible_set_index",
        log_bf.alias("log_bf"),
        F.lit("SuSiE").alias("finemapping_method"),
        F.col("molecular_trait_id").alias("gene_id"),
        "dataset_id",
        "molecular_trait_id",
        _clean_symbols(
            F.concat_ws(
                "_",
                F.col("study_label"),
                F.col("quant_method"),
                F.col("sample_group"),
                F.col("molecular_trait_id"),
            )
        ).alias("study_id"),
        F.col("tissue_id").alias("biosample_id"),
        F.when(
            F.col("source_study_type") == "single-cell",
            F.concat(F.lit("sc"), qtl_map),
        )
        .otherwise(qtl_map)
        .alias("study_type"),
    )

    # Lead selection + credible-set log10BF over a deterministic order.
    cs_w = Window.partitionBy(
        "dataset_id", "molecular_trait_id", "region", "credible_set_index"
    )
    full = cs_w.orderBy("variant_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # Two window passes (nested window expressions are illegal): pass 1
    # pins the per-set max logBF, pass 2 does the stabilized logsumexp.
    with_max = parsed.withColumn("_max_lbf", F.max("log_bf").over(full))
    prior = F.log(F.lit(1.0 / 500.0))
    return (
        with_max.withColumn(
            "rn",
            F.row_number().over(
                cs_w.orderBy(F.desc("posterior_probability"), "variant_id")
            ),
        )
        .withColumn("cs_size", F.count("*").over(full))
        .withColumn(
            "credible_set_log10bf",
            F.round(
                (
                    F.col("_max_lbf")
                    + prior
                    + F.log(
                        F.sum(F.exp(F.col("log_bf") - F.col("_max_lbf"))).over(full)
                    )
                )
                * _LOG10E,
                6,
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn", "_max_lbf")
        .withColumn(
            "study_locus_id",
            F.md5(
                F.concat_ws(
                    "|", F.col("study_id"), F.col("variant_id"), F.lit("SuSiE")
                )
            ),
        )
    )


def _eqtl_sql() -> str:
    lbf_exprs = ", ".join(
        f"ROUND((((event_id * {k + 3}) % 200) - 100) / 10.0, 6) AS lbf_variable{k}"
        for k in range(1, _N_LBF + 1)
    )
    log_bf = " + ".join(
        f"CASE WHEN credible_set_index = {k} THEN lbf_variable{k} ELSE 0.0 END"
        for k in range(1, _N_LBF + 1)
    )
    quant = "(['ge','exon','tx','leafcutter'])[CAST(n_nationkey % 4 AS INT) + 1]"
    qtl_map = (
        "CASE quant_method WHEN 'ge' THEN 'eqtl' WHEN 'exon' THEN 'eqtl' "
        "WHEN 'tx' THEN 'eqtl' WHEN 'leafcutter' THEN 'sqtl' END"
    )
    return f"""
WITH meta AS (
  SELECT 'QTD' || lpad(CAST(n_nationkey AS VARCHAR), 6, '0') AS dataset_id,
         n_name AS study_label,
         {quant} AS quant_method,
         'tissue_' || CAST(n_nationkey % 7 AS VARCHAR) AS sample_group,
         CASE WHEN n_nationkey % 5 = 0 THEN 'single-cell' ELSE 'bulk' END
           AS source_study_type,
         'UBERON_' || lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS tissue_id,
         1000 + n_nationkey * 17 AS sample_size
  FROM nation
),
cs_raw AS (
  SELECT event_id, user_id, event_type, value,
         'QTD' || lpad(CAST(user_id % 25 AS VARCHAR), 6, '0')
           || '.credible_sets.tsv' AS file_path,
         'ENSG' || lpad(CAST(event_id % 200 AS VARCHAR), 11, '0')
           AS molecular_trait_id,
         'chr' || event_type || ':' || CAST((event_id % 5) + 1 AS VARCHAR)
           AS region,
         'chr' || event_type || '_' || CAST((event_id * 131) % 5000000 AS VARCHAR)
           || '_A_G' AS variant,
         'QTD' || lpad(CAST(user_id % 25 AS VARCHAR), 6, '0') || '_L'
           || CAST((event_id % 3) + 1 AS VARCHAR) AS cs_id,
         ((event_id * 31) % 999 + 1) / 1000.0 AS pip,
         ((event_id * 53) % 999 + 1) / 1000.0 AS pvalue,
         ROUND((value - 150.0) / 100.0, 6) AS beta,
         ROUND(0.5 + (event_id % 10) / 20.0, 6) AS se,
         unnest(CASE WHEN event_id % 4 = 0 THEN ['rs1','rs2'] ELSE ['rs1'] END)
           AS rsid
  FROM events WHERE event_id % 2 = 0
),
cs AS (
  SELECT DISTINCT molecular_trait_id, region, variant, pip, pvalue, beta, se,
         regexp_extract(file_path, 'QTD[0-9]{{6}}', 0) AS dataset_id,
         CAST(str_split(cs_id, '_L')[2] AS INT) AS credible_set_index
  FROM cs_raw
),
lbf AS (
  SELECT DISTINCT
         'ENSG' || lpad(CAST(event_id % 200 AS VARCHAR), 11, '0')
           AS molecular_trait_id,
         'chr' || event_type || ':' || CAST((event_id % 5) + 1 AS VARCHAR)
           AS region,
         'chr' || event_type || '_' || CAST((event_id * 131) % 5000000 AS VARCHAR)
           || '_A_G' AS variant,
         'QTD' || lpad(CAST(user_id % 25 AS VARCHAR), 6, '0') AS dataset_id,
         event_type AS chromosome_raw,
         (event_id * 131) % 5000000 AS position,
         {lbf_exprs}
  FROM events
),
parsed AS (
  SELECT regexp_replace(variant, 'chr', '') AS variant_id,
         region, chromosome_raw AS chromosome, position,
         pip AS posterior_probability,
         ROUND(pvalue / POW(10.0, FLOOR(LOG10(pvalue))), 3) AS p_mantissa,
         CAST(FLOOR(LOG10(pvalue)) AS INT) AS p_exponent,
         sample_size AS n_samples, beta, se AS standard_error,
         credible_set_index,
         ROUND({log_bf}, 6) AS log_bf,
         'SuSiE' AS finemapping_method,
         molecular_trait_id AS gene_id, dataset_id, molecular_trait_id,
         regexp_replace(lower(study_label || '_' || quant_method || '_'
           || sample_group || '_' || molecular_trait_id),
           '[^a-z0-9-_]+', '_', 'g') AS study_id,
         tissue_id AS biosample_id,
         CASE WHEN source_study_type = 'single-cell'
              THEN 'sc' || {qtl_map} ELSE {qtl_map} END AS study_type
  FROM lbf
  JOIN (SELECT * FROM cs JOIN meta USING (dataset_id)) j
  USING (molecular_trait_id, region, variant, dataset_id)
),
with_max AS (
  SELECT *, MAX(log_bf) OVER w_full AS _max_lbf
  FROM parsed
  WINDOW w_full AS (PARTITION BY dataset_id, molecular_trait_id, region,
                    credible_set_index ORDER BY variant_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
ranked AS (
  SELECT *,
    ROW_NUMBER() OVER w_ord AS rn,
    CAST(COUNT(*) OVER w_full AS BIGINT) AS cs_size,
    ROUND((_max_lbf + LN(1.0 / 500.0)
           + LN(SUM(EXP(log_bf - _max_lbf)) OVER w_full))
          * {_LOG10E!r}, 6) AS credible_set_log10bf
  FROM with_max
  WINDOW
    w_ord AS (PARTITION BY dataset_id, molecular_trait_id, region,
              credible_set_index
              ORDER BY posterior_probability DESC, variant_id),
    w_full AS (PARTITION BY dataset_id, molecular_trait_id, region,
               credible_set_index ORDER BY variant_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT variant_id, region, chromosome, position, posterior_probability,
       p_mantissa, p_exponent, n_samples, beta, standard_error,
       credible_set_index, log_bf, finemapping_method, gene_id, dataset_id,
       molecular_trait_id, study_id, biosample_id, study_type, cs_size,
       credible_set_log10bf,
       md5(study_id || '|' || variant_id || '|' || 'SuSiE') AS study_locus_id
FROM ranked WHERE rn = 1
"""


REGISTRY["eqtl_susie_ingest"] = QuerySpec(q_eqtl_susie_ingest, _eqtl_sql())


# --- UKB-PPP (EUR): pQTL summary-stats harmonisation -----------------------
_UKB_ALLELES = ("A", "C", "G", "T", "AT", "GCC")
_UKB_INFO_MIN = 0.8
_UKB_MAF_MIN = 0.0001


def q_ukb_ppp_harmonise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UKB-PPP (EUR) pQTL harmonisation dialect.

    Reference datasource/ukb_ppp_eur/summary_stats.py:19 ``from_source``
    delegating to common/processing.py:248 ``harmonise_summary_stats``,
    steps in reference order: (1) chromosome 23→X rename, (2) INFO ≥
    0.8 gate, (3) MAF ≥ 1e-4 gate, (4) snp_c/snp_n/indel variant
    typing, (5) summary_stats_id construction, (6) inner join against
    the variant-annotation LUT prepared in BOTH orientations (the
    per-chromosome equi-join is the scale shape — direction resolves
    on join, processing.py:366), beta negation and EAF complement on
    'flip', (7) drop complementary-SNP flips (strand-unresolvable),
    (8-9) p-value mantissa/exponent from -log10(p) and null-beta/zero-
    beta drops, and the trailing standard-error backfill from
    (p, beta) via χ²(1) isf (processing.py:424) — the polynomial
    Column kernel here, scipy in the reference.
    """
    from gentropy_spark.functions.distributions import chi2_isf_1df_col
    from gentropy_spark.functions.stats import pvalue_from_neglog

    ev = read_table(spark, sf_dir, "events")
    alleles = F.array(*[F.lit(a) for a in _UKB_ALLELES])
    a0 = F.element_at(alleles, (F.col("event_id") % 6 + 1).cast("int"))
    a1 = F.element_at(alleles, (F.expr("event_id div 7") % 6 + 1).cast("int"))
    chrom_raw = ((F.col("event_id") % 23) + 1).cast("string")
    raw = ev.select(
        F.concat(F.lit("UKB_PPP_"), (F.col("user_id") % 40).cast("string")).alias(
            "study_id"
        ),
        chrom_raw.alias("chromosome_raw"),
        ((F.col("event_id") * 97) % 1_000_000).alias("genpos"),
        a0.alias("allele0"),
        a1.alias("allele1"),
        (((F.col("event_id") * 7) % 10000) / 10000.0).alias("a1freq"),
        (0.5 + ((F.col("event_id") * 11) % 50) / 100.0).alias("info"),
        F.round((F.col("value") - 150.0) / 100.0, 6).alias("beta_src"),
        F.when(
            F.col("event_id") % 13 != 0,
            F.round(0.5 + (F.col("event_id") % 10) / 20.0, 6),
        ).alias("se_src"),
        F.round(0.1 + F.abs(F.col("value")) / 10.0, 6).alias("mlog10p"),
        (F.lit(30000) + F.col("user_id") % 1000).alias("n"),
    )
    # (1) 23 → X, (2) INFO gate, (3) MAF gate
    staged = (
        raw.withColumn(
            "chromosome",
            F.when(F.col("chromosome_raw") == "23", F.lit("X")).otherwise(
                F.col("chromosome_raw")
            ),
        )
        .filter(F.col("info") >= _UKB_INFO_MIN)
        .filter(
            F.least(F.col("a1freq"), 1.0 - F.col("a1freq")) >= _UKB_MAF_MIN
        )
    )
    # (4) variant typing, (5) join id
    is_snp = (F.length("allele0") == 1) & (F.length("allele1") == 1)
    is_comp = (
        ((F.col("allele0") == "A") & (F.col("allele1") == "T"))
        | ((F.col("allele0") == "T") & (F.col("allele1") == "A"))
        | ((F.col("allele0") == "G") & (F.col("allele1") == "C"))
        | ((F.col("allele0") == "C") & (F.col("allele1") == "G"))
    )
    typed = staged.withColumn(
        "variant_type",
        F.when(is_snp, F.when(is_comp, "snp_c").otherwise("snp_n")).otherwise(
            "indel"
        ),
    ).withColumn(
        "summary_stats_id",
        F.concat_ws(
            "_",
            F.col("chromosome"),
            F.col("genpos").cast("string"),
            F.col("allele0"),
            F.col("allele1"),
        ),
    )
    # Variant-annotation LUT: direction keyed off the VARIANT (genpos),
    # not the event row, so colliding raw rows agree; genpos % 10 == 8
    # variants are absent from the LUT (inner join drops them).
    va = (
        ev.select(
            ((F.col("event_id") % 23) + 1).cast("string").alias("c_raw"),
            ((F.col("event_id") * 97) % 1_000_000).alias("genpos"),
            a0.alias("a0"),
            a1.alias("a1"),
        )
        .withColumn(
            "va_chromosome",
            F.when(F.col("c_raw") == "23", F.lit("X")).otherwise(F.col("c_raw")),
        )
        .filter(F.col("genpos") % 10 != 8)
        .withColumn(
            "direction",
            F.when(F.col("genpos") % 10 == 7, F.lit("flip")).otherwise(
                F.lit("direct")
            ),
        )
        .select(
            "va_chromosome",
            F.concat_ws(
                "_",
                F.col("va_chromosome"),
                F.col("genpos").cast("string"),
                F.col("a0"),
                F.col("a1"),
            ).alias("summary_stats_id"),
            "direction",
            F.when(
                F.col("direction") == "direct",
                F.concat_ws(
                    "_",
                    F.col("va_chromosome"),
                    F.col("genpos").cast("string"),
                    F.col("a0"),
                    F.col("a1"),
                ),
            )
            .otherwise(
                F.concat_ws(
                    "_",
                    F.col("va_chromosome"),
                    F.col("genpos").cast("string"),
                    F.col("a1"),
                    F.col("a0"),
                )
            )
            .alias("variant_id"),
        )
        .distinct()
    )
    joined = typed.join(
        va,
        (typed["chromosome"] == va["va_chromosome"])
        & (typed["summary_stats_id"] == va["summary_stats_id"]),
        "inner",
    ).drop("va_chromosome", "summary_stats_id")
    # (6) orientation: beta sign + EAF complement; (7) snp_c flips out
    harmonised = (
        joined.withColumn(
            "beta",
            F.when(F.col("direction") == "direct", F.col("beta_src")).otherwise(
                -F.col("beta_src") + 0.0
            ),
        )
        .withColumn(
            "eaf",
            F.when(F.col("direction") == "direct", F.col("a1freq")).otherwise(
                1.0 - F.col("a1freq")
            ),
        )
        .filter(
            ~((F.col("variant_type") == "snp_c") & (F.col("direction") == "flip"))
        )
        .filter(F.col("beta").isNotNull() & (F.col("beta") != 0))
    )
    # (8) p components; trailing SE backfill from (p, beta)
    m, e = pvalue_from_neglog(F.col("mlog10p"))
    p = F.pow(F.lit(10.0), -F.col("mlog10p"))
    computed_se = F.round(
        F.abs(F.col("beta")) / F.sqrt(chi2_isf_1df_col(p)), 6
    )
    return harmonised.select(
        "study_id",
        "variant_id",
        "chromosome",
        F.col("genpos").alias("position"),
        "variant_type",
        "direction",
        (F.col("beta") + 0.0).alias("beta"),
        F.round(m, 6).alias("p_mantissa"),
        e.alias("p_exponent"),
        F.coalesce(F.col("se_src"), computed_se).alias("standard_error"),
        "eaf",
        F.col("n").alias("sample_size"),
    )


def _ukb_ppp_sql() -> str:
    from gentropy_spark.functions.distributions import chi2_isf_1df_sql

    arr = "(['A','C','G','T','AT','GCC'])"
    a0 = f"{arr}[CAST(event_id % 6 AS INT) + 1]"
    a1 = f"{arr}[CAST((event_id // 7) % 6 AS INT) + 1]"
    chi2 = chi2_isf_1df_sql("POW(10.0, -mlog10p)")
    return f"""
WITH raw AS (
  SELECT 'UKB_PPP_' || CAST(user_id % 40 AS VARCHAR) AS study_id,
         CAST((event_id % 23) + 1 AS VARCHAR) AS chromosome_raw,
         (event_id * 97) % 1000000 AS genpos,
         {a0} AS allele0, {a1} AS allele1,
         ((event_id * 7) % 10000) / 10000.0 AS a1freq,
         0.5 + ((event_id * 11) % 50) / 100.0 AS info,
         ROUND((value - 150.0) / 100.0, 6) AS beta_src,
         CASE WHEN event_id % 13 <> 0
              THEN ROUND(0.5 + (event_id % 10) / 20.0, 6) END AS se_src,
         ROUND(0.1 + ABS(value) / 10.0, 6) AS mlog10p,
         30000 + user_id % 1000 AS n
  FROM events
),
staged AS (
  SELECT *, CASE WHEN chromosome_raw = '23' THEN 'X' ELSE chromosome_raw END
           AS chromosome
  FROM raw
  WHERE info >= {_UKB_INFO_MIN}
    AND LEAST(a1freq, 1.0 - a1freq) >= {_UKB_MAF_MIN}
),
typed AS (
  SELECT *,
    CASE WHEN LENGTH(allele0) = 1 AND LENGTH(allele1) = 1
         THEN CASE WHEN (allele0, allele1) IN
                        (('A','T'), ('T','A'), ('G','C'), ('C','G'))
                   THEN 'snp_c' ELSE 'snp_n' END
         ELSE 'indel' END AS variant_type,
    chromosome || '_' || CAST(genpos AS VARCHAR) || '_' || allele0 || '_'
      || allele1 AS summary_stats_id
  FROM staged
),
va AS (
  SELECT DISTINCT
    va_chromosome,
    va_chromosome || '_' || CAST(genpos AS VARCHAR) || '_' || a0 || '_' || a1
      AS summary_stats_id,
    direction,
    CASE WHEN direction = 'direct'
         THEN va_chromosome || '_' || CAST(genpos AS VARCHAR) || '_' || a0
              || '_' || a1
         ELSE va_chromosome || '_' || CAST(genpos AS VARCHAR) || '_' || a1
              || '_' || a0 END AS variant_id
  FROM (
    SELECT CASE WHEN CAST((event_id % 23) + 1 AS VARCHAR) = '23' THEN 'X'
                ELSE CAST((event_id % 23) + 1 AS VARCHAR) END AS va_chromosome,
           (event_id * 97) % 1000000 AS genpos,
           {a0} AS a0, {a1} AS a1,
           CASE WHEN ((event_id * 97) % 1000000) % 10 = 7 THEN 'flip'
                ELSE 'direct' END AS direction
    FROM events
    WHERE ((event_id * 97) % 1000000) % 10 <> 8
  )
),
harmonised AS (
  SELECT t.*, va.direction, va.variant_id,
    CASE WHEN va.direction = 'direct' THEN t.beta_src
         ELSE -t.beta_src + 0.0 END AS beta,
    CASE WHEN va.direction = 'direct' THEN t.a1freq
         ELSE 1.0 - t.a1freq END AS eaf
  FROM typed t
  JOIN va ON t.chromosome = va.va_chromosome
         AND t.summary_stats_id = va.summary_stats_id
  WHERE NOT (t.variant_type = 'snp_c' AND va.direction = 'flip')
)
SELECT study_id, variant_id, chromosome, genpos AS position, variant_type,
       direction,
       beta + 0.0 AS beta,
       ROUND(POW(10.0, CEIL(mlog10p) - mlog10p), 6) AS p_mantissa,
       CAST(-1 * CEIL(mlog10p) AS INT) AS p_exponent,
       COALESCE(se_src, ROUND(ABS(beta) / SQRT({chi2}), 6))
         AS standard_error,
       eaf,
       n AS sample_size
FROM harmonised
WHERE beta IS NOT NULL AND beta <> 0
"""


REGISTRY["ukb_ppp_harmonise"] = QuerySpec(q_ukb_ppp_harmonise, _ukb_ppp_sql())


# --- target index construction ---------------------------------------------
_TI_BIOTYPES = ("protein_coding", "lncRNA", "pseudogene", "miRNA", "snoRNA")
_TI_APPROVED = ("protein_coding", "lncRNA", "miRNA")


def q_target_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gene/target index construction (reference dataset/target_index.py).

    Builds the gene LUT the L2G features consume, from a raw Ensembl-
    shaped target table (synthesized off the part axis): the TSS
    priority coalesce — preferred tss, else canonical-transcript
    start/end by '+'/'-' strand, else genomic-location start/end by
    ±1 strand (tss_lut, :137) — the approved-biotype filter (:36),
    the symbol LUT cardinality after array_union of approved +
    obsolete symbols (symbols_lut, :63), and the PAR X/Y protein
    dedup: a protein mapped from both an X and a Y gene keeps only
    the X mapping (protein_id_lut, :81; is_par via the sorted
    distinct-chromosome set per protein == 'X,Y').
    """
    part = read_table(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    chrom = (
        F.when(pk % 25 == 23, F.lit("X"))
        .when(pk % 25 == 24, F.lit("Y"))
        .otherwise(((pk % 22) + 1).cast("string"))
    )
    gl_start = (pk * 37) % 10_000_000
    gl_end = gl_start + (pk % 5000) + 100
    gl_strand = F.when(pk % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
    has_ct = pk % 11 != 0
    ct_start = gl_start + (pk % 50)
    ct_end = gl_end - (pk % 40)
    ct_strand = F.when(gl_strand == 1, F.lit("+")).otherwise(F.lit("-"))
    preferred_tss = F.when(pk % 7 != 0, gl_start + 17)
    protein_id = F.when(
        (pk % 25 == 23) | (pk % 25 == 24),
        F.concat(F.lit("P"), F.lpad(F.expr("p_partkey div 25"), 5, "0")),
    ).otherwise(F.concat(F.lit("P"), F.lpad(pk.cast("string"), 7, "0")))
    raw = part.select(
        F.concat(F.lit("ENSG"), F.lpad(pk.cast("string"), 11, "0")).alias(
            "gene_id"
        ),
        chrom.alias("chromosome"),
        gl_start.alias("g_start"),
        gl_end.alias("g_end"),
        gl_strand.alias("strand"),
        F.element_at(
            F.array(*[F.lit(b) for b in _TI_BIOTYPES]), (pk % 5 + 1).cast("int")
        ).alias("biotype"),
        preferred_tss.alias("preferred_tss"),
        F.when(has_ct, ct_start).alias("ct_start"),
        F.when(has_ct, ct_end).alias("ct_end"),
        F.when(has_ct, ct_strand).alias("ct_strand"),
        F.concat(F.lit("GENE_"), pk.cast("string")).alias("approved_symbol"),
        F.when(
            pk % 3 == 0,
            F.array(F.concat(F.lit("OLD_"), pk.cast("string"))),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("obsolete_symbols"),
        protein_id.alias("protein_id"),
    )
    ct_tss = F.when(F.col("ct_strand") == "+", F.col("ct_start")).when(
        F.col("ct_strand") == "-", F.col("ct_end")
    )
    gl_tss = F.when(F.col("strand") == 1, F.col("g_start")).when(
        F.col("strand") == -1, F.col("g_end")
    )
    with_tss = raw.withColumn(
        "tss", F.coalesce(F.col("preferred_tss"), ct_tss, gl_tss).cast("long")
    ).withColumn(
        "n_symbols",
        F.size(
            F.array_union(
                F.array(F.col("approved_symbol")), F.col("obsolete_symbols")
            )
        ),
    )
    filtered = with_tss.filter(F.col("biotype").isin(*_TI_APPROVED))
    par_w = Window.partitionBy("protein_id")
    is_par = (
        F.concat_ws(
            ",", F.sort_array(F.collect_set("chromosome").over(par_w))
        )
        == "X,Y"
    )
    return (
        filtered.withColumn("is_par", is_par)
        .filter(~(F.col("is_par") & (F.col("chromosome") != "X")))
        .select(
            "gene_id",
            "chromosome",
            "g_start",
            "g_end",
            "strand",
            "biotype",
            "tss",
            "approved_symbol",
            "n_symbols",
            "protein_id",
            "is_par",
        )
    )


TARGET_INDEX_SQL = f"""
WITH raw AS (
  SELECT
    'ENSG' || lpad(CAST(p_partkey AS VARCHAR), 11, '0') AS gene_id,
    CASE WHEN p_partkey % 25 = 23 THEN 'X'
         WHEN p_partkey % 25 = 24 THEN 'Y'
         ELSE CAST((p_partkey % 22) + 1 AS VARCHAR) END AS chromosome,
    (p_partkey * 37) % 10000000 AS g_start,
    (p_partkey * 37) % 10000000 + (p_partkey % 5000) + 100 AS g_end,
    CASE WHEN p_partkey % 2 = 0 THEN 1 ELSE -1 END AS strand,
    (['protein_coding','lncRNA','pseudogene','miRNA','snoRNA'])
      [CAST(p_partkey % 5 AS INT) + 1] AS biotype,
    CASE WHEN p_partkey % 7 <> 0
         THEN (p_partkey * 37) % 10000000 + 17 END AS preferred_tss,
    CASE WHEN p_partkey % 11 <> 0
         THEN (p_partkey * 37) % 10000000 + (p_partkey % 50) END AS ct_start,
    CASE WHEN p_partkey % 11 <> 0
         THEN (p_partkey * 37) % 10000000 + (p_partkey % 5000) + 100
              - (p_partkey % 40) END AS ct_end,
    CASE WHEN p_partkey % 11 <> 0
         THEN CASE WHEN p_partkey % 2 = 0 THEN '+' ELSE '-' END END AS ct_strand,
    'GENE_' || CAST(p_partkey AS VARCHAR) AS approved_symbol,
    CASE WHEN p_partkey % 3 = 0 THEN 2 ELSE 1 END AS n_symbols,
    CASE WHEN p_partkey % 25 IN (23, 24)
         THEN 'P' || lpad(CAST(p_partkey // 25 AS VARCHAR), 5, '0')
         ELSE 'P' || lpad(CAST(p_partkey AS VARCHAR), 7, '0') END AS protein_id
  FROM part
),
with_tss AS (
  SELECT *,
    CAST(COALESCE(
      preferred_tss,
      CASE WHEN ct_strand = '+' THEN ct_start
           WHEN ct_strand = '-' THEN ct_end END,
      CASE WHEN strand = 1 THEN g_start
           WHEN strand = -1 THEN g_end END) AS BIGINT) AS tss
  FROM raw
  WHERE biotype IN ('protein_coding', 'lncRNA', 'miRNA')
),
par AS (
  SELECT protein_id,
         string_agg(DISTINCT chromosome, ',' ORDER BY chromosome) = 'X,Y'
           AS is_par
  FROM with_tss GROUP BY protein_id
)
SELECT gene_id, chromosome, g_start, g_end, strand, biotype, tss,
       approved_symbol, n_symbols, protein_id, is_par
FROM with_tss JOIN par USING (protein_id)
WHERE NOT (is_par AND chromosome <> 'X')
"""


REGISTRY["target_index_build"] = QuerySpec(
    q_target_index_build, TARGET_INDEX_SQL
)


# --- FoldX → amino-acid variants ingestion ---------------------------------
_AA = ("A", "C", "D", "E", "F", "G", "H", "I", "K", "L",
       "M", "N", "P", "Q", "R", "S", "T", "V", "W", "Y")
_FOLDX_PLDDT_MIN = 70.0


def q_amino_acid_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FoldX ΔΔG ingestion → amino-acid variant effects.

    Reference: datasource/open_targets/foldex_integration.py:38
    ``ingest_foldx_data`` building dataset/amino_acid_variants.py, with
    the steps in reference order: (1) drop low-confidence residues
    (pLDDT gate), (2) left-anti drop proteins where one structural
    position maps to multiple sequence positions (:81
    ``_uniprot_ids_to_exclude`` — ambiguous, computed on the RAW input
    before the pLDDT gate, as the reference does), (3) aminoAcidChange
    = wild_type‖position‖mutated_type, (4) collapse predictors per
    (accession, change) so variants never explode, and (5) normalise
    ΔΔG to [0, 1] (variant_index.py:467 ``_normalise_foldx``:
    |ΔΔG| ≥ 2 kcal/mol saturates at 1, else linear |ΔΔG|/2).
    """
    li = read_table(spark, sf_dir, "lineitem")
    aa = F.array(*[F.lit(a) for a in _AA])
    raw = li.select(
        F.concat(
            F.lit("P"), F.lpad((F.col("l_suppkey") % 400).cast("string"), 5, "0")
        ).alias("protein_acc"),
        ((F.col("l_partkey") % 300) + 1).alias("position"),
        F.element_at(aa, (F.col("l_partkey") % 20 + 1).cast("int")).alias(
            "wild_type"
        ),
        F.element_at(
            aa, ((F.col("l_partkey") + 7) % 20 + 1).cast("int")
        ).alias("mutated_type"),
        # pLDDT is a property of the residue, so it derives from the
        # position (plus a planted inconsistency on ~1/37 proteins:
        # partkeys ≡ mod 300 share a position but differ mod 900, so
        # those proteins report conflicting pLDDTs at one position —
        # exactly the ambiguity the exclusion step must catch).
        (
            55.0
            + ((F.col("l_partkey") % 300) + 1) % 40
            + F.when(
                (F.col("l_suppkey") % 400) % 37 == 0,
                F.expr("(l_partkey % 900) div 300").cast("double"),
            ).otherwise(F.lit(0.0))
        ).alias("plddt"),
        F.round((F.col("l_quantity") - 25.0) / 10.0, 6).alias("foldx_ddg"),
    )
    ambiguous = (
        raw.groupBy("protein_acc", "position", "wild_type")
        .agg(F.count_distinct("plddt").alias("n_plddt"))
        .filter(F.col("n_plddt") > 1)
        .select("protein_acc")
        .distinct()
    )
    kept = raw.filter(F.col("plddt") > _FOLDX_PLDDT_MIN).join(
        ambiguous, on="protein_acc", how="left_anti"
    )
    per_change = kept.select(
        F.col("protein_acc").alias("uniprot_accession"),
        F.concat(
            F.col("wild_type"),
            F.col("position").cast("string"),
            F.col("mutated_type"),
        ).alias("amino_acid_change"),
        "foldx_ddg",
    ).groupBy("uniprot_accession", "amino_acid_change").agg(
        F.count_distinct("foldx_ddg").alias("n_effects"),
        F.max("foldx_ddg").alias("score"),
    )
    norm = F.when(F.abs(F.col("score")) >= 2.0, F.lit(1.0)).otherwise(
        F.abs(F.col("score")) / 2.0
    )
    return per_change.select(
        "uniprot_accession",
        "amino_acid_change",
        "n_effects",
        "score",
        F.lit("FoldX").alias("method"),
        norm.alias("normalised_score"),
    )


AMINO_ACID_SQL = f"""
WITH raw AS (
  SELECT 'P' || lpad(CAST(l_suppkey % 400 AS VARCHAR), 5, '0') AS protein_acc,
         (l_partkey % 300) + 1 AS position,
         (['A','C','D','E','F','G','H','I','K','L','M','N','P','Q','R','S','T','V','W','Y'])
           [CAST(l_partkey % 20 AS INT) + 1] AS wild_type,
         (['A','C','D','E','F','G','H','I','K','L','M','N','P','Q','R','S','T','V','W','Y'])
           [CAST((l_partkey + 7) % 20 AS INT) + 1] AS mutated_type,
         55.0 + ((l_partkey % 300) + 1) % 40
           + CASE WHEN (l_suppkey % 400) % 37 = 0
                  THEN CAST((l_partkey % 900) // 300 AS DOUBLE)
                  ELSE 0.0 END AS plddt,
         ROUND((l_quantity - 25.0) / 10.0, 6) AS foldx_ddg
  FROM lineitem
),
ambiguous AS (
  SELECT DISTINCT protein_acc
  FROM (
    SELECT protein_acc, position, wild_type,
           COUNT(DISTINCT plddt) AS n_plddt
    FROM raw GROUP BY 1, 2, 3
  ) WHERE n_plddt > 1
),
kept AS (
  SELECT * FROM raw
  WHERE plddt > {_FOLDX_PLDDT_MIN}
    AND protein_acc NOT IN (SELECT protein_acc FROM ambiguous)
),
per_change AS (
  SELECT protein_acc AS uniprot_accession,
         wild_type || CAST(position AS VARCHAR) || mutated_type
           AS amino_acid_change,
         COUNT(DISTINCT foldx_ddg) AS n_effects,
         MAX(foldx_ddg) AS score
  FROM kept GROUP BY 1, 2
)
SELECT uniprot_accession, amino_acid_change,
       CAST(n_effects AS BIGINT) AS n_effects, score,
       'FoldX' AS method,
       CASE WHEN ABS(score) >= 2.0 THEN 1.0 ELSE ABS(score) / 2.0 END
         AS normalised_score
FROM per_change
"""


REGISTRY["amino_acid_variants"] = QuerySpec(
    q_amino_acid_variants, AMINO_ACID_SQL
)


# --- biosample ontology merge ----------------------------------------------
_BIOSAMPLE_ROOTS = ("UBERON_0000", "UBERON_0001")


def q_biosample_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-ontology biosample index build + merge.

    Reference: datasource/biosample_ontologies/utils.py:13
    ``extract_ontology_from_json`` (node/edge extraction, URL-prefix
    strip, parent aggregation, ancestor traversal) +
    dataset/biosample_index.py:36 ``merge_indices`` (union of indices;
    scalars take the first non-null, list columns take the distinct
    union) and :74 ``retain_rows_with_ancestor_id``.

    Two deliberate divergences, both Spark-first:
    - Ancestors come from the DISTRIBUTED iterative closure
      (operators/graph.py transitive_closure) instead of the
      reference's collect-graph-to-driver + per-row Python UDF
      traversal — the reference shape is a driver-memory ceiling at
      real ontology scale.
    - merge_indices' ``first(ignorenulls)`` is order-nondeterministic
      under shuffle; the merge here is ``min_by`` on an explicit
      fragment priority (nulls demoted), which is the same
      "first index wins" policy made deterministic.

    Array outputs are emitted as sorted CSV strings so the value-hash
    comparison is order-stable across engines.
    """
    from gentropy_spark.operators.graph import transitive_closure

    nat = read_table(spark, sf_dir, "nation")
    sup = read_table(spark, sf_dir, "supplier")

    def bid(c):
        return F.concat(F.lit("UBERON_"), F.lpad(c.cast("string"), 4, "0"))

    # Fragment 1 (UBERON-shaped, priority 1): full nodes.
    frag1 = nat.select(
        bid(F.col("n_nationkey")).alias("biosample_id"),
        F.lit(1).alias("_prio"),
        F.lower(F.col("n_name")).alias("name"),
        F.when(
            F.col("n_nationkey") % 3 != 0,
            F.concat(F.lit("desc_u_"), F.col("n_nationkey").cast("string")),
        ).alias("description"),
        F.array(
            F.concat(F.lit("syn_u_"), F.col("n_nationkey").cast("string"))
        ).alias("synonyms"),
        F.array(
            F.concat(F.lit("XU:"), F.col("n_nationkey").cast("string"))
        ).alias("xrefs"),
    )
    # Fragment 2 (CL-shaped, priority 2): overlaps ids 0..29, scalars
    # sparse (fill where fragment 1 is null), lists always contribute.
    sk = F.col("s_suppkey") % 30
    frag2 = (
        sup.filter(F.col("s_suppkey") <= 60)
        .select(
            bid(sk).alias("biosample_id"),
            F.lit(2).alias("_prio"),
            F.lit(None).cast("string").alias("name"),
            F.concat(F.lit("desc_c_"), sk.cast("string")).alias("description"),
            F.array(F.concat(F.lit("syn_c_"), sk.cast("string"))).alias(
                "synonyms"
            ),
            F.array(F.concat(F.lit("XC:"), sk.cast("string"))).alias("xrefs"),
        )
        .distinct()
    )
    merged = frag1.unionByName(frag2)

    def first_by_prio(c: str):
        return F.min_by(
            F.col(c),
            F.when(F.col(c).isNotNull(), F.col("_prio")).otherwise(F.lit(99)),
        ).alias(c)

    def union_sorted(c: str):
        return F.array_sort(
            F.array_distinct(F.flatten(F.collect_list(F.col(c))))
        ).alias(c)

    index = merged.groupBy("biosample_id").agg(
        first_by_prio("name"),
        first_by_prio("description"),
        union_sorted("synonyms"),
        union_sorted("xrefs"),
    )

    # is_a edges from BOTH fragments: parent(k) = k div 2 on the
    # numeric tail (valid while parent < k), distributed closure.
    key1 = F.col("n_nationkey")
    edges1 = nat.select(
        bid(key1).alias("child"), bid(F.expr("n_nationkey div 2")).alias("parent")
    ).filter(key1 > 0)
    edges2 = (
        sup.filter((F.col("s_suppkey") <= 60))
        .select(
            bid(sk).alias("child"),
            bid((sk / F.lit(2)).cast("long")).alias("parent"),
        )
        .filter(sk > 0)
        .distinct()
    )
    closure = transitive_closure(edges1.unionByName(edges2).distinct())
    ancestors = closure.groupBy(F.col("child").alias("biosample_id")).agg(
        F.array_sort(F.collect_set("ancestor")).alias("ancestors")
    )
    roots = F.array(*[F.lit(r) for r in _BIOSAMPLE_ROOTS])
    return (
        index.join(ancestors, on="biosample_id", how="left")
        .select(
            "biosample_id",
            "name",
            "description",
            F.array_join(F.col("synonyms"), ";").alias("synonyms_csv"),
            F.array_join(F.col("xrefs"), ";").alias("xrefs_csv"),
            F.array_join(
                F.coalesce(F.col("ancestors"), F.array().cast("array<string>")),
                ";",
            ).alias("ancestors_csv"),
            F.size(
                F.coalesce(F.col("ancestors"), F.array().cast("array<string>"))
            ).alias("n_ancestors"),
            (
                F.size(
                    F.array_intersect(
                        F.coalesce(
                            F.col("ancestors"), F.array().cast("array<string>")
                        ),
                        roots,
                    )
                )
                > 0
            ).alias("has_root_ancestor"),
        )
    )


BIOSAMPLE_MERGE_SQL = f"""
WITH RECURSIVE
frag1 AS (
  SELECT 'UBERON_' || lpad(CAST(n_nationkey AS VARCHAR), 4, '0')
           AS biosample_id,
         1 AS _prio,
         lower(n_name) AS name,
         CASE WHEN n_nationkey % 3 <> 0
              THEN 'desc_u_' || CAST(n_nationkey AS VARCHAR) END AS description,
         ['syn_u_' || CAST(n_nationkey AS VARCHAR)] AS synonyms,
         ['XU:' || CAST(n_nationkey AS VARCHAR)] AS xrefs
  FROM nation
),
frag2 AS (
  SELECT DISTINCT
         'UBERON_' || lpad(CAST(s_suppkey % 30 AS VARCHAR), 4, '0')
           AS biosample_id,
         2 AS _prio,
         CAST(NULL AS VARCHAR) AS name,
         'desc_c_' || CAST(s_suppkey % 30 AS VARCHAR) AS description,
         ['syn_c_' || CAST(s_suppkey % 30 AS VARCHAR)] AS synonyms,
         ['XC:' || CAST(s_suppkey % 30 AS VARCHAR)] AS xrefs
  FROM supplier WHERE s_suppkey <= 60
),
merged AS (SELECT * FROM frag1 UNION ALL SELECT * FROM frag2),
index_t AS (
  SELECT biosample_id,
         arg_min(name, CASE WHEN name IS NOT NULL THEN _prio ELSE 99 END)
           AS name,
         arg_min(description,
                 CASE WHEN description IS NOT NULL THEN _prio ELSE 99 END)
           AS description,
         list_sort(list_distinct(flatten(list(synonyms)))) AS synonyms,
         list_sort(list_distinct(flatten(list(xrefs)))) AS xrefs
  FROM merged GROUP BY biosample_id
),
edges AS (
  SELECT 'UBERON_' || lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS child,
         'UBERON_' || lpad(CAST(n_nationkey // 2 AS VARCHAR), 4, '0') AS parent
  FROM nation WHERE n_nationkey > 0
  UNION
  SELECT DISTINCT
         'UBERON_' || lpad(CAST(s_suppkey % 30 AS VARCHAR), 4, '0'),
         'UBERON_' || lpad(CAST((s_suppkey % 30) // 2 AS VARCHAR), 4, '0')
  FROM supplier WHERE s_suppkey <= 60 AND s_suppkey % 30 > 0
),
closure(child, ancestor) AS (
  SELECT child, parent FROM edges
  UNION
  SELECT c.child, e.parent FROM closure c JOIN edges e ON c.ancestor = e.child
),
anc AS (
  SELECT child AS biosample_id,
         list_sort(list(DISTINCT ancestor)) AS ancestors
  FROM closure GROUP BY child
)
SELECT i.biosample_id, i.name, i.description,
       array_to_string(i.synonyms, ';') AS synonyms_csv,
       array_to_string(i.xrefs, ';') AS xrefs_csv,
       -- COALESCE wrapper: DuckDB array_to_string([]) is NULL where
       -- Spark array_join([]) is '' — align on the empty string.
       COALESCE(array_to_string(a.ancestors, ';'), '') AS ancestors_csv,
       CAST(len(COALESCE(a.ancestors, [])) AS INT) AS n_ancestors,
       len(list_intersect(COALESCE(a.ancestors, []),
                          ['UBERON_0000', 'UBERON_0001'])) > 0
         AS has_root_ancestor
FROM index_t i LEFT JOIN anc a USING (biosample_id)
"""


REGISTRY["biosample_index_merge"] = QuerySpec(
    q_biosample_index_merge, BIOSAMPLE_MERGE_SQL
)


# --- gnomAD variant-index ingestion ----------------------------------------
_GNOMAD_POPS = ("afr", "amr", "eas", "nfe")
_VARIANT_ID_HASH_THRESHOLD = 100


def q_gnomad_variant_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gnomAD variant-frequency ingestion → variant index rows.

    Reference: datasource/gnomad/variants.py:14
    ``GnomADVariantFrequencies.as_variant_index`` — biallelic filter
    (alleles.length == 2), chr-stripped ``variantId`` construction,
    per-population adjusted allele frequencies, the gnomAD dbXref, and
    dataset/variant_index.py:73 ``hash_long_variant_ids``: an id whose
    alleles push it past the length threshold becomes
    OTVAR_<chrom>_<pos>_<md5(id)>, and an id with a missing
    chromosome/position becomes OTVAR_<md5(id)> — both md5-exact
    across engines.

    The raw shape is synthesized from events: ~1/11 rows are
    multi-allelic (dropped), ~1/13 carry a pathologically long ALT
    (hashed id), ~1/17 lack a chromosome (hashed id, md5-only form).
    """
    ev = read_table(spark, sf_dir, "events")
    alleles = F.array(*[F.lit(a) for a in ("A", "C", "G", "T", "AT", "GCC")])
    ref = F.element_at(alleles, (F.col("event_id") % 6 + 1).cast("int"))
    long_alt = F.concat_ws("", F.array_repeat(F.lit("AC"), 60))
    alt = F.when(F.col("event_id") % 13 == 0, long_alt).otherwise(
        F.element_at(alleles, (F.expr("event_id div 7") % 6 + 1).cast("int"))
    )
    pos = (F.col("event_id") * 131) % 5_000_000
    raw = ev.select(
        "event_id",
        F.when(
            F.col("event_id") % 17 != 0,
            F.concat(F.lit("chr"), F.col("event_type")),
        ).alias("contig_raw"),
        pos.alias("position_raw"),
        ref.alias("ref"),
        alt.alias("alt"),
        F.when(F.col("event_id") % 11 == 0, F.lit(3))
        .otherwise(F.lit(2))
        .alias("n_alleles"),
        *[
            (((F.col("event_id") * (13 + i)) % 10000) / 10000.0).alias(
                f"af_{p}"
            )
            for i, p in enumerate(_GNOMAD_POPS)
        ],
    )
    biallelic = raw.filter(F.col("n_alleles") == 2)
    chrom = F.regexp_replace(F.col("contig_raw"), "chr", "")
    position = F.when(
        F.col("contig_raw").isNotNull(), F.col("position_raw")
    )
    vid = F.concat_ws(
        "_", chrom, position.cast("string"), F.col("ref"), F.col("alt")
    )
    hashed = (
        F.when(
            chrom.isNull() | position.isNull(),
            F.concat(F.lit("OTVAR_"), F.md5(vid)),
        )
        .when(
            F.length(vid) > _VARIANT_ID_HASH_THRESHOLD,
            F.concat_ws(
                "_", F.lit("OTVAR"), chrom, position.cast("string"), F.md5(vid)
            ),
        )
        .otherwise(vid)
    )
    return biallelic.select(
        hashed.alias("variant_id"),
        chrom.alias("chromosome"),
        position.alias("position"),
        F.col("ref").alias("reference_allele"),
        F.col("alt").alias("alternate_allele"),
        # Both hashed branches count: the missing-chromosome OTVAR_<md5>
        # form AND the over-length OTVAR_<chrom>_<pos>_<md5> form.
        (
            chrom.isNull()
            | position.isNull()
            | (F.length(vid) > _VARIANT_ID_HASH_THRESHOLD)
        ).alias("id_was_hashed"),
        *[F.col(f"af_{p}") for p in _GNOMAD_POPS],
        F.concat_ws(
            "-", chrom, position.cast("string"), F.col("ref"), F.col("alt")
        ).alias("xref_id"),
        F.lit("gnomad").alias("xref_source"),
    )


def _gnomad_sql() -> str:
    arr = "(['A','C','G','T','AT','GCC'])"
    afs = ",\n         ".join(
        f"((event_id * {13 + i}) % 10000) / 10000.0 AS af_{p}"
        for i, p in enumerate(_GNOMAD_POPS)
    )
    return f"""
WITH raw AS (
  SELECT event_id,
         CASE WHEN event_id % 17 <> 0 THEN 'chr' || event_type END
           AS contig_raw,
         (event_id * 131) % 5000000 AS position_raw,
         {arr}[CAST(event_id % 6 AS INT) + 1] AS ref,
         CASE WHEN event_id % 13 = 0 THEN repeat('AC', 60)
              ELSE {arr}[CAST((event_id // 7) % 6 AS INT) + 1] END AS alt,
         CASE WHEN event_id % 11 = 0 THEN 3 ELSE 2 END AS n_alleles,
         {afs}
  FROM events
),
biallelic AS (SELECT * FROM raw WHERE n_alleles = 2),
built AS (
  SELECT *,
         regexp_replace(contig_raw, 'chr', '') AS chromosome,
         CASE WHEN contig_raw IS NOT NULL THEN position_raw END AS position,
         concat_ws('_', regexp_replace(contig_raw, 'chr', ''),
                   CAST(CASE WHEN contig_raw IS NOT NULL
                             THEN position_raw END AS VARCHAR),
                   ref, alt) AS vid
  FROM biallelic
)
SELECT CASE
         WHEN chromosome IS NULL OR position IS NULL
           THEN 'OTVAR_' || md5(vid)
         WHEN LENGTH(vid) > {_VARIANT_ID_HASH_THRESHOLD}
           THEN concat_ws('_', 'OTVAR', chromosome,
                          CAST(position AS VARCHAR), md5(vid))
         ELSE vid END AS variant_id,
       chromosome, position,
       ref AS reference_allele, alt AS alternate_allele,
       (chromosome IS NULL OR position IS NULL
        OR LENGTH(vid) > {_VARIANT_ID_HASH_THRESHOLD}) AS id_was_hashed,
       af_afr, af_amr, af_eas, af_nfe,
       concat_ws('-', chromosome, CAST(position AS VARCHAR), ref, alt)
         AS xref_id,
       'gnomad' AS xref_source
FROM built
"""


REGISTRY["gnomad_variant_ingest"] = QuerySpec(
    q_gnomad_variant_ingest, _gnomad_sql()
)


# --- rE2G intervals ingestion ----------------------------------------------
_E2G_TYPES = ("Promoter", " enhancer ", "INTERGENIC", "genic")


def q_intervals_e2g_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regulatory Enhancer-To-Gene interval ingestion.

    Reference: datasource/intervals/e2g.py:42 ``IntervalsE2G.parse`` —
    study id regexp-extracted from the source file path, chromosome
    normalization, interval-type lower+trim, the TSS-LUT left join
    feeding ``distance_to_tss`` (dataset/intervals.py:120: promoters
    and TSS-inside-interval are distance 0, else nearest bound, NULL
    TSS propagates), the biosample-name → id mapping join, and the
    md5 interval identifier over the uniqueness columns with NULLs
    encoded as 'None' (dataset/dataset.py:441 generate_identifier).
    The TSS LUT is the target_index_build output — the same
    composition as the reference's ``target_index.tss_lut()``.
    """
    orders = read_table(spark, sf_dir, "orders")
    nat = read_table(spark, sf_dir, "nation")
    tss_lut = q_target_index_build(spark, sf_dir).select(
        F.col("gene_id").alias("gene_id_str"), "tss"
    )
    bio_lut = nat.select(
        F.lower(F.col("n_name")).alias("biosample_name"),
        F.concat(
            F.lit("UBERON_"), F.lpad(F.col("n_nationkey").cast("string"), 4, "0")
        ).alias("biosample_id"),
    )
    types_arr = F.array(*[F.lit(t) for t in _E2G_TYPES])
    start = (F.col("o_orderkey") * 91) % 10_000_000
    raw = orders.select(
        F.concat(
            F.lit("release/E2G_"),
            (F.col("o_custkey") % 20).cast("string"),
            F.lit(".bed.gz"),
        ).alias("file_path"),
        F.concat(
            F.lit("chr"), ((F.col("o_orderkey") % 22) + 1).cast("string")
        ).alias("chr"),
        start.alias("start"),
        (start + F.col("o_orderkey") % 5000 + 50).alias("end"),
        F.concat(
            F.lit("ENSG"),
            F.lpad((F.col("o_orderkey") % 1200).cast("string"), 11, "0"),
        ).alias("gene_id_str"),
        F.element_at(
            types_arr, (F.col("o_orderkey") % 4 + 1).cast("int")
        ).alias("interval_type_raw"),
        (F.floor(F.col("o_totalprice") / 600_000.0 * 1e6) / 1e6).alias("score"),
        F.element_at(
            F.array(*[F.lit(None).cast("string")]
                    + [F.lit(f) for f in ("0.25", "0.5", "0.75")]),
            (F.col("o_orderkey") % 4 + 1).cast("int"),
        ).cast("double").alias("dnase_feature"),
        F.round((F.col("o_orderkey") % 100) / 100.0, 6).alias("hic_feature"),
        F.lower(
            F.element_at(
                F.array(
                    *[
                        F.lit(n)
                        for n in ("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA",
                                  "unmapped tissue")
                    ]
                ),
                (F.col("o_orderkey") % 5 + 1).cast("int"),
            )
        ).alias("biosample_name"),
    )
    base = raw.select(
        F.regexp_extract(F.col("file_path"), r"([^/]+)\.bed\.gz$", 1).alias(
            "study_id"
        ),
        F.regexp_replace(F.col("chr"), "chr", "").alias("chromosome"),
        "start",
        "end",
        "gene_id_str",
        F.lower(F.trim(F.col("interval_type_raw"))).alias("interval_type"),
        "score",
        "dnase_feature",
        "hic_feature",
        "biosample_name",
    )
    joined = base.join(tss_lut, on="gene_id_str", how="left").join(
        F.broadcast(bio_lut), on="biosample_name", how="left"
    )
    tss_inside = (F.col("tss") >= F.col("start")) & (
        F.col("tss") <= F.col("end")
    )
    dist = (
        F.when(F.col("tss").isNull(), F.lit(None).cast("long"))
        .when(
            (F.col("interval_type") == "promoter") | tss_inside, F.lit(0)
        )
        .otherwise(
            F.least(
                F.abs(F.col("tss") - F.col("start")),
                F.abs(F.col("tss") - F.col("end")),
            )
        )
        .cast("long")
    )
    id_cols = [
        "chromosome", "start", "end", "gene_id_str", "study_id",
        "interval_type",
    ]
    interval_id = F.md5(
        F.concat(
            *[
                F.coalesce(F.col(c).cast("string"), F.lit("None"))
                for c in id_cols
            ]
        )
    )
    return joined.select(
        "chromosome",
        "start",
        "end",
        F.col("gene_id_str").alias("gene_id"),
        "score",
        dist.alias("distance_to_tss"),
        "dnase_feature",
        "hic_feature",
        F.lit("e2g").alias("datasource_id"),
        "interval_type",
        F.lit("38014075").alias("pmid"),
        "biosample_name",
        "biosample_id",
        "study_id",
        interval_id.alias("interval_id"),
    )


def _e2g_sql() -> str:
    return f"""
WITH tss_lut AS (
  SELECT gene_id AS gene_id_str, tss FROM ({TARGET_INDEX_SQL})
),
bio_lut AS (
  SELECT lower(n_name) AS biosample_name,
         'UBERON_' || lpad(CAST(n_nationkey AS VARCHAR), 4, '0')
           AS biosample_id
  FROM nation
),
raw AS (
  SELECT 'release/E2G_' || CAST(o_custkey % 20 AS VARCHAR) || '.bed.gz'
           AS file_path,
         'chr' || CAST((o_orderkey % 22) + 1 AS VARCHAR) AS chr,
         (o_orderkey * 91) % 10000000 AS "start",
         (o_orderkey * 91) % 10000000 + o_orderkey % 5000 + 50 AS "end",
         'ENSG' || lpad(CAST(o_orderkey % 1200 AS VARCHAR), 11, '0')
           AS gene_id_str,
         (['Promoter', ' enhancer ', 'INTERGENIC', 'genic'])
           [CAST(o_orderkey % 4 AS INT) + 1] AS interval_type_raw,
         FLOOR(o_totalprice / 600000.0 * 1000000.0) / 1000000.0 AS score,
         CAST(([NULL, '0.25', '0.5', '0.75'])
              [CAST(o_orderkey % 4 AS INT) + 1] AS DOUBLE) AS dnase_feature,
         ROUND((o_orderkey % 100) / 100.0, 6) AS hic_feature,
         lower((['ALGERIA','ARGENTINA','BRAZIL','CANADA','unmapped tissue'])
               [CAST(o_orderkey % 5 AS INT) + 1]) AS biosample_name
  FROM orders
),
base AS (
  SELECT regexp_extract(file_path, '([^/]+)\\.bed\\.gz$', 1) AS study_id,
         regexp_replace(chr, 'chr', '') AS chromosome,
         "start", "end", gene_id_str,
         lower(trim(interval_type_raw)) AS interval_type,
         score, dnase_feature, hic_feature, biosample_name
  FROM raw
),
joined AS (
  SELECT b.*, t.tss, l.biosample_id
  FROM base b
  LEFT JOIN tss_lut t USING (gene_id_str)
  LEFT JOIN bio_lut l USING (biosample_name)
)
SELECT chromosome, "start", "end", gene_id_str AS gene_id, score,
       CAST(CASE WHEN tss IS NULL THEN NULL
                 WHEN interval_type = 'promoter'
                      OR (tss >= "start" AND tss <= "end") THEN 0
                 ELSE LEAST(ABS(tss - "start"), ABS(tss - "end")) END
            AS BIGINT) AS distance_to_tss,
       dnase_feature, hic_feature,
       'e2g' AS datasource_id, interval_type, '38014075' AS pmid,
       biosample_name, biosample_id, study_id,
       md5(COALESCE(CAST(chromosome AS VARCHAR), 'None')
           || COALESCE(CAST("start" AS VARCHAR), 'None')
           || COALESCE(CAST("end" AS VARCHAR), 'None')
           || COALESCE(gene_id_str, 'None')
           || COALESCE(study_id, 'None')
           || COALESCE(interval_type, 'None')) AS interval_id
FROM joined
"""


REGISTRY["intervals_e2g_ingest"] = QuerySpec(
    q_intervals_e2g_ingest, _e2g_sql()
)


# --- EPIraction intervals ingestion ----------------------------------------
_EPI_CLASSES = ("Promoter", " Enhancer ", "INTERGENIC", "genic")
_EPI_SCORE_NAMES = (
    "H3K27ac", "Open", "Cofactor", "CTCF", "HiC_contacts", "abc_tissue",
)


def q_intervals_epiraction_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPIraction interval ingestion — second intervals dialect.

    Reference: datasource/intervals/epiraction.py:41 ``parse`` —
    study id regexp-extracted from the source ``.bed.gz`` path,
    chromosome normalization, long-cast bounds, lower+trim interval
    class, the six named resource scores (H3K27ac / Open / Cofactor /
    CTCF / HiC_contacts / abc_tissue — the reference packs them into
    an array of (name, value) structs at :76; emitted flat here so
    every element is hash-verified), the TargetIndex TSS-LUT left
    join feeding ``distance_to_tss`` and the md5 interval identifier —
    the SAME composition as the e2g dialect, proving the intervals
    abstraction is source-generic. PMID 40027634 (:24).
    """
    li = read_table(spark, sf_dir, "lineitem")
    tss_lut = q_target_index_build(spark, sf_dir).select(
        F.col("gene_id").alias("gene_id_str"), "tss"
    )
    lk, pk = F.col("l_orderkey"), F.col("l_partkey")
    start = (pk * 73) % 10_000_000
    raw = li.select(
        F.concat(
            F.lit("epiraction/tissue_"),
            (lk % 15).cast("string"),
            F.lit(".bed.gz"),
        ).alias("file_path"),
        F.concat(
            F.lit("chr"), ((pk % 22) + 1).cast("string")
        ).alias("chr"),
        start.alias("start_raw"),
        (start + pk % 4000 + 100).alias("end_raw"),
        F.concat(
            F.lit("ENSG"), F.lpad((pk % 1200).cast("string"), 11, "0")
        ).alias("gene_id_str"),
        F.concat(F.lit("cell_type_"), (lk % 30).cast("string")).alias(
            "biosample_name"
        ),
        (F.round((pk % 1000) / 1000.0, 6)).alias("score_raw"),
        F.element_at(
            F.array(*[F.lit(c) for c in _EPI_CLASSES]),
            (pk % 4 + 1).cast("int"),
        ).alias("class_raw"),
        *[
            F.round(((pk * (11 + i)) % 997) / 997.0, 6).alias(f"rs_{n}")
            for i, n in enumerate(_EPI_SCORE_NAMES)
        ],
    )
    base = raw.select(
        F.regexp_extract(F.col("file_path"), r"([^/]+)\.bed\.gz$", 1).alias(
            "study_id"
        ),
        F.regexp_replace(F.col("chr"), "chr", "").alias("chromosome"),
        F.col("start_raw").cast("long").alias("start"),
        F.col("end_raw").cast("long").alias("end"),
        "gene_id_str",
        "biosample_name",
        F.col("score_raw").cast("double").alias("score"),
        F.lower(F.trim(F.col("class_raw"))).alias("interval_type"),
        *[F.col(f"rs_{n}") for n in _EPI_SCORE_NAMES],
    )
    joined = base.join(tss_lut, on="gene_id_str", how="left")
    tss_inside = (F.col("tss") >= F.col("start")) & (
        F.col("tss") <= F.col("end")
    )
    dist = (
        F.when(F.col("tss").isNull(), F.lit(None).cast("long"))
        .when((F.col("interval_type") == "promoter") | tss_inside, F.lit(0))
        .otherwise(
            F.least(
                F.abs(F.col("tss") - F.col("start")),
                F.abs(F.col("tss") - F.col("end")),
            )
        )
        .cast("long")
    )
    id_cols = [
        "chromosome", "start", "end", "gene_id_str", "study_id",
        "interval_type",
    ]
    interval_id = F.md5(
        F.concat(
            *[
                F.coalesce(F.col(c).cast("string"), F.lit("None"))
                for c in id_cols
            ]
        )
    )
    return joined.select(
        "chromosome",
        "start",
        "end",
        F.col("gene_id_str").alias("gene_id"),
        "score",
        dist.alias("distance_to_tss"),
        *[F.col(f"rs_{n}") for n in _EPI_SCORE_NAMES],
        F.lit("epiraction").alias("datasource_id"),
        "interval_type",
        F.lit("40027634").alias("pmid"),
        "biosample_name",
        "study_id",
        interval_id.alias("interval_id"),
    )


def _epiraction_sql() -> str:
    classes = "(['" + "','".join(_EPI_CLASSES) + "'])"
    rs_cols = ",\n         ".join(
        f"ROUND(((l_partkey * {11 + i}) % 997) / 997.0, 6) AS rs_{n}"
        for i, n in enumerate(_EPI_SCORE_NAMES)
    )
    rs_out = ", ".join(f"rs_{n}" for n in _EPI_SCORE_NAMES)
    return f"""
WITH tss_lut AS (
  SELECT gene_id AS gene_id_str, tss FROM ({TARGET_INDEX_SQL})
),
raw AS (
  SELECT 'epiraction/tissue_' || CAST(l_orderkey % 15 AS VARCHAR)
           || '.bed.gz' AS file_path,
         'chr' || CAST((l_partkey % 22) + 1 AS VARCHAR) AS chr,
         (l_partkey * 73) % 10000000 AS start_raw,
         (l_partkey * 73) % 10000000 + l_partkey % 4000 + 100 AS end_raw,
         'ENSG' || lpad(CAST(l_partkey % 1200 AS VARCHAR), 11, '0')
           AS gene_id_str,
         'cell_type_' || CAST(l_orderkey % 30 AS VARCHAR) AS biosample_name,
         ROUND((l_partkey % 1000) / 1000.0, 6) AS score_raw,
         {classes}[CAST(l_partkey % 4 AS INT) + 1] AS class_raw,
         {rs_cols}
  FROM lineitem
),
base AS (
  SELECT regexp_extract(file_path, '([^/]+)\\.bed\\.gz$', 1) AS study_id,
         regexp_replace(chr, 'chr', '') AS chromosome,
         CAST(start_raw AS BIGINT) AS "start",
         CAST(end_raw AS BIGINT) AS "end",
         gene_id_str, biosample_name,
         CAST(score_raw AS DOUBLE) AS score,
         lower(trim(class_raw)) AS interval_type,
         {rs_out}
  FROM raw
)
SELECT chromosome, "start", "end", gene_id_str AS gene_id, score,
       CAST(CASE WHEN tss IS NULL THEN NULL
                 WHEN interval_type = 'promoter'
                      OR (tss >= "start" AND tss <= "end") THEN 0
                 ELSE LEAST(ABS(tss - "start"), ABS(tss - "end")) END
            AS BIGINT) AS distance_to_tss,
       {rs_out},
       'epiraction' AS datasource_id, interval_type, '40027634' AS pmid,
       biosample_name, study_id,
       md5(COALESCE(CAST(chromosome AS VARCHAR), 'None')
           || COALESCE(CAST("start" AS VARCHAR), 'None')
           || COALESCE(CAST("end" AS VARCHAR), 'None')
           || COALESCE(gene_id_str, 'None')
           || COALESCE(study_id, 'None')
           || COALESCE(interval_type, 'None')) AS interval_id
FROM base b
LEFT JOIN tss_lut t USING (gene_id_str)
"""


REGISTRY["intervals_epiraction_ingest"] = QuerySpec(
    q_intervals_epiraction_ingest, _epiraction_sql()
)


# --- UK Biobank study-index ingestion --------------------------------------
_UKBB_PHENOS = (
    "body mass index", "standing height", "systolic blood pressure",
    "forearm fracture", "type two diabetes",
)


def q_ukbiobank_study_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UK Biobank (SAIGE + Neale round 2) study-index ingestion.

    Reference: datasource/ukbiobank/study_index.py:36 ``from_source`` —
    cohort-keyed publication metadata (SAIGE_ prefix → the Zhou 2018
    publication constants, NEALE2_ → the Neale release date), the
    trait-string reshape for coded phenotypes ('CODE: description' →
    'Description | code' with initcap), the European discovery-sample
    ancestry annotation, and the constant project/study-type fields.
    initcap has no DuckDB builtin, so the oracle reproduces Spark's
    per-word capitalize-first/lowercase-rest with a list transform.
    """
    cust = read_table(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    code = F.concat(
        F.when(ck % 2 == 0, F.lit("SAIGE_")).otherwise(F.lit("NEALE2_")),
        ck.cast("string"),
    )
    pheno = F.element_at(
        F.array(*[F.lit(p) for p in _UKBB_PHENOS]), (ck % 5 + 1).cast("int")
    )
    # Half the traits carry a 'CODE: description' shape to exercise
    # the reshape; the rest are plain descriptions.
    trait_raw = F.when(
        ck % 3 == 0,
        F.concat(F.lit("X"), (ck % 900).cast("string"), F.lit(": "), pheno),
    ).otherwise(pheno)
    n_total = 10_000 + ck % 90_000
    # floor-div, not cast-of-quotient: DuckDB CAST(double AS INT)
    # rounds where Spark truncates (the repo-wide `div` rule).
    n_cases = F.when(ck % 2 == 0, F.floor(n_total / 10).cast("int"))
    raw = cust.select(
        code.alias("code"),
        trait_raw.alias("trait"),
        n_total.alias("n_total"),
        n_cases.alias("n_cases"),
        F.concat(F.lit("sumstats/"), code, F.lit(".tsv.gz")).alias("in_path"),
    )
    is_saige = F.col("code").startswith("SAIGE_")
    is_coded = F.col("trait").contains(":")
    reshaped = F.when(
        is_coded,
        F.concat(
            F.initcap(F.split(F.col("trait"), ": ").getItem(1)),
            F.lit(" | "),
            F.lower(F.split(F.col("trait"), ": ").getItem(0)),
        ),
    ).otherwise(F.col("trait"))
    return raw.select(
        F.col("code").alias("study_id"),
        F.lit("UKBiobank").alias("project_id"),
        F.lit("gwas").alias("study_type"),
        reshaped.alias("trait_from_source"),
        F.when(is_saige, F.lit("30104761")).alias("pubmed_id"),
        F.when(is_saige, F.lit("Nature Genetics")).alias(
            "publication_journal"
        ),
        F.when(is_saige, F.lit("Wei Zhou")).alias("publication_first_author"),
        F.when(F.col("code").startswith("NEALE2_"), F.lit("2018-08-01"))
        .otherwise(F.lit("2018-10-24"))
        .alias("publication_date"),
        F.col("n_total").cast("string").alias("initial_sample_size"),
        F.col("n_cases").alias("n_cases"),
        F.col("n_total").cast("int").alias("sample_size"),
        F.concat(F.lit("European="), F.col("n_total").cast("string")).alias(
            "ancestry"
        ),
        F.col("in_path").alias("sumstats_location"),
        F.lit(True).alias("has_sumstats"),
    )


_UKBB_PHENO_SQL = (
    "(['body mass index','standing height','systolic blood pressure',"
    "'forearm fracture','type two diabetes'])[CAST(c_custkey % 5 AS INT) + 1]"
)

UKBB_STUDY_SQL = f"""
WITH raw AS (
  SELECT CASE WHEN c_custkey % 2 = 0 THEN 'SAIGE_' ELSE 'NEALE2_' END
           || CAST(c_custkey AS VARCHAR) AS code,
         CASE WHEN c_custkey % 3 = 0
              THEN 'X' || CAST(c_custkey % 900 AS VARCHAR) || ': '
                   || {_UKBB_PHENO_SQL}
              ELSE {_UKBB_PHENO_SQL} END AS trait,
         10000 + c_custkey % 90000 AS n_total,
         CASE WHEN c_custkey % 2 = 0
              THEN CAST((10000 + c_custkey % 90000) // 10 AS INT) END
           AS n_cases
  FROM customer
)
SELECT code AS study_id,
       'UKBiobank' AS project_id,
       'gwas' AS study_type,
       CASE WHEN contains(trait, ':')
            THEN list_aggregate(
                   list_transform(str_split(str_split(trait, ': ')[2], ' '),
                                  x -> upper(x[1]) || lower(x[2:])),
                   'string_agg', ' ')
                 || ' | ' || lower(str_split(trait, ': ')[1])
            ELSE trait END AS trait_from_source,
       CASE WHEN starts_with(code, 'SAIGE_') THEN '30104761' END AS pubmed_id,
       CASE WHEN starts_with(code, 'SAIGE_') THEN 'Nature Genetics' END
         AS publication_journal,
       CASE WHEN starts_with(code, 'SAIGE_') THEN 'Wei Zhou' END
         AS publication_first_author,
       CASE WHEN starts_with(code, 'NEALE2_') THEN '2018-08-01'
            ELSE '2018-10-24' END AS publication_date,
       CAST(n_total AS VARCHAR) AS initial_sample_size,
       n_cases,
       CAST(n_total AS INT) AS sample_size,
       'European=' || CAST(n_total AS VARCHAR) AS ancestry,
       'sumstats/' || code || '.tsv.gz' AS sumstats_location,
       TRUE AS has_sumstats
FROM raw
"""


REGISTRY["ukbiobank_study_ingest"] = QuerySpec(
    q_ukbiobank_study_ingest, UKBB_STUDY_SQL
)


# --- deCODE aptamer metadata ingestion -------------------------------------
def q_decode_aptamer_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deCODE SomaScan aptamer → protein-target metadata.

    Reference: datasource/decode/aptamer_metadata.py:87
    ``_transform_source`` — SeqId-prefix strip on the aptamer id,
    comma-separated multi-target ``gene_name``/``uniprot`` fields
    split and zipped into the per-target metadata array, the
    ``isProteinComplex`` flag for multi-target aptamers (protein
    complexes), and a trailing distinct. The zip is emitted EXPLODED
    (one row per aptamer-target with its position) so the oracle
    hash covers every element of the reference's struct array.
    """
    part = read_table(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    seqid = F.concat(
        F.lit("  SeqId."),
        F.expr("p_partkey div 3").cast("string"),
        F.lit("_"),
        (pk % 3 + 1).cast("string"),
    )
    multi = pk % 5 == 0
    g1 = F.concat(F.lit("GENE"), (pk % 700).cast("string"))
    g2 = F.concat(F.lit("GENE"), ((pk + 1) % 700).cast("string"))
    p1 = F.concat(F.lit("P"), F.lpad((pk % 900).cast("string"), 5, "0"))
    p2 = F.concat(F.lit("P"), F.lpad(((pk + 1) % 900).cast("string"), 5, "0"))
    raw = part.select(
        seqid.alias("seqid"),
        F.concat(F.lit("target_"), (pk % 400).cast("string")).alias(
            "target_name"
        ),
        F.when(
            pk % 7 != 0,
            F.concat(F.lit("Full name of target "), (pk % 400).cast("string")),
        ).alias("target_full_name"),
        F.when(multi, F.concat_ws(",", g1, g2)).otherwise(g1).alias(
            "gene_name"
        ),
        F.when(multi, F.concat_ws(",", p1, p2)).otherwise(p1).alias("uniprot"),
    )
    parsed = raw.select(
        F.regexp_replace(F.trim(F.col("seqid")), "SeqId.", "").alias(
            "aptamer_id"
        ),
        F.trim(F.col("target_name")).alias("target_name"),
        F.trim(F.col("target_full_name")).alias("target_full_name"),
        F.split(F.trim(F.col("gene_name")), ",").alias("genes"),
        F.split(F.trim(F.col("uniprot")), ",").alias("prots"),
    ).distinct()
    z = F.arrays_zip(F.col("genes"), F.col("prots"))
    return (
        parsed.withColumn("is_protein_complex", F.size(z) > 1)
        .select(
            "aptamer_id",
            "target_name",
            "target_full_name",
            "is_protein_complex",
            F.posexplode(z).alias("target_pos", "t"),
        )
        .select(
            "aptamer_id",
            "target_name",
            "target_full_name",
            "is_protein_complex",
            (F.col("target_pos") + 1).cast("int").alias("target_pos"),
            F.col("t.genes").alias("gene_symbol"),
            F.col("t.prots").alias("protein_id"),
        )
    )


DECODE_APTAMER_SQL = """
WITH raw AS (
  SELECT '  SeqId.' || CAST(p_partkey // 3 AS VARCHAR) || '_'
           || CAST(p_partkey % 3 + 1 AS VARCHAR) AS seqid,
         'target_' || CAST(p_partkey % 400 AS VARCHAR) AS target_name,
         CASE WHEN p_partkey % 7 <> 0
              THEN 'Full name of target ' || CAST(p_partkey % 400 AS VARCHAR)
         END AS target_full_name,
         CASE WHEN p_partkey % 5 = 0
              THEN 'GENE' || CAST(p_partkey % 700 AS VARCHAR) || ',GENE'
                   || CAST((p_partkey + 1) % 700 AS VARCHAR)
              ELSE 'GENE' || CAST(p_partkey % 700 AS VARCHAR) END AS gene_name,
         CASE WHEN p_partkey % 5 = 0
              THEN 'P' || lpad(CAST(p_partkey % 900 AS VARCHAR), 5, '0') || ',P'
                   || lpad(CAST((p_partkey + 1) % 900 AS VARCHAR), 5, '0')
              ELSE 'P' || lpad(CAST(p_partkey % 900 AS VARCHAR), 5, '0')
         END AS uniprot
  FROM part
),
parsed AS (
  SELECT DISTINCT
         regexp_replace(trim(seqid), 'SeqId.', '') AS aptamer_id,
         trim(target_name) AS target_name,
         trim(target_full_name) AS target_full_name,
         str_split(trim(gene_name), ',') AS genes,
         str_split(trim(uniprot), ',') AS prots
  FROM raw
)
SELECT aptamer_id, target_name, target_full_name,
       len(genes) > 1 AS is_protein_complex,
       CAST(idx AS INT) AS target_pos,
       genes[idx] AS gene_symbol,
       prots[idx] AS protein_id
FROM parsed, unnest(generate_series(1, len(genes))) AS u(idx)
"""


REGISTRY["decode_aptamer_ingest"] = QuerySpec(
    q_decode_aptamer_ingest, DECODE_APTAMER_SQL
)


# --- deCODE pQTL summary-stats harmonisation -------------------------------
_DECODE_MIN_N = 20_000
_DECODE_MIN_MAC = 20
_DECODE_RANGE_US = 1_000_000


@prepared
def q_decode_sumstat_harmonise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deCODE proteomics summary-stats harmonisation — fifth dialect.

    Reference: datasource/decode/summary_statistics.py:224
    ``from_source``, steps in reference order: (1) schema alignment
    (Chrom/Pos/Beta/... → canonical), (2) MAC and sample-size gates
    (mac = 2·min(maf, 1-maf)·N), (3) allele flip against the
    positive-strand VariantDirection table — the reference keys this
    on (chromosome, rangeId, variantId); since variantId is exactly
    the chrom_pos_alt_ref concatenation, the repo matches on the
    bijective NARROW natural key (chromosome, position, alt, ref)
    instead (identical pair set, ~60% less shuffle width — see the
    r14 note at the join); unmatched variants are kept as-is, (4) EAF
    inference from impMAF vs the gnomAD EUR AF
    (:176 ``_infer_allele_frequency``: NULL EUR AF → impMAF; EUR AF
    closer to impMAF → impMAF; else 1-impMAF), (5) sanity filter, and
    (6) the study-id upgrade embedding curated gene symbols from the
    aptamer mapping — composed directly on ``decode_aptamer_ingest``.
    """
    from gentropy_spark.functions.stats import pvalue_from_neglog
    from gentropy_spark.operators.dedup import spread_if_narrow

    # Spread an under-partitioned source before the projection-heavy
    # dialect kernel (r14): at the 10x probe the staged events file is
    # ~2 scan splits, so the concat/when cascades ran at parallelism 2
    # while DuckDB used every core — 5.9s -> 2.0s with the spread
    # (guarded: many-file production sources are left alone).
    ev = spread_if_narrow(read_table(spark, sf_dir, "events"), "event_id")
    alleles = F.array(*[F.lit(a) for a in ("A", "C", "G", "T", "AT", "GCC")])
    ref = F.element_at(alleles, (F.col("event_id") % 6 + 1).cast("int"))
    alt = F.element_at(alleles, (F.expr("event_id div 7") % 6 + 1).cast("int"))
    pos = (F.col("event_id") * 131) % 5_000_000
    n_col = (F.lit(15_000) + (F.col("event_id") * 29) % 40_000).cast("int")
    raw = ev.select(
        F.concat(
            F.lit("DECODE_RAW_Proteomics_"), (F.col("user_id") % 50).cast("string")
        ).alias("study_id_raw"),
        ((F.col("user_id") % 300).cast("string")).alias("apt_num"),
        ((F.col("user_id") % 3) + 1).cast("string").alias("apt_sub"),
        F.col("event_type").alias("chromosome"),
        pos.alias("position"),
        alt.alias("alt"),
        ref.alias("ref"),
        F.round((F.col("value") - 150.0) / 100.0, 6).alias("beta"),
        F.round(0.1 + F.abs(F.col("value")) / 10.0, 6).alias("neglogp"),
        F.round(0.5 + (F.col("event_id") % 10) / 20.0, 6).alias(
            "standard_error"
        ),
        n_col.alias("sample_size"),
        (((F.col("event_id") * 7) % 5000) / 10000.0).alias("imp_maf"),
    )
    staged = (
        raw.filter(F.col("sample_size") >= _DECODE_MIN_N)
        .filter(
            2.0
            * F.least(F.col("imp_maf"), 1.0 - F.col("imp_maf"))
            * F.col("sample_size")
            >= _DECODE_MIN_MAC
        )
    )
    # Positive-strand variant-direction reference (direction keyed off
    # the variant itself so colliding rows agree; pos%10==8 absent).
    # r14 join-key re-expression: the reference matches on
    # (chromosome, rangeId, variantId), and variantId is EXACTLY the
    # "chrom_pos_alt_ref" concatenation — a bijection of the natural
    # key — so matching on (chromosome, position, alt, ref) yields the
    # identical pair set while the DISTINCT and the join shuffle carry
    # 4 narrow columns instead of two ~30-char derived strings (and
    # rangeId, redundant with position, drops out). The gnomAD-side id
    # strings are built AFTER the distinct, once per unique variant.
    # Measured at the 10x probe (with the spread above): 5.9 -> 2.0s;
    # values identical at sf0.01 by full-row comparison.
    vd = (
        ev.select(
            F.col("event_type").alias("vchrom"),
            pos.alias("vpos"),
            alt.alias("valt"),
            ref.alias("vref"),
        )
        .filter(F.col("vpos") % 10 != 8)
        .distinct()
        .select(
            "vchrom",
            "vpos",
            "valt",
            "vref",
            F.when(
                F.col("vpos") % 10 == 7,
                F.concat_ws(
                    "_", F.col("vchrom"), F.col("vpos").cast("string"),
                    F.col("vref"), F.col("valt"),
                ),
            )
            .otherwise(
                F.concat_ws(
                    "_", F.col("vchrom"), F.col("vpos").cast("string"),
                    F.col("valt"), F.col("vref"),
                )
            )
            .alias("gnomad_variant_id"),
            F.when(F.col("vpos") % 10 == 7, F.lit(-1))
            .otherwise(F.lit(1))
            .alias("direction"),
            F.when(
                F.col("vpos") % 10 != 5,
                ((F.col("vpos") * 13) % 10000) / 10000.0,
            ).alias("eur_af"),
        )
    )
    joined = staged.join(
        vd,
        (staged["chromosome"] == vd["vchrom"])
        & (staged["position"] == vd["vpos"])
        & (staged["alt"] == vd["valt"])
        & (staged["ref"] == vd["vref"]),
        "left",
    ).drop("vchrom", "vpos", "valt", "vref")
    d = F.coalesce(F.col("direction"), F.lit(1))
    eaf = (
        F.when(F.col("eur_af").isNull(), F.col("imp_maf"))
        .when(
            F.abs(F.col("eur_af") - F.col("imp_maf"))
            <= F.abs(F.col("eur_af") - (1.0 - F.col("imp_maf"))),
            F.col("imp_maf"),
        )
        .otherwise(1.0 - F.col("imp_maf"))
    )
    m, e = pvalue_from_neglog(F.col("neglogp"))
    harmonised = joined.select(
        "study_id_raw",
        "apt_num",
        "apt_sub",
        F.coalesce(
            F.col("gnomad_variant_id"),
            F.concat_ws(
                "_",
                F.col("chromosome"),
                F.col("position").cast("string"),
                F.col("alt"),
                F.col("ref"),
            ),
        ).alias("variant_id"),
        "chromosome",
        "position",
        (F.round(F.col("beta") * d, 6) + 0.0).alias("beta"),
        F.round(m, 6).alias("p_mantissa"),
        e.alias("p_exponent"),
        "standard_error",
        "sample_size",
        eaf.alias("eaf"),
        F.col("direction").isNotNull().alias("matched_gnomad"),
    ).filter(
        # sanity: non-null non-zero beta, positive SE
        F.col("beta").isNotNull()
        & (F.col("beta") != 0)
        & (F.col("standard_error") > 0)
    )
    # Study-id upgrade from the aptamer mapping (primary target only).
    apt = (
        q_decode_aptamer_ingest(spark, sf_dir)
        .filter(F.col("target_pos") == 1)
        .select(
            F.split(F.col("aptamer_id"), "_").getItem(0).alias("apt_num"),
            F.split(F.col("aptamer_id"), "_").getItem(1).alias("apt_sub"),
            "gene_symbol",
            "target_name",
        )
        .distinct()
    )
    return (
        harmonised.join(F.broadcast(apt), on=["apt_num", "apt_sub"], how="left")
        .select(
            F.when(
                F.col("gene_symbol").isNotNull(),
                F.concat_ws(
                    "_",
                    F.lit("DECODE"),
                    F.col("gene_symbol"),
                    F.col("target_name"),
                    F.col("study_id_raw"),
                ),
            )
            .otherwise(F.col("study_id_raw"))
            .alias("study_id"),
            "variant_id",
            "chromosome",
            "position",
            "beta",
            "p_mantissa",
            "p_exponent",
            "standard_error",
            "sample_size",
            "eaf",
            "matched_gnomad",
        )
    )


def _decode_sumstat_sql() -> str:
    arr = "(['A','C','G','T','AT','GCC'])"
    alt = f"{arr}[CAST((event_id // 7) % 6 AS INT) + 1]"
    ref = f"{arr}[CAST(event_id % 6 AS INT) + 1]"
    return f"""
WITH raw AS (
  SELECT 'DECODE_RAW_Proteomics_' || CAST(user_id % 50 AS VARCHAR)
           AS study_id_raw,
         CAST(user_id % 300 AS VARCHAR) AS apt_num,
         CAST((user_id % 3) + 1 AS VARCHAR) AS apt_sub,
         event_type AS chromosome,
         (event_id * 131) % 5000000 AS position,
         {alt} AS alt, {ref} AS ref,
         ROUND((value - 150.0) / 100.0, 6) AS beta,
         ROUND(0.1 + ABS(value) / 10.0, 6) AS neglogp,
         ROUND(0.5 + (event_id % 10) / 20.0, 6) AS standard_error,
         CAST(15000 + (event_id * 29) % 40000 AS INT) AS sample_size,
         ((event_id * 7) % 5000) / 10000.0 AS imp_maf
  FROM events
),
staged AS (
  SELECT *,
         chromosome || '_' || CAST(position AS VARCHAR) || '_' || alt || '_'
           || ref AS variant_id,
         CAST(position // {_DECODE_RANGE_US} AS INT) AS range_id
  FROM raw
  WHERE sample_size >= {_DECODE_MIN_N}
    AND 2.0 * LEAST(imp_maf, 1.0 - imp_maf) * sample_size >= {_DECODE_MIN_MAC}
),
vd AS (
  SELECT DISTINCT
    event_type AS chromosome,
    CAST(((event_id * 131) % 5000000) // {_DECODE_RANGE_US} AS INT)
      AS range_id,
    event_type || '_' || CAST((event_id * 131) % 5000000 AS VARCHAR) || '_'
      || {alt} || '_' || {ref} AS original_variant_id,
    CASE WHEN ((event_id * 131) % 5000000) % 10 = 7
         THEN event_type || '_' || CAST((event_id * 131) % 5000000 AS VARCHAR)
              || '_' || {ref} || '_' || {alt}
         ELSE event_type || '_' || CAST((event_id * 131) % 5000000 AS VARCHAR)
              || '_' || {alt} || '_' || {ref} END AS gnomad_variant_id,
    CASE WHEN ((event_id * 131) % 5000000) % 10 = 7 THEN -1 ELSE 1 END
      AS direction,
    CASE WHEN ((event_id * 131) % 5000000) % 10 <> 5
         THEN (((event_id * 131) % 5000000) * 13 % 10000) / 10000.0 END
      AS eur_af
  FROM events
  WHERE ((event_id * 131) % 5000000) % 10 <> 8
),
joined AS (
  SELECT s.*, v.gnomad_variant_id, v.direction, v.eur_af
  FROM staged s
  LEFT JOIN vd v
    ON s.chromosome = v.chromosome AND s.range_id = v.range_id
   AND s.variant_id = v.original_variant_id
),
harmonised AS (
  SELECT study_id_raw, apt_num, apt_sub,
         COALESCE(gnomad_variant_id, variant_id) AS variant_id,
         chromosome, position,
         ROUND(beta * COALESCE(direction, 1), 6) + 0.0 AS beta,
         ROUND(POW(10.0, CEIL(neglogp) - neglogp), 6) AS p_mantissa,
         CAST(-1 * CEIL(neglogp) AS INT) AS p_exponent,
         standard_error, sample_size,
         CASE WHEN eur_af IS NULL THEN imp_maf
              WHEN ABS(eur_af - imp_maf) <= ABS(eur_af - (1.0 - imp_maf))
                THEN imp_maf
              ELSE 1.0 - imp_maf END AS eaf,
         direction IS NOT NULL AS matched_gnomad
  FROM joined
  WHERE beta IS NOT NULL AND beta <> 0 AND standard_error > 0
),
apt AS (
  SELECT DISTINCT
         str_split(aptamer_id, '_')[1] AS apt_num,
         str_split(aptamer_id, '_')[2] AS apt_sub,
         gene_symbol, target_name
  FROM ({DECODE_APTAMER_SQL}) WHERE target_pos = 1
)
SELECT CASE WHEN a.gene_symbol IS NOT NULL
            THEN concat_ws('_', 'DECODE', a.gene_symbol, a.target_name,
                           h.study_id_raw)
            ELSE h.study_id_raw END AS study_id,
       h.variant_id, h.chromosome, h.position, h.beta, h.p_mantissa,
       h.p_exponent, h.standard_error, h.sample_size, h.eaf,
       h.matched_gnomad
FROM harmonised h
LEFT JOIN apt a USING (apt_num, apt_sub)
"""


REGISTRY["decode_sumstat_harmonise"] = QuerySpec(
    q_decode_sumstat_harmonise, _decode_sumstat_sql()
)


# --- FinnGen study index + EFO curation ------------------------------------
_FINNGEN_RELEASE = "FINNGEN_R12"
_FINNGEN_PHENOS = (
    "type 2 diabetes", "asthma", "atrial fibrillation",
    "major depressive disorder", "rheumatoid arthritis",
    "ulcerative colitis", "gout",
)


def q_finngen_study_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FinnGen study-index ingestion + manual EFO curation join.

    Reference: datasource/finngen/study_index.py:73 ``from_source``
    (release-prefixed study ids, case/control/sample arithmetic,
    Finnish-ancestry constants, per-phenocode sumstats locations) and
    datasource/finngen/efo_mapping.py:75 ``annotate_study_index`` —
    the curation table filtered to this release's FINNGEN rows, the
    ontology URL stripped to its EFO tail, LEFT-outer joined by trait
    so unmapped studies survive (the reference's explicit contract:
    dropping them would desynchronize study_index from credible_set),
    and the mappings collected per study (sorted CSV here so the
    value hash is order-stable).
    """
    cust = read_table(spark, sf_dir, "customer")
    nat = read_table(spark, sf_dir, "nation")
    ck = F.col("c_custkey")
    phenocode = F.concat(F.lit("AB1_PHENO"), (ck % 120).cast("string"))
    trait = F.element_at(
        F.array(*[F.lit(p) for p in _FINNGEN_PHENOS]), (ck % 7 + 1).cast("int")
    )
    n_cases = (F.lit(500) + (ck * 13) % 20_000).cast("int")
    n_controls = (F.lit(100_000) + (ck * 7) % 300_000).cast("int")
    studies = cust.select(
        F.concat_ws("_", F.lit(_FINNGEN_RELEASE), phenocode).alias("study_id"),
        trait.alias("trait_from_source"),
        n_cases.alias("n_cases"),
        n_controls.alias("n_controls"),
        (n_cases + n_controls).cast("int").alias("n_samples"),
        F.lit("Finnish").alias("ancestry"),
        F.lit("FinnGen").alias("cohort"),
        F.concat(
            F.lit("finngen/sumstat/"), phenocode, F.lit(".gz")
        ).alias("sumstats_location"),
        F.lit(_FINNGEN_RELEASE).alias("project_id"),
        F.lit("gwas").alias("study_type"),
        F.lit("36653562").alias("pubmed_id"),
        F.lit(True).alias("has_sumstats"),
    ).distinct()
    # Manual curation table: FINNGEN rows for two releases plus
    # non-FinnGen rows — only this release's FINNGEN rows survive.
    nk = F.col("n_nationkey")
    curation = nat.select(
        F.when(nk % 5 == 4, F.lit("GCST_other_project"))
        .when(nk % 2 == 0, F.lit("FINNGEN_R12_curation"))
        .otherwise(F.lit("finngen_r11_curation"))
        .alias("study_label"),
        F.element_at(
            F.array(*[F.lit(p) for p in _FINNGEN_PHENOS]),
            (nk % 7 + 1).cast("int"),
        ).alias("property_value"),
        F.concat(
            F.lit("http://www.ebi.ac.uk/efo/EFO_"),
            F.lpad((nk * 31 % 1_000_000).cast("string"), 7, "0"),
        ).alias("semantic_tag"),
    )
    efo = (
        curation.filter(F.col("study_label").contains("FINNGEN"))
        .filter(F.upper(F.col("study_label")).contains("R12"))
        .select(
            F.regexp_replace(F.col("semantic_tag"), "^.*/", "").alias(
                "efo_id"
            ),
            F.col("property_value").alias("trait_from_source"),
        )
    )
    joined = studies.join(F.broadcast(efo), on="trait_from_source", how="left")
    common = [c for c in studies.columns]
    return joined.groupBy(*common).agg(
        F.array_join(
            F.array_sort(F.collect_list("efo_id")), ";"
        ).alias("efo_ids_csv"),
        F.count("efo_id").alias("n_efo"),
    )


_FG_PHENO_SQL = (
    "(['type 2 diabetes','asthma','atrial fibrillation',"
    "'major depressive disorder','rheumatoid arthritis',"
    "'ulcerative colitis','gout'])"
)

FINNGEN_STUDY_SQL = f"""
WITH studies AS (
  SELECT DISTINCT
    '{_FINNGEN_RELEASE}_AB1_PHENO' || CAST(c_custkey % 120 AS VARCHAR)
      AS study_id,
    {_FG_PHENO_SQL}[CAST(c_custkey % 7 AS INT) + 1] AS trait_from_source,
    CAST(500 + (c_custkey * 13) % 20000 AS INT) AS n_cases,
    CAST(100000 + (c_custkey * 7) % 300000 AS INT) AS n_controls,
    CAST(500 + (c_custkey * 13) % 20000
         + 100000 + (c_custkey * 7) % 300000 AS INT) AS n_samples,
    'Finnish' AS ancestry,
    'FinnGen' AS cohort,
    'finngen/sumstat/AB1_PHENO' || CAST(c_custkey % 120 AS VARCHAR) || '.gz'
      AS sumstats_location,
    '{_FINNGEN_RELEASE}' AS project_id,
    'gwas' AS study_type,
    '36653562' AS pubmed_id,
    TRUE AS has_sumstats
  FROM customer
),
curation AS (
  SELECT CASE WHEN n_nationkey % 5 = 4 THEN 'GCST_other_project'
              WHEN n_nationkey % 2 = 0 THEN 'FINNGEN_R12_curation'
              ELSE 'finngen_r11_curation' END AS study_label,
         {_FG_PHENO_SQL.replace("c_custkey", "n_nationkey")}
           [CAST(n_nationkey % 7 AS INT) + 1] AS property_value,
         'http://www.ebi.ac.uk/efo/EFO_'
           || lpad(CAST(n_nationkey * 31 % 1000000 AS VARCHAR), 7, '0')
           AS semantic_tag
  FROM nation
),
efo AS (
  SELECT regexp_replace(semantic_tag, '^.*/', '') AS efo_id,
         property_value AS trait_from_source
  FROM curation
  WHERE contains(study_label, 'FINNGEN')
    AND contains(upper(study_label), 'R12')
)
SELECT s.*,
       COALESCE(array_to_string(list_sort(list(e.efo_id)
                  FILTER (e.efo_id IS NOT NULL)), ';'), '') AS efo_ids_csv,
       COUNT(e.efo_id) AS n_efo
FROM studies s
LEFT JOIN efo e USING (trait_from_source)
GROUP BY ALL
"""


REGISTRY["finngen_study_ingest"] = QuerySpec(
    q_finngen_study_ingest, FINNGEN_STUDY_SQL
)


# --- Ensembl VEP output → variant index ------------------------------------
_VEP_TERMS = (
    ("missense_variant", 0.66),
    ("synonymous_variant", 0.05),
    ("intron_variant", 0.1),
    ("upstream_gene_variant", 0.25),
)


def q_vep_variant_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensembl VEP JSON output → variant-index rows.

    Reference: datasource/ensembl/vep_parser.py — the location parse of
    the VEP input field ('chrom pos . ref/alt', :570
    ``_parse_variant_location_id``), per-variant most-severe-transcript
    selection by in-silico score with score-less transcripts dropped
    (:291 ``_get_most_severe_transcript``), the one-letter amino-acid
    change build from 'from/to' + protein position (:488
    ``_parser_amino_acid_change`` — NULL if either part is missing),
    and the version-stripped distinct union of SwissProt + TrEMBL
    accessions (:527 ``_collect_uniprot_accessions``). Transcript rows
    are synthesized exploded (1-3 per variant) and aggregated back —
    the same shape VEP's nested JSON gives after explode.
    """
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    alleles = F.array(*[F.lit(a) for a in ("A", "C", "G", "T")])
    ref = F.element_at(alleles, (F.col("event_id") % 4 + 1).cast("int"))
    alt = F.element_at(alleles, ((F.col("event_id") + 1) % 4 + 1).cast("int"))
    pos = (F.col("event_id") * 131) % 5_000_000
    vep_input = F.concat_ws(
        " ",
        F.col("event_type"),
        pos.cast("string"),
        F.lit("."),
        F.concat_ws("/", ref, alt),
    )
    n_tr = (F.col("event_id") % 3 + 1).cast("int")
    base = ev.select(
        "event_id", vep_input.alias("vep_input"), n_tr.alias("n_tr")
    )
    tr = base.withColumn("tr_idx", F.explode(F.sequence(F.lit(1), F.col("n_tr"))))
    k = F.col("event_id") * 7 + F.col("tr_idx")
    term = F.element_at(
        F.array(*[F.lit(t) for t, _ in _VEP_TERMS]), (k % 4 + 1).cast("int")
    )
    score_map = F.create_map(
        *[F.lit(x) for t, s in _VEP_TERMS for x in (t, s)]
    )
    # every third transcript lacks an in-silico score (dropped from
    # the most-severe selection, like the reference's filter)
    score = F.when(k % 3 != 0, score_map[term])
    aa = F.when(k % 4 == 0, F.lit("A/T")).when(k % 4 == 1, F.lit("R/Q"))
    protein_end = F.when(k % 5 != 0, (k % 800 + 1).cast("int"))
    swissprot = F.when(
        k % 2 == 0,
        F.array(F.concat(F.lit("P"), (k % 900).cast("string"), F.lit(".2"))),
    )
    trembl = F.when(
        k % 3 == 0,
        F.array(F.concat(F.lit("Q"), (k % 700).cast("string"), F.lit(".1"))),
    )
    transcripts = tr.select(
        "event_id",
        "vep_input",
        "tr_idx",
        F.concat(F.lit("ENSG"), F.lpad((k % 300).cast("string"), 11, "0")).alias(
            "gene_id"
        ),
        term.alias("consequence_term"),
        score.alias("in_silico_score"),
        F.when(
            aa.isNotNull() & protein_end.isNotNull(),
            F.concat(
                F.split(aa, "/").getItem(0),
                protein_end.cast("string"),
                F.split(aa, "/").getItem(1),
            ),
        ).alias("amino_acid_change"),
        F.filter(
            F.array_distinct(
                F.transform(
                    F.concat(
                        F.coalesce(swissprot, F.array().cast("array<string>")),
                        F.coalesce(trembl, F.array().cast("array<string>")),
                    ),
                    lambda x: F.split(x, "\\.").getItem(0),
                )
            ),
            lambda x: x.isNotNull(),
        ).alias("protein_ids"),
    )
    w = Window.partitionBy("event_id").orderBy(
        F.col("in_silico_score").desc(), F.col("gene_id").asc()
    )
    most_severe = (
        transcripts.filter(F.col("in_silico_score").isNotNull())
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    loc = F.split(F.col("vep_input"), " ")
    al = F.split(loc.getItem(3), "/")
    agg_prot = transcripts.groupBy("event_id").agg(
        F.array_join(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("protein_ids")))),
            ";",
        ).alias("uniprot_csv"),
        F.count("*").alias("n_transcripts"),
    )
    return most_severe.join(agg_prot, on="event_id").select(
        F.concat_ws(
            "_", loc.getItem(0), loc.getItem(1), al.getItem(0), al.getItem(1)
        ).alias("variant_id"),
        loc.getItem(0).alias("chromosome"),
        loc.getItem(1).cast("long").alias("position"),
        al.getItem(0).alias("reference_allele"),
        al.getItem(1).alias("alternate_allele"),
        F.col("consequence_term").alias("most_severe_consequence"),
        F.col("gene_id").alias("most_severe_gene_id"),
        F.col("in_silico_score").alias("most_severe_score"),
        "amino_acid_change",
        "uniprot_csv",
        "n_transcripts",
    )


def _vep_ingest_sql() -> str:
    terms = "(['missense_variant','synonymous_variant','intron_variant','upstream_gene_variant'])"
    scores = (
        "CASE t WHEN 'missense_variant' THEN 0.66 "
        "WHEN 'synonymous_variant' THEN 0.05 WHEN 'intron_variant' THEN 0.1 "
        "WHEN 'upstream_gene_variant' THEN 0.25 END"
    )
    return f"""
WITH base AS (
  SELECT event_id,
         event_type || ' ' || CAST((event_id * 131) % 5000000 AS VARCHAR)
           || ' . '
           || (['A','C','G','T'])[CAST(event_id % 4 AS INT) + 1] || '/'
           || (['A','C','G','T'])[CAST((event_id + 1) % 4 AS INT) + 1]
           AS vep_input,
         CAST(event_id % 3 + 1 AS INT) AS n_tr
  FROM events
),
tr AS (
  SELECT base.*, g.tr_idx
  FROM base, unnest(generate_series(1, n_tr)) AS g(tr_idx)
),
transcripts AS (
  SELECT event_id, vep_input, tr_idx,
    'ENSG' || lpad(CAST((event_id * 7 + tr_idx) % 300 AS VARCHAR), 11, '0')
      AS gene_id,
    {terms}[CAST((event_id * 7 + tr_idx) % 4 AS INT) + 1] AS consequence_term,
    CASE WHEN (event_id * 7 + tr_idx) % 3 <> 0 THEN
      CASE {terms}[CAST((event_id * 7 + tr_idx) % 4 AS INT) + 1]
        WHEN 'missense_variant' THEN 0.66::DOUBLE
        WHEN 'synonymous_variant' THEN 0.05::DOUBLE
        WHEN 'intron_variant' THEN 0.1::DOUBLE
        WHEN 'upstream_gene_variant' THEN 0.25::DOUBLE END
    END AS in_silico_score,
    CASE WHEN (event_id * 7 + tr_idx) % 4 IN (0, 1)
              AND (event_id * 7 + tr_idx) % 5 <> 0
         THEN str_split(CASE WHEN (event_id * 7 + tr_idx) % 4 = 0
                             THEN 'A/T' ELSE 'R/Q' END, '/')[1]
              || CAST((event_id * 7 + tr_idx) % 800 + 1 AS VARCHAR)
              || str_split(CASE WHEN (event_id * 7 + tr_idx) % 4 = 0
                                THEN 'A/T' ELSE 'R/Q' END, '/')[2]
    END AS amino_acid_change,
    list_sort(list_distinct(list_transform(
      (CASE WHEN (event_id * 7 + tr_idx) % 2 = 0
            THEN ['P' || CAST((event_id * 7 + tr_idx) % 900 AS VARCHAR) || '.2']
            ELSE [] END)
      || (CASE WHEN (event_id * 7 + tr_idx) % 3 = 0
               THEN ['Q' || CAST((event_id * 7 + tr_idx) % 700 AS VARCHAR)
                     || '.1']
               ELSE [] END),
      x -> str_split(x, '.')[1]))) AS protein_ids
  FROM tr
),
most_severe AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
              ORDER BY in_silico_score DESC, gene_id) AS rn
  FROM transcripts WHERE in_silico_score IS NOT NULL
),
agg_prot AS (
  SELECT event_id,
         -- COALESCE: DuckDB array_to_string([]) is NULL, Spark's is ''
         COALESCE(array_to_string(
           list_sort(list_distinct(flatten(list(protein_ids)))), ';'), '')
           AS uniprot_csv,
         COUNT(*) AS n_transcripts
  FROM transcripts GROUP BY event_id
)
SELECT str_split(vep_input, ' ')[1] || '_' || str_split(vep_input, ' ')[2]
         || '_' || str_split(str_split(vep_input, ' ')[4], '/')[1]
         || '_' || str_split(str_split(vep_input, ' ')[4], '/')[2]
         AS variant_id,
       str_split(vep_input, ' ')[1] AS chromosome,
       CAST(str_split(vep_input, ' ')[2] AS BIGINT) AS position,
       str_split(str_split(vep_input, ' ')[4], '/')[1] AS reference_allele,
       str_split(str_split(vep_input, ' ')[4], '/')[2] AS alternate_allele,
       consequence_term AS most_severe_consequence,
       gene_id AS most_severe_gene_id,
       in_silico_score AS most_severe_score,
       amino_acid_change, uniprot_csv, n_transcripts
FROM most_severe JOIN agg_prot USING (event_id)
WHERE rn = 1
"""


REGISTRY["vep_variant_index_ingest"] = QuerySpec(
    q_vep_variant_index_ingest, _vep_ingest_sql()
)


# --- OTAR2075 loss-of-function curation ------------------------------------
_LOF_VERDICTS = ("lof", "likely_lof", "uncertain", "likely_not_lof", "not_lof")
_LOF_SCORES = (1.0, 0.5, 0.0, -0.5, -1.0)
_LOF_DESCRIPTIONS = (
    "Assessed to cause LoF",
    "Suspected to cause LoF",
    "Uncertain LoF assessment",
    "Suspected not to cause LoF",
    "Assessed not to cause LoF",
)


def q_lof_curation_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTAR2075 loss-of-function curation ingestion.

    Reference: datasource/open_targets/lof_curation.py:62
    ``as_variant_index`` — the dash-separated GRCh37/GRCh38 variant-id
    CSV parses, the cross-build id rebuild (chrom+pos from GRCh38,
    ref/alt from GRCh37 — the reference's liftover-mistrust rule), the
    verdict → description sentence map (:41), and the five-point
    ordinal verdict normalisation to [-1, 1]
    (variant_index.py:546 ``_normalise_lof``).
    """
    ev = read_table(spark, sf_dir, "events")
    alleles = F.array(*[F.lit(a) for a in ("A", "C", "G", "T")])
    ref37 = F.element_at(alleles, (F.col("event_id") % 4 + 1).cast("int"))
    alt37 = F.element_at(alleles, ((F.col("event_id") + 2) % 4 + 1).cast("int"))
    pos38 = (F.col("event_id") * 131) % 5_000_000
    # GRCh37 position drifts from GRCh38 (that's why the reference
    # mistrusts the liftover and rebuilds the id cross-build).
    pos37 = pos38 + (F.col("event_id") % 100)
    verdict = F.element_at(
        F.array(*[F.lit(v) for v in _LOF_VERDICTS]),
        (F.col("event_id") % 5 + 1).cast("int"),
    )
    raw = ev.select(
        F.concat_ws(
            "-", F.col("event_type"), pos37.cast("string"), ref37, alt37
        ).alias("variant_id_grch37"),
        F.concat_ws(
            "-", F.col("event_type"), pos38.cast("string"), ref37, alt37
        ).alias("variant_id_grch38"),
        verdict.alias("verdict"),
    )
    h37 = F.split(F.col("variant_id_grch37"), "-")
    h38 = F.split(F.col("variant_id_grch38"), "-")
    desc = F.element_at(
        F.array(*[F.lit(d) for d in _LOF_DESCRIPTIONS]),
        F.array_position(
            F.array(*[F.lit(v) for v in _LOF_VERDICTS]), F.col("verdict")
        ).cast("int"),
    )
    score = F.element_at(
        F.array(*[F.lit(s) for s in _LOF_SCORES]),
        F.array_position(
            F.array(*[F.lit(v) for v in _LOF_VERDICTS]), F.col("verdict")
        ).cast("int"),
    )
    return raw.select(
        F.concat_ws(
            "_",
            h38.getItem(0),
            h38.getItem(1),
            h37.getItem(2),
            h37.getItem(3),
        ).alias("variant_id"),
        h38.getItem(0).alias("chromosome"),
        h38.getItem(1).cast("int").alias("position"),
        h37.getItem(2).alias("reference_allele"),
        h37.getItem(3).alias("alternate_allele"),
        F.lit("LossOfFunctionCuration").alias("method"),
        F.col("verdict").alias("assessment"),
        score.alias("normalised_score"),
        F.concat(desc, F.lit(" by OTAR2075 variant curation effort.")).alias(
            "variant_description"
        ),
    )


def _lof_sql() -> str:
    verdict_arr = "(['lof','likely_lof','uncertain','likely_not_lof','not_lof'])"
    desc_case = (
        "CASE verdict WHEN 'lof' THEN 'Assessed to cause LoF' "
        "WHEN 'likely_lof' THEN 'Suspected to cause LoF' "
        "WHEN 'uncertain' THEN 'Uncertain LoF assessment' "
        "WHEN 'likely_not_lof' THEN 'Suspected not to cause LoF' "
        "WHEN 'not_lof' THEN 'Assessed not to cause LoF' END"
    )
    score_case = (
        "CASE verdict WHEN 'lof' THEN 1.0::DOUBLE "
        "WHEN 'likely_lof' THEN 0.5::DOUBLE WHEN 'uncertain' THEN 0.0::DOUBLE "
        "WHEN 'likely_not_lof' THEN -0.5::DOUBLE ELSE -1.0::DOUBLE END"
    )
    return f"""
WITH raw AS (
  SELECT event_type || '-'
           || CAST((event_id * 131) % 5000000 + event_id % 100 AS VARCHAR)
           || '-' || (['A','C','G','T'])[CAST(event_id % 4 AS INT) + 1]
           || '-' || (['A','C','G','T'])[CAST((event_id + 2) % 4 AS INT) + 1]
           AS variant_id_grch37,
         event_type || '-' || CAST((event_id * 131) % 5000000 AS VARCHAR)
           || '-' || (['A','C','G','T'])[CAST(event_id % 4 AS INT) + 1]
           || '-' || (['A','C','G','T'])[CAST((event_id + 2) % 4 AS INT) + 1]
           AS variant_id_grch38,
         {verdict_arr}[CAST(event_id % 5 AS INT) + 1] AS verdict
  FROM events
)
SELECT str_split(variant_id_grch38, '-')[1] || '_'
         || str_split(variant_id_grch38, '-')[2] || '_'
         || str_split(variant_id_grch37, '-')[3] || '_'
         || str_split(variant_id_grch37, '-')[4] AS variant_id,
       str_split(variant_id_grch38, '-')[1] AS chromosome,
       CAST(str_split(variant_id_grch38, '-')[2] AS INT) AS position,
       str_split(variant_id_grch37, '-')[3] AS reference_allele,
       str_split(variant_id_grch37, '-')[4] AS alternate_allele,
       'LossOfFunctionCuration' AS method,
       verdict AS assessment,
       {score_case} AS normalised_score,
       {desc_case} || ' by OTAR2075 variant curation effort.'
         AS variant_description
FROM raw
"""


REGISTRY["lof_curation_ingest"] = QuerySpec(q_lof_curation_ingest, _lof_sql())


# --- FinnGen SuSiE fine-mapping ingestion ----------------------------------
# np.log10(np.exp(2)) — the publication's credible-set LBF threshold.
_FG_LBF_THRESHOLD = 0.8685889638065036


def q_finngen_finemapping_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FinnGen SuSiE fine-mapping output → credible-set top loci.

    Reference: datasource/finngen/finemapping.py:208
    ``from_finngen_susie_finemapping`` — the SNP table's invalid-
    position and non-credible-set (cs <= 0) drops, the per-single-
    effect alpha/lbf/mean column pick by credible-set index, variant
    ids recoded ':' → '_', p-value split, the credible-set SUMMARY
    table join on (study, region, cs) with the publication LBF
    threshold (log10BF > ln(2)/ln(10)·2, except the first credible
    set of a region always survives, :433), and max-PIP lead
    selection per credible set with the purity columns carried.
    """
    from gentropy_spark.functions.stats import split_pvalue
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    alleles = F.array(*[F.lit(a) for a in ("A", "C", "G", "T")])
    ref = F.element_at(alleles, (F.col("event_id") % 4 + 1).cast("int"))
    alt = F.element_at(alleles, ((F.col("event_id") + 1) % 4 + 1).cast("int"))
    pos_raw = (F.col("event_id") * 131) % 5_000_000
    trait = F.concat(F.lit("PHENO"), (F.col("user_id") % 60).cast("string"))
    region = F.concat(
        F.lit("chr"),
        F.col("event_type"),
        F.lit(":"),
        ((F.col("event_id") % 4) + 1).cast("string"),
    )
    cs = (F.col("event_id") % 5).cast("int")
    k = F.col("event_id")
    snp_cols = [
        trait.alias("trait"),
        region.alias("region"),
        F.concat_ws(
            ":", F.col("event_type"), pos_raw.cast("string"), ref, alt
        ).alias("v"),
        F.col("event_type").alias("chromosome_raw"),
        # planted invalid positions exercise the position drop
        F.when(k % 23 != 0, pos_raw).alias("position"),
        cs.alias("cs"),
        (((k * 53) % 999 + 1) / 1000.0).alias("p"),
        F.round(0.5 + (k % 10) / 20.0, 6).alias("se"),
        (((k * 7) % 5000) / 10000.0).alias("maf"),
    ]
    for i in range(1, 11):
        snp_cols.append((((k * (i + 11)) % 1000) / 1000.0).alias(f"alpha{i}"))
        snp_cols.append(
            F.round((((k * (i + 3)) % 200) - 100) / 10.0, 6).alias(
                f"lbf_variable{i}"
            )
        )
        snp_cols.append(
            F.round((((k * (i + 5)) % 400) - 200) / 100.0, 6).alias(f"mean{i}")
        )
    snps = ev.select("user_id", "event_id", *snp_cols)
    kept = snps.filter(F.col("position").isNotNull()).filter(F.col("cs") > 0)

    def pick(prefix: str):
        expr = F.lit(None).cast("double")
        for i in range(1, 11):
            expr = F.when(F.col("cs") == i, F.col(f"{prefix}{i}")).otherwise(
                expr
            )
        return expr

    m, e = split_pvalue(F.col("p"))
    processed = kept.select(
        F.concat_ws("_", F.lit(_FINNGEN_RELEASE), F.col("trait")).alias(
            "study_id"
        ),
        "trait",
        "region",
        F.regexp_replace(F.col("v"), ":", "_").alias("variant_id"),
        F.col("cs").alias("credible_set_index"),
        F.regexp_replace(F.col("chromosome_raw"), "^chr", "").alias(
            "chromosome"
        ),
        F.col("position").cast("int").alias("position"),
        m.alias("p_mantissa"),
        e.alias("p_exponent"),
        F.col("se").alias("standard_error"),
        F.col("maf").alias("eaf"),
        F.lit("SuSiE").alias("finemapping_method"),
        pick("alpha").alias("posterior_probability"),
        pick("lbf_variable").alias("log_bf"),
        pick("mean").alias("beta"),
    )
    # Credible-set summary table: values are functions of the KEY
    # (trait, region, cs), so the distinct is stable.
    key_num = (
        (F.col("user_id") % 60) * 17
        + (F.col("event_id") % 4) * 5
        + (F.col("event_id") % 5)
    )
    chash = F.ascii(F.substring(F.col("event_type"), 1, 1))
    summaries = (
        ev.filter((F.col("event_id") % 5) > 0)
        .select(
            trait.alias("trait"),
            region.alias("region"),
            (F.col("event_id") % 5).cast("int").alias("credible_set_index"),
            F.round(
                ((key_num * 37 + chash) % 500) / 100.0 - 0.5, 6
            ).alias("credible_set_log10bf"),
            (((key_num * 13 + chash) % 1000) / 1000.0).alias("purity_mean_r2"),
            F.round(
                (((key_num * 13 + chash) % 1000) / 1000.0) * 0.8, 6
            ).alias("purity_min_r2"),
        )
        .distinct()
        .filter(
            (F.col("credible_set_log10bf") > _FG_LBF_THRESHOLD)
            | (F.col("credible_set_index") == 1)
        )
        .withColumn(
            "study_id",
            F.concat_ws("_", F.lit(_FINNGEN_RELEASE), F.col("trait")),
        )
        .drop("trait")
    )
    joined = processed.join(
        summaries, on=["study_id", "region", "credible_set_index"], how="inner"
    )
    w = Window.partitionBy("study_id", "region", "credible_set_index")
    ranked = joined.withColumn(
        "rn",
        F.row_number().over(
            w.orderBy(F.desc("posterior_probability"), F.col("variant_id"))
        ),
    ).withColumn(
        "cs_size",
        F.count("*").over(
            w.orderBy("variant_id").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "variant_id",
        "chromosome",
        "position",
        "study_id",
        "beta",
        "p_mantissa",
        "p_exponent",
        "eaf",
        "standard_error",
        "region",
        "credible_set_index",
        "finemapping_method",
        "credible_set_log10bf",
        "purity_mean_r2",
        "purity_min_r2",
        "cs_size",
    )


def _finngen_finemap_sql() -> str:
    alpha_pick = " ".join(
        f"WHEN cs = {i} THEN ((event_id * {i + 11}) % 1000) / 1000.0"
        for i in range(1, 11)
    )
    lbf_pick = " ".join(
        f"WHEN cs = {i} THEN ROUND((((event_id * {i + 3}) % 200) - 100) / 10.0, 6)"
        for i in range(1, 11)
    )
    mean_pick = " ".join(
        f"WHEN cs = {i} THEN ROUND((((event_id * {i + 5}) % 400) - 200) / 100.0, 6)"
        for i in range(1, 11)
    )
    return f"""
WITH snps AS (
  SELECT user_id, event_id,
         'PHENO' || CAST(user_id % 60 AS VARCHAR) AS trait,
         'chr' || event_type || ':' || CAST((event_id % 4) + 1 AS VARCHAR)
           AS region,
         event_type || ':' || CAST((event_id * 131) % 5000000 AS VARCHAR)
           || ':' || (['A','C','G','T'])[CAST(event_id % 4 AS INT) + 1]
           || ':' || (['A','C','G','T'])[CAST((event_id + 1) % 4 AS INT) + 1]
           AS v,
         event_type AS chromosome_raw,
         CASE WHEN event_id % 23 <> 0
              THEN (event_id * 131) % 5000000 END AS position,
         CAST(event_id % 5 AS INT) AS cs,
         ((event_id * 53) % 999 + 1) / 1000.0 AS p,
         ROUND(0.5 + (event_id % 10) / 20.0, 6) AS se,
         ((event_id * 7) % 5000) / 10000.0 AS maf
  FROM events
),
processed AS (
  SELECT '{_FINNGEN_RELEASE}_' || trait AS study_id, trait, region,
         replace(v, ':', '_') AS variant_id,
         cs AS credible_set_index,
         regexp_replace(chromosome_raw, '^chr', '') AS chromosome,
         CAST(position AS INT) AS position,
         ROUND(p / POW(10.0, FLOOR(LOG10(p))), 3) AS p_mantissa,
         CAST(FLOOR(LOG10(p)) AS INT) AS p_exponent,
         se AS standard_error,
         maf AS eaf,
         'SuSiE' AS finemapping_method,
         CASE {alpha_pick} END AS posterior_probability,
         CASE {lbf_pick} END AS log_bf,
         CASE {mean_pick} END AS beta
  FROM snps
  WHERE position IS NOT NULL AND cs > 0
),
summaries AS (
  SELECT DISTINCT
    '{_FINNGEN_RELEASE}_PHENO' || CAST(user_id % 60 AS VARCHAR) AS study_id,
    'chr' || event_type || ':' || CAST((event_id % 4) + 1 AS VARCHAR)
      AS region,
    CAST(event_id % 5 AS INT) AS credible_set_index,
    ROUND((((user_id % 60) * 17 + (event_id % 4) * 5 + (event_id % 5)) * 37
           + ascii(substr(event_type, 1, 1))) % 500 / 100.0 - 0.5, 6)
      AS credible_set_log10bf,
    (((user_id % 60) * 17 + (event_id % 4) * 5 + (event_id % 5)) * 13
     + ascii(substr(event_type, 1, 1))) % 1000 / 1000.0 AS purity_mean_r2,
    ROUND(((((user_id % 60) * 17 + (event_id % 4) * 5 + (event_id % 5)) * 13
            + ascii(substr(event_type, 1, 1))) % 1000 / 1000.0) * 0.8, 6)
      AS purity_min_r2
  FROM events WHERE event_id % 5 > 0
),
filtered_summaries AS (
  SELECT * FROM summaries
  WHERE credible_set_log10bf > {_FG_LBF_THRESHOLD!r}
     OR credible_set_index = 1
),
joined AS (
  SELECT p.*, s.credible_set_log10bf, s.purity_mean_r2, s.purity_min_r2
  FROM processed p
  JOIN filtered_summaries s
    USING (study_id, region, credible_set_index)
),
ranked AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY study_id, region, credible_set_index
                       ORDER BY posterior_probability DESC, variant_id) AS rn,
    COUNT(*) OVER (PARTITION BY study_id, region, credible_set_index)
      AS cs_size
  FROM joined
)
SELECT variant_id, chromosome, position, study_id, beta, p_mantissa,
       p_exponent, eaf, standard_error, region, credible_set_index,
       finemapping_method, credible_set_log10bf, purity_mean_r2,
       purity_min_r2, cs_size
FROM ranked WHERE rn = 1
"""


REGISTRY["finngen_finemapping_ingest"] = QuerySpec(
    q_finngen_finemapping_ingest, _finngen_finemap_sql()
)


# --- Complex Portal ComplexTAB parse ----------------------------------------
def q_complextab_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex Portal ComplexTAB flat-file parse dialect.

    Reference: datasource/complex_portal/__init__.py:86
    ``from_complex_tab`` over two TSV exports (experimental +
    predicted): union, human-taxonomy filter (9606, :44,120), the
    ``nullValue="-"`` TSV contract (:113), and the four field parsers
    — ``_parse_components`` (:195: pipe-split ``UniProtID(stoich)``
    with source pinned to 'uniprot'), ``_parse_evidence_code`` (:156:
    pipe-split, ``ECO:\\d+`` extraction), ``_parse_cross_references``
    (:173: pipe-split ``source:id(desc)``), ``_parse_source`` (:138:
    ``psi-mi:"MI:XXXX"(name)``).

    Raw ComplexTAB lines are fabricated deterministically from the
    supplier table (the fabrication IS part of the oracle contract);
    the component array is emitted EXPLODED with its position and the
    evidence/xref arrays as ';'-joined strings so the oracle hash
    covers every parsed element.
    """
    sup = read_table(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    # one raw frame per "file"; predicted rows get a shifted key space
    def raw_file(frame: DataFrame, key: F.Column, is_exp: bool) -> DataFrame:
        comp = lambda i: F.concat(  # noqa: E731
            F.lit("P"),
            F.lpad(((key + i * 37) % 900).cast("string"), 5, "0"),
            F.lit("("),
            ((key + i) % 3 + 1).cast("string"),
            F.lit(")"),
        )
        participants = F.concat_ws(
            "|",
            comp(0),
            F.when(key % 2 == 0, comp(1)),
            F.when(key % 3 == 0, comp(2)),
        )
        evidence = F.concat_ws(
            "|",
            F.concat(
                F.lit("intact:EBI-"),
                (key % 5000).cast("string"),
                F.lit(" ECO:00003"),
                F.lpad((key % 90).cast("string"), 2, "0"),
            ),
            F.when(
                key % 4 == 0,
                F.concat(F.lit("ECO:00000"), F.lpad((key % 70).cast("string"), 2, "0")),
            ),
        )
        xrefs = F.concat_ws(
            "|",
            F.concat(
                F.lit("wwpdb:"),
                F.lpad((key % 3000).cast("string"), 4, "0"),
                F.lit("(identity)"),
            ),
            F.when(
                key % 5 == 0,
                F.concat(
                    F.lit("intact:EBI-"),
                    ((key * 7) % 5000).cast("string"),
                    F.lit("(exp-evidence)"),
                ),
            ),
        )
        src = F.concat(
            F.lit('psi-mi:"MI:'),
            F.lpad((key % 1000).cast("string"), 4, "0"),
            F.lit('"('),
            F.when(key % 2 == 0, F.lit("intact")).otherwise(F.lit("complex portal")),
            F.lit(")"),
        )
        return frame.select(
            F.concat(F.lit("CPX-"), key.cast("string")).alias("complex_ac"),
            # ~1/7 of rows are non-human and must be dropped
            F.when(key % 7 == 0, F.lit(10090)).otherwise(F.lit(9606)).alias(
                "taxonomy_id"
            ),
            participants.alias("participants"),
            evidence.alias("evidence_code"),
            xrefs.alias("cross_references"),
            src.alias("source_field"),
            # '-' is the TSV null sentinel (nullValue="-")
            F.when(key % 11 == 0, F.lit("-"))
            .otherwise(F.concat(F.lit("Complex of "), (key % 50).cast("string")))
            .alias("description"),
            F.when(key % 13 == 0, F.lit("-"))
            .otherwise(F.lit("Stable complex"))
            .alias("properties"),
            F.lit("Heterodimer" if is_exp else "Homodimer").alias("assembly"),
            F.lit(is_exp).alias("is_experimental"),
        )

    experimental = raw_file(sup, k, True)
    predicted = raw_file(
        sup.filter(k % 2 == 1).select((k + 100_000).alias("s_suppkey")),
        F.col("s_suppkey"),
        False,
    )
    raw = experimental.unionByName(predicted).filter(
        F.col("taxonomy_id") == 9606
    )
    comp_re = r"([\w-]+)\((\d+)\)"
    xref_re = r"^(.*)\:(.*)\(.*\)$"
    src_re = r"psi-mi:\"(.*)\"\((.*)\)"
    parsed = raw.select(
        F.col("complex_ac").alias("id"),
        F.nullif(F.col("description"), F.lit("-")).alias("description"),
        F.nullif(F.col("properties"), F.lit("-")).alias("properties"),
        F.col("assembly"),
        "is_experimental",
        F.split(F.col("participants"), r"\|").alias("comps"),
        F.concat_ws(
            ";",
            F.transform(
                F.split(F.col("evidence_code"), r"\|"),
                lambda x: F.regexp_extract(x, r"(ECO:\d+)", 1),
            ),
        ).alias("evidence_codes"),
        F.concat_ws(
            ";",
            F.transform(
                F.split(F.col("cross_references"), r"\|"),
                lambda x: F.concat(
                    F.regexp_extract(x, xref_re, 1),
                    F.lit(":"),
                    F.regexp_extract(x, xref_re, 2),
                ),
            ),
        ).alias("xrefs"),
        F.regexp_extract(F.col("source_field"), src_re, 1).alias("source_id"),
        F.regexp_extract(F.col("source_field"), src_re, 2).alias("source_name"),
    )
    return parsed.select(
        "id",
        "description",
        "properties",
        "assembly",
        "is_experimental",
        "evidence_codes",
        "xrefs",
        "source_id",
        "source_name",
        F.posexplode(F.col("comps")).alias("comp_pos", "c"),
    ).select(
        "id",
        "description",
        "properties",
        "assembly",
        "is_experimental",
        "evidence_codes",
        "xrefs",
        "source_id",
        "source_name",
        (F.col("comp_pos") + 1).cast("int").alias("comp_pos"),
        F.regexp_extract(F.col("c"), comp_re, 1).alias("component_id"),
        F.regexp_extract(F.col("c"), comp_re, 2).alias("stoichiometry"),
        F.lit("uniprot").alias("component_source"),
    )


def _complextab_sql() -> str:
    def raw_select(key: str, is_exp: str) -> str:
        comp = lambda i: (  # noqa: E731
            f"'P' || lpad(CAST(({key} + {i * 37}) % 900 AS VARCHAR), 5, '0')"
            f" || '(' || CAST(({key} + {i}) % 3 + 1 AS VARCHAR) || ')'"
        )
        return f"""
  SELECT 'CPX-' || CAST({key} AS VARCHAR) AS complex_ac,
         CASE WHEN {key} % 7 = 0 THEN 10090 ELSE 9606 END AS taxonomy_id,
         concat_ws('|', {comp(0)},
           CASE WHEN {key} % 2 = 0 THEN {comp(1)} END,
           CASE WHEN {key} % 3 = 0 THEN {comp(2)} END) AS participants,
         concat_ws('|',
           'intact:EBI-' || CAST({key} % 5000 AS VARCHAR) || ' ECO:00003'
             || lpad(CAST({key} % 90 AS VARCHAR), 2, '0'),
           CASE WHEN {key} % 4 = 0
                THEN 'ECO:00000' || lpad(CAST({key} % 70 AS VARCHAR), 2, '0')
           END) AS evidence_code,
         concat_ws('|',
           'wwpdb:' || lpad(CAST({key} % 3000 AS VARCHAR), 4, '0')
             || '(identity)',
           CASE WHEN {key} % 5 = 0
                THEN 'intact:EBI-' || CAST(({key} * 7) % 5000 AS VARCHAR)
                  || '(exp-evidence)'
           END) AS cross_references,
         'psi-mi:"MI:' || lpad(CAST({key} % 1000 AS VARCHAR), 4, '0') || '"('
           || CASE WHEN {key} % 2 = 0 THEN 'intact' ELSE 'complex portal' END
           || ')' AS source_field,
         CASE WHEN {key} % 11 = 0 THEN '-'
              ELSE 'Complex of ' || CAST({key} % 50 AS VARCHAR)
         END AS description,
         CASE WHEN {key} % 13 = 0 THEN '-' ELSE 'Stable complex'
         END AS properties,
         {is_exp}
"""

    return f"""
WITH experimental AS (
  {raw_select("s_suppkey", "'Heterodimer' AS assembly, TRUE AS is_experimental")}
  FROM supplier
),
predicted_keys AS (
  SELECT s_suppkey + 100000 AS s_suppkey FROM supplier WHERE s_suppkey % 2 = 1
),
predicted AS (
  {raw_select("s_suppkey", "'Homodimer' AS assembly, FALSE AS is_experimental")}
  FROM predicted_keys
),
raw AS (
  SELECT * FROM experimental UNION ALL SELECT * FROM predicted
),
parsed AS (
  SELECT complex_ac AS id,
         NULLIF(description, '-') AS description,
         NULLIF(properties, '-') AS properties,
         assembly,
         is_experimental,
         str_split(participants, '|') AS comps,
         array_to_string(list_transform(str_split(evidence_code, '|'),
           x -> regexp_extract(x, '(ECO:[0-9]+)', 1)), ';') AS evidence_codes,
         array_to_string(list_transform(str_split(cross_references, '|'),
           x -> regexp_extract(x, '^(.*):(.*)\\(.*\\)$', 1) || ':'
             || regexp_extract(x, '^(.*):(.*)\\(.*\\)$', 2)), ';') AS xrefs,
         regexp_extract(source_field, 'psi-mi:"(.*)"\\((.*)\\)', 1)
           AS source_id,
         regexp_extract(source_field, 'psi-mi:"(.*)"\\((.*)\\)', 2)
           AS source_name
  FROM raw WHERE taxonomy_id = 9606
)
SELECT id, description, properties, assembly, is_experimental,
       evidence_codes, xrefs, source_id, source_name,
       CAST(idx AS INT) AS comp_pos,
       regexp_extract(comps[idx], '([a-zA-Z0-9_-]+)\\(([0-9]+)\\)', 1)
         AS component_id,
       regexp_extract(comps[idx], '([a-zA-Z0-9_-]+)\\(([0-9]+)\\)', 2)
         AS stoichiometry,
       'uniprot' AS component_source
FROM parsed, unnest(generate_series(1, len(comps))) AS u(idx)
"""


REGISTRY["complextab_parse"] = QuerySpec(q_complextab_parse, _complextab_sql())
