"""Study-index assembly dialects (SURVEY §2.H — datasource breadth, r8).

Closes the last partially-mirrored reference datasource trees — the
study-INDEX side that sits on top of the already-mirrored sumstats /
finemapping ingestion dialects:

- ``gwas_study_ingest`` — GWAS Catalog study index
  (datasource/gwas_catalog/study_index.py): raw study-table parse
  (EFO URI parsing, cohort pipe-split, trait fallback), the ancestry
  LUT annotation with comma-separated multi-ancestry EVEN-SPLIT of
  sample counts, LD-population mapping with relative sample sizes,
  the European-deconvolution pivot, and the initialSampleSize
  cases/controls string arithmetic.
- ``gwas_study_split`` — multi-trait study splitting
  (datasource/gwas_catalog/study_splitter.py): sub-study id minting
  via dense_rank, trait/EFO consolidation between study- and
  association-level annotation, association re-keying with the
  ambiguity + top-hit QC flags.
- ``gwas_study_curation`` — OT in-house curation annotation
  (datasource/gwas_catalog/study_index_ot_curation.py +
  study_index.py ``annotate_from_study_curation``): curation-table
  parse (pipe-split flag lists), study-type override, analysis-flag
  union, and the NO_OT_CURATION quality flag.

All raw shapes are derived deterministically from the synthetic
tables (orders / lineitem / customer / supplier) with exact integer
arithmetic; doubles that cross exp/ln or division are rounded to the
repo-wide 6 dp parity rule (ratios are emitted as ppm integers so the
CSV flattening is byte-identical across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gentropy_spark.plans.registry import QuerySpec
from gentropy_spark.session import prepared
from gentropy_spark.sources.readers import read_table

REGISTRY: dict[str, QuerySpec] = {}


# --- GWAS Catalog study index ----------------------------------------------
# Ancestry label → LD reference panel, re-typed from the reference's
# public asset assets/data/gwas_population_2_LD_panel_map.json.
_GWAS_POP_2_LD = (
    ("European", "nfe"),
    ("African American or Afro-Caribbean", "afr"),
    ("Native American", "amr"),
    ("Asian unspecified", "eas"),
    ("Hispanic or Latin American", "amr"),
    ("East Asian", "eas"),
    ("Central Asian", "eas"),
    ("Oceanian", "eas"),
    ("South East Asian", "eas"),
    ("Other admixed ancestry", "nfe"),
    ("African unspecified", "afr"),
    ("Sub-Saharan African", "afr"),
    (
        "Greater Middle Eastern (Middle Eastern, North African or Persian)",
        "eas",
    ),
    ("Aboriginal Australian", "eas"),
    ("Other", "nfe"),
    ("South Asian", "eas"),
    ("NR", "nfe"),
    ("Finnish", "fin"),
    ("African", "afr"),
    ("Admixed American", "amr"),
    ("Icelandic", "nfe"),
)

_TRAITS = (
    "type 2 diabetes",
    "asthma",
    "height",
    "body mass index",
    "coronary artery disease",
    "rheumatoid arthritis",
    "breast carcinoma",
    "schizophrenia",
    "LDL cholesterol",
    "atrial fibrillation",
    "inflammatory bowel disease",
)
_JOURNALS = ("Nat Genet", "Nat Commun", "PLoS Genet", "Hum Mol Genet", "AJHG")
_COHORT_PICKS = ("FHS", "CaPS", "Estonia", "BioME", "GERA", "FINRISK")
# The ancestry labels exercised by the synthetic LUT. Index 5 and 8 are
# comma-separated multi-ancestry annotations (the even-split path);
# index 6 carries a comma INSIDE parentheses, which the reference's
# split regex deliberately does not split on (study_index.py:91).
_ANC_LABELS = (
    "European",
    "African",
    "East Asian",
    "South Asian",
    "Finnish",
    "European, African",
    "Greater Middle Eastern (Middle Eastern, North African or Persian)",
    "Hispanic or Latin American",
    "European, East Asian, African",
)

# The reference's discovery-ancestry split regex (study_index.py:91):
# comma+space NOT inside parentheses (negative lookahead).
_ANC_SPLIT_RE = r",\s(?![^()]*\))"


def _accession(key_col):
    return F.concat(F.lit("GCST"), F.lpad(key_col.cast("string"), 8, "0"))


def split_ancestry_even(
    pairs: DataFrame,
) -> DataFrame:
    """Explode a multi-ancestry label into even-split per-ancestry rows.

    Reference semantics (gwas_catalog/study_index.py:91,:118): split on
    ', ' NOT inside parentheses; each part receives the TRUNCATED even
    share count/k (the reference casts the double quotient to int).
    Keeps all other columns. Factored out of q_gwas_study_ingest so the
    edge cases (zero counts, in-parens commas, k∤n remainders) are
    property-testable against the exact production expression.
    """
    label_parts = F.split(F.col("ancestry_label"), _ANC_SPLIT_RE)
    others = [c for c in pairs.columns if c not in ("ancestry_label", "n_individuals")]
    return pairs.select(
        *others,
        F.explode(label_parts).alias("ancestry"),
        (F.col("n_individuals") / F.size(label_parts))
        .cast("long")
        .alias("part_count"),
    )


def sample_counts() -> list[F.Column]:
    """n_cases / n_controls / n_samples of the free-text
    ``initial_sample_size`` string, as per-row array expressions.

    Reference semantics (gwas_catalog/study_index.py:545): split the
    string on ',\\s+' (in-number commas like '10,000' have no trailing
    space and survive), strip remaining commas, extract the leading
    integer, route by 'cases'/'controls' substring, sum per study.
    Entries with no digits contribute NULL: cases and controls still
    sum to 0, and n_samples is NULL when no entry carries a digit.

    The study table is study-grain unique (the accession surrogate is
    injective), so a fold over one row's parts equals the per-study
    grouped sums without a second scan, exchange or join (r18).
    """
    parts = F.split(F.col("initial_sample_size"), r",\s+")
    nums = F.transform(
        parts,
        lambda s: F.regexp_extract(
            F.regexp_replace(s, ",", ""), "[0-9]+", 0
        ).try_cast("long"),
    )
    tagged = F.zip_with(
        parts, nums, lambda s, n: F.struct(s.alias("s"), n.alias("n"))
    )

    def side_sum(substr: str) -> F.Column:
        return F.coalesce(
            F.aggregate(
                tagged,
                F.lit(0).cast("long"),
                lambda acc, x: acc
                + F.coalesce(
                    F.when(x["s"].contains(substr), x["n"]),
                    F.lit(0).cast("long"),
                ),
            ),
            F.lit(0).cast("long"),
        )

    valid = F.filter(nums, lambda n: n.isNotNull())
    n_samples = F.when(
        valid.isNotNull() & (F.size(valid) > 0),
        F.aggregate(valid, F.lit(0).cast("long"), lambda a, x: a + x),
    )
    return [
        side_sum("cases").alias("n_cases"),
        side_sum("controls").alias("n_controls"),
        n_samples.alias("n_samples"),
    ]


def _raw_gwas_studies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic GWAS-Catalog raw study table (one row per order)."""
    from gentropy_spark.operators.dedup import spread_if_narrow

    # Spread the few-file orders scan before the parse-heavy study
    # projections (r18, same guard as shingles): at sf0.1 orders is ONE
    # parquet row group, so the EFO transforms / cohort sorts / sample
    # folds all ran in a single scan task — paired A/B min-of-2:
    # 4.57 -> 3.51s for gwas_study_ingest. Many-file production
    # listings are left alone.
    orders = spread_if_narrow(read_table(spark, sf_dir, "orders"), "o_orderkey")
    ok = F.col("o_orderkey")
    uri1 = F.concat(
        F.lit("http://www.ebi.ac.uk/efo/EFO_"),
        F.lpad(((ok * 7) % 99991).cast("string"), 7, "0"),
    )
    uri2 = F.concat(
        F.lit("http://purl.obolibrary.org/obo/MONDO_"),
        F.lpad(((ok * 11) % 99991).cast("string"), 7, "0"),
    )
    n1 = (F.lit(1000) + (ok * 13) % 9000).cast("long")
    n2 = (F.lit(10_000) + (ok * 17) % 90_000).cast("long")
    # Hand-built thousands separator so both engines emit the same
    # "12,345"-style token the reference's comma-strip parse targets.
    n2_fmt = F.concat(
        F.expr("(10000 + (o_orderkey * 17) % 90000) div 1000").cast("string"),
        F.lit(","),
        F.lpad((n2 % 1000).cast("string"), 3, "0"),
    )
    sample_str = (
        F.when(ok % 41 == 0, F.lit(None).cast("string"))
        .when(
            ok % 4 == 0,
            F.concat(
                n2_fmt,
                F.lit(" European cases, "),
                n1.cast("string"),
                F.lit(" European controls"),
            ),
        )
        .when(
            ok % 4 == 1,
            F.concat(n1.cast("string"), F.lit(" Finnish individuals")),
        )
        .when(
            ok % 4 == 2,
            F.concat(
                n2_fmt,
                F.lit(" East Asian individuals, "),
                n1.cast("string"),
                F.lit(" European individuals"),
            ),
        )
        .otherwise(
            F.concat(
                n1.cast("string"),
                F.lit(" African cases, "),
                n1.cast("string"),
                F.lit(" African controls"),
            )
        )
    )
    cohort_mid = F.element_at(
        F.array(*[F.lit(c) for c in _COHORT_PICKS]), (ok % 6 + 1).cast("int")
    )
    return orders.select(
        F.when(ok % 97 != 0, _accession(ok)).alias("accession"),
        ok.alias("src_key"),
        (F.lit(30_000_000) + ok % 999_983).cast("string").alias("pubmed_id"),
        F.concat(F.lit("Author_"), (ok % 500).cast("string")).alias(
            "first_author"
        ),
        F.col("o_orderdate").cast("string").alias("pub_date"),
        F.element_at(
            F.array(*[F.lit(j) for j in _JOURNALS]), (ok % 5 + 1).cast("int")
        ).alias("journal"),
        F.concat(
            F.lit("Genome-wide study "), (ok % 1000).cast("string")
        ).alias("title"),
        F.when(
            ok % 53 != 0,
            F.element_at(
                F.array(*[F.lit(t) for t in _TRAITS]), (ok % 11 + 1).cast("int")
            ),
        ).alias("disease_trait"),
        F.when(ok % 13 != 0, F.lit(None).cast("string"))
        .when(ok % 3 == 0, F.concat_ws(",", uri1, uri2, uri1))
        .when(ok % 3 == 1, uri1)
        .otherwise(F.concat_ws(",", uri1, uri2))
        .alias("mapped_trait_uri"),
        F.when(ok % 7 == 0, uri2).alias("background_trait_uri"),
        F.when(ok % 19 == 1, F.lit(""))
        .when(
            ok % 19 != 0,
            F.concat(F.lit("UKB|"), cohort_mid, F.lit("|UKB")),
        )
        .alias("cohort"),
        sample_str.alias("initial_sample_size"),
        (ok % 2 == 0).alias("has_sumstats"),
    )


def _raw_gwas_ancestry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic GWAS-Catalog ancestry LUT (one row per lineitem)."""
    li = read_table(spark, sf_dir, "lineitem")
    lk, pk, sk = F.col("l_orderkey"), F.col("l_partkey"), F.col("l_suppkey")
    return li.select(
        _accession(lk).alias("study_id"),
        F.when(F.col("l_linenumber") % 3 != 0, F.lit("initial"))
        .otherwise(F.lit("replication"))
        .alias("stage"),
        F.element_at(
            F.array(*[F.lit(a) for a in _ANC_LABELS]), (pk % 9 + 1).cast("int")
        ).alias("ancestry_label"),
        (F.lit(100) + (pk * 7) % 50_000).cast("long").alias("n_individuals"),
        F.when(sk % 11 == 0, F.lit("Finnish cohort individuals"))
        .when(sk % 11 == 1, F.lit("Icelandic population"))
        .otherwise(F.lit("population-based cohort"))
        .alias("sample_description"),
    )


@prepared
def q_gwas_study_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GWAS Catalog study-index assembly.

    Mirrors datasource/gwas_catalog/study_index.py end to end:

    - ``_parse_study_table`` (:243): accession fallback (the reference
      coalesces to ``monotonically_increasing_id()``, which is not
      reproducible across runs — re-architected to a deterministic
      source-key surrogate), trait fallback 'Unreported', EFO URI
      parsing (common/processing.py:21 ``parse_efos`` — split on ','
      then last '/'-component, distinct; sorted here so the flattened
      CSV is order-stable), cohort pipe-split with the
      non-null/non-empty guard (:215 ``parse_cohorts``).
    - ``annotate_ancestries`` (:419): stage split, and the
      ``_parse_discovery_samples`` (:37) semantics re-expressed
      Spark-first: the reference walks nested higher-order functions
      over per-study struct arrays; at 100 TB grain the same algebra
      is a distinct→explode→groupBy — dedup identical
      (label,count) pairs per study+stage (collect_set), split
      comma-separated multi-ancestry labels on the lookahead regex
      (:91 — commas inside parentheses survive), EVEN-split each
      count across its labels (truncating division, :118), and sum
      per (study, ancestry). Replication-stage labels are kept
      UNSPLIT, matching the reference (only `initial` flows through
      the parser, :481).
    - ``aggregate_and_map_ancestries`` (dataset/study_index.py:182):
      ancestry→LD-panel map (public asset
      gwas_population_2_LD_panel_map.json), per-panel sums, relative
      sample size emitted as a ppm integer so the CSV is exact.
    - European deconvolution (:497): Finnish/Icelandic description
      exclusion, European-vs-other pivot sums. (The reference computes
      then drops these columns; retained here as output so the logic
      is oracle-verified.)
    - ``annotate_discovery_sample_sizes`` (:545): split the
      initialSampleSize string on ',\\s+', strip in-number commas,
      extract the leading integer, split cases/controls by substring,
      and sum per study.
    """
    studies = _raw_gwas_studies(spark, sf_dir)
    # The ancestry LUT feeds FOUR aggregates (discovery, replication,
    # LD-population, European deconvolution). r9: NO cache — each
    # aggregate re-reads its own column-pruned lineitem scan. A cached
    # base reports unknown partitioning under AQE (every consumer
    # re-exchanges anyway, its materialization is a SERIAL job, and
    # the full-width cache is not a 100 TB posture), while the pruned
    # scans run concurrently: measured 6.5s → 4.4s at sf0.1.
    anc = _raw_gwas_ancestry(spark, sf_dir)

    parse_efos = lambda c: F.when(  # noqa: E731
        c.isNotNull(),
        F.array_join(
            F.array_sort(
                F.array_distinct(
                    F.transform(
                        F.split(c, ","),
                        lambda u: F.element_at(F.split(u, "/"), -1),
                    )
                )
            ),
            ";",
        ),
    )
    parsed = studies.select(
        F.coalesce(
            F.col("accession"),
            F.concat(F.lit("NOID_"), F.col("src_key").cast("string")),
        ).alias("study_id"),
        F.lit("GCST").alias("project_id"),
        F.lit("gwas").alias("study_type"),
        "pubmed_id",
        "first_author",
        "pub_date",
        "journal",
        "title",
        F.coalesce(F.col("disease_trait"), F.lit("Unreported")).alias("trait"),
        parse_efos(F.col("mapped_trait_uri")).alias("efo_csv"),
        parse_efos(F.col("background_trait_uri")).alias("background_efo_csv"),
        F.when(
            F.col("cohort").isNotNull() & (F.col("cohort") != ""),
            F.array_join(
                F.array_sort(F.array_distinct(F.split(F.col("cohort"), r"\|"))),
                ";",
            ),
        ).alias("cohorts_csv"),
        "initial_sample_size",
        "has_sumstats",
        *sample_counts(),
    )

    # Distinct (label,count) pairs per study+stage = the reference's
    # collect_set dedup, kept relational. Deliberately UNCACHED even
    # though pairs / disc_by_anc each have two consumers: caching the
    # small aggregates was measured SLOWER too (5.4s vs 4.4s at sf0.1)
    # — each cache materialization is a serial job, while the
    # re-derived subplans run concurrently under AQE and the repeated
    # work is column-pruned scans + partial aggregates.
    pairs = anc.select(
        "study_id", "stage", "ancestry_label", "n_individuals"
    ).distinct()
    # Even split with truncating division (reference casts the double
    # quotient to int, study_index.py:118); for positive ints cast-of-
    # double truncation == floor == DuckDB's // on the oracle side.
    exploded = split_ancestry_even(pairs)
    # r12: cache the (study, ancestry) sums — they feed BOTH the
    # discovery CSV and the LD-panel ppm aggregate, and without the
    # barrier the optimizer re-derives the whole scan→distinct→explode
    # →sum chain per consumer (a full 4th corpus pass). Unlike the
    # full-width row cache r9 rejected, this grain IS the output grain
    # (≤ studies × 9 panels at any corpus size), so the serial
    # materialization job is dimension-sized. Measured at sf0.1: one
    # lineitem scan fewer, hashes unchanged.
    from gentropy_spark.session import track_cache

    disc_by_anc = track_cache(
        exploded.filter(F.col("stage") == "initial")
        .groupBy("study_id", "ancestry")
        .agg(F.sum("part_count").alias("sample_size"))
    )
    disc_csv = disc_by_anc.groupBy("study_id").agg(
        F.array_join(
            F.array_sort(
                F.collect_list(
                    F.concat_ws("=", "ancestry", F.col("sample_size"))
                )
            ),
            ";",
        ).alias("discovery_csv")
    )
    repl_csv = (
        pairs.filter(F.col("stage") == "replication")
        .groupBy("study_id")
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_set(
                        F.concat_ws(
                            "=", "ancestry_label", F.col("n_individuals")
                        )
                    )
                ),
                ";",
            ).alias("replication_csv")
        )
    )
    ld_map = F.create_map(
        *[F.lit(x) for pair in _GWAS_POP_2_LD for x in pair]
    )
    ld_by_pop = disc_by_anc.groupBy(
        "study_id", ld_map[F.col("ancestry")].alias("ld_pop")
    ).agg(F.sum("sample_size").alias("pop_size"))
    w_study = Window.partitionBy("study_id")
    ld_csv = (
        ld_by_pop.withColumn("total", F.sum("pop_size").over(w_study))
        .select(
            "study_id",
            F.concat_ws(
                "=",
                "ld_pop",
                F.round(F.col("pop_size") / F.col("total") * 1e6)
                .cast("long")
                .cast("string"),
            ).alias("entry"),
        )
        .groupBy("study_id")
        .agg(
            F.array_join(F.array_sort(F.collect_list("entry")), ";").alias(
                "ld_pop_ppm_csv"
            )
        )
    )
    eur = (
        anc.filter(F.col("stage") == "initial")
        .withColumn(
            "flag",
            F.when(
                F.col("sample_description").contains("Finnish"), F.lit("other")
            )
            .when(
                F.col("sample_description").contains("Icelandic"),
                F.lit("other"),
            )
            .when(F.col("ancestry_label") == "European", F.lit("european"))
            .otherwise(F.lit("other")),
        )
        .groupBy("study_id")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("flag") == "european", F.col("n_individuals"))
                ),
                F.lit(0),
            ).alias("eur_initial"),
            F.coalesce(
                F.sum(
                    F.when(F.col("flag") == "other", F.col("n_individuals"))
                ),
                F.lit(0),
            ).alias("other_initial"),
        )
    )
    # Union-agg the four study-grain legs into ONE dimension, then ONE
    # left join (r18): each leg is unique per study and the value
    # columns are disjoint, so a null-padded union + max-groupBy is
    # value-identical to the old chain of four left joins — one join
    # operator pass over ``parsed`` instead of four (statusTracker: 18
    # -> 13 jobs for the warmed noop action at sf0.1).
    leg_cols = {
        "discovery_csv": "string",
        "replication_csv": "string",
        "ld_pop_ppm_csv": "string",
        "eur_initial": "long",
        "other_initial": "long",
    }

    def pad(df: DataFrame, own: set[str]) -> DataFrame:
        return df.select(
            "study_id",
            *[
                F.col(c).alias(c)
                if c in own
                else F.lit(None).cast(t).alias(c)
                for c, t in leg_cols.items()
            ],
        )

    merged = (
        pad(disc_csv, {"discovery_csv"})
        .unionByName(pad(repl_csv, {"replication_csv"}))
        .unionByName(pad(ld_csv, {"ld_pop_ppm_csv"}))
        .unionByName(pad(eur, {"eur_initial", "other_initial"}))
        .groupBy("study_id")
        .agg(*[F.max(c).alias(c) for c in leg_cols])
    )
    return parsed.join(merged, on="study_id", how="left")


def _gwas_study_sql() -> str:
    traits = "(['" + "','".join(_TRAITS) + "'])"
    journals = "(['" + "','".join(_JOURNALS) + "'])"
    cohorts = "(['" + "','".join(_COHORT_PICKS) + "'])"
    anc_labels = (
        "(['" + "','".join(a.replace("'", "''") for a in _ANC_LABELS) + "'])"
    )
    ld_map_cases = "\n           ".join(
        f"WHEN '{label}' THEN '{pop}'" for label, pop in _GWAS_POP_2_LD
    )
    return f"""
WITH raw_studies AS (
  SELECT CASE WHEN o_orderkey % 97 <> 0
              THEN 'GCST' || lpad(CAST(o_orderkey AS VARCHAR), 8, '0') END
           AS accession,
         o_orderkey AS src_key,
         CAST(30000000 + o_orderkey % 999983 AS VARCHAR) AS pubmed_id,
         'Author_' || CAST(o_orderkey % 500 AS VARCHAR) AS first_author,
         CAST(o_orderdate AS VARCHAR) AS pub_date,
         {journals}[CAST(o_orderkey % 5 AS INT) + 1] AS journal,
         'Genome-wide study ' || CAST(o_orderkey % 1000 AS VARCHAR) AS title,
         CASE WHEN o_orderkey % 53 <> 0
              THEN {traits}[CAST(o_orderkey % 11 AS INT) + 1] END
           AS disease_trait,
         'http://www.ebi.ac.uk/efo/EFO_'
           || lpad(CAST((o_orderkey * 7) % 99991 AS VARCHAR), 7, '0') AS uri1,
         'http://purl.obolibrary.org/obo/MONDO_'
           || lpad(CAST((o_orderkey * 11) % 99991 AS VARCHAR), 7, '0') AS uri2,
         CAST(10000 + (o_orderkey * 17) % 90000 AS BIGINT) AS n2,
         CAST(1000 + (o_orderkey * 13) % 9000 AS BIGINT) AS n1,
         o_orderkey % 2 = 0 AS has_sumstats
  FROM orders
),
raw2 AS (
  SELECT *,
         CASE WHEN o2.src_key % 13 <> 0 THEN NULL
              WHEN o2.src_key % 3 = 0 THEN uri1 || ',' || uri2 || ',' || uri1
              WHEN o2.src_key % 3 = 1 THEN uri1
              ELSE uri1 || ',' || uri2 END AS mapped_trait_uri,
         CASE WHEN o2.src_key % 7 = 0 THEN uri2 END AS background_trait_uri,
         CASE WHEN o2.src_key % 19 = 1 THEN ''
              WHEN o2.src_key % 19 <> 0
              THEN 'UKB|' || {cohorts}[CAST(o2.src_key % 6 AS INT) + 1]
                   || '|UKB' END AS cohort,
         CAST(n2 // 1000 AS VARCHAR) || ','
           || lpad(CAST(n2 % 1000 AS VARCHAR), 3, '0') AS n2_fmt,
         CASE WHEN o2.src_key % 41 = 0 THEN NULL
              WHEN o2.src_key % 4 = 0
              THEN CAST(n2 // 1000 AS VARCHAR) || ','
                   || lpad(CAST(n2 % 1000 AS VARCHAR), 3, '0')
                   || ' European cases, ' || CAST(n1 AS VARCHAR)
                   || ' European controls'
              WHEN o2.src_key % 4 = 1
              THEN CAST(n1 AS VARCHAR) || ' Finnish individuals'
              WHEN o2.src_key % 4 = 2
              THEN CAST(n2 // 1000 AS VARCHAR) || ','
                   || lpad(CAST(n2 % 1000 AS VARCHAR), 3, '0')
                   || ' East Asian individuals, ' || CAST(n1 AS VARCHAR)
                   || ' European individuals'
              ELSE CAST(n1 AS VARCHAR) || ' African cases, '
                   || CAST(n1 AS VARCHAR) || ' African controls'
         END AS initial_sample_size
  FROM raw_studies o2
),
parsed AS (
  SELECT COALESCE(accession, 'NOID_' || CAST(src_key AS VARCHAR)) AS study_id,
         'GCST' AS project_id, 'gwas' AS study_type,
         pubmed_id, first_author, pub_date, journal, title,
         COALESCE(disease_trait, 'Unreported') AS trait,
         CASE WHEN mapped_trait_uri IS NOT NULL THEN
           array_to_string(list_sort(list_distinct(list_transform(
             str_split(mapped_trait_uri, ','),
             u -> list_extract(str_split(u, '/'), len(str_split(u, '/')))
           ))), ';') END AS efo_csv,
         CASE WHEN background_trait_uri IS NOT NULL THEN
           array_to_string(list_sort(list_distinct(list_transform(
             str_split(background_trait_uri, ','),
             u -> list_extract(str_split(u, '/'), len(str_split(u, '/')))
           ))), ';') END AS background_efo_csv,
         CASE WHEN cohort IS NOT NULL AND cohort <> ''
              THEN array_to_string(list_sort(list_distinct(str_split(cohort, '|'))), ';')
         END AS cohorts_csv,
         initial_sample_size, has_sumstats
  FROM raw2
),
raw_anc AS (
  SELECT 'GCST' || lpad(CAST(l_orderkey AS VARCHAR), 8, '0') AS study_id,
         CASE WHEN l_linenumber % 3 <> 0 THEN 'initial'
              ELSE 'replication' END AS stage,
         {anc_labels}[CAST(l_partkey % 9 AS INT) + 1] AS ancestry_label,
         CAST(100 + (l_partkey * 7) % 50000 AS BIGINT) AS n_individuals,
         CASE WHEN l_suppkey % 11 = 0 THEN 'Finnish cohort individuals'
              WHEN l_suppkey % 11 = 1 THEN 'Icelandic population'
              ELSE 'population-based cohort' END AS sample_description
  FROM lineitem
),
pairs AS (
  SELECT DISTINCT study_id, stage, ancestry_label, n_individuals
  FROM raw_anc
),
-- RE2 has no lookahead: protect the single in-parens comma, split on
-- ', ', then restore. Matches the Spark side's lookahead regex for
-- every label this data carries.
exploded AS (
  SELECT study_id, stage,
         replace(part, chr(1), ', ') AS ancestry,
         n_individuals // len(str_split(
           regexp_replace(ancestry_label,
                          '\\(([^)]*), ([^)]*)\\)', '(\\1' || chr(1) || '\\2)',
                          'g'), ', ')) AS part_count
  FROM pairs,
       unnest(str_split(
         regexp_replace(ancestry_label,
                        '\\(([^)]*), ([^)]*)\\)', '(\\1' || chr(1) || '\\2)',
                        'g'), ', ')) AS u(part)
),
disc_by_anc AS (
  SELECT study_id, ancestry, CAST(SUM(part_count) AS BIGINT) AS sample_size
  FROM exploded WHERE stage = 'initial'
  GROUP BY study_id, ancestry
),
disc_csv AS (
  SELECT study_id,
         array_to_string(list_sort(list(ancestry || '='
           || CAST(sample_size AS VARCHAR))), ';') AS discovery_csv
  FROM disc_by_anc GROUP BY study_id
),
repl_csv AS (
  SELECT study_id,
         array_to_string(list_sort(list(DISTINCT ancestry_label || '='
           || CAST(n_individuals AS VARCHAR))), ';') AS replication_csv
  FROM pairs WHERE stage = 'replication'
  GROUP BY study_id
),
ld_by_pop AS (
  SELECT study_id,
         CASE ancestry {ld_map_cases} END AS ld_pop,
         CAST(SUM(sample_size) AS BIGINT) AS pop_size
  FROM disc_by_anc
  GROUP BY 1, 2
),
ld_csv AS (
  SELECT study_id,
         array_to_string(list_sort(list(ld_pop || '='
           || CAST(CAST(ROUND(pop_size / total * 1000000.0, 0) AS BIGINT)
                   AS VARCHAR))), ';') AS ld_pop_ppm_csv
  FROM (SELECT *, SUM(pop_size) OVER (PARTITION BY study_id) AS total
        FROM ld_by_pop)
  GROUP BY study_id
),
eur AS (
  SELECT study_id,
         CAST(COALESCE(SUM(CASE WHEN flag = 'european'
                                THEN n_individuals END), 0) AS BIGINT)
           AS eur_initial,
         CAST(COALESCE(SUM(CASE WHEN flag = 'other'
                                THEN n_individuals END), 0) AS BIGINT)
           AS other_initial
  FROM (SELECT study_id, n_individuals,
               CASE WHEN contains(sample_description, 'Finnish') THEN 'other'
                    WHEN contains(sample_description, 'Icelandic') THEN 'other'
                    WHEN ancestry_label = 'European' THEN 'european'
                    ELSE 'other' END AS flag
        FROM raw_anc WHERE stage = 'initial')
  GROUP BY study_id
),
samples AS (
  SELECT study_id,
         CAST(COALESCE(SUM(CASE WHEN contains(tok, 'cases') THEN n END), 0)
              AS BIGINT) AS n_cases,
         CAST(COALESCE(SUM(CASE WHEN contains(tok, 'controls') THEN n END), 0)
              AS BIGINT) AS n_controls,
         CAST(SUM(n) AS BIGINT) AS n_samples
  FROM (SELECT p.study_id, u.tok,
               CAST(NULLIF(regexp_extract(replace(u.tok, ',', ''),
                                          '[0-9]+', 0), '') AS BIGINT) AS n
        FROM parsed p
        LEFT JOIN LATERAL unnest(str_split_regex(
                 p.initial_sample_size, ',\\s+')) AS u(tok) ON TRUE)
  GROUP BY study_id
)
SELECT p.*, s.n_cases, s.n_controls, s.n_samples,
       d.discovery_csv, r.replication_csv, l.ld_pop_ppm_csv,
       e.eur_initial, e.other_initial
FROM parsed p
LEFT JOIN samples s USING (study_id)
LEFT JOIN disc_csv d USING (study_id)
LEFT JOIN repl_csv r USING (study_id)
LEFT JOIN ld_csv l USING (study_id)
LEFT JOIN eur e USING (study_id)
"""


REGISTRY["gwas_study_ingest"] = QuerySpec(q_gwas_study_ingest, _gwas_study_sql())


# --- GWAS Catalog multi-trait study splitting ------------------------------
def q_gwas_study_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-trait GWAS Catalog study splitting + association re-keying.

    Reference: datasource/gwas_catalog/study_splitter.py —
    ``_resolve_study_id`` (:66): sub-study ids minted with
    dense_rank over subStudyDescription within a study; studies whose
    associations all share one description keep their id, others get
    ``{studyId}_{rank}``. The reference counts sub-studies with
    ``approx_count_distinct`` over the same window (:79) — replaced
    with an exact ``max(dense_rank)`` riding the identical window
    (deterministic, same shuffle, no sketch error at any scale).
    ``_resolve_trait`` (:21): association-level trait wins; a real
    pvalue_text is appended as ``trait [text]``; study-level trait is
    the fallback. ``_resolve_efo`` (:52): association-level
    slash-separated EFO list wins over study-level mapping.
    Association side (associations.py:1194 ``update_study_id``,
    :1217 ``qc_ambiguous_study``, :1237 ``qc_flag_all_tophits``):
    re-keyed associations carry the ambiguity flag (same
    study+variant appearing under >1 association row) and the
    blanket top-hit flag. The study dim is broadcast into the
    association join exactly as the reference does (:103).
    """
    li = read_table(spark, sf_dir, "lineitem")
    lk, pk, sk = F.col("l_orderkey"), F.col("l_partkey"), F.col("l_suppkey")
    trait_arr = F.array(*[F.lit(t) for t in _TRAITS])
    study_key = lk % 300
    # Most associations carry the STUDY-level annotation (single-trait
    # studies don't split — the realistic common case); 1-in-9 rows are
    # deviant multi-trait annotations that trigger the split.
    deviant = pk % 9 == 0
    assoc_trait = F.when(
        deviant, F.element_at(trait_arr, (pk % 13 % 11 + 1).cast("int"))
    ).otherwise(F.element_at(trait_arr, (study_key % 11 + 1).cast("int")))
    pvtext = F.when(
        deviant,
        F.when(sk % 4 == 0, F.lit("no_pvalue_text"))
        .when(sk % 4 == 1, F.lit(None).cast("string"))
        .when(sk % 4 == 2, F.lit("males"))
        .otherwise(F.lit("EA")),
    ).otherwise(F.lit("no_pvalue_text"))
    efo_a = F.when(
        deviant,
        F.concat(
            F.lit("EFO_"), F.lpad(((pk * 3) % 9999).cast("string"), 7, "0")
        ),
    ).otherwise(
        F.concat(
            F.lit("EFO_"),
            F.lpad(((study_key * 3) % 9999).cast("string"), 7, "0"),
        )
    )
    efo_b = F.concat(
        F.lit("EFO_"), F.lpad(((pk * 5) % 9999).cast("string"), 7, "0")
    )
    sub_desc = F.when(
        deviant & (pk % 5 == 0),
        F.concat_ws("|", assoc_trait, F.coalesce(pvtext, F.lit(""))),
    ).otherwise(
        F.concat_ws(
            "|",
            assoc_trait,
            F.coalesce(pvtext, F.lit("")),
            F.when(deviant & (pk % 3 == 0), F.concat_ws("/", efo_a, efo_b))
            .otherwise(efo_a),
        )
    )
    # Deduplicate the association triple BEFORE the study join: the
    # resolver keys everything on (study_id, variant_id, description),
    # so collapsing raw associations first means the broadcast join
    # probes the distinct set (~8x smaller here) and the shuffle
    # carries three columns instead of five.
    assoc = li.select(
        F.concat(F.lit("GCST"), F.lpad(study_key.cast("string"), 6, "0")).alias(
            "study_id"
        ),
        F.concat(F.lit("v"), (pk % 2000).cast("string")).alias("variant_id"),
        sub_desc.alias("sub_study_description"),
    ).distinct()
    # Study dim: distinct on the NUMERIC key, strings built on the 300
    # surviving rows — not on every raw association (the dim columns
    # are functions of the key, so distinct-then-build ≡
    # build-then-distinct at a fraction of the string-kernel cost).
    sk_num = F.col("study_key")
    studies = (
        li.select((study_key).alias("study_key"))
        .distinct()
        .select(
            F.concat(
                F.lit("GCST"), F.lpad(sk_num.cast("string"), 6, "0")
            ).alias("study_id"),
            F.element_at(trait_arr, (sk_num % 11 + 1).cast("int")).alias(
                "study_trait"
            ),
            F.concat(
                F.lit("EFO_"),
                F.lpad(((sk_num * 17) % 9999).cast("string"), 7, "0"),
            ).alias("study_efo_csv"),
        )
    )
    st_ass = assoc.join(F.broadcast(studies), on="study_id", how="inner")
    # assoc is distinct on (study, variant, description) and the study
    # dim is unique on study_id, so the joined rows are already
    # distinct: the resolver ranks them without a re-dedup.
    return resolve_substudies(st_ass)


def resolve_substudies(st_ass: DataFrame) -> DataFrame:
    """Sub-study resolution + ambiguity flag over joined associations.

    Input: (study_id, variant_id, sub_study_description, study_trait,
    study_efo_csv). Factored out of q_gwas_study_split so the
    trait/EFO disagreement and ambiguity-flag edge cases are
    property-testable against the exact production expressions
    (reference: study_splitter.py:21,:52,:66; associations.py:1194).

    The rows are ranked as given, without a re-dedup: the one caller's
    rows are already distinct, and dense_rank is duplicate-invariant,
    so duplicate input rows would change work, never values.
    """
    parts = F.split(F.col("sub_study_description"), r"\|")
    a_trait = F.try_element_at(parts, F.lit(1))
    a_pvtext = F.try_element_at(parts, F.lit(2))
    # The EFO field is absent for some descriptions (the study-level
    # fallback path) — try_element_at returns NULL instead of the
    # ANSI out-of-bounds error Spark 4 raises from element_at.
    a_efo = F.try_element_at(parts, F.lit(3))
    w_split = Window.partitionBy("study_id").orderBy("sub_study_description")
    w_study = Window.partitionBy("study_id")
    ranked = st_ass.withColumn(
        "sub_rank", F.dense_rank().over(w_split)
    ).withColumn("n_substudies", F.max("sub_rank").over(w_study))
    resolved = ranked.select(
        "study_id",
        "variant_id",
        "sub_study_description",
        "n_substudies",
        F.when(F.col("n_substudies") == 1, F.col("study_id"))
        .otherwise(
            F.concat_ws("_", F.col("study_id"), F.col("sub_rank").cast("string"))
        )
        .alias("updated_study_id"),
        F.when(
            a_pvtext.isNotNull()
            & (a_pvtext != "no_pvalue_text")
            & (a_pvtext != ""),
            F.concat(a_trait, F.lit(" ["), a_pvtext, F.lit("]")),
        )
        .when(a_trait.isNotNull(), a_trait)
        .otherwise(F.col("study_trait"))
        .alias("trait_resolved"),
        F.coalesce(
            F.when(a_efo.isNotNull(), F.array_join(F.split(a_efo, "/"), ";")),
            F.col("study_efo_csv"),
        ).alias("efo_csv"),
    ).distinct()
    w_amb = Window.partitionBy("updated_study_id", "variant_id")
    return resolved.withColumn(
        "qc_csv",
        F.when(
            F.count("*").over(w_amb) > 1,
            F.lit("ambiguous_study;top_hit"),
        ).otherwise(F.lit("top_hit")),
    )


def _gwas_split_sql() -> str:
    traits = "(['" + "','".join(_TRAITS) + "'])"
    return f"""
WITH raw_assoc AS (
  SELECT 'GCST' || lpad(CAST(l_orderkey % 300 AS VARCHAR), 6, '0')
           AS study_id,
         'v' || CAST(l_partkey % 2000 AS VARCHAR) AS variant_id,
         l_partkey % 9 = 0 AS deviant,
         CASE WHEN l_partkey % 9 = 0
              THEN {traits}[CAST(l_partkey % 13 % 11 AS INT) + 1]
              ELSE {traits}[CAST(l_orderkey % 300 % 11 AS INT) + 1]
         END AS a_trait,
         CASE WHEN l_partkey % 9 = 0 THEN
              COALESCE(CASE WHEN l_suppkey % 4 = 0 THEN 'no_pvalue_text'
                            WHEN l_suppkey % 4 = 2 THEN 'males'
                            WHEN l_suppkey % 4 = 3 THEN 'EA' END, '')
              ELSE 'no_pvalue_text' END AS a_pvtext,
         CASE WHEN l_partkey % 9 = 0
              THEN 'EFO_' || lpad(CAST((l_partkey * 3) % 9999 AS VARCHAR),
                                  7, '0')
              ELSE 'EFO_' || lpad(CAST((l_orderkey % 300 * 3) % 9999
                                       AS VARCHAR), 7, '0')
         END AS efo_a,
         'EFO_' || lpad(CAST((l_partkey * 5) % 9999 AS VARCHAR), 7, '0')
           AS efo_b,
         l_partkey % 5 = 0 AS no_efo_field,
         l_partkey % 3 = 0 AS double_efo
  FROM lineitem
),
assoc AS (
  SELECT study_id, variant_id,
         CASE WHEN deviant AND no_efo_field
              THEN a_trait || '|' || a_pvtext
              ELSE a_trait || '|' || a_pvtext || '|'
                   || CASE WHEN deviant AND double_efo
                           THEN efo_a || '/' || efo_b ELSE efo_a END
         END AS sub_study_description
  FROM raw_assoc
),
studies AS (
  SELECT DISTINCT
         'GCST' || lpad(CAST(l_orderkey % 300 AS VARCHAR), 6, '0')
           AS study_id,
         {traits}[CAST(l_orderkey % 300 % 11 AS INT) + 1] AS study_trait,
         'EFO_' || lpad(CAST((l_orderkey % 300 * 17) % 9999 AS VARCHAR), 7, '0')
           AS study_efo_csv
  FROM lineitem
),
ranked AS (
  SELECT a.study_id, a.variant_id, a.sub_study_description,
         s.study_trait, s.study_efo_csv,
         DENSE_RANK() OVER (PARTITION BY a.study_id
                            ORDER BY a.sub_study_description) AS sub_rank
  FROM assoc a JOIN studies s USING (study_id)
),
counted AS (
  SELECT *, MAX(sub_rank) OVER (PARTITION BY study_id) AS n_substudies
  FROM ranked
),
resolved AS (
  SELECT DISTINCT study_id, variant_id, sub_study_description,
         CAST(n_substudies AS BIGINT) AS n_substudies,
         CASE WHEN n_substudies = 1 THEN study_id
              ELSE study_id || '_' || CAST(sub_rank AS VARCHAR) END
           AS updated_study_id,
         CASE WHEN str_split(sub_study_description, '|')[2] IS NOT NULL
                   AND str_split(sub_study_description, '|')[2]
                       NOT IN ('no_pvalue_text', '')
              THEN str_split(sub_study_description, '|')[1] || ' ['
                   || str_split(sub_study_description, '|')[2] || ']'
              WHEN str_split(sub_study_description, '|')[1] IS NOT NULL
              THEN str_split(sub_study_description, '|')[1]
              ELSE study_trait END AS trait_resolved,
         COALESCE(
           CASE WHEN len(str_split(sub_study_description, '|')) >= 3
                THEN array_to_string(
                       str_split(str_split(sub_study_description, '|')[3], '/'),
                       ';') END,
           study_efo_csv) AS efo_csv
  FROM counted
)
SELECT *,
       CASE WHEN COUNT(*) OVER (PARTITION BY updated_study_id, variant_id) > 1
            THEN 'ambiguous_study;top_hit' ELSE 'top_hit' END AS qc_csv
FROM resolved
"""


REGISTRY["gwas_study_split"] = QuerySpec(q_gwas_study_split, _gwas_split_sql())


# --- GWAS Catalog OT curation annotation -----------------------------------
_CURATION_TYPES = ("gwas", "pqtl", "eqtl")
_ANALYSIS_FLAGS = (
    "Multivariate analysis",
    "ExWAS",
    "Metabolite",
    "GxG",
    "Non-additive model",
)


def q_gwas_study_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OT in-house curation annotation of the GWAS Catalog study index.

    Reference: datasource/gwas_catalog/study_index_ot_curation.py:26
    ``_parser`` — pipe-separated ``analysisFlag`` / ``qualityControl``
    strings split to arrays (empty arrays when null), ``isCurated``
    cast to boolean — and study_index.py:316
    ``annotate_from_study_curation``: LEFT join on studyId, study
    type overridden by the curated value when present, analysis
    flags array-unioned with the curation's (coalesced to empty),
    and the NO_OT_CURATION quality flag appended for studies with
    summary statistics that are not covered by curation
    (dataset/study_index.py ``update_quality_flag`` semantics).
    Arrays are flattened to sorted CSV for hash stability.
    """
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    ck = F.col("c_custkey")
    sk = F.col("s_suppkey")
    studies = cust.select(
        F.concat(F.lit("GCST"), F.lpad((ck % 800).cast("string"), 6, "0")).alias(
            "study_id"
        ),
        F.lit("gwas").alias("study_type"),
        (ck % 800 % 2 == 0).alias("has_sumstats"),
        F.when(ck % 800 % 5 == 0, F.array(F.lit("GxE")))
        .otherwise(F.array().cast("array<string>"))
        .alias("analysis_flags"),
    ).distinct()
    flag_arr = F.array(*[F.lit(x) for x in _ANALYSIS_FLAGS])
    curation_raw = supp.select(
        F.concat(
            F.lit("GCST"), F.lpad((sk * 3 % 800).cast("string"), 6, "0")
        ).alias("study_id"),
        F.when(
            sk % 3 == 0,
            F.element_at(
                F.array(F.lit("pqtl"), F.lit("eqtl")),
                (sk % 2 + 1).cast("int"),
            ),
        ).alias("curated_type"),
        F.when(
            sk % 4 != 0,
            F.concat_ws(
                "|",
                F.element_at(flag_arr, (sk % 5 + 1).cast("int")),
                F.element_at(flag_arr, (sk * 7 % 5 + 1).cast("int")),
            ),
        ).alias("analysis_flag_raw"),
        F.when(sk % 6 == 0, F.lit("suspicious_effect_sizes")).alias(
            "quality_control_raw"
        ),
        (sk % 5 != 1).alias("is_curated_raw"),
    ).distinct()
    # _parser: pipe-split to arrays, empty array fallback.
    curation = curation_raw.select(
        "study_id",
        "curated_type",
        F.when(
            F.col("analysis_flag_raw").isNotNull(),
            F.split(F.col("analysis_flag_raw"), r"\|"),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("curation_analysis_flags"),
        F.when(
            F.col("quality_control_raw").isNotNull(),
            F.split(F.col("quality_control_raw"), r"\|"),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("curation_quality_controls"),
        F.col("is_curated_raw").cast("boolean").alias("is_curated"),
        F.col("curated_type").alias("_o1"),
        F.col("analysis_flag_raw").alias("_o2"),
        F.col("quality_control_raw").alias("_o3"),
        F.col("is_curated_raw").alias("_o4"),
    )
    # One curation row per study, chosen DETERMINISTICALLY (the same
    # ROW_NUMBER order as the oracle). dropDuplicates keeps an
    # arbitrary survivor — at sf>=0.1 the supplier key space wraps the
    # 800-study modulus and colliding rows made the survivor (and the
    # value hash) partition-order-dependent.
    from pyspark.sql import Window as _W

    _w = _W.partitionBy("study_id").orderBy(
        F.col("_o1").asc_nulls_last(),
        F.col("_o2").asc_nulls_last(),
        F.col("_o3").asc_nulls_last(),
        F.col("_o4").asc(),
    )
    curation = (
        curation.withColumn("_rn", F.row_number().over(_w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_o1", "_o2", "_o3", "_o4")
    )
    joined = (
        studies.join(curation, on="study_id", how="left")
        .withColumn("is_curated", F.coalesce(F.col("is_curated"), F.lit(False)))
        .withColumn(
            "study_type_final",
            F.coalesce(F.col("curated_type"), F.col("study_type")),
        )
        .withColumn(
            "analysis_flags_final",
            F.coalesce(
                F.array_union(
                    F.col("analysis_flags"), F.col("curation_analysis_flags")
                ),
                F.col("analysis_flags"),
            ),
        )
        .withColumn(
            "quality_controls_final",
            F.when(
                ~F.col("is_curated"),
                F.array_union(
                    F.coalesce(
                        F.col("curation_quality_controls"),
                        F.array().cast("array<string>"),
                    ),
                    F.array(F.lit("Study not curated by Open Targets")),
                ),
            ).otherwise(
                F.coalesce(
                    F.col("curation_quality_controls"),
                    F.array().cast("array<string>"),
                )
            ),
        )
    )
    return joined.select(
        "study_id",
        F.col("study_type_final").alias("study_type"),
        "has_sumstats",
        "is_curated",
        F.array_join(F.array_sort("analysis_flags_final"), ";").alias(
            "analysis_flags_csv"
        ),
        F.array_join(F.array_sort("quality_controls_final"), ";").alias(
            "quality_controls_csv"
        ),
    )


def _gwas_curation_sql() -> str:
    types = "(['" + "','".join(_CURATION_TYPES) + "'])"
    flags = "(['" + "','".join(_ANALYSIS_FLAGS) + "'])"
    return f"""
WITH studies AS (
  SELECT DISTINCT
         'GCST' || lpad(CAST(c_custkey % 800 AS VARCHAR), 6, '0') AS study_id,
         'gwas' AS study_type,
         c_custkey % 800 % 2 = 0 AS has_sumstats,
         CASE WHEN c_custkey % 800 % 5 = 0 THEN ['GxE']
              ELSE CAST([] AS VARCHAR[]) END AS analysis_flags
  FROM customer
),
curation_raw AS (
  SELECT DISTINCT
         'GCST' || lpad(CAST(s_suppkey * 3 % 800 AS VARCHAR), 6, '0')
           AS study_id,
         CASE WHEN s_suppkey % 3 = 0
              THEN (['pqtl','eqtl'])[CAST(s_suppkey % 2 AS INT) + 1]
              END AS curated_type,
         CASE WHEN s_suppkey % 4 <> 0
              THEN {flags}[CAST(s_suppkey % 5 AS INT) + 1] || '|'
                   || {flags}[CAST(s_suppkey * 7 % 5 AS INT) + 1]
         END AS analysis_flag_raw,
         CASE WHEN s_suppkey % 6 = 0
              THEN 'suspicious_effect_sizes' END AS quality_control_raw,
         s_suppkey % 5 <> 1 AS is_curated_raw
  FROM supplier
),
curation AS (
  SELECT study_id, curated_type,
         COALESCE(str_split(analysis_flag_raw, '|'),
                  CAST([] AS VARCHAR[])) AS curation_analysis_flags,
         COALESCE(str_split(quality_control_raw, '|'),
                  CAST([] AS VARCHAR[])) AS curation_quality_controls,
         is_curated_raw AS is_curated,
         ROW_NUMBER() OVER (PARTITION BY study_id
                            ORDER BY curated_type NULLS LAST,
                                     analysis_flag_raw NULLS LAST,
                                     quality_control_raw NULLS LAST,
                                     is_curated_raw) AS rn
  FROM curation_raw
),
joined AS (
  SELECT s.study_id,
         COALESCE(c.curated_type, s.study_type) AS study_type,
         s.has_sumstats,
         COALESCE(c.is_curated, FALSE) AS is_curated,
         list_distinct(s.analysis_flags ||
           COALESCE(c.curation_analysis_flags, CAST([] AS VARCHAR[])))
           AS analysis_flags_final,
         CASE WHEN NOT COALESCE(c.is_curated, FALSE)
              THEN list_distinct(
                     COALESCE(c.curation_quality_controls,
                              CAST([] AS VARCHAR[]))
                     || ['Study not curated by Open Targets'])
              ELSE COALESCE(c.curation_quality_controls,
                            CAST([] AS VARCHAR[])) END
           AS quality_controls_final
  FROM studies s
  LEFT JOIN (SELECT * FROM curation WHERE rn = 1) c USING (study_id)
)
SELECT study_id, study_type, has_sumstats, is_curated,
       COALESCE(array_to_string(list_sort(analysis_flags_final), ';'), '')
         AS analysis_flags_csv,
       COALESCE(array_to_string(list_sort(quality_controls_final), ';'), '')
         AS quality_controls_csv
FROM joined
"""


REGISTRY["gwas_study_curation"] = QuerySpec(
    q_gwas_study_curation, _gwas_curation_sql()
)


# --- eQTL Catalogue study index + raw summary stats ------------------------
# Quantification method → QTL study type, re-typed from the reference's
# EqtlCatalogueStudyIndex.method_to_qtl_type_mapping
# (datasource/eqtl_catalogue/study_index.py:48).
_EQTL_METHOD_2_TYPE = (
    ("ge", "eqtl"),
    ("exon", "eqtl"),
    ("tx", "eqtl"),
    ("microarray", "eqtl"),
    ("leafcutter", "sqtl"),
    ("aptamer", "pqtl"),
    ("txrev", "tuqtl"),
    ("majiq", "sqtl"),
)
# Default ingestion blacklist (the reference takes this as a config
# list validated against the mapping; study_index.py:137).
_EQTL_METHOD_BLACKLIST = ("majiq", "microarray")


def q_eqtl_study_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eQTL Catalogue study-index ingestion + study-type classification.

    Reference: datasource/eqtl_catalogue/study_index.py —
    ``read_studies_from_source`` (:131): raw dataset metadata with the
    quantification-method blacklist filter (invalid blacklist entries
    rejected up front, mirrored as a module-constant assertion), and
    ``_identify_study_type`` (:60): quantification method mapped
    through ``method_to_qtl_type_mapping`` with the ``sc`` prefix for
    single-cell studies. The metadata dim is tiny (hundreds of rows at
    any scale) — the distinct is the only exchange.
    """
    for m in _EQTL_METHOD_BLACKLIST:
        assert m in dict(_EQTL_METHOD_2_TYPE), m
    part = read_table(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    methods = F.array(*[F.lit(m) for m, _ in _EQTL_METHOD_2_TYPE])
    raw = part.select(
        F.concat(F.lit("QTD"), F.lpad((pk % 600).cast("string"), 6, "0")).alias(
            "dataset_id"
        ),
        F.concat(F.lit("Study_"), (pk % 40).cast("string")).alias(
            "study_label"
        ),
        F.concat(F.lit("group_"), (pk % 25).cast("string")).alias(
            "sample_group"
        ),
        F.concat(
            F.lit("UBERON_"), F.lpad((pk % 50).cast("string"), 4, "0")
        ).alias("tissue_id"),
        F.concat(F.lit("tissue "), (pk % 50).cast("string")).alias(
            "tissue_label"
        ),
        F.when(pk % 6 == 0, F.lit("stimulated"))
        .otherwise(F.lit("naive"))
        .alias("condition_label"),
        (F.lit(50) + pk % 500).cast("int").alias("sample_size"),
        F.element_at(methods, (pk % 8 + 1).cast("int")).alias("quant_method"),
        F.when(pk % 3 == 0, F.lit("single-cell"))
        .otherwise(F.lit("bulk"))
        .alias("raw_study_type"),
    )
    filtered = raw.filter(
        ~F.col("quant_method").isin(*_EQTL_METHOD_BLACKLIST)
    )
    type_map = F.create_map(
        *[F.lit(x) for pair in _EQTL_METHOD_2_TYPE for x in pair]
    )
    return filtered.select(
        "dataset_id",
        "study_label",
        "sample_group",
        "tissue_id",
        "tissue_label",
        "condition_label",
        "sample_size",
        "quant_method",
        F.when(
            F.col("raw_study_type") == "single-cell",
            F.concat(F.lit("sc"), type_map[F.col("quant_method")]),
        )
        .otherwise(type_map[F.col("quant_method")])
        .alias("study_type"),
    ).distinct()


def _eqtl_study_sql() -> str:
    methods = "(['" + "','".join(m for m, _ in _EQTL_METHOD_2_TYPE) + "'])"
    type_cases = "\n             ".join(
        f"WHEN '{m}' THEN '{t}'" for m, t in _EQTL_METHOD_2_TYPE
    )
    bl = ", ".join(f"'{m}'" for m in _EQTL_METHOD_BLACKLIST)
    return f"""
WITH raw AS (
  SELECT 'QTD' || lpad(CAST(p_partkey % 600 AS VARCHAR), 6, '0')
           AS dataset_id,
         'Study_' || CAST(p_partkey % 40 AS VARCHAR) AS study_label,
         'group_' || CAST(p_partkey % 25 AS VARCHAR) AS sample_group,
         'UBERON_' || lpad(CAST(p_partkey % 50 AS VARCHAR), 4, '0')
           AS tissue_id,
         'tissue ' || CAST(p_partkey % 50 AS VARCHAR) AS tissue_label,
         CASE WHEN p_partkey % 6 = 0 THEN 'stimulated'
              ELSE 'naive' END AS condition_label,
         CAST(50 + p_partkey % 500 AS INT) AS sample_size,
         {methods}[CAST(p_partkey % 8 AS INT) + 1] AS quant_method,
         CASE WHEN p_partkey % 3 = 0 THEN 'single-cell'
              ELSE 'bulk' END AS raw_study_type
  FROM part
)
SELECT DISTINCT dataset_id, study_label, sample_group, tissue_id,
       tissue_label, condition_label, sample_size, quant_method,
       CASE WHEN raw_study_type = 'single-cell'
            THEN 'sc' || CASE quant_method {type_cases} END
            ELSE CASE quant_method {type_cases} END END AS study_type
FROM raw
WHERE quant_method NOT IN ({bl})
"""


REGISTRY["eqtl_study_ingest"] = QuerySpec(q_eqtl_study_ingest, _eqtl_study_sql())


def q_eqtl_sumstat_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eQTL Catalogue raw (non-fine-mapped) summary-stats ingestion.

    Reference: datasource/eqtl_catalogue/summary_stats.py —
    ``_full_study_id_regexp`` (:23): project id and QTL group
    regexp-extracted from the source file URI (the reference uses
    ``input_file_name()``; the synthetic raw table carries the URI as
    a column, which is the same contract one step earlier), the full
    study id ``{project}_{qtlGroup}_{geneId}``, the underscore-joined
    variant id, the p-value mantissa/exponent split
    (common/stats.py split_pvalue_column), and ``from_source`` (:48):
    the position-not-null and beta-nonzero row filters.
    """
    ev = read_table(spark, sf_dir, "events")
    eid = F.col("event_id")
    project = F.element_at(
        F.array(F.lit("GTEx_V8"), F.lit("Alasoo_2018"), F.lit("BLUEPRINT")),
        (eid % 3 + 1).cast("int"),
    )
    qtl_group = F.concat(F.lit("tissue_"), (eid % 30).cast("string"))
    uri = F.concat(
        F.lit("input/preprocess/eqtl_catalogue/imported/"),
        project,
        F.lit("/ge/"),
        qtl_group,
        F.lit(".tsv.gz"),
    )
    bases = F.array(F.lit("A"), F.lit("C"), F.lit("G"), F.lit("T"))
    raw = ev.select(
        uri.alias("uri"),
        F.concat(
            F.lit("ENSG"), F.lpad((eid % 1200).cast("string"), 11, "0")
        ).alias("gene_id"),
        ((eid % 22) + 1).cast("string").alias("chromosome"),
        F.when(eid % 31 != 0, (eid * 101) % 5_000_000).alias("position"),
        F.element_at(bases, (eid % 4 + 1).cast("int")).alias("ref"),
        F.element_at(bases, ((eid + 1) % 4 + 1).cast("int")).alias("alt"),
        (((eid * 37) % 9999 + 1) / 10_000.0).alias("pvalue"),
        F.when(eid % 23 == 0, F.lit(0.0))
        .otherwise(((eid % 2001) - 1000) / 500.0)
        .alias("beta"),
        ((eid % 997 + 1) / 1000.0).alias("se"),
        ((eid % 499 + 1) / 1000.0).alias("maf"),
    )
    from gentropy_spark.functions.stats import split_pvalue

    m, e = split_pvalue(F.col("pvalue"))
    return (
        raw.select(
            F.concat_ws(
                "_",
                F.regexp_extract(F.col("uri"), r"imported/([^/]+)/.*", 1),
                F.regexp_extract(F.col("uri"), r"([^/]+)\.tsv\.gz", 1),
                F.col("gene_id"),
            ).alias("study_id"),
            F.concat_ws(
                "_", "chromosome", F.col("position").cast("string"), "ref", "alt"
            ).alias("variant_id"),
            "chromosome",
            F.col("position").cast("int").alias("position"),
            m,
            e,
            F.col("beta").cast("double").alias("beta"),
            F.col("se").cast("double").alias("standard_error"),
            F.col("maf").cast("double").alias("eaf_from_source"),
        )
        .filter(F.col("position").isNotNull() & (F.col("beta") != 0))
    )


def _eqtl_sumstat_sql() -> str:
    return """
WITH raw AS (
  SELECT 'input/preprocess/eqtl_catalogue/imported/'
           || (['GTEx_V8','Alasoo_2018','BLUEPRINT'])
              [CAST(event_id % 3 AS INT) + 1]
           || '/ge/tissue_' || CAST(event_id % 30 AS VARCHAR) || '.tsv.gz'
           AS uri,
         'ENSG' || lpad(CAST(event_id % 1200 AS VARCHAR), 11, '0') AS gene_id,
         CAST((event_id % 22) + 1 AS VARCHAR) AS chromosome,
         CASE WHEN event_id % 31 <> 0
              THEN (event_id * 101) % 5000000 END AS position,
         (['A','C','G','T'])[CAST(event_id % 4 AS INT) + 1] AS ref,
         (['A','C','G','T'])[CAST((event_id + 1) % 4 AS INT) + 1] AS alt,
         ((event_id * 37) % 9999 + 1) / 10000.0 AS pvalue,
         CASE WHEN event_id % 23 = 0 THEN 0.0
              ELSE ((event_id % 2001) - 1000) / 500.0 END AS beta,
         (event_id % 997 + 1) / 1000.0 AS se,
         (event_id % 499 + 1) / 1000.0 AS maf
  FROM events
)
SELECT regexp_extract(uri, 'imported/([^/]+)/.*', 1) || '_'
         || regexp_extract(uri, '([^/]+)\\.tsv\\.gz', 1) || '_' || gene_id
         AS study_id,
       chromosome || '_' || CAST(position AS VARCHAR) || '_' || ref || '_'
         || alt AS variant_id,
       chromosome,
       CAST(position AS INT) AS position,
       ROUND(pvalue / POW(10.0, FLOOR(LOG10(pvalue))), 3) AS p_mantissa,
       CAST(FLOOR(LOG10(pvalue)) AS INT) AS p_exponent,
       CAST(beta AS DOUBLE) AS beta,
       CAST(se AS DOUBLE) AS standard_error,
       CAST(maf AS DOUBLE) AS eaf_from_source
FROM raw
WHERE position IS NOT NULL AND beta <> 0
"""


REGISTRY["eqtl_sumstat_ingest"] = QuerySpec(
    q_eqtl_sumstat_ingest, _eqtl_sumstat_sql()
)


# --- deCODE pQTL study index -----------------------------------------------
# Publication constants, re-typed from the reference's
# deCODEPublicationMetadata (datasource/decode/__init__.py:40).
_DECODE_PUB = {
    "pubmed_id": "37794188",
    "smp_sample_size": 35_892,
    "raw_sample_size": 36_136,
    "ancestry": "Icelandic",
    "cohort": "deCODE",
    "biosample_id": "UBERON_0001969",
}
_DECODE_SMP = "deCODE-proteomics-smp"
_DECODE_RAW = "deCODE-proteomics-raw"
# The reference's study-id parts pattern (decode/study_index.py:104).
_DECODE_ID_RE = (
    r"^([\w-_]+?)_(Proteomics_(SMP_PC0|PC0))_(\d+_\d+)_([A-Za-z0-9]+)_(\w+)_\d+$"
)


@prepared
def q_decode_study_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deCODE pQTL study index: manifest → id-parts → aptamer → complex.

    Reference: datasource/decode/manifest.py:118 ``from_bucket_listing``
    (project id by SMP-substring, study id regexp-extracted from the
    listing path, s3a location concat, size string) and
    datasource/decode/study_index.py:283 ``from_manifest``:

    1. study-ID parts via the grouped regexp (:104): project /
       datasource type / aptamer id (underscores → dashes) / gene
       symbol / protein name, with the NA / Deprecated / No_Protein
       null-marking (:131, :149) and the not-null row filter;
    2. INNER join to the aptamer mapping table on aptamerId — the
       aptamer table is the H53 ``decode_aptamer_ingest`` output
       re-aggregated per aptamer (ids to SomaScan dash form), so the
       study index is restricted to curated aptamers exactly as the
       reference restricts the manifest (:336);
    3. sorted comma-joined UniProt ids LEFT-joined to the
       molecular-complex dim for the molecularComplexId (:352);
    4. publication metadata constants: per-project sample sizes,
       ancestry, biosample, cohort (:371).
    """
    from gentropy_spark.operators.dedup import spread_if_narrow

    # Spread the few-file orders scan before the manifest parse (r18):
    # the ~10 grouped regexp_extracts per row otherwise run in ONE
    # row-group task — paired A/B min-of-2: 4.71 -> 2.67s. Guarded:
    # many-file production listings are untouched.
    orders = spread_if_narrow(read_table(spark, sf_dir, "orders"), "o_orderkey")
    nat = read_table(spark, sf_dir, "nation")
    ok = F.col("o_orderkey")
    is_smp = ok % 4 == 0
    apt_a = F.expr("o_orderkey div 3 % 600").cast("string")
    apt_b = (ok % 3 + 1).cast("string")
    gene = (
        F.when(ok % 29 == 0, F.lit("NA"))
        .otherwise(F.concat(F.lit("GENE"), (ok % 700).cast("string")))
    )
    protein = (
        F.when(ok % 31 == 0, F.lit("Deprecated"))
        .when(ok % 31 == 1, F.lit("No_Protein"))
        .otherwise(F.concat(F.lit("PROT"), (ok % 900).cast("string")))
    )
    fname = F.concat(
        F.lit("Proteomics_"),
        F.when(is_smp, F.lit("SMP_PC0_")).otherwise(F.lit("PC0_")),
        apt_a,
        F.lit("_"),
        apt_b,
        F.lit("_"),
        gene,
        F.lit("_"),
        protein,
        F.lit("_"),
        F.lpad((ok % 100_000).cast("string"), 8, "0"),
    )
    listing = orders.select(
        F.concat(F.lit("decode/sumstats/"), fname, F.lit(".txt.gz")).alias(
            "relative_path"
        ),
        F.concat_ws(
            " ", ((ok * 3) % 900 + 1).cast("string"), F.lit("MiB")
        ).alias("size"),
    )
    project = F.when(
        F.col("relative_path").contains("Proteomics_SMP_"), F.lit(_DECODE_SMP)
    ).otherwise(F.lit(_DECODE_RAW))
    manifest = listing.select(
        project.alias("project_id"),
        F.concat_ws(
            "_",
            project,
            F.regexp_extract(
                F.col("relative_path"), r"^.*/(Proteomics_.*)\.txt.gz$", 1
            ),
        ).alias("study_id"),
        F.lit(True).alias("has_sumstats"),
        F.concat(F.lit("s3a://decode-bucket/"), F.col("relative_path")).alias(
            "sumstats_location"
        ),
        F.col("size"),
    )
    p = lambda i: F.regexp_extract(F.col("study_id"), _DECODE_ID_RE, i)  # noqa: E731
    parts = manifest.select(
        "study_id",
        "project_id",
        "has_sumstats",
        "sumstats_location",
        "size",
        p(2).alias("datasource_type"),
        F.regexp_replace(p(4), "_", "-").alias("aptamer_id"),
        F.when(p(5) != "NA", p(5)).alias("gene_symbol_from_study_id"),
        F.when(~p(6).isin("Deprecated", "No_Protein"), p(6)).alias(
            "protein_name_from_source"
        ),
    )
    traited = parts.withColumn(
        "trait_from_source",
        F.concat_ws(
            "_",
            "datasource_type",
            "aptamer_id",
            "gene_symbol_from_study_id",
            "protein_name_from_source",
        ),
    ).filter(
        F.col("gene_symbol_from_study_id").isNotNull()
        & F.col("protein_name_from_source").isNotNull()
    )
    # Aptamer mapping = the H53 dialect output re-aggregated per
    # aptamer: dash-form SomaScan id + sorted distinct protein ids.
    from gentropy_spark.plans.ingestion import q_decode_aptamer_ingest

    aptamers = (
        q_decode_aptamer_ingest(spark, sf_dir)
        .groupBy(
            F.regexp_replace(F.col("aptamer_id"), "_", "-").alias("aptamer_id")
        )
        .agg(
            F.concat_ws(
                ",", F.array_sort(F.collect_set("protein_id"))
            ).alias("protein_ids"),
            F.concat_ws(
                ",", F.array_sort(F.collect_set("gene_symbol"))
            ).alias("curated_gene_symbols"),
        )
    )
    annotated = traited.join(aptamers, on="aptamer_id", how="inner")
    nk = F.col("n_nationkey")
    complexes = nat.select(
        F.concat(F.lit("CPX-"), nk.cast("string")).alias(
            "molecular_complex_id"
        ),
        F.concat_ws(
            ",",
            F.array_sort(
                F.array(
                    F.concat(
                        F.lit("P"),
                        F.lpad(((nk * 3) % 900).cast("string"), 5, "0"),
                    ),
                    F.concat(
                        F.lit("P"),
                        F.lpad(((nk * 3 + 1) % 900).cast("string"), 5, "0"),
                    ),
                )
            ),
        ).alias("protein_ids"),
    )
    with_cpx = annotated.join(
        F.broadcast(complexes), on="protein_ids", how="left"
    )
    raw_n = _DECODE_PUB["raw_sample_size"]
    smp_n = _DECODE_PUB["smp_sample_size"]
    return with_cpx.select(
        "study_id",
        "project_id",
        F.lit("pqtl").alias("study_type"),
        "trait_from_source",
        "aptamer_id",
        "gene_symbol_from_study_id",
        "protein_name_from_source",
        "protein_ids",
        "curated_gene_symbols",
        "molecular_complex_id",
        "has_sumstats",
        "sumstats_location",
        "size",
        F.lit(_DECODE_PUB["biosample_id"]).alias("biosample_id"),
        F.lit(_DECODE_PUB["pubmed_id"]).alias("pubmed_id"),
        F.when(F.col("project_id") == _DECODE_RAW, F.lit(raw_n))
        .when(F.col("project_id") == _DECODE_SMP, F.lit(smp_n))
        .cast("int")
        .alias("n_samples"),
        F.when(
            F.col("project_id") == _DECODE_RAW,
            F.lit(f"{raw_n:,} Icelandic individuals"),
        )
        .when(
            F.col("project_id") == _DECODE_SMP,
            F.lit(f"{smp_n:,} Icelandic individuals"),
        )
        .alias("initial_sample_size"),
        F.lit(_DECODE_PUB["ancestry"]).alias("ancestry"),
        F.lit(_DECODE_PUB["cohort"]).alias("cohort"),
    )


def _decode_study_sql() -> str:
    from gentropy_spark.plans.ingestion import DECODE_APTAMER_SQL

    raw_n = _DECODE_PUB["raw_sample_size"]
    smp_n = _DECODE_PUB["smp_sample_size"]
    return f"""
WITH listing AS (
  SELECT 'decode/sumstats/Proteomics_'
           || CASE WHEN o_orderkey % 4 = 0 THEN 'SMP_PC0_' ELSE 'PC0_' END
           || CAST(o_orderkey // 3 % 600 AS VARCHAR) || '_'
           || CAST(o_orderkey % 3 + 1 AS VARCHAR) || '_'
           || CASE WHEN o_orderkey % 29 = 0 THEN 'NA'
                   ELSE 'GENE' || CAST(o_orderkey % 700 AS VARCHAR) END || '_'
           || CASE WHEN o_orderkey % 31 = 0 THEN 'Deprecated'
                   WHEN o_orderkey % 31 = 1 THEN 'No_Protein'
                   ELSE 'PROT' || CAST(o_orderkey % 900 AS VARCHAR) END || '_'
           || lpad(CAST(o_orderkey % 100000 AS VARCHAR), 8, '0')
           || '.txt.gz' AS relative_path,
         CAST((o_orderkey * 3) % 900 + 1 AS VARCHAR) || ' MiB' AS size
  FROM orders
),
manifest AS (
  SELECT CASE WHEN contains(relative_path, 'Proteomics_SMP_')
              THEN '{_DECODE_SMP}' ELSE '{_DECODE_RAW}' END AS project_id,
         CASE WHEN contains(relative_path, 'Proteomics_SMP_')
              THEN '{_DECODE_SMP}' ELSE '{_DECODE_RAW}' END || '_'
           || regexp_extract(relative_path,
                             '^.*/(Proteomics_.*)\\.txt.gz$', 1) AS study_id,
         TRUE AS has_sumstats,
         's3a://decode-bucket/' || relative_path AS sumstats_location,
         size
  FROM listing
),
parts AS (
  SELECT *,
         regexp_extract(study_id, '{_DECODE_ID_RE}', 2) AS datasource_type,
         replace(regexp_extract(study_id, '{_DECODE_ID_RE}', 4), '_', '-')
           AS aptamer_id,
         NULLIF(regexp_extract(study_id, '{_DECODE_ID_RE}', 5), 'NA')
           AS gene_symbol_from_study_id,
         CASE WHEN regexp_extract(study_id, '{_DECODE_ID_RE}', 6)
                   IN ('Deprecated', 'No_Protein') THEN NULL
              ELSE regexp_extract(study_id, '{_DECODE_ID_RE}', 6) END
           AS protein_name_from_source
  FROM manifest
),
traited AS (
  SELECT *,
         datasource_type || '_' || aptamer_id || '_'
           || gene_symbol_from_study_id || '_' || protein_name_from_source
           AS trait_from_source
  FROM parts
  WHERE gene_symbol_from_study_id IS NOT NULL
    AND protein_name_from_source IS NOT NULL
),
aptamers AS (
  SELECT replace(aptamer_id, '_', '-') AS aptamer_id,
         array_to_string(list_sort(list(DISTINCT protein_id)), ',')
           AS protein_ids,
         array_to_string(list_sort(list(DISTINCT gene_symbol)), ',')
           AS curated_gene_symbols
  FROM ({DECODE_APTAMER_SQL.strip()})
  GROUP BY 1
),
complexes AS (
  SELECT 'CPX-' || CAST(n_nationkey AS VARCHAR) AS molecular_complex_id,
         array_to_string(list_sort(
           ['P' || lpad(CAST((n_nationkey * 3) % 900 AS VARCHAR), 5, '0'),
            'P' || lpad(CAST((n_nationkey * 3 + 1) % 900 AS VARCHAR), 5, '0')]
         ), ',') AS protein_ids
  FROM nation
)
SELECT t.study_id, t.project_id, 'pqtl' AS study_type, t.trait_from_source,
       t.aptamer_id, t.gene_symbol_from_study_id, t.protein_name_from_source,
       a.protein_ids, a.curated_gene_symbols, c.molecular_complex_id,
       t.has_sumstats, t.sumstats_location, t.size,
       '{_DECODE_PUB["biosample_id"]}' AS biosample_id,
       '{_DECODE_PUB["pubmed_id"]}' AS pubmed_id,
       CAST(CASE WHEN t.project_id = '{_DECODE_RAW}' THEN {raw_n}
                 WHEN t.project_id = '{_DECODE_SMP}' THEN {smp_n} END AS INT)
         AS n_samples,
       CASE WHEN t.project_id = '{_DECODE_RAW}'
              THEN '{raw_n:,} Icelandic individuals'
            WHEN t.project_id = '{_DECODE_SMP}'
              THEN '{smp_n:,} Icelandic individuals' END
         AS initial_sample_size,
       '{_DECODE_PUB["ancestry"]}' AS ancestry,
       '{_DECODE_PUB["cohort"]}' AS cohort
FROM traited t
JOIN aptamers a USING (aptamer_id)
LEFT JOIN complexes c ON a.protein_ids = c.protein_ids
"""


def _decode_study_spec():
    return QuerySpec(q_decode_study_ingest, _decode_study_sql())


REGISTRY["decode_study_ingest"] = _decode_study_spec()


# --- GWAS Catalog top-hits step: split → window clump ----------------------
_TOPHIT_DIST = 250_000


@prepared
def q_gwas_top_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GWAS Catalog top-hit ingestion step: split + window clumping.

    Reference: gwas_catalog_top_hits.py:18
    ``GWASCatalogTopHitIngestionStep`` — the curated-association
    parse + ``GWASCatalogStudySplitter.split`` output flows straight
    into ``window_based_clumping(distance)`` before it is written.
    Composed here on the ``gwas_study_split`` dialect: the re-keyed
    (updatedStudyId) associations get deterministic positions /
    significance from the variant axis, are clustered with the
    gap-sessionization used by window clumping
    (operators/clumping.py:44 — new cluster when the inter-variant
    gap exceeds the distance), and the strongest association per
    cluster (signif desc, pos, variant tie-break) is the top hit.
    This is the reference's layering proof: study SPLITTING must
    happen before clumping so sub-studies clump independently.
    """
    from pyspark.sql import Window as W

    from gentropy_spark.operators.clumping import _cluster_seq

    resolved = q_gwas_study_split(spark, sf_dir)
    vnum = F.element_at(F.split(F.col("variant_id"), "v"), 2).cast("long")
    loci = (
        resolved.select(
            "updated_study_id",
            "variant_id",
            ((vnum % 22) + 1).cast("string").alias("contig"),
            # 4 islands per contig, ~200kb wide, 1Mb apart: variants in
            # the same island sit within the clump distance (merge);
            # island hops exceed it (new cluster).
            ((vnum % 4) * 1_000_000 + (vnum * 37) % 200_000).alias("pos"),
            (F.round(((vnum * 31) % 4001) / 10.0, 6)).alias("signif"),
        )
        # ONE exchange for dedup + clumping + lead ranking (r18): hash
        # on the (study, contig) prefix FIRST — the 5-column distinct,
        # both gap-sessionization windows and the lead rank window are
        # all satisfied by that prefix partitioning (subset rule),
        # collapsing the old (all-columns distinct, study-contig
        # window) exchange pair to one. Bytes are near-identical: the
        # split output is already near-unique per (study, variant).
        .repartition("updated_study_id", "contig")
        .distinct()
    )
    clustered = _cluster_seq(
        loci, "updated_study_id", "variant_id", _TOPHIT_DIST
    )
    w_rank = W.partitionBy("updated_study_id", "contig", "cluster_seq").orderBy(
        F.col("signif").desc(), F.col("pos").asc(), F.col("variant_id").asc()
    )
    return (
        clustered.withColumn("lead_rank", F.row_number().over(w_rank))
        .filter(F.col("lead_rank") == 1)
        .select(
            "updated_study_id",
            "contig",
            F.col("cluster_seq").cast("bigint").alias("cluster_seq"),
            F.col("variant_id").alias("lead_variant_id"),
            F.col("pos").alias("lead_pos"),
            F.col("signif").alias("lead_signif"),
        )
    )


def _gwas_top_hits_sql() -> str:
    split_sql = _gwas_split_sql()
    return f"""
WITH split_out AS ({split_sql}),
loci AS (
  SELECT DISTINCT updated_study_id, variant_id,
         CAST((CAST(str_split(variant_id, 'v')[2] AS BIGINT) % 22) + 1
              AS VARCHAR) AS contig,
         (CAST(str_split(variant_id, 'v')[2] AS BIGINT) % 4) * 1000000
           + (CAST(str_split(variant_id, 'v')[2] AS BIGINT) * 37) % 200000
           AS pos,
         ROUND(((CAST(str_split(variant_id, 'v')[2] AS BIGINT) * 31) % 4001)
               / 10.0, 6) AS signif
  FROM split_out
),
clustered AS (
  SELECT *,
         SUM(CASE WHEN prev_pos IS NULL
                       OR pos - prev_pos > {_TOPHIT_DIST} THEN 1
                  ELSE 0 END)
           OVER (PARTITION BY updated_study_id, contig
                 ORDER BY pos, variant_id
                 ROWS UNBOUNDED PRECEDING) AS cluster_seq
  FROM (SELECT *,
               LAG(pos) OVER (PARTITION BY updated_study_id, contig
                              ORDER BY pos, variant_id) AS prev_pos
        FROM loci) x
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY updated_study_id, contig, cluster_seq
                            ORDER BY signif DESC, pos, variant_id)
           AS lead_rank
  FROM clustered
)
SELECT updated_study_id, contig, CAST(cluster_seq AS BIGINT) AS cluster_seq,
       variant_id AS lead_variant_id, pos AS lead_pos, signif AS lead_signif
FROM ranked WHERE lead_rank = 1
"""


REGISTRY["gwas_top_hits"] = QuerySpec(q_gwas_top_hits, _gwas_top_hits_sql())
