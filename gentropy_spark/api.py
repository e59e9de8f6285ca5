"""User-facing façade mirroring the reference's dataset-class API.

A gentropy user works with ``SummaryStatistics`` / ``StudyLocus`` /
``Colocalisation`` objects and calls methods like
``window_based_clumping`` or ``find_overlaps`` (reference:
/root/reference/src/gentropy/dataset/summary_statistics.py,
study_locus.py, method/*). This module offers the same verbs over the
engine's operators so a reference pipeline ports line by line:

    ss = SummaryStatistics(df)          # study_id/contig/pos/signif/point_id
    loci = ss.window_based_clumping(distance=500_000)
    overlaps = loci.find_overlaps(other_loci)
    coloc_res = Colocalisation.coloc(tag_overlaps)

Everything delegates, and the façade adds zero plan nodes: the
genomics verbs call ``operators/``, and the ``Corpus`` verbs call the
same stage functions the registry keys and the fused ``corpus_curate``
plan run (sampling, packing, PII redaction and the canonical-duplicate
filter in plans/llm_pipeline.py), so no verb keeps its own copy.
``.df`` always exposes the underlying DataFrame.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gentropy_spark.operators import clumping as _clumping
from gentropy_spark.operators import coloc as _coloc
from gentropy_spark.operators import finemapping as _finemapping
from gentropy_spark.operators import overlaps as _overlaps

CANONICAL = ("study_id", "contig", "pos", "signif", "point_id")


@dataclass
class SummaryStatistics:
    """Canonical summary statistics: one row per (study, variant)."""

    df: DataFrame

    def __post_init__(self) -> None:
        missing = set(CANONICAL) - set(self.df.columns)
        if missing:
            raise ValueError(f"SummaryStatistics missing columns {sorted(missing)}")

    def pvalue_filter(self, min_signif: float) -> "SummaryStatistics":
        """Keep points at or above the significance threshold
        (reference summary_statistics.py:38 pvalue_filter)."""
        return SummaryStatistics(self.df.filter(F.col("signif") >= min_signif))

    def sanity_filter(self) -> "SummaryStatistics":
        """Drop null-key / non-positive-signif rows, dedup on the natural
        key keeping the lowest point_id (summary_statistics.py:147)."""
        from pyspark.sql import Window

        valid = (
            F.col("study_id").isNotNull()
            & F.col("contig").isNotNull()
            & F.col("pos").isNotNull()
            & (F.col("signif") > 0)
        )
        w = Window.partitionBy("study_id", "contig", "pos").orderBy("point_id")
        return SummaryStatistics(
            self.df.filter(valid)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def exclude_region(
        self, regions: Sequence[tuple[str, int, int]]
    ) -> "SummaryStatistics":
        return SummaryStatistics(_clumping.exclude_regions(self.df, regions))

    def window_based_clumping(
        self, distance: int = 500_000, min_signif: float | None = None
    ) -> "StudyLocus":
        return StudyLocus(
            _clumping.window_clump(self.df, window=distance, min_signif=min_signif),
            start_col="cluster_start",
            end_col="cluster_end",
        )

    def locus_breaker_clumping(
        self,
        baseline_signif: float,
        distance_cutoff: int,
        lead_signif: float,
        flank: int,
    ) -> "StudyLocus":
        return StudyLocus(
            _clumping.locus_breaker(
                self.df,
                baseline_signif=baseline_signif,
                distance_cutoff=distance_cutoff,
                lead_signif=lead_signif,
                flank=flank,
            ),
            start_col="locus_start",
            end_col="locus_end",
        )


@dataclass
class StudyLocus:
    """Clumped loci: one row per locus with lead + span columns."""

    df: DataFrame
    start_col: str = "locus_start"
    end_col: str = "locus_end"

    def assign_study_locus_id(self, key_cols: Sequence[str]) -> "StudyLocus":
        """md5 of '_'-joined key columns (study_locus.py:628)."""
        return StudyLocus(
            self.df.withColumn(
                "study_locus_id", F.md5(F.concat_ws("_", *key_cols))
            ),
            self.start_col,
            self.end_col,
        )

    def find_overlaps(
        self, other: "StudyLocus", tile_width: int | None = None
    ) -> DataFrame:
        """Interval-overlap pairs against another loci set
        (study_locus.py:845 find_overlaps). Each side contributes its
        OWN span column names — overlapping two differently-named span
        tables is valid."""
        return _overlaps.overlap_join(
            self.df,
            other.df,
            start=self.start_col,
            end=self.end_col,
            tile_width=tile_width,
            right_start=other.start_col,
            right_end=other.end_col,
        )

    def pics_finemap(self, tau: int = 10_800_000_000) -> DataFrame:
        """PICS posteriors per cluster member (method/pics.py)."""
        return _finemapping.pics(self.df, tau=tau)


class Colocalisation:
    """COLOC + eCAVIAR over tag-level overlap rows (method/colocalisation.py)."""

    @staticmethod
    def coloc(
        tag_overlaps: DataFrame,
        group_cols: Sequence[str] = ("left_study_id", "right_study_id", "contig"),
        **priors: float,
    ) -> DataFrame:
        return _coloc.coloc(tag_overlaps, list(group_cols), **priors)

    @staticmethod
    def ecaviar(
        tag_overlaps: DataFrame,
        group_cols: Sequence[str] = ("left_study_id", "right_study_id", "contig"),
    ) -> DataFrame:
        return _coloc.ecaviar_clpp(tag_overlaps, list(group_cols))


@dataclass
class Corpus:
    """Façade over the LLM-data-pipeline operators (SURVEY §2.E).

    The document-side counterpart of SummaryStatistics: wraps a
    documents DataFrame (doc_id, text, ...) and exposes the curation
    verbs — dedup, clustering, sampling, packing, redaction — each
    delegating to the same function the registry queries use.
    """

    df: DataFrame

    def exact_dup_groups(self) -> DataFrame:
        from gentropy_spark.operators.dedup import exact_dup_groups

        return exact_dup_groups(self.df)

    def near_dup_pairs(self, **kw) -> DataFrame:
        from gentropy_spark.operators.dedup import minhash_lsh_pairs

        return minhash_lsh_pairs(self.df, **kw)

    def duplicate_clusters(self, pairs: DataFrame | None = None) -> DataFrame:
        from gentropy_spark.operators.dedup import (
            duplicate_clusters,
            minhash_lsh_pairs,
        )

        edges = pairs if pairs is not None else minhash_lsh_pairs(self.df)
        return duplicate_clusters(self.df, edges)

    def canonical_only(self) -> "Corpus":
        """Drop every non-canonical duplicate (cluster resolution)."""
        from gentropy_spark.operators.dedup import minhash_lsh_pairs
        from gentropy_spark.plans.llm_pipeline import drop_non_canonical

        return Corpus(drop_non_canonical(self.df, minhash_lsh_pairs(self.df)))

    def sample_stratified(
        self, rates: dict[str, str], default: str, stratum_col: str = "lang"
    ) -> "Corpus":
        """Deterministic md5-keyspace sampling per stratum (4-hex-char
        thresholds, e.g. '28f5' keeps ~16%); adds the ``sample_key``."""
        from gentropy_spark.plans.llm_pipeline import stratified_sample

        return Corpus(stratified_sample(self.df, stratum_col, rates, default))

    def pack_sequences(
        self, budget_tokens: int, shard_col: str = "source"
    ) -> DataFrame:
        from gentropy_spark.plans.llm_pipeline import pack_documents

        return pack_documents(self.df, budget_tokens, shard_col)

    def pii_redact(self) -> DataFrame:
        from gentropy_spark.plans.llm_pipeline import redact_pii

        return self.df.withColumn("text", redact_pii(F.col("text")))
