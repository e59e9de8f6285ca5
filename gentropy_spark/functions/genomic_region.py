"""Genomic region parsing and arithmetic (SURVEY §2.C4 support).

Re-expresses /root/reference/src/gentropy/common/genomic_region.py:
region strings like ``chr1:100-200`` parse into (contig, start, end)
both driver-side (python) and column-side (regexp extraction), plus
the region-overlap predicate used by the exclusion filters.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

_REGION_RE = r"^(\w+):(\d+)-(\d+)$"


@dataclass(frozen=True)
class GenomicRegion:
    contig: str
    start: int
    end: int

    @classmethod
    def parse(cls, spec: str) -> "GenomicRegion":
        import re

        m = re.match(_REGION_RE, spec)
        if not m:
            raise ValueError(f"bad region spec: {spec!r}")
        start, end = int(m.group(2)), int(m.group(3))
        if start > end:
            raise ValueError(f"region start > end: {spec!r}")
        return cls(m.group(1), start, end)

    def length(self) -> int:
        return self.end - self.start + 1

    def overlaps(self, other: "GenomicRegion") -> bool:
        return (
            self.contig == other.contig
            and self.start <= other.end
            and other.start <= self.end
        )


def parse_region_col(spec: Column) -> tuple[Column, Column, Column]:
    """Column-side region parse → (contig, start, end); malformed → NULLs."""
    contig = F.regexp_extract(spec, _REGION_RE, 1)
    start = F.regexp_extract(spec, _REGION_RE, 2)
    end = F.regexp_extract(spec, _REGION_RE, 3)
    valid = contig != ""
    return (
        F.when(valid, contig).alias("contig"),
        F.when(valid, start.cast("long")).alias("region_start"),
        F.when(valid, end.cast("long")).alias("region_end"),
    )
