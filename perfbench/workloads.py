"""Workload definitions of the benchmark.

Every workload runs registry keys of ``gentropy_spark`` over the copy of
the seed-42 sf0.01 tables in ``data/sf0.01``. A run is one closed loop on
``local[nproc]``: each key starts after the previous one returned, and
no other client thread submits work. The run seed only permutes the key
order inside each warm round; the inputs never change, so every output
can be checked against its pin in ``pins.json``.

Which layers each workload loads and bypasses, and which end-to-end
metric each per-layer metric should move on which workload, is written
down in README.md.
"""

from __future__ import annotations

from dataclasses import dataclass

# The post-GWAS step DAG (harmonise -> clump -> fine-map -> coloc ->
# L2G), as a cli.run_dag pipeline config:
# step -> the steps it runs after. cli.topo_order turns it into the
# order listed here.
POSTGWAS_DAG: dict[str, list[str]] = {
    "sumstat_harmonise_finngen": [],
    "window_clump_leads": ["sumstat_harmonise_finngen"],
    "locus_breaker": ["window_clump_leads"],
    "pics_finemap": ["locus_breaker"],
    "credible_set_filter": ["pics_finemap"],
    "coloc": ["credible_set_filter"],
    "l2g_score": ["coloc"],
}


@dataclass(frozen=True)
class Workload:
    """One named workload (BENCHMARK.json says why each exists).

    Attributes:
        cold: True when every pass runs in a fresh process and JVM and
            goes through the CLI layer with parquet output; False for a
            long-lived session with an untimed warm-up round and the
            noop sink.
        keys: registry keys of one pass, in their unshuffled order.
        min_passes: timed passes a run makes at least. A warm pass
            moves by about 10% from one pass to the next and still
            speeds up for several passes after the warm-up; the median
            of seven keeps warm runs steady. Cold passes are steady
            within a run, and a second fresh JVM per run did not narrow
            the spread between runs (host bursts outlast a run).
    """

    cold: bool
    keys: tuple[str, ...]
    min_passes: int


WORKLOADS: dict[str, Workload] = {
    "postgwas_cold": Workload(cold=True, keys=tuple(POSTGWAS_DAG), min_passes=1),
    "embedding_warm": Workload(
        cold=False, keys=("embedding_pca_power", "ann_cosine_topk"), min_passes=7
    ),
}
