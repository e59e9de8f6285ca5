"""Hydra-YAML → JSON-DAG translator shim.

The reference drives its steps through Hydra (`config.py:784-893`
registers 36 step configs under group ``step``; a user launches
``gentropy step=<name> step.<param>=<value>`` or keeps a composed YAML).
This engine's pipeline surface is the JSON DAG consumed by
``gentropy_spark.cli dag`` — so a user migrating an existing Hydra YAML
runs it through :func:`translate` (or ``python -m
gentropy_spark.hydra_compat pipeline.yaml > pipeline.json``) instead of
rewriting it by hand.

Two YAML shapes are accepted:

1. A single-step Hydra run config — ``{step: <name>}`` or
   ``{step: {_target_: gentropy.<mod>.<Class>, <params>…}}`` with the
   usual ``defaults`` list — which becomes a one-step DAG.
2. A multi-step pipeline — ``{steps: {<id>: {step: <hydra name>,
   after: […], <params>…}}}`` — which becomes the equivalent DAG with
   every step name mapped.

Reference step names map to registry keys via :data:`STEP_NAME_MAP`.
Hydra params that exist in the engine's typed step schemas
(config.py STEP_PARAM_SCHEMAS) are carried over (with the reference's
spelling mapped, e.g. ``distance`` → ``window`` for window-based
clumping); path-typed params (``*_path``, ``*_paths``) are dropped —
the engine reads the session's table directory — and every dropped or
unknown param is reported in the returned warnings, never silently
swallowed. Unknown step names raise with the full supported list.
"""

from __future__ import annotations

import json
import re
import sys
from typing import Any

# Reference Hydra step name (config.py cs.store group="step") →
# engine registry key. Steps whose reference semantics span several
# registry queries map to the query a user launching THAT step gets.
STEP_NAME_MAP: dict[str, str] = {
    "colocalisation": "coloc",
    "eqtl_catalogue": "eqtl_susie_ingest",
    "biosample_index": "biosample_index_merge",
    "gwas_catalog_study_curation": "gwas_study_curation",
    "gwas_catalog_study_index": "gwas_study_ingest",
    "gwas_catalog_sumstat_preprocess": "gwas_sumstat_ingest",
    "gwas_catalog_top_hit_ingestion": "gwas_top_hits",
    "ld_based_clumping": "ld_clump_indexed",
    "ld_index": "ld_index_build",
    "locus_to_gene": "l2g_score_gbm",
    "locus_to_gene_feature_matrix": "l2g_feature_matrix",
    "finngen_studies": "finngen_study_ingest",
    "finngen_finemapping_ingestion": "finngen_finemapping_ingest",
    "pics": "pics_finemap",
    "gnomad_variants": "gnomad_variant_ingest",
    "ukb_ppp_eur_sumstat_preprocess": "ukb_ppp_harmonise",
    "lof_curation_ingestion": "lof_curation_ingest",
    "variant_index": "vep_variant_index_ingest",
    "variant_to_vcf": "ot_variant_to_vcf",
    "window_based_clumping": "window_clump_leads",
    "susie_finemapping": "susie_finemapper_step",
    "summary_statistics_qc": "sumstat_qc_summary",
    "locus_breaker_clumping": "locus_breaker",
    "credible_set_validation": "credible_set_qc",
    "study_validation": "study_index_validate",
    "locus_to_gene_evidence": "evidence_vs_gold_standard",
    "locus_to_gene_associations": "l2g_score_gbm",
    "finngen_ukb_mvp_meta_summary_statistics_ingestion": (
        "finngen_meta_study_ingest"
    ),
    "credible_set_qc": "credible_set_qc",
    "foldx_integration": "amino_acid_variants",
    "interval_e2g": "intervals_e2g_ingest",
    "pQTL_study_index_transformation": "ukb_ppp_study_ingest",
    "molecular_complex_ingestion": "complextab_parse",
    "decode_manifest_generation": "decode_study_ingest",
    "decode_summary_statistics_ingestion": "decode_sumstat_harmonise",
    "decode_summary_statistics_harmonisation": "decode_sumstat_harmonise",
}

# Hydra param spelling → engine step-schema param, per engine key.
PARAM_NAME_MAP: dict[str, dict[str, str]] = {
    "window_clump_leads": {"distance": "window", "gwas_significance": "min_signif"},
    "locus_breaker": {
        "lbc_baseline_pvalue": "baseline_signif",
        "lbc_distance_cutoff": "distance_cutoff",
        "lbc_pvalue_threshold": "lead_signif",
        "lbc_flanking_distance": "flank",
    },
    "pics_finemap": {"tau": "tau"},
}

# Value converters for params whose reference unit differs from the
# engine's: the reference states significance as a raw p-value, the
# engine's clumping thresholds live on the -log10 scale.
def _p_to_neglog10(v: Any) -> float:
    import math

    return -math.log10(float(v))


PARAM_VALUE_CONVERTERS: dict[tuple[str, str], Any] = {
    ("window_clump_leads", "min_signif"): _p_to_neglog10,
    ("locus_breaker", "baseline_signif"): _p_to_neglog10,
    ("locus_breaker", "lead_signif"): _p_to_neglog10,
}

_PATH_RE = re.compile(r"(_path|_paths|_dir|_uri|_folder)s?$")
_META_KEYS = {"_target_", "defaults", "session", "step_name"}


def _target_to_step(target: str) -> str | None:
    """Map a Hydra ``_target_`` class path back to its step name."""
    cls = target.rsplit(".", 1)[-1]
    slug = re.sub(r"(Step|Config)$", "", cls)
    slug = re.sub(r"(?<!^)(?=[A-Z])", "_", slug).lower()
    # normalize a few reference spellings the camel-case split misses
    fixes = {
        "de_c_o_d_e_manifest_generation": "decode_manifest_generation",
        "convert_to_vcf": "variant_to_vcf",
    }
    slug = fixes.get(slug, slug)
    return slug if slug in STEP_NAME_MAP else None


def _translate_params(
    engine_key: str, raw: dict[str, Any], warnings: list[str]
) -> dict[str, Any]:
    from gentropy_spark.config import STEP_PARAM_SCHEMAS

    schema = STEP_PARAM_SCHEMAS.get(engine_key, {})
    name_map = PARAM_NAME_MAP.get(engine_key, {})
    out: dict[str, Any] = {}
    for key, value in raw.items():
        if key in _META_KEYS:
            continue
        if _PATH_RE.search(key):
            warnings.append(
                f"{engine_key}: dropped path param {key!r} — the engine "
                "reads the session table directory"
            )
            continue
        mapped = name_map.get(key, key)
        if mapped in schema:
            conv = PARAM_VALUE_CONVERTERS.get((engine_key, mapped))
            if conv is not None and key != mapped:
                value = conv(value)
                warnings.append(
                    f"{engine_key}: converted {key!r} to the engine's "
                    f"-log10 scale as {mapped!r}={value}"
                )
            out[mapped] = value
        else:
            warnings.append(
                f"{engine_key}: dropped param {key!r} (no engine "
                "counterpart in its step schema)"
            )
    return out


def _resolve_step_name(step: Any) -> str:
    """Hydra step spec (name string or {_target_: …} dict) → engine key."""
    if isinstance(step, str):
        name = step
    elif isinstance(step, dict) and "_target_" in step:
        name = _target_to_step(step["_target_"]) or step["_target_"]
    else:
        raise ValueError(f"unrecognizable step spec: {step!r}")
    if name in STEP_NAME_MAP:
        return STEP_NAME_MAP[name]
    raise ValueError(
        f"unknown Hydra step {name!r}; supported: "
        + ", ".join(sorted(STEP_NAME_MAP))
    )


def translate(doc: dict[str, Any]) -> tuple[dict[str, Any], list[str]]:
    """Translate a loaded Hydra YAML document into the JSON DAG config.

    Returns (config, warnings). The config validates against
    ``gentropy_spark.config.validate_config`` and runs via
    ``gentropy_spark.cli run_dag``.
    """
    warnings: list[str] = []
    out: dict[str, Any] = {}
    for carry in ("sf_dir", "out_dir"):
        if carry in doc:
            out[carry] = doc[carry]
    out.setdefault("out_dir", "pipeline_out")

    if "steps" in doc:  # multi-step pipeline shape
        steps: dict[str, Any] = {}
        for sid, spec in doc["steps"].items():
            spec = dict(spec)
            if "step" not in spec:
                raise ValueError(
                    f"step {sid!r}: missing 'step' key (every entry under"
                    " 'steps:' must name the gentropy step to run)"
                )
            engine_key = _resolve_step_name(spec.pop("step"))
            after = spec.pop("after", [])
            entry: dict[str, Any] = {"query": engine_key}
            if after:
                entry["after"] = list(after)
            params = _translate_params(engine_key, spec, warnings)
            if params:
                entry["params"] = params
            steps[sid] = entry
        out["steps"] = steps
        return out, warnings

    if "step" in doc:  # single-step Hydra run config
        step = doc["step"]
        engine_key = _resolve_step_name(step)
        raw = step if isinstance(step, dict) else {}
        entry: dict[str, Any] = {"query": engine_key}
        params = _translate_params(engine_key, raw, warnings)
        if params:
            entry["params"] = params
        out["steps"] = {engine_key: entry}
        return out, warnings

    raise ValueError("YAML has neither 'step' nor 'steps'")


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 1:
        print("usage: python -m gentropy_spark.hydra_compat <hydra.yaml>",
              file=sys.stderr)
        return 2
    try:
        import yaml
    except ImportError:  # pragma: no cover — baked into this environment
        print("PyYAML is required for the Hydra shim", file=sys.stderr)
        return 2
    with open(argv[0]) as fh:
        doc = yaml.safe_load(fh)
    cfg, warnings = translate(doc)
    for w in warnings:
        print(f"warning: {w}", file=sys.stderr)
    json.dump(cfg, sys.stdout, indent=1)
    print()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
