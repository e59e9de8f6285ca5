"""Typed per-step config schemas for the DAG runner (r4 — the
reference's config.py Hydra-depth step configs).

Covers: field-path error reporting for bad types/bounds/unknown params,
strict-struct rejection of params on schema-less steps, and an
end-to-end parameterized DAG writing parquet whose output reflects the
overridden parameters.
"""

from __future__ import annotations

import json

import pytest

from gentropy_spark.config import STEP_PARAM_SCHEMAS, Param, validate_config


def _base_cfg(tmp_path):
    return {
        "sf_dir": "/root/testdata/sf0.001",
        "out_dir": str(tmp_path / "out"),
        "steps": {
            "clump": {
                "query": "window_clump_leads",
                "params": {"window": 43_200_000_000, "min_signif": 110.0},
            },
        },
    }


def test_param_check_types_and_bounds():
    p = Param(int, min=1, max=10)
    assert p.check(5, "x") == []
    assert "expected int" in p.check("5", "x")[0]
    assert "expected int, got bool" in p.check(True, "x")[0]
    assert "< min" in p.check(0, "x")[0]
    assert "> max" in p.check(11, "x")[0]
    pf = Param(float, min=0.0, max=1.0)
    assert pf.check(1, "x") == []  # int widens to float
    pc = Param(str, choices=("a", "b"))
    assert "not in" in pc.check("z", "x")[0]


def test_validate_reports_field_paths(tmp_path):
    cfg = _base_cfg(tmp_path)
    cfg["steps"]["clump"]["params"]["window"] = -1
    cfg["steps"]["clump"]["params"]["bogus"] = 3
    cfg["steps"]["qc"] = {
        "query": "qc_gc_lambda",
        "params": {"anything": 1},
        "after": ["ghost"],
    }
    errs = validate_config(cfg)
    joined = "\n".join(errs)
    assert "steps.clump.params.window" in joined and "< min" in joined
    assert "steps.clump.params.bogus" in joined and "unknown param" in joined
    # schema-less step rejects any param (strict struct)
    assert "steps.qc.params.anything" in joined
    assert "steps.qc.after" in joined and "'ghost'" in joined


def test_validate_unknown_query_and_shape(tmp_path):
    assert validate_config([]) == ["config: expected object"]
    assert "steps: expected non-empty object" in validate_config({})[0]
    cfg = _base_cfg(tmp_path)
    cfg["steps"]["clump"]["query"] = "nope"
    assert any("steps.clump.query" in e for e in validate_config(cfg))


def test_cli_rejects_bad_config_with_paths(tmp_path, capsys):
    from gentropy_spark.cli import main

    cfg = _base_cfg(tmp_path)
    cfg["steps"]["clump"]["params"]["window"] = "wide"
    p = tmp_path / "bad.json"
    p.write_text(json.dumps(cfg))
    assert main(["dag", "--config", str(p), "--dry-run"]) == 2
    err = capsys.readouterr().err
    assert "steps.clump.params.window" in err


def test_parameterized_dag_end_to_end(tmp_path, spark):
    """Overridden params flow into the operator: a doubled clump window
    merges clusters, so the parameterized run yields FEWER leads than
    the default run; both steps write readable parquet."""
    from gentropy_spark.cli import run_dag
    from gentropy_spark.plans.genomics import CLUMP_WINDOW_US

    out_dir = tmp_path / "pipe"
    cfg = {
        "sf_dir": "/root/testdata/sf0.001",
        "out_dir": str(out_dir),
        "steps": {
            "wide": {
                "query": "window_clump_leads",
                "params": {"window": 4 * CLUMP_WINDOW_US},
            },
            "default": {"query": "window_clump_leads", "after": ["wide"]},
        },
    }
    p = tmp_path / "pipeline.json"
    p.write_text(json.dumps(cfg))
    order = run_dag(str(p))
    assert order == ["wide", "default"]
    wide = spark.read.parquet(str(out_dir / "wide"))
    default = spark.read.parquet(str(out_dir / "default"))
    assert 0 < wide.count() < default.count()


def test_resolve_step_defaults_match_registry(spark):
    """A parameterized step with NO overrides resolves to the registry
    query itself (identical plan, no closure drift)."""
    from gentropy_spark.config import resolve_step
    from gentropy_spark.plans import full_registry

    fn = resolve_step("window_clump_leads", {})
    assert fn is full_registry()["window_clump_leads"].fn


def test_every_schema_param_has_registry_consistent_default():
    """Every schema param is a keyword of its step's registry builder,
    whose signature holds the default (the module constant the oracle
    SQL bakes in), and that default passes the param's check. The DAG
    exposes 13 params."""
    import inspect

    from gentropy_spark.plans import full_registry

    reg = full_registry()
    for query, schema in STEP_PARAM_SCHEMAS.items():
        assert schema, query
        signature = inspect.signature(reg[query].fn).parameters
        for name, param in schema.items():
            assert isinstance(param, Param), (query, name)
            assert name in signature, (query, name)
            default = signature[name].default
            assert default is not inspect.Parameter.empty, (query, name)
            assert param.check(default, f"{query}.{name}") == []
    assert sum(len(schema) for schema in STEP_PARAM_SCHEMAS.values()) == 13


@pytest.mark.parametrize("query", sorted(STEP_PARAM_SCHEMAS))
def test_param_step_is_the_memoised_registry_builder(
    spark, sf_dir, normalized_plan, query
):
    """A step given every param (at its default) runs the registry
    builder itself: the prepared memo returns the same DataFrame on a
    second resolve, and its plan is the registry key's plan."""
    import inspect

    from gentropy_spark.config import resolve_step
    from gentropy_spark.plans import full_registry

    fn = full_registry()[query].fn
    signature = inspect.signature(fn).parameters
    params = {name: signature[name].default for name in STEP_PARAM_SCHEMAS[query]}
    df = resolve_step(query, params)(spark, sf_dir)
    assert resolve_step(query, params)(spark, sf_dir) is df
    assert normalized_plan(df) == normalized_plan(fn(spark, sf_dir))


def test_config_imports_no_operator_module():
    """config.py binds params to the registry builders; an import from
    gentropy_spark.operators there would be a kept copy of a builder."""
    import ast
    from pathlib import Path

    import gentropy_spark.config as config

    tree = ast.parse(Path(config.__file__).read_text())
    imported = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            imported += [alias.name for alias in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module:
            imported.append(node.module)
            imported += [f"{node.module}.{alias.name}" for alias in node.names]
    assert not [
        m
        for m in imported
        if m == "gentropy_spark.operators"
        or m.startswith("gentropy_spark.operators.")
    ]


def test_full_post_gwas_pipeline_dag(tmp_path, spark):
    """Capstone: the reference's end-to-end post-GWAS flow as ONE
    configured DAG — ingestion → harmonisation → clumping →
    fine-mapping → colocalisation → L2G scoring → validation — with
    the LLM-curation branch running in parallel. Mirrors the step
    graph the reference drives through Hydra (cli.py + config.py);
    every node is an oracle-verified registry query, dependencies
    follow the reference's data flow, and each step lands as parquet.
    """
    import json

    from gentropy_spark.cli import run_dag

    cfg = {
        "sf_dir": "/root/testdata/sf0.001",
        "out_dir": str(tmp_path / "out"),
        "steps": {
            # ingestion + harmonisation
            "study_index": {"query": "gwas_study_ingest"},
            "harmonised": {"query": "sumstat_harmonise_full"},
            # association processing
            "split": {"query": "gwas_study_split", "after": ["study_index"]},
            "clumped": {"query": "window_clump_leads", "after": ["harmonised"]},
            "finemapped": {"query": "pics_finemap", "after": ["clumped"]},
            "credible": {"query": "credible_set_filter", "after": ["finemapped"]},
            "coloc": {"query": "coloc", "after": ["credible"]},
            "l2g": {"query": "l2g_score", "after": ["coloc"]},
            "validated": {"query": "study_locus_qc_flags", "after": ["l2g"]},
            # LLM-curation branch (parallel)
            "curated_corpus": {"query": "corpus_curate"},
        },
    }
    p = tmp_path / "pipeline.json"
    p.write_text(json.dumps(cfg))
    order = run_dag(str(p))
    # Topological constraints hold.
    assert order.index("study_index") < order.index("split")
    assert (
        order.index("harmonised")
        < order.index("clumped")
        < order.index("finemapped")
        < order.index("credible")
        < order.index("coloc")
        < order.index("l2g")
        < order.index("validated")
    )
    # Every step wrote a non-empty parquet output.
    for step in cfg["steps"]:
        out = spark.read.parquet(str(tmp_path / "out" / step))
        assert out.count() > 0, step


# --- r11: Hydra-YAML → JSON-DAG translator shim ----------------------------
def test_hydra_shim_maps_every_step_to_a_registry_key():
    """Every reference Hydra step name (config.py:784-893 cs.store
    group='step') must map to a LIVE registry key."""
    from gentropy_spark.hydra_compat import STEP_NAME_MAP
    from gentropy_spark.plans import full_registry

    reg = full_registry()
    missing = {k: v for k, v in STEP_NAME_MAP.items() if v not in reg}
    assert not missing, missing
    assert len(STEP_NAME_MAP) == 36  # the reference registers 36 steps


def test_hydra_shim_single_step_translation(tmp_path):
    """A single-step Hydra run config (step._target_ + params) becomes a
    one-step DAG: known params carried (with p-value → -log10 unit
    conversion), path params dropped WITH a warning, and the produced
    config validates + dry-runs through the real DAG runner."""
    import math

    from gentropy_spark.cli import run_dag
    from gentropy_spark.config import validate_config
    from gentropy_spark.hydra_compat import translate

    cfg, warnings = translate(
        {
            "defaults": [{"session": "base_session"}, "_self_"],
            "step": {
                "_target_": (
                    "gentropy.window_based_clumping.WindowBasedClumpingStep"
                ),
                "distance": 250_000,
                "gwas_significance": 1e-8,
                "summary_statistics_input_path": "gs://bucket/sumstats",
            },
        }
    )
    step = cfg["steps"]["window_clump_leads"]
    assert step["query"] == "window_clump_leads"
    assert step["params"]["window"] == 250_000
    assert math.isclose(step["params"]["min_signif"], 8.0)
    assert any("summary_statistics_input_path" in w for w in warnings)
    cfg["out_dir"] = str(tmp_path / "out")
    assert validate_config(cfg) == []
    import json

    p = tmp_path / "pipeline.json"
    p.write_text(json.dumps(cfg))
    assert run_dag(str(p), dry_run=True) == ["window_clump_leads"]


def test_hydra_shim_multi_step_pipeline(tmp_path):
    """Multi-step shape: reference step names + after-edges translate to
    the DAG with dependencies preserved and topological dry-run order."""
    import json

    from gentropy_spark.cli import run_dag
    from gentropy_spark.hydra_compat import translate

    cfg, _ = translate(
        {
            "sf_dir": "/root/testdata/sf0.001",
            "out_dir": str(tmp_path / "out"),
            "steps": {
                "clump": {"step": "window_based_clumping"},
                "fm": {"step": "pics", "after": ["clump"], "tau": 2},
                "score": {"step": "locus_to_gene", "after": ["fm"]},
            },
        }
    )
    assert cfg["steps"]["fm"] == {
        "query": "pics_finemap",
        "after": ["clump"],
        "params": {"tau": 2},
    }
    p = tmp_path / "pipeline.json"
    p.write_text(json.dumps(cfg))
    assert run_dag(str(p), dry_run=True) == ["clump", "fm", "score"]


def test_hydra_shim_unknown_step_raises():
    import pytest

    from gentropy_spark.hydra_compat import translate

    with pytest.raises(ValueError, match="unknown Hydra step"):
        translate({"step": "not_a_reference_step"})
