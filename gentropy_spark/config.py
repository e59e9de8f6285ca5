"""Typed per-step configuration schemas for the DAG runner.

The reference registers a typed dataclass config per step and lets
Hydra validate it before execution (its ``config.py``). This module is
the dependency-free counterpart: each parameterizable step declares a
``Param`` schema (type, bounds, choices) per keyword of its registry
builder; ``validate_config`` checks a pipeline JSON against it BEFORE
any Spark work and reports every violation with a full field path
(``steps.clump.params.window``), and ``resolve_step`` turns a validated
step into the (spark, sf_dir) callable the runner executes: the
registry builder itself, bound to the supplied params. Defaults live
only in the builders' signatures, and a prepared builder memoises each
parameter binding under its own key.

Steps without a schema accept no params (a supplied param is a config
error, mirroring Hydra's strict struct mode).
"""

from __future__ import annotations

import functools
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Param:
    """One typed step parameter: type, optional bounds/choices."""

    type: type
    min: float | None = None
    max: float | None = None
    choices: tuple[Any, ...] | None = None

    def check(self, value: Any, path: str) -> list[str]:
        errs: list[str] = []
        # bool is an int subclass — reject it for numeric params.
        if self.type in (int, float) and isinstance(value, bool):
            errs.append(f"{path}: expected {self.type.__name__}, got bool")
            return errs
        if self.type is float and isinstance(value, int):
            value = float(value)
        if not isinstance(value, self.type):
            errs.append(
                f"{path}: expected {self.type.__name__}, "
                f"got {type(value).__name__}"
            )
            return errs
        if self.min is not None and value < self.min:
            errs.append(f"{path}: {value!r} < min {self.min!r}")
        if self.max is not None and value > self.max:
            errs.append(f"{path}: {value!r} > max {self.max!r}")
        if self.choices is not None and value not in self.choices:
            errs.append(f"{path}: {value!r} not in {list(self.choices)!r}")
        return errs


# Parameterizable steps: query key -> {param: Param}. Every param is a
# keyword of the step's registry builder, whose signature holds the
# default (the module constant the oracle SQL bakes in).
STEP_PARAM_SCHEMAS: dict[str, dict[str, Param]] = {
    "window_clump_leads": {
        "window": Param(int, min=1),
        "min_signif": Param(float, min=0.0),
    },
    "locus_breaker": {
        "baseline_signif": Param(float, min=0.0),
        "distance_cutoff": Param(int, min=1),
        "lead_signif": Param(float, min=0.0),
        "flank": Param(int, min=0),
    },
    "dedup_minhash_lsh": {
        "num_hashes": Param(int, min=2, max=512),
        "bands": Param(int, min=1, max=128),
        "min_jaccard": Param(float, min=0.0, max=1.0),
    },
    "ann_ivf_topk": {
        "n_centroids": Param(int, min=1),
        "n_probe": Param(int, min=1),
        "k": Param(int, min=1),
    },
    "pics_finemap": {"tau": Param(int, min=1)},
}


def validate_config(cfg: Any) -> list[str]:
    """Validate a pipeline config dict; returns ALL errors (field paths).

    Checks the global shape (sf_dir/out_dir/steps), each step's query
    against the registry, dependency names, and every supplied param
    against the step's typed schema (unknown params and params on
    schema-less steps are errors — Hydra strict-struct behavior).
    """
    errs: list[str] = []
    if not isinstance(cfg, dict):
        return ["config: expected object"]
    for key, typ in (("sf_dir", str), ("out_dir", str)):
        if key in cfg and not isinstance(cfg[key], typ):
            errs.append(f"{key}: expected {typ.__name__}")
    steps = cfg.get("steps")
    if not isinstance(steps, dict) or not steps:
        errs.append("steps: expected non-empty object")
        return errs

    from gentropy_spark.plans import full_registry

    registry = full_registry()
    for name, step in steps.items():
        path = f"steps.{name}"
        if not isinstance(step, dict):
            errs.append(f"{path}: expected object")
            continue
        unknown_keys = set(step) - {"query", "after", "params"}
        if unknown_keys:
            errs.append(f"{path}: unknown keys {sorted(unknown_keys)}")
        query = step.get("query")
        if not isinstance(query, str) or query not in registry:
            errs.append(f"{path}.query: unknown query {query!r}")
            continue
        after = step.get("after", [])
        if not isinstance(after, list) or not all(
            isinstance(a, str) for a in after
        ):
            errs.append(f"{path}.after: expected list of step names")
        else:
            for a in after:
                if a not in steps:
                    errs.append(f"{path}.after: unknown step {a!r}")
        params = step.get("params", {})
        if not isinstance(params, dict):
            errs.append(f"{path}.params: expected object")
            continue
        schema = STEP_PARAM_SCHEMAS.get(query, {})
        for pname, pval in params.items():
            if pname not in schema:
                known = sorted(schema) if schema else "none (step takes no params)"
                errs.append(f"{path}.params.{pname}: unknown param; known: {known}")
                continue
            errs.extend(schema[pname].check(pval, f"{path}.params.{pname}"))
    return errs


def resolve_step(
    query: str, params: dict[str, Any]
) -> Callable[[SparkSession, str], DataFrame]:
    """Validated step -> executable: the registry builder, bound to the
    supplied params (omitted ones keep the builder's defaults)."""
    from gentropy_spark.plans import full_registry

    fn = full_registry()[query].fn
    if not params:
        return fn
    schema = STEP_PARAM_SCHEMAS[query]
    return functools.partial(
        fn,
        **{
            k: float(v) if schema[k].type is float else v
            for k, v in params.items()
        },
    )
