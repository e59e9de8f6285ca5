"""Hypothesis property tests for the GWAS study dialect edge cases
(r8 verdict item 8).

Each property generates a BATCH of randomized inputs and runs ONE
Spark job over the batch, asserting against an independent pure-Python
recomputation of the reference semantics — zero-count ancestries,
in-parens commas, in-number commas at entry boundaries, and
study-vs-association EFO disagreement through the splitter.
"""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# Label alphabet: simple labels, a parenthesized-comma label (must NOT
# split), and labels that themselves appear inside multi-labels.
_SIMPLE = [
    "European",
    "African",
    "East Asian",
    "Sub-Saharan African",
    "Greater Middle Eastern (Middle Eastern, North African or Persian)",
    "Aboriginal Australian",
]

label_lists = st.lists(st.sampled_from(_SIMPLE), min_size=1, max_size=4)
counts = st.integers(min_value=0, max_value=10_000_000)


def _py_split(label: str) -> list[str]:
    """Reference split: ', ' not inside parentheses (lookahead form)."""
    return re.split(r",\s(?![^()]*\))", label)


@given(st.lists(st.tuples(label_lists, counts), min_size=1, max_size=20))
@SETTINGS
def test_ancestry_even_split_property(spark, rows):
    """For every (label, n): k top-level parts, each part n // k
    truncated — zero counts give zero parts, in-parens commas never
    split, remainders are dropped (truncating division)."""
    from gentropy_spark.plans.studies import split_ancestry_even

    data = [
        (i, ", ".join(labels), n) for i, (labels, n) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "study_id long, ancestry_label string, n_individuals long"
    )
    got = split_ancestry_even(df).collect()
    by_study: dict[int, list] = {}
    for r in got:
        by_study.setdefault(r.study_id, []).append(r)
    for i, (labels, n) in enumerate(rows):
        label = ", ".join(labels)
        expect_parts = _py_split(label)
        rows_i = by_study[i]
        assert len(rows_i) == len(expect_parts), (label, rows_i)
        assert sorted(r.ancestry for r in rows_i) == sorted(expect_parts)
        for r in rows_i:
            # truncating even split; a parenthesized comma never
            # inflates the divisor
            assert r.part_count == n // len(expect_parts), (label, n, r)


# initial_sample_size entries: value formatted with in-number commas,
# optional descriptor, cases/controls/neither routing.
_entry = st.tuples(
    st.integers(min_value=0, max_value=99_999_999),
    st.sampled_from(["cases", "controls", "individuals"]),
    st.sampled_from(["European", "African ancestry", "Han Chinese"]),
)


@given(st.lists(st.lists(_entry, min_size=1, max_size=5), min_size=1, max_size=12))
@SETTINGS
def test_sample_size_counts_property(spark, studies):
    """n_cases/n_controls/n_samples equal the independent recount, with
    '{:,}'-formatted numbers (in-number commas at every thousands
    boundary) surviving the ',\\s+' entry split."""
    from gentropy_spark.plans.studies import sample_counts

    data = []
    for i, entries in enumerate(studies):
        s = ", ".join(
            f"{n:,} {anc} {kind}" for n, kind, anc in entries
        )
        data.append((i, s))
    df = spark.createDataFrame(data, "study_id long, initial_sample_size string")
    got = {
        r.study_id: r
        for r in df.select("study_id", *sample_counts()).collect()
    }
    for i, entries in enumerate(studies):
        exp_cases = sum(n for n, kind, _ in entries if kind == "cases")
        exp_ctrl = sum(n for n, kind, _ in entries if kind == "controls")
        exp_all = sum(n for n, _, _ in entries)
        r = got[i]
        assert r.n_cases == exp_cases, (entries, r)
        assert r.n_controls == exp_ctrl, (entries, r)
        assert r.n_samples == exp_all, (entries, r)


def test_sample_size_no_digit_entries_are_null_not_zero(spark):
    """Entries without digits contribute NULL (skipped by SUM), and a
    study with ONLY digitless entries gets NULL n_samples but zero
    cases/controls (the COALESCE guard)."""
    from gentropy_spark.plans.studies import sample_counts

    df = spark.createDataFrame(
        [
            (1, "unknown number of cases, 5,000 controls"),
            (2, "unreported individuals"),
        ],
        "study_id long, initial_sample_size string",
    )
    got = {
        r.study_id: r
        for r in df.select("study_id", *sample_counts()).collect()
    }
    assert (got[1].n_cases, got[1].n_controls, got[1].n_samples) == (0, 5000, 5000)
    assert (got[2].n_cases, got[2].n_controls) == (0, 0)
    assert got[2].n_samples is None


# Splitter: per-study association rows with trait/pvtext/EFO fields.
_assoc = st.tuples(
    st.sampled_from(["height", "bmi", "t2d"]),  # association trait
    st.sampled_from(["no_pvalue_text", "", "males", "EA", None]),
    st.sampled_from(
        ["EFO_0000001", "EFO_0000002/EFO_0000003", None]
    ),  # association EFO (None -> study fallback)
    st.integers(min_value=0, max_value=3),  # variant
)


@given(st.lists(st.lists(_assoc, min_size=1, max_size=5), min_size=1, max_size=8))
@SETTINGS
def test_splitter_resolution_property(spark, studies):
    """Splitter invariants under study-vs-association disagreement:

    - single distinct description -> study keeps its id; else every
      association gets {id}_{dense_rank} and ranks cover 1..k densely;
    - trait: '[pvtext]' appended iff pvtext is real (not sentinel,
      not empty, not missing); study trait only when the description
      has no trait field (never here);
    - EFO: slash list resolves to ';' csv, missing field falls back to
      the STUDY csv (the disagreement case the flag path exists for);
    - ambiguous_study iff the same (updated_study_id, variant) keeps
      >1 distinct resolved row.
    """
    from gentropy_spark.plans.studies import resolve_substudies

    rows = []
    for i, assocs in enumerate(studies):
        sid = f"GCST{i:06d}"
        for trait, pvtext, efo, var in assocs:
            fields = [trait, pvtext if pvtext is not None else ""]
            if efo is not None:
                fields.append(efo)
            rows.append(
                (sid, f"v{var}", "|".join(fields), "study_trait",
                 f"EFO_STUDY_{i}")
            )
    df = spark.createDataFrame(
        rows,
        "study_id string, variant_id string, sub_study_description string,"
        " study_trait string, study_efo_csv string",
    )
    got = resolve_substudies(df).collect()

    # Independent recomputation.
    by_study: dict[str, set] = {}
    for sid, var, desc, _, _ in rows:
        by_study.setdefault(sid, set()).add(desc)
    for r in got:
        descs = sorted(by_study[r.study_id])
        rank = descs.index(r.sub_study_description) + 1
        assert r.n_substudies == len(descs)
        if len(descs) == 1:
            assert r.updated_study_id == r.study_id
        else:
            assert r.updated_study_id == f"{r.study_id}_{rank}"
        parts = r.sub_study_description.split("|")
        trait, pvtext = parts[0], parts[1]
        if pvtext not in ("no_pvalue_text", ""):
            assert r.trait_resolved == f"{trait} [{pvtext}]"
        else:
            assert r.trait_resolved == trait
        if len(parts) >= 3:
            assert r.efo_csv == ";".join(parts[2].split("/"))
        else:  # study/association disagreement -> study-level fallback
            assert r.efo_csv.startswith("EFO_STUDY_")

    # Ambiguity: >1 distinct resolved row per (updated_study_id, variant).
    from collections import Counter

    key_counts = Counter(
        (r.updated_study_id, r.variant_id) for r in got
    )
    for r in got:
        expect_flag = key_counts[(r.updated_study_id, r.variant_id)] > 1
        assert (r.qc_csv == "ambiguous_study;top_hit") == expect_flag, r
