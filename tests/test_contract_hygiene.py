"""Catalog contract hygiene — guards the driver-compare invariants that
every future query must keep (these failures would surface as opaque
hash mismatches in CORRECTNESS_r{N}.json otherwise)."""

from __future__ import annotations

import re

import pytest

from data_ingestion_system_spark.registry import load_all

REGISTRY = load_all()


@pytest.fixture(scope="module")
def catalog_columns(spark, sf_dir) -> dict[str, list[str]]:
    """name -> output columns of every registered query, each query built
    once and shared by the two column-name checks below (building a
    query can run its eager checkpoints, so one walk of the catalog is
    the cost of both)."""
    return {name: spec.spark(spark, sf_dir).columns for name, spec in sorted(REGISTRY.items())}


def test_every_query_has_unique_column_names(catalog_columns):
    """Duplicate output columns break the sort-columns-by-name compare."""
    for name, columns in catalog_columns.items():
        assert len(columns) == len(set(columns)), f"{name}: {columns}"


def test_oracle_aliases_every_computed_column(catalog_columns):
    """Oracle SELECT columns must be plain identifiers (aliased), so both
    engines agree on names — e.g. no bare `sum(l_quantity)` headers."""
    for name, columns in catalog_columns.items():
        if REGISTRY[name].oracle is None:
            continue
        for col in columns:
            assert re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", col), (
                f"{name}: column {col!r} is not a plain identifier"
            )


def test_no_bare_round_in_oracles():
    """Cross-engine rounding must go through the portable form
    ROUND(x * 10^n) / 10^n — a bare ROUND(expr, n) diverges from Spark at
    half boundaries (functions.scalar.round_port docstring)."""
    bad = []
    for name, spec in sorted(REGISTRY.items()):
        if spec.oracle is None:
            continue
        for m in re.finditer(r"ROUND\s*\(", spec.oracle, flags=re.I):
            # portable form multiplies inside ROUND and divides after;
            # flag two-argument ROUND(expr, n)
            depth, i = 1, m.end()
            args = ""
            while depth and i < len(spec.oracle):
                ch = spec.oracle[i]
                depth += ch == "("
                depth -= ch == ")"
                if depth:
                    args += ch
                i += 1
            top_commas = 0
            d = 0
            for ch in args:
                d += ch == "("
                d -= ch == ")"
                top_commas += ch == "," and d == 0
            if top_commas:
                bad.append((name, args[:60]))
    assert not bad, f"two-arg ROUND in oracles: {bad}"


def test_survey_tags_present():
    for name, spec in sorted(REGISTRY.items()):
        assert spec.survey, f"{name}: missing SURVEY coverage tag"


@pytest.mark.parametrize("required", ["app_stats"])
def test_flagship_present(required):
    assert required in REGISTRY
