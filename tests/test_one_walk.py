"""The graph beam walk is written once per engine: one Spark round loop
(``simsearch.beam_candidates``), one banded self-join in the DuckDB
oracles, and no oracle built by cutting, patching or anchor-asserting
another oracle's text."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark as pkg
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
    refine,
)

ROOT = Path(pkg.__file__).parent

#: string methods that cut or patch text; ``_mode.replace("-", "_")``
#: (a mode name to a query-name slug) is the one allowed use
_SURGERY = {"replace", "index", "find", "rfind", "partition", "rpartition",
            "removeprefix", "removesuffix", "split", "rsplit"}


def _sources() -> dict[str, str]:
    return {str(p.relative_to(ROOT)): p.read_text() for p in sorted(ROOT.rglob("*.py"))}


def test_one_spark_beam_round_loop():
    """Only ``beam_candidates`` expands a frontier over the edge frame;
    the cushioned graph sources call it with their vector column and
    score."""
    assert not hasattr(refine, "_graph_walk")
    hits = [
        name
        for name, src in _sources().items()
        for _ in re.finditer(r"\.join\(edges,\s*\w+\.vec_id == edges\.src\)", src)
    ]
    assert hits == ["operators/simsearch.py"], hits


def test_one_banded_self_join_in_the_oracles():
    hits = [
        name
        for name, src in _sources().items()
        for _ in re.finditer(r"a\.band = b\.band AND a\.bkey = b\.bkey", src)
    ]
    assert hits == ["registry_simsearch.py"], hits


def _surgery(tree: ast.AST) -> list[str]:
    found = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in _SURGERY
            and not (
                isinstance(node.func.value, ast.Name)
                and node.func.value.id in ("F", "_mode")
            )
        ):
            found.append(f"{node.lineno}: {ast.unparse(node)[:60]}")
        if isinstance(node, ast.Slice) and any(
            b is not None and not isinstance(b, ast.Constant)
            for b in (node.lower, node.upper)
        ):
            found.append(f"{node.lineno}: slice {ast.unparse(node)[:60]}")
        if isinstance(node, ast.Assert):
            tests = node.test.values if isinstance(node.test, ast.BoolOp) else [node.test]
            if any(
                isinstance(t, ast.Compare) and any(isinstance(o, (ast.In, ast.NotIn)) for o in t.ops)
                for t in tests
            ):
                found.append(f"{node.lineno}: anchor assert")
    return found


def test_no_oracle_cut_from_another_oracle():
    """No ``registry*.py`` builder derives SQL by slicing, ``replace``
    or anchor asserts on another oracle string: shared text comes from
    shared builders (the graph edges and beam rounds, the BPE CTE
    chain)."""
    offenders = [
        f"{name}:{hit}"
        for name, src in _sources().items()
        if name.startswith("registry")
        for hit in _surgery(ast.parse(src))
    ]
    assert not offenders, offenders
