"""Every top-level function or class in ``paperslicer_spark/`` must be
reached from a program entry point, or be on the written-out allowlist.

The pass is name-based and conservative: it parses each package module
with ``ast``, and starting from the roots (``scripts/*.py``,
``__spark_entry__.py``, ``bench.py``, ``bench_extra.py`` and the
package's own module-level code) it marks every top-level definition
whose name is referenced, then follows the names referenced in the
bodies of the marked definitions until nothing new is marked. A
reference is a bare name (``foo``), an attribute (``mod.foo``), an
imported name (``from m import foo``) or a name a docstring quotes in
backquotes (documented counterparts such as a query's live-training
twin). Helpers that only allowlisted definitions use count as kept.
Tests are not roots, so an operator that only a test calls shows up as
unreached and fails this check until it is wired into a job or a
query, added to the allowlist with a reason, or deleted.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "paperslicer_spark"

# Reached only from tests, kept on purpose: a port of a SURVEY.md §2
# reference operator (row id given) checked by a parity test, test/dev
# plumbing, or a tested training-data operator awaiting registration.
ALLOWLIST = {
    "operators/resolver.py:ensure_abstract": "J3 abstract backfill",
    "operators/resolver.py:strip_jats": "F6 JATS tag strip",
    "operators/media.py:filter_media": "W5 crop-vs-image preference",
    "operators/media.py:cap_per_document": "W4 first-N caps",
    "operators/media.py:coords_struct": "F7 coords parse",
    "operators/multimodal.py:TableRegionValidator": "§2.11 media filter",
    "operators/multimodal.py:validate_table_regions": "§2.11 media filter",
    "operators/sinks.py:write_records_json": "K1 per-doc JSON sink",
    "operators/sinks.py:write_records_jsonl_dedup": "K2 JSONL dedup sink",
    "operators/sinks.py:write_small_export": "K3 single-file sink",
    "operators/sinks.py:write_mapping_suggestions": "K6 report sink",
    "functions/text_stats.py:fuzzy_ratio": "F12 fuzzy similarity",
    "functions/text_stats.py:positional_char_match":
        "F12 fuzzy similarity",
    "streaming/stream_extract.py:stream_turns":
        "file-source stream feeding x14's streaming-mode test",
    "fixtures.py:read_all": "loads the frozen fixtures in tests",
    # training-data operators with differential tests and DuckDB
    # oracle drafts (tests/test_r6_oracle_drafts.py), not yet wired
    # into a job or a registered query
    "operators/metrics.py:cohen_kappa": "pairwise rater agreement",
    "operators/curation.py:rule_funnel": "per-rule filter attribution",
    "operators/curation.py:mixture_waterfill": "token-budget mix solver",
    "operators/curation.py:apply_mixture": "mix plan sampler",
    "operators/curation.py:contrastive_pairs": "cluster triple mining",
}


_DEF_TYPES = (ast.FunctionDef, ast.ClassDef)
_QUOTED = re.compile(r"`+([^`]+)`+")
_IDENT = re.compile(r"[A-Za-z_]\w*")


def _referenced_names(node: ast.AST) -> set[str]:
    names: set[str] = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            names.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            names.add(sub.attr)
        elif isinstance(sub, ast.alias):
            names.add(sub.name.split(".")[-1])
        elif (isinstance(sub, ast.Expr) and isinstance(sub.value, ast.Constant)
              and isinstance(sub.value.value, str)):
            for quoted in _QUOTED.findall(sub.value.value):
                names |= set(_IDENT.findall(quoted))
    return names


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(encoding="utf-8"), filename=str(path))


def _definitions() -> dict[str, list[tuple[str, ast.AST]]]:
    """Top-level function/class name -> ``[(<module path>:<name>, node)]``."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for stmt in _parse(path).body:
            if isinstance(stmt, _DEF_TYPES):
                defs.setdefault(stmt.name, []).append(
                    (f"{rel}:{stmt.name}", stmt))
    return defs


def _root_names() -> set[str]:
    names: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        for stmt in _parse(path).body:
            if isinstance(stmt, _DEF_TYPES):
                for expr in stmt.decorator_list:   # run at import time
                    names |= _referenced_names(expr)
            else:
                names |= _referenced_names(stmt)
    for path in [ROOT / "__spark_entry__.py", ROOT / "bench.py",
                 ROOT / "bench_extra.py",
                 *sorted((ROOT / "scripts").glob("*.py"))]:
        names |= _referenced_names(_parse(path))
    return names


def _reach(defs, frontier: set[str]) -> set[str]:
    reached: set[str] = set()
    seen: set[str] = set()
    while frontier:
        name = frontier.pop()
        if name in seen:
            continue
        seen.add(name)
        for qualname, node in defs.get(name, ()):
            reached.add(qualname)
            frontier |= _referenced_names(node) - seen
    return reached


def unreached() -> set[str]:
    """Every top-level definition no root reaches, less the helpers
    that only allowlisted definitions use."""
    defs = _definitions()
    every = {q for entries in defs.values() for q, _ in entries}
    missed = every - _reach(defs, _root_names())
    kept = [node for entries in defs.values() for q, node in entries
            if q in ALLOWLIST]
    used = set().union(*map(_referenced_names, kept))
    helpers = _reach(defs, used) - set(ALLOWLIST)
    return missed - helpers


def test_only_allowlisted_definitions_are_unreached():
    assert sorted(unreached()) == sorted(ALLOWLIST)

