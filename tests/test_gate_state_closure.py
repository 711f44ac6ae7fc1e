"""Pin the import-closure resolver behind the code-churn gate rotation.

The r04 review's top finding: a greedy names group in _IMPORT_RE
swallowed every consecutive from-import (its \\s matched the newlines),
so module_closure missed most dependencies and a churned dependency
could keep a query's stale green rank outside the driver's 50-entry
window — the exact failure the fingerprint mechanism exists to prevent.
"""

from __future__ import annotations

from tools.gate_state import PKG_ROOT, module_closure


def _rel(files):
    return {str(p.relative_to(PKG_ROOT)) for p in files}


def test_consecutive_imports_all_resolve(tmp_path=None):
    # gold queries: 'from .csv_source import read_openfoodfacts_csv'
    # directly precedes 'from .pipeline import run_pipeline' — the
    # second statement is the one the greedy regex used to swallow.
    files = _rel(module_closure(PKG_ROOT / "plans" / "gold_oracle_queries.py"))
    assert "plans/pipeline.py" in files
    assert "sources/csv_source.py" in files
    # and pipeline's own transitive deps must follow
    assert "operators/cleaning.py" in files
    assert "operators/dedup.py" in files
    assert "functions/text_normalize.py" in files


def test_loader_dependency_resolves_for_query_modules():
    for mod in ("llm_queries", "sampling_queries", "tpch_queries"):
        files = _rel(module_closure(PKG_ROOT / "plans" / f"{mod}.py"))
        assert "sources/parquet_source.py" in files, mod


def test_registry_closure_spans_the_operator_library():
    files = _rel(module_closure(PKG_ROOT / "plans" / "registry.py"))
    # the registry reaches every query module, which reach the
    # operators; a regression that shrinks the closure below the
    # operator layer would un-fingerprint most of the engine
    for needed in (
        "plans/pipeline.py",
        "sources/parquet_source.py",
        "operators/similarity_dedup.py",
        "operators/graph.py",
        "operators/sampling.py",
        "functions/text_analysis.py",
    ):
        assert needed in files, needed
    assert len(files) >= 40


def test_parenthesized_multiline_import_resolves(tmp_path):
    # synthetic module exercising the '(...)' multi-line branch plus a
    # following import that must NOT be swallowed
    mod = PKG_ROOT / "plans" / "_closure_probe_tmp.py"
    mod.write_text(
        "from ..operators.dedup import (\n"
        "    dedup_exact,\n"
        "    dedup_keep_latest,\n"
        ")\n"
        "from ..operators.graph import bfs_distances\n"
    )
    try:
        files = _rel(module_closure(mod))
        assert "operators/dedup.py" in files
        assert "operators/graph.py" in files
    finally:
        mod.unlink()


def test_every_package_module_is_reached_by_a_query_or_the_cli():
    # a module that neither the query registry nor the CLI imports is
    # reached only by its own tests: no query fingerprints it, no
    # pipeline or bench path runs it
    reached = set(module_closure(PKG_ROOT / "plans" / "registry.py"))
    reached |= set(module_closure(PKG_ROOT / "cli.py"))
    orphans = sorted(
        str(p.relative_to(PKG_ROOT))
        for p in PKG_ROOT.rglob("*.py")
        if p.name != "__init__.py" and p not in reached
    )
    assert orphans == []
