"""Module layering: ``pipeline`` is the only place a corpus row meets the
document kernel. Operators project the extraction stage's typed columns
(``pipeline.OUTPUT_SCHEMA``, ``LINKS_SCHEMA``, ``META_SCHEMA``) instead of
running ``extract_document`` inside a stage of their own, and per-row
Python operators and sources go through ``pipeline.fanout`` instead of
hand-rolling a ``mapInPandas`` generator."""

import ast
import pathlib

OPERATORS = pathlib.Path(__file__).parent.parent / "pdf_extraction_spark" / "operators"
SOURCES = OPERATORS.parent / "sources"


def _imports(tree):
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            yield node.module or "", [a.name for a in node.names]
        elif isinstance(node, ast.Import):
            for a in node.names:
                yield a.name, []


def test_operators_never_import_the_document_kernel():
    offenders = []
    for path in sorted(OPERATORS.glob("*.py")):
        for module, names in _imports(ast.parse(path.read_text())):
            # the dispatch module itself, or its entry point from anywhere
            if module.endswith("dispatch") or "dispatch" in names or (
                "extract_document" in names
            ):
                offenders.append(f"{path.name}: from {module} import {names}")
    assert not offenders, offenders


def _calls(tree, attr):
    """(top-level definition name, line) of every ``<x>.<attr>(...)`` call."""
    for top in tree.body:
        for node in ast.walk(top):
            if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr == attr):
                yield getattr(top, "name", "<module>"), node.lineno


def test_per_row_python_goes_through_fanout():
    # the WET sink is per batch (one segment per Arrow batch), not per row
    allowed = {("wet.py", "to_wet_segments")}
    offenders = [
        f"{path.parent.name}/{path.name}:{line} in {name}"
        for path in sorted([*OPERATORS.glob("*.py"), *SOURCES.glob("*.py")])
        for name, line in _calls(ast.parse(path.read_text()), "mapInPandas")
        if (path.name, name) not in allowed
    ]
    assert not offenders, offenders
