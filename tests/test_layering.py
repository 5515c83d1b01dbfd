"""Module layering: ``pipeline`` is the only place a corpus row meets the
document kernel. Operators project the extraction stage's typed columns
(``pipeline.OUTPUT_SCHEMA``, ``LINKS_SCHEMA``, ``META_SCHEMA``) instead of
running ``extract_document`` inside a stage of their own."""

import ast
import pathlib

OPERATORS = pathlib.Path(__file__).parent.parent / "pdf_extraction_spark" / "operators"


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
