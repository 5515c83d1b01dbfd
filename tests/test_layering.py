"""Module layering: ``pipeline`` is the only place a corpus row meets the
document kernel, and the only module that opens a Python worker stage.
Operators project the extraction stage's typed columns
(``pipeline.OUTPUT_SCHEMA``, ``LINKS_SCHEMA``, ``META_SCHEMA``) instead of
running ``extract_document`` inside a stage of their own, and every other
module reaches ``mapInArrow`` through ``pipeline.arrow_stage`` (per-row
operators through ``pipeline.fanout``) instead of hand-rolling one. The
pandas workers that remain are listed one by one, so a new one is a
decision, not an accident."""

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).parent.parent / "pdf_extraction_spark"
OPERATORS = PACKAGE / "operators"
MODULES = sorted(PACKAGE.rglob("*.py"))


def _name(path):
    return str(path.relative_to(PACKAGE))


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


def _calls(path, attr):
    """``module:top-level definition`` of every ``<x>.<attr>(...)`` call."""
    for top in ast.parse(path.read_text()).body:
        for node in ast.walk(top):
            if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr == attr):
                yield f"{_name(path)}:{getattr(top, 'name', '<module>')}"


def test_no_mapinpandas_anywhere():
    offenders = [call for path in MODULES for call in _calls(path, "mapInPandas")]
    assert not offenders, offenders


def test_one_arrow_stage_opener():
    calls = [call for path in MODULES for call in _calls(path, "mapInArrow")]
    assert calls == ["pipeline.py:arrow_stage"], calls


def test_no_private_pipeline_names_imported():
    offenders = [
        f"{_name(path)}: from {module} import {name}"
        for path in MODULES if _name(path) != "pipeline.py"
        for module, names in _imports(ast.parse(path.read_text()))
        if module.rpartition(".")[2] == "pipeline"
        for name in names if name.startswith("_")
    ]
    assert not offenders, offenders


PANDAS_OPENERS = ("pandas_udf", "applyInPandas", "applyInPandasWithState")
# ``module:top-level definition:opener`` of every pandas worker today: the
# four PDF payload builders, the per-label cosine block, and the two
# streaming state stages
PANDAS_SITES = [
    "corpus.py:corpus_from_documents:pandas_udf",
    "operators/elements.py:_figured_pdf_corpus:pandas_udf",
    "operators/elements.py:_titled_pdf_corpus:pandas_udf",
    "operators/elements.py:q_confidence_gate:pandas_udf",
    "operators/similarity.py:q_embedding_cosine_pairs:applyInPandas",
    "streaming.py:stream_dedup_exact:applyInPandasWithState",
    "streaming.py:stream_host_stats:applyInPandasWithState",
]


def test_pandas_workers_only_at_listed_sites():
    sites = sorted(
        f"{call}:{attr}"
        for path in MODULES for attr in PANDAS_OPENERS
        for call in _calls(path, attr)
    )
    imported = [
        f"{_name(path)}: from {module} import {name}"
        for path in MODULES
        for module, names in _imports(ast.parse(path.read_text()))
        for name in names if name in PANDAS_OPENERS
    ]
    assert sites == PANDAS_SITES and not imported, (sites, imported)
