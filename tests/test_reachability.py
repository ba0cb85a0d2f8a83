"""Guard against dead library surface.

Every top-level ``def``/``class`` in ``lexoid_spark/`` must be referenced
by the AST of a non-test file: the library itself, ``jobs/``,
``__spark_entry__.py``, ``bench.py``, ``perfbench/`` or ``tools/``. A
reference is a name, an attribute or an imported name; a definition
alone is not one. A name that only its own tests reach is cost without
use, so it is either deleted or listed below with the reason it stays.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ALLOWED = {
    "read_progress": "public reader of the progress ledger",
    "read_lineage": "public reader of the lineage rows",
    "incremental_extract": "streaming entry point",
    "run_sessionize_stream": "streaming entry point",
    "run_windowed_stream": "streaming entry point",
    "docx_to_md": "dispatched by name through getattr",
    "pptx_to_md": "dispatched by name through getattr",
    "xlsx_to_md": "dispatched by name through getattr",
    "_encrypt_block_scalar": "scalar reference the vectorized cipher is tested against",
    "pdf_to_md": "test reference for the PDF arm",
    "pdf_to_text": "test reference for the PDF arm",
    "pdf_image_payloads": "test helper for the PDF image arm",
    "render_text_png": "test fixture renderer for the OCR arm",
    "golden_rows": "test fixture for the golden join",
    "chunk_by_chars": "reference feature: fixed-size chunking",
    "similarity_report": "reference feature: parse-vs-truth metrics",
    "refine_centroids": "reference feature: IVF centroid refinement",
    "hll_estimate": "reference feature: HyperLogLog estimate",
    "reachable_docs": "reference feature: crawl reachability",
}

USER_DIRS = ("lexoid_spark", "jobs", "perfbench", "tools")
USER_FILES = ("__spark_entry__.py", "bench.py")


def _py_files(rel_dir):
    for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, rel_dir)):
        # skip caches and build/work copies (``__pycache__``, ``_work``)
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        for f in sorted(filenames):
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _parse(path):
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _referenced_names():
    paths = [p for d in USER_DIRS for p in _py_files(d)]
    paths += [os.path.join(ROOT, f) for f in USER_FILES]
    names = set()
    for path in paths:
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rsplit(".", 1)[-1])
    return names


def _library_defs():
    defs = {}
    for path in _py_files("lexoid_spark"):
        rel = os.path.relpath(path, ROOT)
        for node in _parse(path).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                defs.setdefault(node.name, rel)
    return defs


def test_every_library_def_is_reached():
    refs = _referenced_names()
    dead = sorted(f"{rel}::{name}" for name, rel in _library_defs().items()
                  if name not in refs and name not in ALLOWED)
    assert not dead, (
        "library names no non-test file references (delete them, or add "
        f"them to ALLOWED with a reason): {dead}")


def test_allowlist_names_exist():
    stale = sorted(set(ALLOWED) - set(_library_defs()))
    assert not stale, f"ALLOWED names no longer defined: {stale}"
