"""Every top-level package definition has a reader outside tests/.

A definition is read when some product module, declared query, bench,
script or tool names it: a Name, an Attribute or an import alias.
Docstrings and comments do not count, and a definition's own body does
not count as a reader of itself. The few definitions that stay without
such a reader are listed below, each with its reason.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "wikidata_sparql_history_spark"
READER_FILES = ("__spark_entry__.py", "bench.py", "bench_extra.py")
READER_DIRS = ("scripts", "tools", "kgbench")

ALLOWED = {
    "pipeline/coalesce.py:coalesce_ranges":
        "twin the golden and property coalesce tests compare against",
    "pipeline/extract.py:extract_triples_builtin":
        "twin the extraction golden test compares against",
    "plans/views.py:additions_at_arrays":
        "part of the snapshot-matrix golden port",
    "operators/similarity.py:lsh_bucket_topk":
        "scale alternative named in an error message",
    "operators/text.py:url_domains":
        "scale alternative named in a docstring",
    "functions/typed_values.py:typed_literal":
        "typed-literal struct of COVERAGE F11",
}


def _py_files(top):
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        for f in sorted(filenames):
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _parse(path):
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _names_read(nodes):
    out = set()
    for root in nodes:
        for n in ast.walk(root):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, (ast.Import, ast.ImportFrom)):
                for a in n.names:
                    out.add(a.name.rsplit(".", 1)[-1])
    return out


def _definitions(tree):
    return [
        n for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    ]


def callerless():
    pkg = os.path.join(ROOT, PACKAGE)
    modules = {os.path.relpath(p, pkg): _parse(p) for p in _py_files(pkg)}
    outside = [os.path.join(ROOT, f) for f in READER_FILES]
    for d in READER_DIRS:
        outside.extend(_py_files(os.path.join(ROOT, d)))
    read_outside = _names_read(_parse(p) for p in outside)
    read_by_module = {rel: _names_read([t]) for rel, t in modules.items()}

    found = []
    for rel, tree in sorted(modules.items()):
        for d in _definitions(tree):
            if (
                d.name in read_outside
                or any(d.name in read_by_module[r] for r in modules if r != rel)
                or d.name in _names_read(n for n in tree.body if n is not d)
            ):
                continue
            found.append(f"{rel}:{d.name}")
    return found


def test_every_package_definition_has_a_reader():
    unread = [k for k in callerless() if k not in ALLOWED]
    assert unread == [], unread


def test_allow_list_names_live_unread_definitions():
    # an entry whose definition is gone, or now has a reader, is stale
    assert sorted(set(ALLOWED) - set(callerless())) == []
