"""Every top-level def of the library is reached from a product root, so a
second, unregistered implementation of a capability cannot come back
unnoticed.

The walk is by name over the AST (no Spark, no imports of the library).
Roots: every `@query` surface, the module-level statements of the library
(registrations and store declarations), the driver contract
`__spark_entry__.py`, `bench.py`, `perfbench/*.py` and `tools/*.py`. A def
is reached when its name is read (as a name or an attribute) by a root or
by a reached def, or imported inside one; the library's module-level
imports alone reach nothing. `TEST_REACHED` pins the
capabilities that only tests reach and that have no second implementation.
"""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]

TEST_REACHED = {
    # sources/layout.py: layout and pruning measurements
    "cluster_by_range",
    "cluster_by_zorder",
    "file_stats",
    "files_touched_2d",
    "partition_dirs_read",
    "pruning_ratio",
    "write_ivf_partitioned",
    # streaming helpers
    "fts_corpus_stats",
    "read_events_stream",
    "read_index_centroids",
    "refit_ann_index",
    "run_available_now",
    "stream_static_enrich",
    # PDF ingest, and the tag fallback of the LLM-JSON repair
    "extract_tags_fallback",
    "ingest_pdfs",
    # the ADC-identity reference of product quantization
    "pq_reconstruct_np",
}


def _read_names(node) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):  # an import inside a def or a script
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _is_query(fn) -> bool:
    for d in fn.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if getattr(f, "id", None) == "query" or getattr(f, "attr", None) == "query":
            return True
    return False


def unreached(root: pathlib.Path, pinned=frozenset()) -> list[str]:
    """`path:line name` of every top-level def under `root/pdf_brain_spark`
    that no root reaches, the `pinned` names counted as roots."""
    defs: dict[str, list] = {}
    roots = set(pinned)
    for path in sorted((root / "pdf_brain_spark").rglob("*.py")):
        for st in ast.parse(path.read_text()).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(st.name, []).append((path, st))
                if not isinstance(st, ast.ClassDef) and _is_query(st):
                    roots.add(st.name)
            elif not isinstance(st, (ast.Import, ast.ImportFrom)):
                roots |= _read_names(st)
    scripts = [
        root / "__spark_entry__.py",
        root / "bench.py",
        *sorted((root / "perfbench").glob("*.py")),
        *sorted((root / "tools").glob("*.py")),
    ]
    for path in scripts:
        roots |= _read_names(ast.parse(path.read_text()))
    seen, todo = set(), list(roots)
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for _, node in defs.get(name, []):
            todo.extend(_read_names(node) - seen)
    return sorted(
        f"{path.relative_to(root)}:{node.lineno} {name}"
        for name, found in defs.items()
        if name not in seen
        for path, node in found
    )


def test_every_library_def_is_reached_from_a_root():
    assert unreached(ROOT, TEST_REACHED) == []


def test_pinned_names_are_defined_and_only_test_reached():
    """A pinned name that a root reaches, or that is gone, leaves the pin."""
    assert TEST_REACHED - {n.split()[-1] for n in unreached(ROOT)} == set()
