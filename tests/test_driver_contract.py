"""The driver contract (`__spark_entry__.queries()` / `oracle_sql()`) and
the surface lookups, pinned.

tests/driver_contract.json holds a sha256 over the ordered driver names
with their oracle texts, then every registered surface's name and
`lookup_oracle()` text (sorted by name), and each surface's Spark-plan
function name. A change to any oracle text, to the driver order or
membership, or to which function serves a name fails here; update the
pin only in the commit that changes the contract on purpose.
"""

from __future__ import annotations

import hashlib
import json
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]
PIN = json.loads((ROOT / "tests" / "driver_contract.json").read_text())


def contract_digest() -> str:
    import __spark_entry__ as entry
    from pdf_brain_spark.registry import SURFACES, lookup_oracle

    h = hashlib.sha256()
    oracles = entry.oracle_sql()
    for n in entry.queries():
        h.update(f"{n}\0{oracles[n]}\0".encode())
    for n in sorted(SURFACES):
        h.update(f"{n}\0{lookup_oracle(n)}\0".encode())
    return h.hexdigest()


def test_driver_contract_digest_is_pinned():
    assert contract_digest() == PIN["sha256"]


def test_surface_function_names_are_pinned():
    from pdf_brain_spark.queries import SURFACES, lookup_query

    got = {n: lookup_query(n).__name__ for n in SURFACES}
    assert got == PIN["fn_names"]


def test_registry_has_one_writer():
    """Only registry.py holds and writes the surface mapping: no module
    under pdf_brain_spark/ or tools/, nor bench.py, writes an oracle after
    registration, moves a surface between mappings, or re-sorts them."""
    banned = (
        "oracle=None", "ORACLES[", "CONSOLIDATED", "install_suites",
        "_reorder_registry", "SPARK_GRAFT_NO_SUITES",
    )
    write = re.compile(
        r"(?m)^\s*[\w.]*SURFACES\s*[:=](?!=)|SURFACES\[[^\]]*\]\s*=(?!=)"
        r"|SURFACES\.(clear|update|pop|popitem|setdefault)\(|del\s+[\w.]*SURFACES"
    )
    files = [ROOT / "bench.py", *(ROOT / "tools").glob("*.py"),
             *(ROOT / "pdf_brain_spark").rglob("*.py")]
    hits = []
    for path in files:
        text = path.read_text()
        if path.name == "registry.py":
            # its writes: the one declaration and the decorator's insert
            assert len(write.findall(text)) == 2
            continue
        hits += [f"{path.relative_to(ROOT)}: {b}" for b in banned if b in text]
        hits += [f"{path.relative_to(ROOT)}: {m.group(0)}" for m in write.finditer(text)]
    assert not hits, hits
