"""Generate pdf_brain_spark/suite_specs.py: per-member canonicalization
specs for the suite gates, derived from the ATTESTED schemas of each
member pair — the Spark result schema (run at sf0.001) and the DuckDB
oracle schema (DESCRIBE over the same views). Deriving the kind from
BOTH schemas at generation time is what guarantees the Spark-side cast
and the SQL-side cast agree about every column's canonical string form.

Usage:  python3 tools/gen_suite_specs.py [sf_dir]
        python3 tools/gen_suite_specs.py [sf_dir] --only member [member ...]

--only regenerates specs for just the named members and MERGES them into
the existing SUITE_SPECS (new suites' members get specs without
re-deriving — and risking churn in — the 120+ already-attested ones).

The tool imports the gate modules only, never the suites' registration,
so a member that has no spec yet still resolves.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_argv = sys.argv[1:]
ONLY: list[str] = []
if "--only" in _argv:
    i = _argv.index("--only")
    ONLY = _argv[i + 1:]
    _argv = _argv[:i]
SF = _argv[0] if _argv else "/root/testdata/sf0.001"

_SPARK_INT = {"tinyint", "smallint", "int", "bigint", "boolean"}
_DUCK_INT = {
    "tinyint", "smallint", "integer", "bigint", "hugeint",
    "utinyint", "usmallint", "uinteger", "ubigint", "boolean",
}
_SPARK_FLT = {"double", "float"}
_DUCK_FLT = {"double", "float", "real"}


def _dec_scale(t: str) -> int | None:
    if t.startswith("decimal("):
        return int(t[8:-1].split(",")[1])
    return None


def kind_for(spark_t: str, duck_t: str) -> str:
    s, d = spark_t.lower(), duck_t.lower()
    ss, ds = _dec_scale(s), _dec_scale(d)
    s_int = s in _SPARK_INT or ss == 0
    d_int = d in _DUCK_INT or ds == 0
    if s_int and d_int:
        return "i"
    if (ss is not None and ss > 0) and (ds == ss or d_int):
        # equal-scale decimals print identically; int-vs-scaled-decimal
        # would not ('5' vs '5.00') -> only allow equal scale
        return "i" if ds == ss else "f"
    if (s in _SPARK_FLT or ss is not None) and (d in _DUCK_FLT or ds is not None):
        return "f"
    if (s in _SPARK_FLT and d_int) or (s_int and d in _DUCK_FLT):
        return "f"
    if s == "string" and d == "varchar":
        return "s"
    if s == "date" and d == "date":
        return "d"
    if s.startswith("timestamp") and (d.startswith("timestamp") or d == "date"):
        # duck DATE pairs with spark midnight-timestamp in attested gates
        # (pandas renders both as midnight Timestamps); epoch micros agree
        return "ts"
    if s.startswith("array<") and d.endswith("[]"):
        return "j"
    raise ValueError(f"no canonical kind for spark={spark_t} duck={duck_t}")


def main() -> None:
    import pdf_brain_spark.gates  # noqa: F401  (registers every suite member)
    from pdf_brain_spark.registry import lookup_oracle, lookup_query
    from pdf_brain_spark.session import get_spark
    from pdf_brain_spark.suites import SUITE_PLAN
    from tests.oracle_harness import duck_connect

    members = [m for ms in SUITE_PLAN.values() for m in ms]
    assert len(members) == len(set(members)), "duplicate suite member"
    specs: dict[str, list[tuple[str, str]]] = {}
    todo = members
    if ONLY:
        unknown = [m for m in ONLY if m not in members]
        assert not unknown, f"--only names not in SUITE_PLAN: {unknown}"
        from pdf_brain_spark.suite_specs import SUITE_SPECS as _existing

        specs.update({m: v for m, v in _existing.items() if m in members})
        todo = ONLY
    spark = get_spark("gen_suite_specs")
    con = duck_connect(SF)
    failures: list[str] = []
    for n, m in enumerate(todo, 1):
        try:
            sdf = lookup_query(m)(spark, SF)
            stypes = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
            dd = con.execute(f"DESCRIBE SELECT * FROM ({lookup_oracle(m)}) __d").fetchall()
            dtypes = {r[0]: r[1] for r in dd}
            if sorted(stypes) != sorted(dtypes):
                raise ValueError(
                    f"column sets differ: spark={sorted(stypes)} duck={sorted(dtypes)}"
                )
            specs[m] = [
                (c, kind_for(stypes[c], dtypes[c])) for c in sorted(stypes)
            ]
            print(f"[{n}/{len(todo)}] {m}: {specs[m]}", flush=True)
        except Exception as e:  # noqa: BLE001 - report and continue
            failures.append(f"{m}: {type(e).__name__}: {e}")
            print(f"[{n}/{len(todo)}] {m}: FAILED {e}", flush=True)

    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "pdf_brain_spark", "suite_specs.py",
    )
    with open(out, "w") as f:
        f.write(
            '"""GENERATED by tools/gen_suite_specs.py — do not hand-edit.\n\n'
            "Per-member canonicalization specs for the suite gates\n"
            "(pdf_brain_spark/suites.py): member -> [(column, kind), ...] with\n"
            "columns in sorted-name order (the driver's hash sorts columns by\n"
            "name) and kind one of i/s/d/f/ts/j (see suites.py docstring).\n"
            "Derived from the ATTESTED Spark + DuckDB schemas of each member at\n"
            "generation time, so the Spark-side cast and the SQL-side cast can\n"
            'never disagree about a column\'s canonical form.\n"""\n\n'
            "SUITE_SPECS: dict[str, list[tuple[str, str]]] = {\n"
        )
        for m in members:
            if m in specs:
                f.write(f"    {m!r}: {specs[m]!r},\n")
        f.write("}\n")
    print(f"\nwrote {out}: {len(specs)} specs, {len(failures)} failures")
    for line in failures:
        print("FAIL", line)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
