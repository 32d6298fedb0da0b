"""The surface registry: one ordered mapping of every named operator
surface, name -> (fn, oracle). ``fn`` is a (spark, sf_dir) -> DataFrame
callable; ``oracle`` is its ANSI-SQL twin, which DuckDB runs over the same
parquet tables.

Invariants:
  - ``@query(name, oracle)`` is the only writer; the mapping holds
    surfaces in registration order.
  - Every surface has an oracle: a non-empty string, given when it is
    registered.
  - A name registers once. A second registration raises instead of
    replacing the first surface's function and oracle in place.

Naming rule: every computed column is aliased identically in the Spark plan
and the oracle SQL — the driver hash-compares values after sorting columns
by name.

Float policy: scores/aggregates that involve floating-point reductions are
rounded to 6 decimals on BOTH sides so engine-level summation-order noise
does not flip the value hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SURFACES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str]] = {}


def lookup_query(name: str) -> Callable[[SparkSession, str], DataFrame]:
    """The Spark plan of a registered surface; KeyError if unknown."""
    return SURFACES[name][0]


def lookup_oracle(name: str) -> str:
    """The DuckDB oracle of a registered surface; KeyError if unknown."""
    return SURFACES[name][1]


def query(name: str, oracle: str):
    """Register ``fn`` as surface ``name`` with its DuckDB ``oracle``."""
    if not isinstance(oracle, str) or not oracle.strip():
        raise ValueError(f"query {name!r} needs a non-empty oracle SQL string")

    def deco(fn):
        if name in SURFACES:
            raise AssertionError(
                f"query name {name!r} is already registered; pick a new "
                "name — re-registration would replace the registered surface"
            )
        SURFACES[name] = (fn, oracle)
        return fn

    return deco
