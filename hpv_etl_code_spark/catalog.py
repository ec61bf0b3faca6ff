"""Query/oracle catalog — the single registry behind ``__spark_entry__``.

Every implemented operator from SURVEY.md §2 registers here as a
``(name, spark_callable, oracle_sql_or_None)`` triple.
``tests/test_catalog_oracle.py`` runs each Spark callable and its DuckDB
oracle side by side and hash-compares the results; entries with
``oracle=None`` are non-SQL-expressible and get a rows-only check
backed by invariant tests in ``tests/``.

Column-name contract: every computed column is aliased identically in
the Spark plan and the oracle SQL (columns are sorted by name before
hashing).

``entries()`` returns the catalog in registration order.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class CatalogEntry:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    headline: bool = False  # include in bench.py


_ENTRIES: dict[str, CatalogEntry] = {}


def register(
    name: str, fn: QueryFn, oracle: str | None, headline: bool = False
) -> None:
    if name in _ENTRIES:
        raise ValueError(f"duplicate catalog entry {name!r}")
    _ENTRIES[name] = CatalogEntry(name, fn, oracle, headline)


def entries() -> dict[str, CatalogEntry]:
    _ensure_populated()
    return dict(_ENTRIES)


def queries() -> dict[str, QueryFn]:
    return {n: e.fn for n, e in entries().items()}


def oracle_sql() -> dict[str, str]:
    return {n: e.oracle for n, e in entries().items() if e.oracle is not None}


def headline_queries() -> dict[str, QueryFn]:
    return {n: e.fn for n, e in entries().items() if e.headline}


_POPULATED = False


def _ensure_populated() -> None:
    """Import operator modules for their registration side effects."""
    global _POPULATED
    if _POPULATED:
        return
    from .plans import flagship

    register(
        "pricing_summary",
        flagship.pricing_summary,
        flagship.PRICING_SUMMARY_SQL,
        headline=True,
    )

    from .plans import register_all

    register_all.populate(register)
    _POPULATED = True
