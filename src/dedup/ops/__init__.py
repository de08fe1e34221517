"""Operator-coverage queries + training-data-pipeline operations.

Each module exposes `QUERIES: dict[name, (spark_fn, oracle_sql | None)]`
where spark_fn(spark, sf_dir) -> DataFrame and oracle_sql is the DuckDB-
equivalent ANSI SQL (None => non-SQL-expressible, driver does a rows-only
check). `registry()` merges them all; `__spark_entry__.py` and the bench
instruments read it.
"""

from __future__ import annotations


def load_table(spark, sf_dir: str, name: str):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def registry() -> dict[str, tuple]:
    """Every module's QUERIES merged: name -> (spark_fn, oracle_sql | None)."""
    from . import (
        dedup_queries, ledger_queries, multimodal, relational, similarity,
        spans, textops,
    )

    merged: dict[str, tuple] = {}
    for mod in (dedup_queries, textops, spans, similarity, relational,
                multimodal, ledger_queries):
        merged.update(mod.QUERIES)
    return merged
