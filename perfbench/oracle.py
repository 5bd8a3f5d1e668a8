"""Correctness gate: the registry's DuckDB oracles over generated logs.

The oracle reads the generated files through an ``events`` view that
keeps one row per ``event_id`` — a redelivery is a byte-identical copy,
so this is the coordinate dedup the engine must perform — and then runs
the registry's ``cdc_history`` / ``cdc_current_snapshot`` /
``cdc_user_stats`` SQL unchanged.  Engine artifacts are projected to the
same columns (event-time timestamps as epoch microseconds) and compared
by row count, column names and an order-insensitive value hash.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from tools.check_oracle import frame_hash

# engine artifact -> the registry query whose oracle defines it, and the
# projection of the artifact's parquet onto that query's columns
ARTIFACTS = {
    "history": (
        "cdc_history",
        "original_id, user_id, value, event_type, change_type, "
        "epoch_us(change_timestamp) AS change_timestamp_us, "
        "epoch_us(original_registered_at) AS original_registered_at_us, "
        "kafka_offset, kafka_partition, kafka_topic",
    ),
    "current": (
        "cdc_current_snapshot",
        "original_id, original_id AS user_id, value, event_type, props_k, "
        "epoch_us(original_registered_at) AS original_registered_at_us, "
        "epoch_us(last_updated_at) AS last_updated_at_us",
    ),
    "stats": (
        "cdc_user_stats",
        "user_id, n_changes, n_inserts, n_updates, n_deletes, "
        "epoch_us(first_change_at) AS first_change_at_us, "
        "epoch_us(last_change_at) AS last_change_at_us",
    ),
}


def file_list(files: list[str]) -> str:
    return "[" + ", ".join("'" + f.replace("'", "''") + "'" for f in files) + "]"


def connect(event_files: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(
        "CREATE VIEW events AS SELECT DISTINCT ON (event_id) * "
        f"FROM read_parquet({file_list(event_files)})"
    )
    return con


def oracle_frame(con: duckdb.DuckDBPyConnection, query: str) -> pd.DataFrame:
    import cdc_practice_spark.queries.cdc_queries  # noqa: F401 — registers
    from cdc_practice_spark.queries.registry import ORACLES

    return con.sql(ORACLES[query]).df()


def artifact_frame(artifact: str, files: list[str]) -> pd.DataFrame:
    """An engine artifact's parquet files projected onto its oracle's
    columns."""
    _, projection = ARTIFACTS[artifact]
    con = duckdb.connect()
    try:
        return con.sql(
            f"SELECT {projection} FROM read_parquet({file_list(files)})"
        ).df()
    finally:
        con.close()


def compare(actual: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """Problems found comparing an engine result with its oracle; empty
    when they agree on row count, column names and value hash."""
    problems = []
    if len(actual) != len(expected):
        problems.append(f"rows {len(actual)} != {len(expected)}")
    if sorted(actual.columns) != sorted(expected.columns):
        problems.append(
            f"columns {sorted(actual.columns)} != {sorted(expected.columns)}"
        )
    if not problems and frame_hash(actual) != frame_hash(expected):
        problems.append("value hash differs")
    return problems
