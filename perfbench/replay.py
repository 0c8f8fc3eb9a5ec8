"""Expected replica state, computed in DuckDB independently of the program.

Rules (the reference's ``syncdb`` semantics): within one batch file the
latest change per key wins, ordered by ``meta.ts`` and then by line
order; a winning ``D`` removes the row and a winning ``U`` upserts the
full row. Batches apply in the order they were synced.
"""

from __future__ import annotations

import os

import duckdb

_JSON_TYPES = {"BIGINT", "INTEGER", "DOUBLE", "VARCHAR", "TIMESTAMP"}


def _json_struct(cols: list[tuple[str, str]]) -> str:
    for _, t in cols:
        if t not in _JSON_TYPES:
            raise ValueError(f"unsupported column type {t}")
    return "{" + ",".join(f'"{c}":"{t}"' for c, t in cols) + "}"


def replay_table(
    con: duckdb.DuckDBPyConnection,
    base_parquet: str,
    key: str,
    batch_files: list[str],
    out_parquet: str,
) -> int:
    """Apply ``batch_files`` in order to the base table and write the
    result as parquet; returns its row count."""
    cols = [
        (r[0], r[1])
        for r in con.execute(
            "DESCRIBE SELECT * FROM read_parquet(?)", [base_parquet]
        ).fetchall()
    ]
    key_type = dict(cols)[key]
    values = [(c, t) for c, t in cols if c != key]
    envelope = (
        '{"key":' + _json_struct([(key, key_type)]) + ',"value":'
        + _json_struct(values) + ',"meta":{"action":"VARCHAR","ts":"BIGINT"}}'
    )
    select_cols = ", ".join(f'"{c}"' for c, _ in cols)
    con.execute(
        f"CREATE OR REPLACE TEMP TABLE state AS SELECT {select_cols} "
        "FROM read_parquet(?)",
        [base_parquet],
    )
    upsert_cols = ", ".join(
        f'j.key."{c}" AS "{c}"' if c == key else f'j.value."{c}" AS "{c}"'
        for c, _ in cols
    )
    for path in batch_files:
        con.execute(
            f"""
            CREATE OR REPLACE TEMP TABLE latest AS
            WITH lines AS (
                SELECT unnest(l) AS line, unnest(range(len(l))) AS seq
                FROM (SELECT string_split(rtrim(content, chr(10)), chr(10)) AS l
                      FROM read_text(?))
            ), parsed AS (
                SELECT json_transform(line, '{envelope}') AS j, seq FROM lines
            )
            SELECT j.key."{key}" AS k, j.meta.action AS action, {upsert_cols}
            FROM parsed
            QUALIFY row_number() OVER (
                PARTITION BY j.key."{key}" ORDER BY j.meta.ts DESC, seq DESC) = 1
            """,
            [path],
        )
        con.execute(
            f"""
            CREATE OR REPLACE TEMP TABLE state AS
            SELECT {select_cols} FROM state
            WHERE "{key}" NOT IN (SELECT k FROM latest)
            UNION ALL
            SELECT {select_cols} FROM latest WHERE action = 'U'
            """
        )
    os.makedirs(os.path.dirname(out_parquet), exist_ok=True)
    con.execute(f"COPY state TO '{out_parquet}' (FORMAT parquet)")
    return con.execute("SELECT count(*) FROM state").fetchone()[0]
