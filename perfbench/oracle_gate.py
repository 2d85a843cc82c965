"""Oracle gate: the final table must equal a sequential replay of the segments.

The replay is a DuckDB query over the same segment files the engine read,
independent of Spark: keep the last event per key in the changelog's total
order (lsn, seq_in_tx), drop keys whose last event is a delete, then apply
the transcript transforms the pipeline applies. The transforms are restated
here from their specification rather than imported, so a change to the
engine's masking cannot silently change the oracle too:

* role  -> lower(trim(role)) mapped through the canonical role table;
* tool  -> lower(trim(tool)), empty string -> NULL;
* text  -> emails become ``<email>``, then runs of 7+ digits become ``<num>``.

The comparison is a two-way ``EXCEPT ALL`` on every payload column, so a
missing, extra, duplicated or altered row is a mismatch. A negative control
runs the same comparison against a deliberately corrupted copy of the
engine's state and must report a mismatch, or the gate itself is broken.
"""

from __future__ import annotations

import os

import duckdb

_ROLE_CANON = {
    "user": "user", "human": "user", "usr": "user",
    "assistant": "assistant", "ai": "assistant", "model": "assistant",
    "bot": "assistant",
    "system": "system", "sys": "system",
    "tool": "tool", "function": "tool", "tool_call": "tool",
}
_EMAIL = r"[\w.+-]+@[\w-]+\.[\w.-]+"
_LONG_NUM = r"\b\d{7,}\b"


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _file_list(files: list[str]) -> str:
    return "[" + ", ".join(_sql_str(f) for f in files) + "]"


def connect(work_dir: str, threads: int) -> duckdb.DuckDBPyConnection:
    tmp = os.path.join(work_dir, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    con = duckdb.connect(":memory:")
    con.execute(f"SET threads = {int(threads)}")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = {_sql_str(tmp)}")
    return con


def _oracle_sql(segment_files: list[str]) -> str:
    role_case = " ".join(
        f"WHEN {_sql_str(k)} THEN {_sql_str(v)}" for k, v in _ROLE_CANON.items()
    )
    return f"""
    WITH ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY lsn DESC, seq_in_tx DESC
        ) AS rn
        FROM read_parquet({_file_list(segment_files)})
    )
    SELECT
        conv_id,
        turn_idx,
        CASE lower(trim(role)) {role_case} ELSE lower(trim(role)) END AS role,
        regexp_replace(
            regexp_replace(text, {_sql_str(_EMAIL)}, '<email>', 'g'),
            {_sql_str(_LONG_NUM)}, '<num>', 'g'
        ) AS text,
        nullif(lower(trim(tool)), '') AS tool,
        epoch_us(ts) AS ts_us
    FROM ranked
    WHERE rn = 1 AND op <> 2
    """


def _engine_sql(live_dir: str) -> str:
    glob = os.path.join(live_dir, "*.parquet")
    return f"""
    SELECT conv_id, turn_idx, role, text, tool, epoch_us(ts) AS ts_us
    FROM read_parquet({_sql_str(glob)})
    """


def _diff(con, left: str, right: str) -> int:
    return con.execute(
        f"SELECT count(*) FROM (SELECT * FROM {left} EXCEPT ALL SELECT * FROM {right})"
    ).fetchone()[0]


def check(con, segment_files: list[str], live_dir: str) -> dict:
    """Compare the engine's live snapshot (parquet under ``live_dir``) with
    the replay of ``segment_files``; run the negative control as well."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE oracle AS {_oracle_sql(segment_files)}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE engine AS {_engine_sql(live_dir)}")
    oracle_rows = con.execute("SELECT count(*) FROM oracle").fetchone()[0]
    engine_rows = con.execute("SELECT count(*) FROM engine").fetchone()[0]
    missing = _diff(con, "oracle", "engine")
    extra = _diff(con, "engine", "oracle")

    # Negative control: alter one row's text and drop another. Both edits
    # must surface as differences against the oracle.
    con.execute(
        """
        CREATE OR REPLACE TEMP TABLE corrupted AS
        WITH k AS (
            SELECT min((conv_id, turn_idx)) AS lo, max((conv_id, turn_idx)) AS hi
            FROM engine
        )
        SELECT conv_id, turn_idx, role,
               CASE WHEN (conv_id, turn_idx) = k.lo THEN text || '#corrupt'
                    ELSE text END AS text,
               tool, ts_us
        FROM engine, k
        WHERE (conv_id, turn_idx) <> k.hi OR k.lo = k.hi
        """
    )
    caught = (
        engine_rows > 1
        and _diff(con, "oracle", "corrupted") >= 2
        and _diff(con, "corrupted", "oracle") >= 1
    )
    return {
        "oracle_rows": oracle_rows,
        "engine_rows": engine_rows,
        "missing_rows": missing,
        "extra_rows": extra,
        "match": missing == 0 and extra == 0 and oracle_rows == engine_rows,
        "negative_control_caught": bool(caught),
    }


def conversation_rows(con, convs: list[str]) -> dict[str, int]:
    """Live row count per conversation in the oracle's final state (call
    after :func:`check`)."""
    rows = con.execute(
        f"SELECT conv_id, count(*) FROM oracle WHERE conv_id IN "
        f"({', '.join(_sql_str(c) for c in convs)}) GROUP BY conv_id"
    ).fetchall()
    out = {c: 0 for c in convs}
    out.update({c: int(n) for c, n in rows})
    return out
