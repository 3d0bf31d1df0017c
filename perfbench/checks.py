"""Output checks, run outside the timed spans.

Each workload's product is compared with a DuckDB computation over the
same generated input: the package's own registry oracles for the ELT
run (``elt_pipeline_run``) and the corpus job (``corpus_prep``,
``dedup_near_text``), and a latest-wins query over the change log
for the upsert stream.
"""

from __future__ import annotations

import math
import zlib

import duckdb
import numpy as np
import pandas as pd


def connect(gen_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{gen_dir}/{t}.parquet')")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: None if v is None or (isinstance(v, float) and math.isnan(v)) else v)
    if len(df):
        df = df.sort_values(by=list(df.columns), na_position="last", kind="mergesort")
    return df.reset_index(drop=True)


def frames_equal(got: pd.DataFrame, exp: pd.DataFrame) -> str | None:
    """None when equal (columns, row count, exact values, any order);
    else a one-line description of the first difference."""
    got, exp = normalize(got), normalize(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"row count {len(got)} vs {len(exp)}"
    for c in got.columns:
        g, e = got[c], exp[c]
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(e):
            g = pd.to_numeric(g, errors="coerce").astype(float).values
            e = pd.to_numeric(e, errors="coerce").astype(float).values
            eq = (g == e) | (np.isnan(g) & np.isnan(e))
        else:
            eq = g.astype(str).where(~g.isna(), "<NULL>").values == e.astype(str).where(~e.isna(), "<NULL>").values
        if not eq.all():
            i = int(np.nonzero(~eq)[0][0])
            return f"column {c} row {i}: {got[c].iloc[i]!r} vs {exp[c].iloc[i]!r}"
    return None


def row_checksum(df: pd.DataFrame, cols: list[str]) -> tuple[int, int]:
    """(row count, sum of crc32 over each row's '|'-joined values): the
    Python twin of :func:`spark_checksum_exprs` for integer, string and
    double columns."""
    total = 0
    for row in df[cols].itertuples(index=False):
        total += zlib.crc32("|".join(_fmt(v) for v in row).encode())
    return len(df), total


def _fmt(v) -> str:
    if isinstance(v, (float, np.floating)):
        return repr(float(v))
    if isinstance(v, (np.integer,)):
        return str(int(v))
    return str(v)


def spark_checksum_exprs(cols: list[str]):
    """Aggregates for ``DataFrame.observe``: the same (count, crc sum)
    as :func:`row_checksum`, computed while the job runs."""
    from pyspark.sql import functions as F

    row = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
    return [F.count(F.lit(1)).alias("n"), F.sum(F.crc32(row)).alias("crc")]


def cdc_expected(con: duckdb.DuckDBPyConnection, files: list[str]) -> pd.DataFrame:
    """Latest-wins state after applying ``files`` of the change log:
    one row per key, the change with the highest ts_ms wins (the log
    has strictly increasing ts per key, so there are no ties)."""
    if not files:
        return pd.DataFrame(columns=["event_id", "ts_ms", "user_id", "event_type", "value", "op"])
    listing = ", ".join(f"'{f}'" for f in files)
    return con.execute(
        f"""
        WITH raw AS (
          SELECT raw_message FROM read_json([{listing}], format='newline_delimited',
                 columns={{raw_message: 'VARCHAR', kafka_timestamp: 'VARCHAR'}})
        ),
        ch AS (
          SELECT json_extract_string(raw_message, '$.payload.op') AS op,
                 CAST(json_extract(raw_message, '$.payload.ts_ms') AS BIGINT) AS ts_ms,
                 CAST(json_extract(raw_message, '$.payload.after.event_id') AS BIGINT) AS event_id,
                 CAST(json_extract(raw_message, '$.payload.after.user_id') AS BIGINT) AS user_id,
                 json_extract_string(raw_message, '$.payload.after.event_type') AS event_type,
                 CAST(json_extract(raw_message, '$.payload.after.value') AS DOUBLE) AS value
          FROM raw
          WHERE json_type(raw_message, '$.payload.after') = 'OBJECT'
        )
        SELECT event_id, ts_ms, user_id, event_type, value, op FROM (
          SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts_ms DESC) AS rn FROM ch
        ) WHERE rn = 1
        """
    ).fetchdf()
