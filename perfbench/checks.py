"""Output checks, run outside every timed region.

A written document table is checked by its document count and an
order-free digest -- DuckDB's ``sum(hash(_id, doc))`` -- against the
same digest of the documents that DuckDB SQL renders straight from the
generated events, without Spark.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

#: ``doc`` of one batch-ingest document, rendered from an events row.
_BATCH_DOC = """
    '{"event_id":' || event_id || ',"ts":"' || strftime(ts, '%Y-%m-%dT%H:%M:%S.%f')
    || '","user_id":' || user_id || ',"event_type":"' || event_type
    || '","value_cents":' || CAST(round(value * 100) AS BIGINT)
    || ',"k":' || CAST(regexp_extract(props, '[0-9]+') AS INTEGER) || '}'
"""
#: ``doc`` of one stream-ingest document (the source carries ``ts_ms``).
_STREAM_DOC = """
    '{"event_id":' || event_id || ',"ts_ms":' || epoch_ms(ts)
    || ',"user_id":' || user_id || ',"event_type":"' || event_type
    || '","value_cents":' || CAST(round(value * 100) AS BIGINT)
    || ',"k":' || CAST(regexp_extract(props, '[0-9]+') AS INTEGER) || '}'
"""
#: The ingest filter, as DuckDB SQL over the events columns.
_KEEP = "event_type <> 'error' AND value >= 5.0"


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _digest(sql: str) -> tuple[int, int]:
    con = duckdb.connect()
    try:
        n, h = con.execute(f"SELECT count(*), sum(hash(_id, doc)) FROM ({sql})").fetchone()
    finally:
        con.close()
    return int(n), int(h or 0)


def _expected(events_path: str, doc_sql: str) -> tuple[int, int]:
    return _digest(
        f"SELECT CAST(event_id AS VARCHAR) AS _id, {doc_sql} AS doc "
        f"FROM read_parquet('{events_path}') WHERE {_KEEP}"
    )


def expected_batch_docs(events_path: str) -> tuple[int, int]:
    return _expected(events_path, _BATCH_DOC)


def expected_stream_docs(events_path: str) -> tuple[int, int]:
    return _expected(events_path, _STREAM_DOC)


def doc_table_digest(table_dir: str) -> tuple[int, int]:
    """``(documents, digest)`` of a written document table."""
    if not glob.glob(os.path.join(table_dir, "*.parquet")):
        return 0, 0
    return _digest(f"SELECT _id, doc FROM read_parquet('{table_dir}/*.parquet')")
