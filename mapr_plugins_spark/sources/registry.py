"""Declared format-parse queries (reference A4 surface) + DuckDB oracles.

Each query deterministically *constructs* a formatted line from test
table columns (integers/strings only — float formatting differs across
engines), then parses it back through the engine's format registry.
The oracle performs the identical construction + extraction in DuckDB
SQL, so the parse semantics are cross-checked end to end.
"""

from __future__ import annotations

import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapr_plugins_spark.catalog import table as _t
from mapr_plugins_spark.discovery import family_queries
from mapr_plugins_spark.plans.partitioning import fan_out
from mapr_plugins_spark.sources.formats import (
    CLF_REGEX,
    SYSLOG_REGEX,
    grok_compile,
    parse_expr,
)

_GROK_LOG = "%{TIMESTAMP_ISO8601:tstamp} %{LOGLEVEL:level} %{WORD:component} - %{GREEDYDATA:msg}"


def _level_case() -> F.Column:
    return (
        F.when(F.col("event_type") == "click", "INFO")
        .when(F.col("event_type") == "purchase", "WARN")
        .otherwise("DEBUG")
    )


def q26_clf_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLF (Apache common log) parse round-trip over events (Q26)."""
    ev = fan_out(_t(spark, sf_dir, "events"))
    line = F.concat(
        F.lit("h"),
        F.col("user_id").cast("string"),
        F.lit(' - frank [10/Oct/2000:13:55:36 -0700] "GET /'),
        F.col("event_type"),
        F.lit(' HTTP/1.0" '),
        (F.lit(200) + F.col("event_id") % 300).cast("int").cast("string"),
        F.lit(" "),
        (F.col("event_id") % 5000).cast("string"),
    )
    rec = parse_expr("clf", line)
    return ev.select("event_id", rec.alias("r")).select(
        "event_id",
        F.col("r.host").alias("host"),
        F.col("r.request").alias("request"),
        F.col("r.status").cast("int").alias("status"),
        F.col("r.bytes").cast("bigint").alias("n_bytes"),
    )


def q27_syslog_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC3164 syslog parse round-trip over events (Q27)."""
    ev = fan_out(_t(spark, sf_dir, "events"))
    line = F.concat(
        F.lit("<"),
        (F.col("event_id") % 192).cast("string"),
        F.lit(">Oct 11 22:14:15 host"),
        F.col("user_id").cast("string"),
        F.lit(" app["),
        (F.col("event_id") % 30000).cast("string"),
        F.lit("]: "),
        F.col("event_type"),
        F.lit(" event observed"),
    )
    rec = parse_expr("syslog", line)
    return ev.select("event_id", rec.alias("r")).select(
        "event_id",
        F.col("r.pri").cast("int").alias("pri"),
        F.col("r.host").alias("host"),
        F.col("r.tag").alias("tag"),
        F.col("r.pid").cast("bigint").alias("pid"),
        F.col("r.msg").alias("msg"),
    )


def q28_grok_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grok-pattern parse (compiled to one codegen'd regex) over a
    constructed app-log line (Q28)."""
    ev = fan_out(_t(spark, sf_dir, "events"))
    line = F.concat(
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"),
        F.lit(" "),
        _level_case(),
        F.lit(" "),
        F.col("event_type"),
        F.lit(" - user="),
        F.col("user_id").cast("string"),
        F.lit(" props="),
        F.col("props"),
    )
    rec = parse_expr("grok", line, grok_pattern=_GROK_LOG)
    return ev.select("event_id", rec.alias("r")).select(
        "event_id",
        F.col("r.tstamp").alias("tstamp"),
        F.col("r.level").alias("level"),
        F.col("r.component").alias("component"),
        F.col("r.msg").alias("msg"),
    )


def q29_csv_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """csv + tsv payload parse (from_csv kernels) over constructed
    customer lines (Q29)."""
    cust = _t(spark, sf_dir, "customer")
    csv_line = F.concat_ws(
        ",", F.col("c_name"), F.col("c_mktsegment"), F.col("c_custkey").cast("string")
    )
    tsv_line = F.concat_ws(
        "\t", F.col("c_name"), F.col("c_mktsegment"), F.col("c_custkey").cast("string")
    )
    schema = "name STRING, seg STRING, key BIGINT"
    c = parse_expr("csv", csv_line, schema)
    t = parse_expr("tsv", tsv_line, schema)
    return cust.select(
        "c_custkey",
        c.getField("name").alias("csv_name"),
        c.getField("seg").alias("csv_seg"),
        c.getField("key").alias("csv_key"),
        t.getField("key").alias("tsv_key"),
        (c.getField("key") == t.getField("key")).alias("csv_tsv_agree"),
    )


def warc_record_expr() -> F.Column:
    """Deterministic WARC record text built from (doc_id, text) —
    shared by the q71 parse round-trip and the x_warc_ingest
    end-to-end pipeline."""
    return F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:corpus:"),
        F.col("doc_id").cast("string"),
        F.lit(">\r\nWARC-Target-URI: http://corpus.example/doc/"),
        F.col("doc_id").cast("string"),
        F.lit("\r\nWARC-Date: 2024-01-01T00:00:00Z\r\nContent-Length: "),
        F.length("text").cast("string"),
        F.lit("\r\n\r\n"),
        F.col("text"),
    )


#: The identical construction in DuckDB SQL (expression named ``s``,
#: reads (doc_id, text)).
WARC_RECORD_SQL = (
    "'WARC/1.0' || chr(13) || chr(10)"
    " || 'WARC-Type: response' || chr(13) || chr(10)"
    " || 'WARC-Record-ID: <urn:corpus:' || CAST(doc_id AS VARCHAR) || '>'"
    " || chr(13) || chr(10)"
    " || 'WARC-Target-URI: http://corpus.example/doc/' || CAST(doc_id AS VARCHAR)"
    " || chr(13) || chr(10)"
    " || 'WARC-Date: 2024-01-01T00:00:00Z' || chr(13) || chr(10)"
    " || 'Content-Length: ' || CAST(length(text) AS VARCHAR)"
    " || chr(13) || chr(10) || chr(13) || chr(10)"
    " || text"
)


def q71_warc_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC record parse round-trip over documents (engine extension of
    A4: ISO 28500 / Common Crawl layout — the canonical LLM-corpus
    input format). Records are constructed deterministically from the
    corpus, parsed back through the format registry, and every header
    plus the payload round-trip is value-checked (Q71)."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    r = parse_expr("warc", warc_record_expr())
    return docs.select(
        "doc_id",
        r.getField("version").alias("warc_version"),
        r.getField("warc_type").alias("warc_type"),
        r.getField("record_id").alias("record_id"),
        r.getField("target_uri").alias("target_uri"),
        r.getField("warc_date").alias("warc_date"),
        r.getField("content_length").alias("content_length"),
        F.length(r.getField("payload")).cast("bigint").alias("payload_len"),
        (r.getField("payload") == F.col("text")).alias("payload_roundtrip"),
    )


def q72_jsonl_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permissive JSONL parse with corrupt-record accounting (Q72):
    every 7th constructed line is truncated mid-object; the parser must
    keep the stream flowing, null out the bad record's fields, and
    flag it — the standard bad-record contract of large-scale ingest
    (Spark PERMISSIVE mode yields a struct with null fields for
    malformed input, so corruption is detected via a field the
    construction guarantees non-null on every valid line)."""
    ev = fan_out(_t(spark, sf_dir, "events"))
    line = F.concat(
        F.lit('{"id": '),
        F.col("event_id").cast("string"),
        F.lit(', "type": "'),
        F.col("event_type"),
        F.lit('", "user": '),
        F.col("user_id").cast("string"),
        F.when(F.col("event_id") % 7 == 0, F.lit("")).otherwise(F.lit("}")),
    )
    r = parse_expr("json", line, "id BIGINT, type STRING, user BIGINT")
    return ev.select("event_id", r.alias("r")).select(
        "event_id",
        F.col("r.id").alias("j_id"),
        F.col("r.type").alias("j_type"),
        F.col("r.user").alias("j_user"),
        F.col("r.id").isNull().alias("is_corrupt"),
    )


def q74_csv_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permissive csv parse over a HOSTILE stream (Q74): the round-6
    verdict asked for the csv parser's malformed-row contract to be
    graded, not just the happy path (q29). Two injected corruption
    modes — every 7th line is TRUNCATED (key field missing entirely)
    and every 11th carries a NON-NUMERIC key (type-cast failure).
    Spark's PERMISSIVE csv keeps partially-parsed fields and nulls
    only what failed (empirically pinned: truncation and cast failure
    both yield key=NULL with name/seg intact; extra tokens are
    ignored), so corruption is detected via the key field the
    construction guarantees non-null on every valid line — the same
    bad-record contract as q72's JSONL twin."""
    cust = _t(spark, sf_dir, "customer")
    line = F.concat(
        F.col("c_name"),
        F.lit(","),
        F.col("c_mktsegment"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit("")).otherwise(
            F.when(
                F.col("c_custkey") % 11 == 0,
                F.concat(F.lit(",X"), F.col("c_custkey").cast("string")),
            ).otherwise(F.concat(F.lit(","), F.col("c_custkey").cast("string")))
        ),
    )
    r = parse_expr("csv", line, "name STRING, seg STRING, key BIGINT")
    return cust.select("c_custkey", r.alias("r")).select(
        "c_custkey",
        F.col("r.name").alias("p_name"),
        F.col("r.seg").alias("p_seg"),
        F.col("r.key").alias("p_key"),
        F.col("r.key").isNull().alias("is_corrupt"),
    )


def q73_fixedwidth_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-column-width payload parse (Q73): customer rows rendered
    as 40-char fixed records (rpad'd name/segment, lpad'd key), parsed
    back by pure substring arithmetic — trim + cast per column, all in
    codegen. The mainframe-export layout of the A4 format family."""
    cust = _t(spark, sf_dir, "customer")
    line = F.concat(
        F.rpad(F.col("c_name"), 18, " "),
        F.rpad(F.col("c_mktsegment"), 10, " "),
        F.lpad(F.col("c_custkey").cast("string"), 12, " "),
    )
    r = parse_expr(
        "fixedwidth",
        line,
        "name STRING, seg STRING, key BIGINT",
        options={"widths": "18,10,12"},
    )
    return cust.select("c_custkey", r.alias("r")).select(
        "c_custkey",
        F.col("r.name").alias("fw_name"),
        F.col("r.seg").alias("fw_seg"),
        F.col("r.key").alias("fw_key"),
        (F.col("r.key") == F.col("c_custkey")).alias("roundtrip_ok"),
    )


def format_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return family_queries(sys.modules[__name__])


# ---------------------------------------------------------------------------
# oracles — identical construction + extraction in DuckDB SQL


def _duck_re(regex: str) -> str:
    return regex.replace("'", "''")


_CLF_LINE = (
    "'h' || CAST(user_id AS VARCHAR)"
    " || ' - frank [10/Oct/2000:13:55:36 -0700] \"GET /'"
    " || event_type || ' HTTP/1.0\" '"
    " || CAST(CAST(200 + event_id % 300 AS INT) AS VARCHAR)"
    " || ' ' || CAST(event_id % 5000 AS VARCHAR)"
)

_SYSLOG_LINE = (
    "'<' || CAST(event_id % 192 AS VARCHAR) || '>Oct 11 22:14:15 host'"
    " || CAST(user_id AS VARCHAR) || ' app[' || CAST(event_id % 30000 AS VARCHAR)"
    " || ']: ' || event_type || ' event observed'"
)

_GROK_LINE = (
    "strftime(ts, '%Y-%m-%dT%H:%M:%S')"
    " || ' ' || CASE WHEN event_type = 'click' THEN 'INFO'"
    " WHEN event_type = 'purchase' THEN 'WARN' ELSE 'DEBUG' END"
    " || ' ' || event_type || ' - user=' || CAST(user_id AS VARCHAR)"
    " || ' props=' || props"
)


def format_oracles() -> dict[str, str]:
    clf = _duck_re(CLF_REGEX)
    slog = _duck_re(SYSLOG_REGEX)
    grok_re = _duck_re(grok_compile(_GROK_LOG)[0])
    return {
        "q26_clf_parse": f"""
            WITH l AS (SELECT event_id, {_CLF_LINE} AS line FROM events)
            SELECT event_id,
                   regexp_extract(line, '{clf}', 1) AS host,
                   regexp_extract(line, '{clf}', 5) AS request,
                   CAST(regexp_extract(line, '{clf}', 6) AS INT) AS status,
                   CAST(regexp_extract(line, '{clf}', 7) AS BIGINT) AS n_bytes
            FROM l
        """,
        "q27_syslog_parse": f"""
            WITH l AS (SELECT event_id, {_SYSLOG_LINE} AS line FROM events)
            SELECT event_id,
                   CAST(regexp_extract(line, '{slog}', 1) AS INT) AS pri,
                   regexp_extract(line, '{slog}', 3) AS host,
                   regexp_extract(line, '{slog}', 4) AS tag,
                   CAST(regexp_extract(line, '{slog}', 5) AS BIGINT) AS pid,
                   regexp_extract(line, '{slog}', 6) AS msg
            FROM l
        """,
        "q28_grok_parse": f"""
            WITH l AS (SELECT event_id, {_GROK_LINE} AS line FROM events)
            SELECT event_id,
                   regexp_extract(line, '{grok_re}', 1) AS tstamp,
                   regexp_extract(line, '{grok_re}', 2) AS level,
                   regexp_extract(line, '{grok_re}', 3) AS component,
                   regexp_extract(line, '{grok_re}', 4) AS msg
            FROM l
        """,
        "q29_csv_parse": """
            WITH l AS (
                SELECT c_custkey,
                       string_split(c_name || ',' || c_mktsegment || ','
                                    || CAST(c_custkey AS VARCHAR), ',') AS c,
                       string_split(c_name || chr(9) || c_mktsegment || chr(9)
                                    || CAST(c_custkey AS VARCHAR), chr(9)) AS t
                FROM customer
            )
            SELECT c_custkey,
                   c[1] AS csv_name, c[2] AS csv_seg,
                   CAST(c[3] AS BIGINT) AS csv_key,
                   CAST(t[3] AS BIGINT) AS tsv_key,
                   CAST(c[3] AS BIGINT) = CAST(t[3] AS BIGINT) AS csv_tsv_agree
            FROM l
        """,
        "q73_fixedwidth_parse": """
            WITH lines AS (
                SELECT c_custkey,
                       rpad(c_name, 18, ' ')
                       || rpad(c_mktsegment, 10, ' ')
                       || lpad(CAST(c_custkey AS VARCHAR), 12, ' ') AS line
                FROM customer
            )
            SELECT c_custkey,
                   trim(substring(line, 1, 18)) AS fw_name,
                   trim(substring(line, 19, 10)) AS fw_seg,
                   CAST(trim(substring(line, 29, 12)) AS BIGINT) AS fw_key,
                   CAST(trim(substring(line, 29, 12)) AS BIGINT) = c_custkey
                       AS roundtrip_ok
            FROM lines
        """,
        "q72_jsonl_parse": """
            WITH l AS (
                SELECT event_id,
                       '{"id": ' || CAST(event_id AS VARCHAR)
                       || ', "type": "' || event_type
                       || '", "user": ' || CAST(user_id AS VARCHAR)
                       || CASE WHEN event_id % 7 = 0 THEN '' ELSE '}' END AS line
                FROM events
            ),
            j AS (SELECT event_id, try_cast(line AS JSON) AS j FROM l)
            SELECT event_id,
                   TRY_CAST(json_extract(j, '$.id') AS BIGINT) AS j_id,
                   json_extract_string(j, '$.type') AS j_type,
                   TRY_CAST(json_extract(j, '$.user') AS BIGINT) AS j_user,
                   (TRY_CAST(json_extract(j, '$.id') AS BIGINT) IS NULL)
                       AS is_corrupt
            FROM j
        """,
        "q74_csv_corrupt": """
            WITH l AS (
                SELECT c_custkey,
                       c_name || ',' || c_mktsegment ||
                       CASE WHEN c_custkey % 7 = 0 THEN ''
                            WHEN c_custkey % 11 = 0
                                THEN ',X' || CAST(c_custkey AS VARCHAR)
                            ELSE ',' || CAST(c_custkey AS VARCHAR) END AS line
                FROM customer
            ),
            s AS (SELECT c_custkey, string_split(line, ',') AS c FROM l)
            SELECT c_custkey,
                   c[1] AS p_name, c[2] AS p_seg,
                   TRY_CAST(c[3] AS BIGINT) AS p_key,
                   (TRY_CAST(c[3] AS BIGINT) IS NULL) AS is_corrupt
            FROM s
        """,
        "q71_warc_parse": f"""
            WITH rec AS (
                SELECT doc_id, text, {WARC_RECORD_SQL} AS s FROM documents
            ),
            split AS (
                SELECT doc_id, text, s,
                       substr(s, 1, strpos(s, repeat(chr(13) || chr(10), 2)) - 1)
                           AS head,
                       substr(s, strpos(s, repeat(chr(13) || chr(10), 2)) + 4)
                           AS payload
                FROM rec
            )
            SELECT doc_id,
                   regexp_extract(s, '^WARC/([0-9.]+)', 1) AS warc_version,
                   regexp_extract(head, '(?m)^WARC-Type: *([^\r\n]*)', 1)
                       AS warc_type,
                   regexp_extract(head, '(?m)^WARC-Record-ID: *([^\r\n]*)', 1)
                       AS record_id,
                   regexp_extract(head, '(?m)^WARC-Target-URI: *([^\r\n]*)', 1)
                       AS target_uri,
                   regexp_extract(head, '(?m)^WARC-Date: *([^\r\n]*)', 1)
                       AS warc_date,
                   TRY_CAST(regexp_extract(head,
                       '(?m)^Content-Length: *([^\r\n]*)', 1) AS BIGINT)
                       AS content_length,
                   CAST(length(payload) AS BIGINT) AS payload_len,
                   payload = text AS payload_roundtrip
            FROM split
        """,
    }
