"""Keyed JSON-document sink — the reference's MapRDBJSON batch sink,
re-expressed as columnar codegen.

Reference semantics reproduced (all citations into /root/reference):

* record → JSON document with the key field written as ``_id``
  (``src/main/java/co/cask/plugin/sink/MapRDBJSONSink.java:119-147``);
* null field values are SKIPPED, not written as JSON null
  (``MapRDBJSONSink.java:131`` — ``if (val != null)``);
* strict type lattice: BOOLEAN/INT/LONG/FLOAT/DOUBLE/BYTES/STRING,
  arrays thereof, and nullable wrappers; anything else rejected at
  configure time (``MapRDBJSONSink.java:154-296``, default branch
  ``:292-296``);
* key field must be a non-null scalar (``MapRDBJSONSink.java:125-144``,
  ``docs/MapRDBJSON-batchsink.md:12-13``).

Deliberate divergence from the reference (SURVEY §1.4): the reference
does one reflective JVM call per field per record
(``MapRDBJSONSink.java:120-144``); here the whole encode is one
``to_json(struct(...))`` projection inside whole-stage codegen — the
single biggest throughput win over the reference's write path. An
extension mode (``strict=False``) additionally allows structs, maps,
dates, timestamps and decimals, which the reference rejects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Spark types accepted by the reference's sink switch (strict mode).
DOC_SINK_SUPPORTED_TYPES: tuple[type, ...] = (
    T.BooleanType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.BinaryType,
    T.StringType,
)

#: Scalar types allowed for the ``_id`` key field (no binary, no array).
_KEY_TYPES: tuple[type, ...] = (
    T.BooleanType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.StringType,
)


def _check_fields(fields, key_field: str, strict: bool, declared: bool) -> None:
    """The key-present, key-type and (strict) type-lattice checks, over
    either the sink's declared output schema or a frame's own schema;
    ``declared`` only changes how the error messages name the schema."""
    names = {f.name for f in fields}
    if key_field not in names:
        where = "declared schema" if declared else "schema"
        raise ValueError(f"key field {key_field!r} not in {where} {sorted(names)}")
    for field in fields:
        dt = field.dataType
        if field.name == key_field and not isinstance(dt, _KEY_TYPES):
            raise ValueError(
                f"key field {key_field!r} has unsupported key type {dt.simpleString()}"
            )
        if not strict:
            continue
        ok = isinstance(dt, DOC_SINK_SUPPORTED_TYPES) or (
            isinstance(dt, T.ArrayType) and isinstance(dt.elementType, DOC_SINK_SUPPORTED_TYPES)
        )
        if not ok:
            what, mode = (
                ("declared field", "reference-compatible strict mode")
                if declared
                else ("field", "reference-compatible strict mode; pass strict=False to allow")
            )
            raise ValueError(
                f"unsupported type {dt.simpleString()} for {what} {field.name!r} ({mode})"
            )


def parse_declared_schema(schema_ddl: str, key_field: str, strict: bool = True):
    """Parse + validate the sink's DECLARED output schema — the
    reference's third sink property (``MapRDBJSONSink.java:313-315``
    ``@Description("Output schema for the MapR-DB JSON table.")``),
    which its ``getSchema()`` parses at configure time and fails
    loudly on (``"Unable to parse output schema."``,
    ``MapRDBJSONSink.java:321-327``). Accepts a DDL string; returns
    the StructType. Raises ValueError on unparseable DDL, a missing
    or non-scalar key field, or (strict) a type outside the
    reference's lattice."""
    from pyspark.sql.types import StructType

    try:
        st = StructType.fromDDL(schema_ddl)
    except Exception as e:
        raise ValueError(f"unable to parse output schema: {schema_ddl!r}") from e
    _check_fields(st.fields, key_field, strict, declared=True)
    return st


def conform_to_declared(df: DataFrame, st) -> DataFrame:
    """Project the outgoing frame onto the declared output schema
    (name-selected, type-cast) — what the reference's record-to-
    document loop does by iterating the OUTPUT schema's fields
    (``MapRDBJSONSink.java:119-147``). A declared field missing from
    the frame is a loud error, not a silent null column; a VALUE that
    cannot be converted to the declared type is a loud per-row error
    at write time (``try_cast`` + ``raise_error``), matching the
    reference's per-type conversion exceptions — never a silent NULL
    in the written document."""
    have = set(df.columns)
    missing = [f.name for f in st.fields if f.name not in have]
    if missing:
        raise ValueError(f"declared schema fields missing from pipeline output: {missing}")

    def conv(f):
        src = F.col(f.name)
        if df.schema[f.name].dataType == f.dataType:
            return src.alias(f.name)
        tried = src.try_cast(f.dataType)
        return (
            F.when(
                src.isNotNull() & tried.isNull(),
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"cannot convert value of field {f.name!r} to declared "
                            f"type {f.dataType.simpleString()}: "
                        ),
                        src.cast("string"),
                    )
                ).cast(f.dataType),
            )
            .otherwise(tried)
            .alias(f.name)
        )

    return df.select(*[conv(f) for f in st.fields])


def validate_doc_schema(df: DataFrame, key_field: str, strict: bool = True) -> None:
    """Configure-time schema validation, mirroring the reference's
    IllegalArgumentException behavior (MapRDBJSONSink.java:292-296,
    :321-327). Raises ValueError on violations."""
    _check_fields(df.schema.fields, key_field, strict, declared=False)


def encode_documents(df: DataFrame, key_field: str, strict: bool = True) -> DataFrame:
    """Encode every row as ``(_id, doc)`` — doc is a JSON string with null
    fields omitted (the reference's skip-null rule)."""
    validate_doc_schema(df, key_field, strict=strict)
    payload_cols = [c for c in df.columns]
    doc = F.to_json(
        F.struct(*[F.col(c) for c in payload_cols]),
        {"ignoreNullFields": "true"},  # MapRDBJSONSink.java:131 skip-null
    )
    return df.select(F.col(key_field).cast("string").alias("_id"), doc.alias("doc")).filter(
        F.col("_id").isNotNull()  # key must be non-null (MapRDBJSONSink.java:140-144)
    )


def write_document_table(
    df: DataFrame,
    path: str,
    key_field: str,
    mode: str = "overwrite",
    strict: bool = True,
    fmt: str = "parquet",
) -> None:
    """Write the keyed-document encoding to a table path.

    The reference hands (key, OJAI document) pairs to a Hadoop
    OutputFormat (MapRDBJSONSink.java:67-110); the Spark-native
    equivalent is a driver-coordinated DataSource commit — strictly
    stronger task-commit semantics. Documents are written sorted within
    partitions by ``_id`` so point lookups can skip row groups on the
    ``_id`` min/max statistics.
    """
    encoded = encode_documents(df, key_field, strict=strict)
    (
        encoded.repartition(F.col("_id"))
        .sortWithinPartitions("_id")
        .write.mode(mode)
        .format(fmt)
        .save(path)
    )


def read_document_table(
    spark, path: str, schema: str, key_field: str, fmt: str = "parquet"
) -> DataFrame:
    """Read a keyed document table back into typed records — the inverse
    of the A5 encode (the reference's read side lives in MapR-DB itself;
    here the table is self-contained).

    ``schema`` is the declared DDL of the original record (the engine's
    explicit-schema contract — no inference over the JSON docs). Fields
    skipped at write time (the skip-null rule) come back as NULL, so
    ``read(write(df)) == df`` for key-complete rows. The decode is one
    ``from_json`` projection — codegen'd, zero shuffle, mirroring the
    encode path.
    """
    raw = spark.read.format(fmt).load(path)
    rec = raw.select(F.from_json(F.col("doc"), schema).alias("r"), F.col("_id"))
    # the key column inside the doc is authoritative; _id is its string
    # rendering (kept for provenance checks, dropped from the record)
    return rec.select("r.*")
