"""Source/sink connectors (SURVEY §2.1 S10/S11 analog surface).

The reference's "sources" are broker queues (Redis lists / RMQ queues);
the engine's sources are storage formats + streams. This module gives
the uniform load/save surface: batch formats (parquet/csv/json/orc)
and streaming file sources.

Scale defaults: writers partition by the supplied columns (partition
pruning on read), `maxFilesPerTrigger` bounds streaming admission, CSV/
JSON readers take explicit schemas (schema inference is a full extra
scan at 100 TB — never in production paths).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BATCH_FORMATS = ("parquet", "csv", "json", "orc")


def load(spark: SparkSession, path: str, fmt: str = "parquet",
         schema: T.StructType | str | None = None, **options) -> DataFrame:
    if fmt not in BATCH_FORMATS:
        raise ValueError(f"unsupported format {fmt!r} (supported: {BATCH_FORMATS})")
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt in ("csv", "json"):
        # inference = an extra full scan; allow it but make it explicit
        reader = reader.option("inferSchema", "true")
    if fmt == "csv":
        options.setdefault("header", "true")
    return reader.options(**options).load(path)


def save(df: DataFrame, path: str, fmt: str = "parquet",
         mode: str = "error", partition_by: list[str] | None = None,
         **options) -> None:
    if fmt not in BATCH_FORMATS:
        raise ValueError(f"unsupported format {fmt!r} (supported: {BATCH_FORMATS})")
    if fmt == "csv":
        options.setdefault("header", "true")
    writer = df.write.format(fmt).mode(mode).options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def load_stream(spark: SparkSession, path: str, schema: T.StructType | str,
                fmt: str = "parquet", max_files_per_trigger: int = 512,
                **options) -> DataFrame:
    """Streaming file source — explicit schema required (streaming scans
    cannot infer), admission-controlled per trigger."""
    return (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .options(**options)
        .load(path)
    )


def load_jsonl_quarantined(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    required: tuple = ("doc_id", "text"),
):
    """JSONL ingestion front door: returns ``(good, quarantined)``.

    At corpus scale raw feeds ALWAYS contain garbage — truncated
    lines, wrong types, missing fields. The contract a production
    ingest needs is: never fail the job on a bad record, never
    silently drop one. Lines are read as TEXT and parsed with
    ``from_json``, so every quarantine row carries the ORIGINAL line
    verbatim — including fields outside ``schema`` — and is replayable
    after a parser/contract fix. (Re-serializing a schema projection
    would silently lose extra fields; the corrupt-record reader path
    would need a session-lifetime persist to dodge SPARK-21610.)

    Quarantine reasons: ``unparseable`` (from_json yields NULL — bad
    syntax / non-object) or ``missing:<field>`` per violated
    ``required`` field. ``good`` and ``quarantined`` share one text
    scan per action; persist the inputs upstream if both sides are
    consumed repeatedly.
    """
    lines = (
        spark.read.text(path)
        .filter(F.length(F.trim("value")) > 0)  # blank lines aren't data
        .select(F.col("value").alias("raw"))
    )
    # from_json PERMISSIVE yields an all-null struct for bad syntax, so
    # a parse-failure sentinel column is the only reliable signal
    parse_schema = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt", T.StringType())]
    )
    parsed = lines.select(
        "raw",
        F.from_json(
            "raw", parse_schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ).alias("j"),
    )
    bad_parse = F.col("j").isNull() | F.col("j._corrupt").isNotNull()
    unparseable = parsed.filter(bad_parse).select(
        "raw", F.lit("unparseable").alias("reason")
    )
    rows = parsed.filter(~bad_parse)
    good_all = rows.select("raw", *[F.col(f"j.{f.name}").alias(f.name) for f in schema.fields])
    contract_ok = None
    for field in required:
        cond = F.col(field).isNotNull()
        contract_ok = cond if contract_ok is None else (contract_ok & cond)
    if contract_ok is None:
        return good_all.drop("raw"), unparseable
    reason = F.concat_ws(
        ",",
        *[
            F.when(F.col(f).isNull(), F.lit(f"missing:{f}"))
            for f in required
        ],
    )
    violations = good_all.filter(~contract_ok).select(
        "raw", reason.alias("reason")
    )
    good = good_all.filter(contract_ok).drop("raw")
    return good, unparseable.unionByName(violations)
