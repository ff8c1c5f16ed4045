"""CSV and Hive-text sinks — OP-18/OP-19, plus value serialization
(OP-15) at the text boundary.

Reference parity:
  - OP-18 ``CSVFileHandler`` (``handler/csv_handler.py:22-107``):
    quoted CSV (QUOTE_ALL default), optional header, configurable
    delimiter/quote/escape/encoding/null token →
    ``df.write.csv(quoteAll=True, header=…, sep=…, nullValue=…)``.
  - OP-19 ``HiveCSVFileHandler`` (``csv_handler.py:110-137``;
    delimiters ``const.py:9-13``): ``\\x01``-delimited unquoted text,
    ``\\N`` nulls, one line per row.
  - OP-15 value serialization (``csv_handler.py:71-78``): nested
    containers (array/map/struct) become a JSON string in the cell —
    here ``F.to_json`` applied only to complex-typed columns, only at
    this boundary; inside the engine they stay first-class types.
  - OP-16 control-char escaping (``utils/escape.py:10-25``): the CSV
    writer's quote/escape options handle it; Hive-text strips the
    delimiter bytes the way the reference's translate-table protects
    them.

Reading back: ``read_csv`` / ``read_hive_text`` accept an explicit
schema (the engine never infers "from the first row" — SURVEY §1.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

HIVE_FIELD_DELIMITER = "\x01"  # reference const.py:9
HIVE_NULL = r"\N"  # reference const.py:13


def serialize_complex_columns(df: DataFrame) -> DataFrame:
    """OP-15: JSON-encode nested columns for a text sink
    (reference ``csv_handler.py:74-75`` / ``utils/json.py:12-14``).

    Parity notes: the reference's ``const.py:10-12`` declares Hive
    collection delimiters (``\\x02``/``\\x03``) but never uses them —
    its handlers JSON-encode nested values, exactly as here. Documented
    deviation: its ``json_dumps`` returns None for EMPTY containers
    (``utils/json.py:12-13``), which then bypasses the null-token path
    ('' in CSV cells, the literal string "None" in Hive text,
    ``csv_handler.py:71-78,119-121``); we emit the faithful ``[]`` /
    ``{}`` instead of reproducing that falsy-coercion quirk."""
    return _rewrite(df, (T.ArrayType, T.MapType, T.StructType), F.to_json)


def write_csv(
    df: DataFrame,
    path: str,
    header: bool = True,
    delimiter: str = ",",
    quote_all: bool = True,
    null_token: str = "",
    encoding: str = "UTF-8",
    mode: str = "overwrite",
    **options: str,
) -> None:
    """OP-18: quoted-CSV sink with the reference handler's knobs.
    Extra writer options (timestampFormat, compression, ...) pass
    through to the Spark CSV writer."""
    (
        serialize_complex_columns(df)
        .write.mode(mode)
        .options(
            header=header,
            sep=delimiter,
            quoteAll=quote_all,
            nullValue=null_token,
            encoding=encoding,
            escape='"',  # RFC-4180 doubled-quote escaping
            **options,
        )
        .csv(path)
    )


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    header: bool = True,
    delimiter: str = ",",
    null_token: str = "",
    multi_line: bool = True,
    **options: str,
) -> DataFrame:
    """``multi_line=True`` parses quoted embedded newlines/CRs
    correctly but makes files non-splittable (one task per file) —
    disable it for scale when values are known newline-free. Extra
    reader options pass through to the Spark CSV reader."""
    return (
        spark.read.schema(schema)
        .options(
            header=header,
            sep=delimiter,
            nullValue=null_token,
            escape='"',
            multiLine=multi_line,
            **options,
        )
        .csv(path)
    )


def _strip_hive_control_chars(df: DataFrame) -> DataFrame:
    """OP-16: protect the Hive text delimiters inside string values
    (reference ``utils/escape.py:10-25`` escapes \\0 \\x01 \\n \\r; an
    unquoted text format cannot represent them, so they are removed —
    same effect as the reference's escape-on-write for round-trips)."""
    return _rewrite(
        df, T.StringType, lambda c: F.regexp_replace(c, "[\x00\x01\x02\x03\n\r]", " ")
    )


def _rewrite(df: DataFrame, types, fn) -> DataFrame:
    """``df`` with ``fn`` applied to every column whose type is one of
    ``types``, in one projection (``df`` itself when none is)."""
    cols = {f.name: fn(F.col(f.name)) for f in df.schema.fields if isinstance(f.dataType, types)}
    return df.withColumns(cols) if cols else df


def write_hive_text(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """OP-19: ``\\x01``-delimited, unquoted, ``\\N``-null Hive text."""
    (
        _strip_hive_control_chars(serialize_complex_columns(df))
        .write.mode(mode)
        .options(
            header=False,
            sep=HIVE_FIELD_DELIMITER,
            nullValue=HIVE_NULL,
            quote="",  # unquoted — Hive text has no quoting concept
            emptyValue="",
        )
        .csv(path)
    )


def read_hive_text(
    spark: SparkSession, path: str, schema: T.StructType | str
) -> DataFrame:
    return (
        spark.read.schema(schema)
        .options(
            header=False,
            sep=HIVE_FIELD_DELIMITER,
            nullValue=HIVE_NULL,
            quote="",
        )
        .csv(path)
    )


def write_json(df: DataFrame, path: str, mode: str = "overwrite", **options) -> None:
    """JSON-lines sink (SURVEY §1.4: Spark-native format family beyond
    the reference's TEXTFILE/PARQUET usage). Timestamps serialize as
    ISO-8601; nested types are first-class, no OP-15 pre-serialization
    needed."""
    df.write.mode(mode).options(**options).json(path)


def read_json(spark: SparkSession, path: str, schema: str, **options) -> DataFrame:
    """Schema-explicit JSON-lines reader (schemas are never inferred
    from data — SURVEY §1.3)."""
    return spark.read.schema(schema).options(**options).json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — columnar alternative the reference only declares
    (const.py:19-26 lists ORC, never writes it)."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC reader (self-describing schema, like parquet)."""
    return spark.read.orc(path)
