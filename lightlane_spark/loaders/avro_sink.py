"""Avro sink/source without the spark-avro jar: a pure-Python codec
for the Avro 1.x Object Container File format (public spec:
https://avro.apache.org/docs/current/specification/) driven through
``mapInPandas`` — one container file per partition, Arrow batches in.

Why hand-rolled: the reference lists AVRO among its Hive storage
formats (reference ``const.py:19-26``), but this container has neither
the ``spark-avro`` datasource jar nor a Python avro library, and the
format family matters for interop (Kafka/schema-registry pipelines).
The container format is small: a header (magic, metadata map carrying
the record schema JSON + codec, 16-byte sync marker) followed by data
blocks (row count, payload size, binary-encoded records, sync). The
binary encoding is zigzag varints for ints/longs, length-prefixed
UTF-8/bytes, little-endian IEEE floats, union index prefixes for
nullables — all implemented below, both directions, so the round-trip
is verified end-to-end by our own reader AND stays byte-compatible
with standard Avro tooling.

Scale shape: the write is map-only (each task serializes its own
partition straight to one file; no shuffle, no driver materialization)
and the read parallelizes one task per file. Paths must be on a
filesystem every executor can reach (local/NFS here; on object stores
swap the ``open()`` calls for an fsspec filesystem — the encoding is
unchanged).

Supported Spark types: boolean, int, bigint, float, double, string,
binary, date (Avro ``date`` logical type), timestamp_ntz /
timestamp (``timestamp-micros``) — nullable via Avro unions.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import struct
from collections.abc import Iterator
from types import MappingProxyType

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MAGIC = b"Obj\x01"

# ---------------------------------------------------------------------------
# schema mapping
# ---------------------------------------------------------------------------

_SPARK_TO_AVRO = MappingProxyType({
    T.BooleanType: "boolean",
    T.IntegerType: "int",
    T.ShortType: "int",
    T.ByteType: "int",
    T.LongType: "long",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.StringType: "string",
    T.BinaryType: "bytes",
})


def _avro_type(dt: T.DataType):
    if type(dt) in _SPARK_TO_AVRO:
        return _SPARK_TO_AVRO[type(dt)]
    if isinstance(dt, T.DateType):
        return {"type": "int", "logicalType": "date"}
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return {"type": "long", "logicalType": "timestamp-micros"}
    raise TypeError(f"avro_sink: unsupported Spark type {dt.simpleString()}")


def avro_schema_json(schema: T.StructType, name: str = "spark_record") -> str:
    """Avro record schema for a Spark StructType (nullable → union)."""
    fields = []
    for f in schema.fields:
        at = _avro_type(f.dataType)
        fields.append(
            {"name": f.name, "type": ["null", at] if f.nullable else at}
        )
    return json.dumps({"type": "record", "name": name, "fields": fields})


# ---------------------------------------------------------------------------
# binary encoding (spec: zigzag varint longs, length-prefixed bytes,
# little-endian IEEE floats)
# ---------------------------------------------------------------------------


def _w_long(buf: io.BytesIO, n: int) -> None:
    n = (n << 1) ^ (n >> 63)  # zigzag
    while n & ~0x7F:
        buf.write(bytes((0x80 | (n & 0x7F),)))
        n >>= 7
    buf.write(bytes((n,)))


def _w_bytes(buf: io.BytesIO, b: bytes) -> None:
    _w_long(buf, len(b))
    buf.write(b)


def _encoder_for(dt: T.DataType):
    """value-encoder closure for one (non-null) Spark type."""
    t = type(dt)
    if t is T.BooleanType:
        return lambda buf, v: buf.write(b"\x01" if v else b"\x00")
    if t in (T.IntegerType, T.ShortType, T.ByteType, T.LongType):
        return lambda buf, v: _w_long(buf, int(v))
    if t is T.FloatType:
        return lambda buf, v: buf.write(struct.pack("<f", float(v)))
    if t is T.DoubleType:
        return lambda buf, v: buf.write(struct.pack("<d", float(v)))
    if t is T.StringType:
        return lambda buf, v: _w_bytes(buf, str(v).encode("utf-8"))
    if t is T.BinaryType:
        return lambda buf, v: _w_bytes(buf, bytes(v))
    if t is T.DateType:
        # days since unix epoch (int, logicalType date)
        epoch = pd.Timestamp("1970-01-01")
        return lambda buf, v: _w_long(buf, (pd.Timestamp(v) - epoch).days)
    if t in (T.TimestampType, T.TimestampNTZType):
        epoch = pd.Timestamp("1970-01-01")
        return lambda buf, v: _w_long(
            buf, (pd.Timestamp(v) - epoch) // pd.Timedelta(microseconds=1)
        )
    raise TypeError(f"avro_sink: unsupported Spark type {dt.simpleString()}")


def _encode_batch(pdf: pd.DataFrame, schema: T.StructType) -> tuple[bytes, int]:
    encs = [(f.name, f.nullable, _encoder_for(f.dataType)) for f in schema.fields]
    buf = io.BytesIO()
    n = len(pdf)
    cols = {name: pdf[name].tolist() for name, _, _ in encs}
    for i in range(n):
        for name, nullable, enc in encs:
            v = cols[name][i]
            is_null = v is None or (v != v if isinstance(v, float) else False) or v is pd.NaT
            if nullable:
                if is_null:
                    _w_long(buf, 0)  # union branch: null
                    continue
                _w_long(buf, 1)  # union branch: value
            elif is_null:
                raise ValueError(f"null in non-nullable field {name}")
            enc(buf, v)
    return buf.getvalue(), n


# ---------------------------------------------------------------------------
# container file
# ---------------------------------------------------------------------------


def _header(schema_json: str, sync: bytes) -> bytes:
    buf = io.BytesIO()
    buf.write(_MAGIC)
    _w_long(buf, 2)  # metadata map: one block of 2 entries
    _w_bytes(buf, b"avro.schema")
    _w_bytes(buf, schema_json.encode("utf-8"))
    _w_bytes(buf, b"avro.codec")
    _w_bytes(buf, b"null")
    _w_long(buf, 0)  # end of map
    buf.write(sync)
    return buf.getvalue()


def write_avro(df: DataFrame, path: str, mode: str = "errorifexists") -> int:
    """Write ``df`` as Avro container files, one per partition
    (``part-NNNNN.avro``); returns total rows written. Map-only: each
    task streams its Arrow batches through the encoder straight to its
    own file. The sync marker is derived from (schema, partition), so
    output bytes are deterministic for deterministic input order.

    ``mode``: ``"errorifexists"`` (Spark's default — refuse a
    directory that already holds .avro files; a second write would
    silently clobber same-numbered part files) or ``"overwrite"``
    (remove existing .avro part files first)."""
    # the encoder closures reference module-level codec functions,
    # which cloudpickle ships BY REFERENCE — workers must be able to
    # import lightlane_spark (shipping.py zips it onto their sys.path)
    from lightlane_spark.shipping import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)
    schema = df.schema
    sj = avro_schema_json(schema)
    os.makedirs(path, exist_ok=True)
    existing = [f for f in os.listdir(path) if f.endswith(".avro")]
    if existing:
        if mode == "overwrite":
            for f in existing:
                os.remove(os.path.join(path, f))
        elif mode == "errorifexists":
            raise FileExistsError(
                f"avro sink target {path} already holds {len(existing)} part "
                "files; pass mode='overwrite' to replace them"
            )
        else:
            raise ValueError(f"unknown mode {mode!r}")

    def write_parts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        sync = hashlib.md5(f"{sj}|{pid}".encode()).digest()
        fpath = os.path.join(path, f"part-{pid:05d}.avro")
        total = 0
        out = None
        try:
            for pdf in batches:
                if pdf.empty:
                    continue
                if out is None:  # empty partitions produce no file
                    out = open(fpath, "wb")
                    out.write(_header(sj, sync))
                payload, n = _encode_batch(pdf, schema)
                blk = io.BytesIO()
                _w_long(blk, n)
                _w_long(blk, len(payload))
                out.write(blk.getvalue())
                out.write(payload)
                out.write(sync)
                total += n
        finally:
            if out is not None:
                out.close()
        yield pd.DataFrame({"path": [fpath if total else ""], "n_rows": [total]})

    res = df.mapInPandas(write_parts, schema="path string, n_rows bigint")
    return sum(r.n_rows for r in res.collect())


# ---------------------------------------------------------------------------
# decoding
# ---------------------------------------------------------------------------


def _r_long(mv: memoryview, pos: int) -> tuple[int, int]:
    shift = acc = 0
    while True:
        b = mv[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos  # un-zigzag


def _r_bytes(mv: memoryview, pos: int) -> tuple[bytes, int]:
    n, pos = _r_long(mv, pos)
    return bytes(mv[pos : pos + n]), pos + n


def _decoder_for_avro(at):
    """Decoder for one non-null Avro field type (str or dict form)."""
    logical = None
    if isinstance(at, dict):
        logical = at.get("logicalType")
        at = at["type"]
    if at == "boolean":
        return lambda mv, pos: (mv[pos] == 1, pos + 1)
    if at in ("int", "long"):
        if logical == "date":
            def rd(mv, pos):
                d, pos = _r_long(mv, pos)
                return (pd.Timestamp("1970-01-01") + pd.Timedelta(days=d)).date(), pos
            return rd
        if logical in ("timestamp-micros", "local-timestamp-micros"):
            def rt(mv, pos):
                us, pos = _r_long(mv, pos)
                return pd.Timestamp("1970-01-01") + pd.Timedelta(microseconds=us), pos
            return rt
        return _r_long
    if at == "float":
        return lambda mv, pos: (struct.unpack("<f", mv[pos : pos + 4])[0], pos + 4)
    if at == "double":
        return lambda mv, pos: (struct.unpack("<d", mv[pos : pos + 8])[0], pos + 8)
    if at == "string":
        def rs(mv, pos):
            b, pos = _r_bytes(mv, pos)
            return b.decode("utf-8"), pos
        return rs
    if at == "bytes":
        return _r_bytes
    raise TypeError(f"avro_sink: unsupported Avro type {at!r}")


def _decode_file(data: bytes, schema: T.StructType) -> pd.DataFrame:
    mv = memoryview(data)
    if bytes(mv[:4]) != _MAGIC:
        raise ValueError("not an Avro container file")
    pos = 4
    meta = {}
    while True:
        cnt, pos = _r_long(mv, pos)
        if cnt == 0:
            break
        if cnt < 0:  # spec: negative count is followed by a byte size
            _blk_size, pos = _r_long(mv, pos)
        for _ in range(abs(cnt)):
            k, pos = _r_bytes(mv, pos)
            v, pos = _r_bytes(mv, pos)
            meta[k.decode()] = v
    if meta.get("avro.codec", b"null") not in (b"null",):
        raise ValueError(f"unsupported codec {meta['avro.codec']!r}")
    sync = bytes(mv[pos : pos + 16])
    pos += 16
    # Decode per the EMBEDDED writer schema: union-vs-plain layout
    # follows how the bytes were written, not the reader's nullability
    # preferences (a reader DDL says what it can accept; the writer
    # schema says what is on disk).
    writer = json.loads(meta["avro.schema"].decode("utf-8"))
    decs = []
    for fld in writer["fields"]:
        at = fld["type"]
        nullable = isinstance(at, list)
        if nullable:
            non_null = [t for t in at if t != "null"]
            if len(non_null) != 1:
                raise TypeError(f"avro_sink: unsupported union {at!r}")
            at = non_null[0]
        decs.append((fld["name"], nullable, _decoder_for_avro(at)))
    want = [f.name for f in schema.fields]
    have = [name for name, _, _ in decs]
    if sorted(want) != sorted(have):
        raise ValueError(f"avro_sink: schema mismatch — file has {have}, reader wants {want}")
    cols: dict[str, list] = {name: [] for name, _, _ in decs}
    end = len(data)
    while pos < end:
        n, pos = _r_long(mv, pos)
        _size, pos = _r_long(mv, pos)
        for _ in range(n):
            for name, nullable, dec in decs:
                if nullable:
                    branch, pos = _r_long(mv, pos)
                    if branch == 0:
                        cols[name].append(None)
                        continue
                v, pos = dec(mv, pos)
                cols[name].append(v)
        if bytes(mv[pos : pos + 16]) != sync:
            raise ValueError("sync marker mismatch (corrupt block)")
        pos += 16
    return pd.DataFrame(cols)


def read_avro(spark: SparkSession, path: str, ddl_schema: str) -> DataFrame:
    """Read a ``write_avro`` directory (or any null-codec Avro
    container files of matching shape) into a DataFrame. One task per
    file; ``ddl_schema`` fixes the output schema (the embedded writer
    schema is validated structurally during decode)."""
    from lightlane_spark.shipping import ensure_package_shipped

    ensure_package_shipped(spark)
    schema = T.StructType.fromDDL(ddl_schema)
    files = sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".avro")
    )
    if not files:
        return spark.createDataFrame([], schema)
    from lightlane_spark.sources.localrel import local_df

    paths_df = local_df(
        spark, [(f,) for f in files], "file_path string"
    ).repartition(len(files), F.col("file_path"))

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for fpath in pdf["file_path"]:
                with open(fpath, "rb") as fh:
                    out = _decode_file(fh.read(), schema)
                if not out.empty:
                    yield out

    return paths_df.mapInPandas(decode, schema=schema)
