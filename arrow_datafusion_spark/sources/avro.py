"""Avro container-file source — AvroExec parity without the spark-avro jar.

The reference ships a read-only Avro scan
(/root/reference/datafusion/core/src/datasource/physical_plan/avro.rs:38;
no writer in file_format/avro.rs). This container lacks the spark-avro
connector, so the scan is implemented from the public Avro 1.x spec
directly and exposed through PySpark's Python Data Source API
(``spark.read.format("avro_py")``):

- Planning (driver): read each file's header (magic ``Obj\\x01``, metadata
  map carrying ``avro.schema`` JSON + ``avro.codec``, 16-byte sync marker)
  and walk the block index (count varint, size varint, payload, sync) to
  emit ONE InputPartition PER BLOCK — the same block-level split
  parallelism AvroExec gets from object-store ranges. Header walking reads
  only varint prefixes, not payloads.
- Execution (executors): each task seeks to its block, inflates it
  (``null`` or ``deflate`` codec — zlib raw), and decodes rows with the
  spec's binary encoding (zigzag-varint longs, little-endian IEEE floats,
  length-prefixed strings/bytes, union-index-prefixed nullable fields).

Supported schema: a record whose field types may be primitives (boolean,
int, long, float, double, string, bytes), arrays, maps (string keys, per
the spec), nested records, and ``["null", T]`` unions of any of those —
the same composite coverage as the reference's avro_to_arrow schema
mapping (datafusion/core/src/datasource/avro_to_arrow/schema.rs).

Write side (BEYOND the reference, which is reader-only): ``write_avro``
(single container file), ``write_avro_partitioned`` (distributed — one
part file per DataFrame partition, written on the executors and counted
in the same pass),
and ``avro_schema_of`` (Spark schema → Avro record schema). Exposed
publicly through ``COPY ... TO ... STORED AS AVRO`` and the facade's
``write_avro``; temporal columns are rejected with a cast hint rather
than silently round-tripping as bare longs (Avro logical types are not
decoded by this reader).
"""

from __future__ import annotations

import io
import json
import struct
import zlib
from collections.abc import Iterator

MAGIC = b"Obj\x01"


# ---------------------------------------------------------------- binary codec
def _zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _write_long(buf: io.BytesIO, n: int) -> None:
    z = _zigzag_encode(n)
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            buf.write(bytes((b | 0x80,)))
        else:
            buf.write(bytes((b,)))
            break


def _read_long(buf: io.BytesIO) -> int:
    shift = 0
    acc = 0
    while True:
        (b,) = buf.read(1)
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return _zigzag_decode(acc)
        shift += 7


def _compress(codec: str, payload: bytes) -> bytes:
    """Block compression, per the Avro 1.x codec registry (null, deflate,
    bzip2, xz, snappy, zstandard — the same set apache-avro gives the
    reference's AvroExec). snappy appends a 4-byte big-endian CRC32 of the
    UNCOMPRESSED data per the spec; zstd/snappy route through pyarrow's
    bundled codecs, bzip2/xz through the stdlib."""
    if codec == "null":
        return payload
    if codec == "deflate":
        return zlib.compress(payload)[2:-4]  # raw deflate per spec
    if codec == "bzip2":
        import bz2

        return bz2.compress(payload)
    if codec == "xz":
        import lzma

        return lzma.compress(payload)
    if codec == "snappy":
        import pyarrow as pa

        comp = pa.Codec("snappy").compress(payload, asbytes=True)
        return comp + struct.pack(">I", zlib.crc32(payload) & 0xFFFFFFFF)
    if codec == "zstandard":
        import pyarrow as pa

        return pa.Codec("zstd").compress(payload, asbytes=True)
    raise ValueError(f"unsupported codec {codec!r}")


def _snappy_uncompressed_len(comp: bytes) -> int:
    """Raw snappy data leads with a varint of the uncompressed length."""
    n = shift = i = 0
    while True:
        b = comp[i]
        n |= (b & 0x7F) << shift
        i += 1
        if not b & 0x80:
            return n
        shift += 7


def _zstd_content_size(frame: bytes) -> int:
    """Frame-header content size (RFC 8878 §3.1.1) — present in every
    single-shot pyarrow/zstd frame this writer produces."""
    if len(frame) < 6 or struct.unpack("<I", frame[:4])[0] != 0xFD2FB528:
        raise ValueError("not a zstd frame")
    fhd = frame[4]
    fcs_flag, single_segment = fhd >> 6, (fhd >> 5) & 1
    pos = 5
    if not single_segment:
        pos += 1  # window descriptor
    pos += (0, 1, 2, 4)[fhd & 3]  # dictionary id
    nbytes = (1 if single_segment else 0, 2, 4, 8)[fcs_flag]
    if not nbytes:
        raise ValueError("zstd frame carries no content size")
    val = int.from_bytes(frame[pos : pos + nbytes], "little")
    return val + 256 if fcs_flag == 1 else val


def _decompress(codec: str, payload: bytes) -> bytes:
    if codec == "null":
        return payload
    if codec == "deflate":
        return zlib.decompress(payload, wbits=-15)
    if codec == "bzip2":
        import bz2

        return bz2.decompress(payload)
    if codec == "xz":
        import lzma

        return lzma.decompress(payload)
    if codec == "snappy":
        import pyarrow as pa

        comp, crc = payload[:-4], payload[-4:]
        out = pa.Codec("snappy").decompress(
            comp, decompressed_size=_snappy_uncompressed_len(comp), asbytes=True
        )
        if struct.pack(">I", zlib.crc32(out) & 0xFFFFFFFF) != crc:
            raise ValueError("snappy block CRC mismatch")
        return out
    if codec == "zstandard":
        import pyarrow as pa

        return pa.Codec("zstd").decompress(
            payload, decompressed_size=_zstd_content_size(payload), asbytes=True
        )
    raise ValueError(f"unsupported codec {codec!r}")


def _write_value(buf: io.BytesIO, typ, v) -> None:
    """Recursive binary encoder over an Avro type (str primitive, list union,
    or dict complex — array/map/record per the 1.x spec)."""
    if isinstance(typ, list):  # ["null", T] union: zigzag branch index first
        if v is None:
            _write_long(buf, typ.index("null"))
            return
        branch = next(i for i, t in enumerate(typ) if t != "null")
        _write_long(buf, branch)
        _write_value(buf, typ[branch], v)
    elif isinstance(typ, dict):
        kind = typ["type"]
        if kind == "array":
            if v:
                _write_long(buf, len(v))
                for item in v:
                    _write_value(buf, typ["items"], item)
            _write_long(buf, 0)  # block terminator
        elif kind == "map":
            if v:
                _write_long(buf, len(v))
                for k, item in v.items():
                    _write_value(buf, "string", k)
                    _write_value(buf, typ["values"], item)
            _write_long(buf, 0)
        elif kind == "record":
            for f, item in zip(typ["fields"], v):
                _write_value(buf, f["type"], item)
        elif kind == "enum":  # spec: zigzag index into the symbol list
            _write_long(buf, typ["symbols"].index(v))
        elif kind == "fixed":  # spec: exactly `size` raw bytes
            raw = bytes(v)
            if len(raw) != typ["size"]:
                raise ValueError(f"fixed size mismatch: {len(raw)} != {typ['size']}")
            buf.write(raw)
        else:  # {"type": "long"}-style wrapping of a primitive
            _write_value(buf, kind, v)
    elif typ == "boolean":
        buf.write(b"\x01" if v else b"\x00")
    elif typ in ("int", "long"):
        _write_long(buf, int(v))
    elif typ == "float":
        buf.write(struct.pack("<f", float(v)))
    elif typ == "double":
        buf.write(struct.pack("<d", float(v)))
    elif typ == "string":
        raw = str(v).encode("utf-8")
        _write_long(buf, len(raw))
        buf.write(raw)
    elif typ == "bytes":
        _write_long(buf, len(v))
        buf.write(bytes(v))
    else:
        raise ValueError(f"unsupported avro type {typ!r}")


def _read_value(buf: io.BytesIO, typ):
    """Recursive binary decoder — inverse of _write_value. Arrays decode to
    lists, maps to dicts, nested records to tuples (the shapes PySpark's
    Python Data Source maps onto array/map/struct columns)."""
    if isinstance(typ, list):  # union: zigzag branch index prefix
        branch = typ[_read_long(buf)]
        return None if branch == "null" else _read_value(buf, branch)
    if isinstance(typ, dict):
        kind = typ["type"]
        if kind == "array":
            out = []
            while True:
                n = _read_long(buf)
                if n == 0:
                    return out
                if n < 0:  # spec: negative count → byte size follows
                    _read_long(buf)
                    n = -n
                for _ in range(n):
                    out.append(_read_value(buf, typ["items"]))
        if kind == "map":
            out = {}
            while True:
                n = _read_long(buf)
                if n == 0:
                    return out
                if n < 0:
                    _read_long(buf)
                    n = -n
                for _ in range(n):
                    k = _read_value(buf, "string")
                    out[k] = _read_value(buf, typ["values"])
        if kind == "record":
            return tuple(_read_value(buf, f["type"]) for f in typ["fields"])
        if kind == "enum":
            return typ["symbols"][_read_long(buf)]
        if kind == "fixed":
            return buf.read(typ["size"])
        return _read_value(buf, kind)
    if typ == "boolean":
        return buf.read(1) == b"\x01"
    if typ in ("int", "long"):
        return _read_long(buf)
    if typ == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if typ == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if typ == "string":
        return buf.read(_read_long(buf)).decode("utf-8")
    if typ == "bytes":
        return buf.read(_read_long(buf))
    raise ValueError(f"unsupported avro type {typ!r}")


def _field_types(schema: dict) -> list[tuple[str, object, bool]]:
    """→ [(name, type_json, nullable)] for a record schema; type_json is the
    field's Avro type with any ["null", T] union unwrapped to T."""
    if schema.get("type") != "record":
        raise ValueError("only record schemas supported")
    out = []
    for f in schema["fields"]:
        t = f["type"]
        if isinstance(t, list):  # ["null", T] union
            nn = [x for x in t if x != "null"]
            if len(nn) != 1:
                raise ValueError(f"unsupported union {t!r}")
            out.append((f["name"], nn[0], True))
        else:
            out.append((f["name"], t, False))
    return out


# ---------------------------------------------------------------- file writer
def write_avro(
    path: str,
    schema: dict,
    rows: list[tuple],
    codec: str = "deflate",
    sync_marker: bytes = b"\x00" * 16,
    rows_per_block: int = 1000,
) -> None:
    """Minimal container-file writer (fixtures/tests only — the engine's
    Avro surface is read-only, matching the reference)."""
    fields = _field_types(schema)
    with open(path, "wb") as fh:
        fh.write(MAGIC)
        meta = {
            "avro.schema": json.dumps(schema).encode(),
            "avro.codec": codec.encode(),
        }
        head = io.BytesIO()
        _write_long(head, len(meta))
        for k, v in meta.items():
            _write_value(head, "string", k)
            _write_value(head, "bytes", v)
        _write_long(head, 0)  # end of metadata map
        fh.write(head.getvalue())
        fh.write(sync_marker)
        for start in range(0, len(rows), rows_per_block):
            chunk = rows[start : start + rows_per_block]
            body = io.BytesIO()
            for row in chunk:
                for (name, typ, nullable), v in zip(fields, row):
                    if nullable:
                        _write_long(body, 0 if v is None else 1)
                        if v is None:
                            continue
                    _write_value(body, typ, v)
            payload = _compress(codec, body.getvalue())
            blk = io.BytesIO()
            _write_long(blk, len(chunk))
            _write_long(blk, len(payload))
            fh.write(blk.getvalue())
            fh.write(payload)
            fh.write(sync_marker)


def avro_schema_of(spark_schema, name: str = "spark_graft") -> dict:
    """Spark StructType → Avro record schema (the inverse of
    ``_spark_type``; every type it emits round-trips through this module's
    reader with the same Spark DDL type). Temporal types are REJECTED with
    a cast hint: the reader decodes no Avro logical types, so a
    timestamp/date written as a bare long/int would silently change type
    on read-back."""
    from pyspark.sql import types as T

    def conv(dt, nullable: bool):
        if isinstance(dt, T.BooleanType):
            t: object = "boolean"
        elif isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
            t = "int"
        elif isinstance(dt, T.LongType):
            t = "long"
        elif isinstance(dt, T.FloatType):
            t = "float"
        elif isinstance(dt, T.DoubleType):
            t = "double"
        elif isinstance(dt, T.StringType):
            t = "string"
        elif isinstance(dt, T.BinaryType):
            t = "bytes"
        elif isinstance(dt, T.ArrayType):
            t = {"type": "array", "items": conv(dt.elementType, dt.containsNull)}
        elif isinstance(dt, T.MapType):
            if not isinstance(dt.keyType, T.StringType):
                raise NotImplementedError(
                    "avro maps require string keys (Avro 1.x spec)"
                )
            t = {"type": "map", "values": conv(dt.valueType, dt.valueContainsNull)}
        elif isinstance(dt, T.StructType):
            t = {
                "type": "record",
                "name": f"r{abs(hash(dt.simpleString())) % 10**8}",
                "fields": [
                    {"name": f.name, "type": conv(f.dataType, f.nullable)}
                    for f in dt.fields
                ],
            }
        elif isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
            raise NotImplementedError(
                f"avro writer: temporal column type {dt.simpleString()} — "
                "cast to BIGINT (epoch units) or STRING first; this "
                "module's reader decodes no Avro logical types, so a bare "
                "long would silently change type on read-back"
            )
        else:
            raise NotImplementedError(
                f"avro writer: unsupported type {dt.simpleString()}"
            )
        return ["null", t] if nullable else t

    return {
        "type": "record",
        "name": name,
        "fields": [
            {"name": f.name, "type": conv(f.dataType, f.nullable)}
            for f in spark_schema.fields
        ],
    }


def write_avro_partitioned(
    df,
    path: str,
    schema: dict | None = None,
    codec: str = "deflate",
    rows_per_block: int = 1000,
    mode: str = "overwrite",
) -> list[int]:
    """Distributed Avro write: each DataFrame partition writes its own
    ``part-NNNNN.avro`` container file under ``path`` (executor-side — no
    driver materialization; the reader's dir scan picks up all parts).
    Targets a filesystem shared by the executors, the same contract as any
    Spark file sink. ``mode='append'`` numbers new parts from the max
    existing part index + 1 (``sink.open_part_dir``); schema defaults to
    ``avro_schema_of(df)``. Returns each partition's row count, from the
    same pass."""
    import os

    from arrow_datafusion_spark.sources.sink import open_part_dir

    if schema is None:
        schema = avro_schema_of(df.schema)
    offset = open_part_dir(path, mode)
    cols = [f["name"] for f in schema["fields"]]

    def _write_part(index, rows_iter):
        import arrow_datafusion_spark.worker  # noqa: F401  (zip shim)

        rows = [tuple(r[c] for c in cols) for r in rows_iter]
        if rows:
            write_avro(
                os.path.join(path, f"part-{index + offset:05d}.avro"),
                schema,
                rows,
                codec=codec,
                rows_per_block=rows_per_block,
            )
        yield len(rows)

    # mapPartitionsWithIndex, not foreachPartition: the action itself
    # hands back each partition's count (an Observation never fills on an
    # RDD action, which runs outside a SQL execution)
    return df.rdd.mapPartitionsWithIndex(_write_part).collect()


# ---------------------------------------------------------------- file reader
def read_header(fh) -> tuple[dict, str, bytes, int]:
    """→ (schema, codec, sync_marker, first_block_offset)."""
    if fh.read(4) != MAGIC:
        raise ValueError("not an avro container file")
    buf_meta: dict[str, bytes] = {}
    # metadata map: blocks of (count, k/v pairs) terminated by count 0
    while True:
        n = _read_long(fh)
        if n == 0:
            break
        for _ in range(abs(n)):
            k = _read_value(fh, "string")
            v = _read_value(fh, "bytes")
            buf_meta[k] = v
    sync = fh.read(16)
    schema = json.loads(buf_meta["avro.schema"].decode())
    codec = buf_meta.get("avro.codec", b"null").decode()
    return schema, codec, sync, fh.tell()


def block_index(path: str) -> tuple[dict, str, list[tuple[int, int, int]]]:
    """Walk block headers → (schema, codec, [(offset, n_rows, size)]).
    Seeks past payloads; reads only the two varint prefixes per block."""
    blocks = []
    with open(path, "rb") as fh:
        schema, codec, sync, pos = read_header(fh)
        fh.seek(0, 2)
        end = fh.tell()
        fh.seek(pos)
        while fh.tell() < end:
            n_rows = _read_long(fh)
            size = _read_long(fh)
            blocks.append((fh.tell(), n_rows, size))
            fh.seek(size + 16, 1)  # payload + sync marker
    return schema, codec, blocks


def decode_block(
    path: str, offset: int, n_rows: int, size: int, schema: dict, codec: str
) -> Iterator[tuple]:
    with open(path, "rb") as fh:
        fh.seek(offset)
        payload = fh.read(size)
    payload = _decompress(codec, payload)
    fields = _field_types(schema)
    buf = io.BytesIO(payload)
    for _ in range(n_rows):
        row = []
        for _name, typ, nullable in fields:
            if nullable and _read_long(buf) == 0:
                row.append(None)
                continue
            row.append(_read_value(buf, typ))
        yield tuple(row)


# ------------------------------------------------------- PySpark data source
_SPARK_TYPES = {
    "boolean": "boolean",
    "int": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "string": "string",
    "bytes": "binary",
}


def _spark_type(typ) -> str:
    """Avro type JSON → Spark DDL type (avro_to_arrow/schema.rs mapping)."""
    if isinstance(typ, list):
        nn = [t for t in typ if t != "null"]
        return _spark_type(nn[0])
    if isinstance(typ, dict):
        kind = typ["type"]
        if kind == "array":
            return f"array<{_spark_type(typ['items'])}>"
        if kind == "map":
            return f"map<string,{_spark_type(typ['values'])}>"
        if kind == "record":
            inner = ", ".join(
                f"{f['name']}: {_spark_type(f['type'])}" for f in typ["fields"]
            )
            return f"struct<{inner}>"
        if kind == "enum":  # avro_to_arrow: enum surfaces as its symbol text
            return "string"
        if kind == "fixed":  # fixed-size byte array → binary
            return "binary"
        return _spark_type(kind)
    return _SPARK_TYPES[typ]


def _spark_schema(schema: dict) -> str:
    return ", ".join(
        f"{name} {_spark_type(typ)}" for name, typ, _ in _field_types(schema)
    )


try:  # Python Data Source API (Spark 4+)
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class _AvroBlock(InputPartition):
        def __init__(
            self,
            path: str,
            offset: int,
            n_rows: int,
            size: int,
            schema: dict | None = None,
            codec: str = "null",
        ):
            self.path, self.offset, self.n_rows, self.size = path, offset, n_rows, size
            # per-FILE schema/codec: files in one directory may differ in
            # nullability unions (e.g. successive INSERT batches) — each
            # block must decode with its own file's header, not file[0]'s
            self.schema, self.codec = schema, codec

    class _AvroReader(DataSourceReader):
        def __init__(self, options):
            import glob as _glob
            import os as _os

            path = options["path"]
            self.files = sorted(
                _glob.glob(_os.path.join(path, "*.avro"))
                if _os.path.isdir(path)
                else [path]
            )
            self.schema, self.codec, _ = block_index(self.files[0])

        def partitions(self):
            parts = []
            for f in self.files:
                _schema, _codec, blocks = block_index(f)
                parts.extend(
                    _AvroBlock(f, *b, schema=_schema, codec=_codec)
                    for b in blocks
                )
            # a header-only container has zero blocks; Spark's Python
            # data source still requires ≥1 partition (it hands the
            # reader None otherwise) — emit one empty marker
            return parts or [_AvroBlock("", 0, 0, 0)]

        def read(self, partition: _AvroBlock):
            if not partition.path:  # empty-container marker
                return
            yield from decode_block(
                partition.path,
                partition.offset,
                partition.n_rows,
                partition.size,
                partition.schema,
                partition.codec,
            )

    class AvroDataSource(DataSource):
        """``spark.read.format("avro_py").load(path)`` — one Spark task per
        Avro block."""

        @classmethod
        def name(cls):
            return "avro_py"

        def schema(self):
            reader = _AvroReader(self.options)
            return _spark_schema(reader.schema)

        def reader(self, schema):
            return _AvroReader(self.options)

    def register(spark) -> None:
        spark.dataSource.register(AvroDataSource)

except ImportError:  # pragma: no cover — pre-4.0 PySpark

    def register(spark) -> None:
        raise NotImplementedError(
            "avro_py needs the Python Data Source API (Spark 4+)"
        )
