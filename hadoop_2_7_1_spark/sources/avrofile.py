"""Avro Object Container File source/sink — stock-JVM-compatible, no JVM.

Parity target: the Avro OCF format used throughout the Hadoop ecosystem
(the reference tree ships avro-1.7.4 in its lib/ and serializes job history
events through ``org.apache.avro`` — e.g.
``hadoop-mapreduce-project/hadoop-mapreduce-client/hadoop-mapreduce-client-core/src/main/java/org/apache/hadoop/mapreduce/jobhistory/EventWriter.java``).
Format spec is public: https://avro.apache.org/docs/1.12.0/specification/
("Object Container Files" + "Binary Encoding"). Both the reader and the
writer here implement that wire format directly — zigzag varints, the file
metadata map, per-block framing, 16-byte sync markers, null/deflate codecs —
and are verified BIDIRECTIONALLY against the stock JVM
``org.apache.avro.file.DataFileReader`` / ``DataFileWriter`` (the
``avro-1.12.1.jar`` that ships inside Spark's jars/), the same discipline as
``sources/seqfile.py``.

Supported schema subset (covers the Spark primitive surface):
records whose fields are ``long int double float boolean string bytes``,
nullable unions ``["null", T]``, and arrays of those primitives.

Encoder: columnar. A block's records are encoded one COLUMN at a time with
numpy over the Arrow buffers (zigzag varints for ``long``/``int``,
little-endian bytes for ``double``/``float``/``boolean``, a varint length
plus the value buffer for ``string``/``bytes``, one branch byte per union,
count + items + terminator per array), then the per-field bytes are
scattered into record order. Per-record Python work is what dominates a
row-at-a-time encoder (Floratou et al., *Column-Oriented Storage Techniques
for MapReduce*, VLDB 2011); values never pass through pandas, so 64-bit
longs and NaN doubles round-trip exactly. Decoder: one scalar pass per
record, building typed Arrow columns.

Distributed write (``write_avro``): ``mapInArrow``; each partition streams
its Arrow batches into ``path/part-NNNNN.avro``, one OCF data block per
batch, so any Hadoop reader can split the output on its sync markers.

Distributed read (``read_avro``): the part list is indexed by
``spark.range(0, n, 1, n)`` — one task per part file, no shuffle, blobs
never touch the driver — and each task yields one typed Arrow batch per OCF
block, so a task holds one block in memory, not one file. File = unit of
parallelism, the shard-sized-files layout contract shared with
``sources/webdataset.py``.
"""

from __future__ import annotations

import glob as _glob
import hashlib
import itertools
import json
import os
import struct
import zlib
from collections.abc import Iterable, Iterator
from typing import Any

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_type

MAGIC = b"Obj\x01"

# ---------------------------------------------------------------------------
# Columnar encoder (spec "Binary Encoding"). Every helper returns
# ``(lens, data)``: the byte length of each row's encoding and the
# encodings concatenated in row order.

# a zigzagged long takes k+1 bytes once it reaches 2**(7k)
_VARINT_STEPS = np.array([1 << (7 * k) for k in range(1, 10)], dtype=np.uint64)


def _varints(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Zigzag varints of int64 values (wrapping 64-bit shifts, like Java)."""
    v = values.astype(np.int64, copy=False)
    n = ((v << 1) ^ (v >> 63)).view(np.uint64)
    lens = np.searchsorted(_VARINT_STEPS, n, side="right") + 1
    width = int(lens.max()) if len(n) else 1
    shifts = np.arange(width, dtype=np.uint64) * np.uint64(7)
    groups = ((n[:, None] >> shifts) & np.uint64(0x7F)).astype(np.uint8)
    col = np.arange(width)
    groups[col < (lens - 1)[:, None]] |= 0x80  # continuation bits
    return lens, groups[col < lens[:, None]]


def zigzag_encode(v: int) -> bytes:
    return _varints(np.array([v], dtype=np.int64))[1].tobytes()


def _interleave(parts: list[tuple[np.ndarray, np.ndarray]]) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate per-row encodings row by row: row i becomes part 0's
    bytes of row i, then part 1's, and so on."""
    lens = sum(p[0] for p in parts)
    out = np.empty(int(lens.sum()), dtype=np.uint8)
    dst = np.cumsum(lens) - lens
    for plens, data in parts:
        src = np.cumsum(plens) - plens
        out[np.repeat(dst - src, plens) + np.arange(len(data))] = data
        dst = dst + plens
    return lens, out


def _spread(lens: np.ndarray, mask: np.ndarray) -> np.ndarray:
    """Per-row lengths of the rows selected by ``mask``; 0 elsewhere."""
    full = np.zeros(len(mask), dtype=np.int64)
    full[mask] = lens
    return full


def _encode_column(ftype: Any, arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    n = len(arr)
    if isinstance(ftype, list):  # union — we support ["null", T]
        branch = next(i for i, t in enumerate(ftype) if t != "null")
        is_valid = arr.is_valid()
        valid = is_valid.to_numpy(zero_copy_only=False)
        tags = np.where(valid, 2 * branch, 2 * ftype.index("null")).astype(np.uint8)
        vlens, vdata = _encode_column(ftype[branch], arr.filter(is_valid))
        return _interleave([(np.ones(n, dtype=np.int64), tags), (_spread(vlens, valid), vdata)])
    if isinstance(ftype, dict) and ftype.get("type") == "array":
        # a null array is written as an empty one (the field is not a union)
        counts = arr.value_lengths().fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
        ilens, idata = _encode_column(ftype["items"], arr.flatten())
        ends = np.concatenate([[0], np.cumsum(ilens)])
        bounds = np.concatenate([[0], np.cumsum(counts)])
        nonempty = counts > 0
        clens, cdata = _varints(counts[nonempty])
        return _interleave([
            (_spread(clens, nonempty), cdata),
            (ends[bounds[1:]] - ends[bounds[:-1]], idata),
            (np.ones(n, dtype=np.int64), np.zeros(n, dtype=np.uint8)),  # terminator
        ])
    if arr.null_count:
        raise ValueError(f"null value in non-nullable avro field of type {ftype!r}")
    if ftype in ("long", "int"):
        return _varints(arr.to_numpy(zero_copy_only=False))
    if ftype in ("double", "float", "boolean"):
        dt = {"double": "<f8", "float": "<f4", "boolean": "u1"}[ftype]
        vals = np.ascontiguousarray(arr.to_numpy(zero_copy_only=False), dtype=dt)
        return np.full(n, vals.itemsize, dtype=np.int64), vals.view(np.uint8)
    if ftype in ("string", "bytes"):
        large = pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type)
        _, offsets, data = arr.buffers()
        off = np.frombuffer(offsets, np.int64 if large else np.int32)
        off = off[arr.offset : arr.offset + n + 1].astype(np.int64)
        raw = np.frombuffer(data, np.uint8)[off[0] : off[-1]] if data else np.empty(0, np.uint8)
        lens = np.diff(off)
        return _interleave([_varints(lens), (lens, raw)])
    raise ValueError(f"unsupported avro type {ftype!r}")


def _encode_records(ftypes: list, columns: list[pa.Array]) -> bytes:
    """The binary encoding of a block's records, from its Arrow columns."""
    return _interleave([_encode_column(t, c) for t, c in zip(ftypes, columns)])[1].tobytes()


# ---------------------------------------------------------------------------
# Scalar decoder


def zigzag_decode(buf: bytes, pos: int) -> tuple[int, int]:
    shift, acc = 0, 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


def _decode_prim(t: str, buf: bytes, pos: int) -> tuple[Any, int]:
    if t in ("long", "int"):
        return zigzag_decode(buf, pos)
    if t == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if t == "float":
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if t == "boolean":
        return buf[pos] == 1, pos + 1
    if t == "string":
        n, pos = zigzag_decode(buf, pos)
        return buf[pos : pos + n].decode("utf-8"), pos + n
    if t == "bytes":
        n, pos = zigzag_decode(buf, pos)
        return bytes(buf[pos : pos + n]), pos + n
    if t == "null":
        return None, pos
    raise ValueError(f"unsupported avro primitive {t!r}")


def _dec_value(ftype: Any, buf: bytes, pos: int) -> tuple[Any, int]:
    if isinstance(ftype, str):
        return _decode_prim(ftype, buf, pos)
    if isinstance(ftype, list):
        idx, pos = zigzag_decode(buf, pos)
        return _dec_value(ftype[idx], buf, pos)
    if isinstance(ftype, dict) and ftype.get("type") == "array":
        items, out = ftype["items"], []
        while True:
            count, pos = zigzag_decode(buf, pos)
            if count == 0:
                return out, pos
            if count < 0:  # block-size prefix variant (spec: "Blocking")
                count = -count
                _, pos = zigzag_decode(buf, pos)
            for _ in range(count):
                v, pos = _dec_value(items, buf, pos)
                out.append(v)
    raise ValueError(f"unsupported avro type {ftype!r}")


def _decode_records(ftypes: list, payload: bytes, count: int) -> list[list]:
    """Decode a block's ``count`` records into one value list per field."""
    cols: list[list] = [[] for _ in ftypes]
    pos = 0
    for _ in range(count):
        for t, col in zip(ftypes, cols):
            v, pos = _dec_value(t, payload, pos)
            col.append(v)
    return cols


# ---------------------------------------------------------------------------
# Schema mapping (Spark dtype -> avro field type -> Arrow type)

_AVRO_FOR_DTYPE = {
    "bigint": "long",
    "int": "int",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "string": "string",
    "binary": "bytes",
    "array<bigint>": {"type": "array", "items": "long"},
    "array<double>": {"type": "array", "items": "double"},
    "array<string>": {"type": "array", "items": "string"},
}

_ARROW_FOR_AVRO = {
    "long": pa.int64(),
    "int": pa.int32(),
    "double": pa.float64(),
    "float": pa.float32(),
    "boolean": pa.bool_(),
    "string": pa.string(),
    "bytes": pa.binary(),
}


def schema_for_df(df: DataFrame, name: str = "row", nullable: bool = True) -> dict:
    """Derive the avro record schema (as a JSON-able dict) from df.dtypes."""
    fields = []
    for col, dtype in df.dtypes:
        ftype: Any = _AVRO_FOR_DTYPE[dtype]
        if nullable and isinstance(ftype, str) and ftype != "null":
            ftype = ["null", ftype]
        fields.append({"name": col, "type": ftype})
    return {"type": "record", "name": name, "fields": fields}


def _arrow_type_for(ftype: Any) -> pa.DataType:
    if isinstance(ftype, str):
        return _ARROW_FOR_AVRO[ftype]
    if isinstance(ftype, list):
        return _arrow_type_for(next(t for t in ftype if t != "null"))
    if isinstance(ftype, dict) and ftype.get("type") == "array":
        return pa.list_(_arrow_type_for(ftype["items"]))
    raise ValueError(f"unsupported avro type {ftype!r}")


def _arrow_schema_for(schema: dict) -> pa.Schema:
    return pa.schema([(f["name"], _arrow_type_for(f["type"])) for f in schema["fields"]])


def spark_schema_for(schema: dict) -> str:
    return ", ".join(
        f"`{f.name}` {from_arrow_type(f.type).simpleString()}"
        for f in _arrow_schema_for(schema)
    )


# ---------------------------------------------------------------------------
# Container file framing


def _enc_bytes(b: bytes) -> bytes:
    return zigzag_encode(len(b)) + b


def _write_header(fh, schema_json: str, codec: str, sync: bytes) -> None:
    fh.write(MAGIC)
    meta = {"avro.schema": schema_json.encode(), "avro.codec": codec.encode()}
    fh.write(zigzag_encode(len(meta)))
    for k, v in meta.items():
        fh.write(_enc_bytes(k.encode()))
        fh.write(_enc_bytes(v))
    fh.write(zigzag_encode(0))
    fh.write(sync)


def _write_block(fh, count: int, payload: bytes, codec: str, sync: bytes) -> None:
    if codec == "deflate":  # raw RFC-1951 stream (spec "Required Codecs")
        comp = zlib.compressobj(6, zlib.DEFLATED, -15)
        payload = comp.compress(payload) + comp.flush()
    fh.write(zigzag_encode(count))
    fh.write(zigzag_encode(len(payload)))
    fh.write(payload)
    fh.write(sync)


def _read_long(fh) -> int:
    raw = b""
    while not raw or raw[-1] & 0x80:
        b = fh.read(1)
        if not b:
            raise ValueError("truncated Avro container file")
        raw += b
    return zigzag_decode(raw, 0)[0]


def _read_exact(fh, n: int, path: str) -> bytes:
    data = fh.read(n)
    if len(data) != n:
        raise ValueError(f"{path}: truncated Avro container file")
    return data


def _read_header(fh, path: str) -> tuple[dict, str, bytes]:
    """Parse the header of an open container file -> (schema, codec, sync);
    leaves ``fh`` at the first data block."""
    if fh.read(4) != MAGIC:
        raise ValueError(f"{path}: not an Avro object container file")
    meta = {}
    while count := _read_long(fh):
        if count < 0:  # block-size prefix variant (spec: "Blocking")
            count = -count
            _read_long(fh)
        for _ in range(count):
            key = _read_exact(fh, _read_long(fh), path).decode()
            meta[key] = _read_exact(fh, _read_long(fh), path)
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported avro codec {codec!r}")
    sync = _read_exact(fh, 16, path)
    return json.loads(meta["avro.schema"]), codec, sync


def _read_blocks(fh, codec: str, sync: bytes, path: str) -> Iterator[tuple[int, bytes]]:
    """Yield ``(record count, decompressed payload)`` per data block, one
    block in memory at a time; ``fh`` must be positioned after the header."""
    while fh.peek(1):
        count = _read_long(fh)
        payload = _read_exact(fh, _read_long(fh), path)
        if fh.read(16) != sync:
            raise ValueError(f"{path}: sync marker mismatch at {fh.tell()}")
        if codec == "deflate":
            payload = zlib.decompress(payload, -15)
        yield count, payload


def write_avro_file(
    rows: Iterable[tuple], schema: dict, path: str, codec: str = "null",
    sync_seed: str = "hadoop_2_7_1_spark", block_records: int = 4096,
) -> int:
    """Serialize rows (tuples in field order) into ONE .avro container file.
    Returns the record count. One data block per ``block_records`` rows —
    block boundaries are where any stock reader can split."""
    sync = hashlib.md5(sync_seed.encode()).digest()
    ftypes = [f["type"] for f in schema["fields"]]
    atypes = _arrow_schema_for(schema).types
    rows = iter(rows)
    n = 0
    with open(path, "wb") as fh:
        _write_header(fh, json.dumps(schema), codec, sync)
        while chunk := list(itertools.islice(rows, block_records)):
            cols = [pa.array(c, type=t) for c, t in zip(zip(*chunk), atypes)]
            _write_block(fh, len(chunk), _encode_records(ftypes, cols), codec, sync)
            n += len(chunk)
    return n


def read_avro_file(path: str) -> tuple[dict, list[tuple]]:
    """Parse ONE container file -> (schema, rows as tuples in field order)."""
    with open(path, "rb") as fh:
        schema, codec, sync = _read_header(fh, path)
        ftypes = [f["type"] for f in schema["fields"]]
        rows: list[tuple] = []
        for count, payload in _read_blocks(fh, codec, sync, path):
            rows.extend(zip(*_decode_records(ftypes, payload, count)))
    return schema, rows


# ---------------------------------------------------------------------------
# Distributed read / write


def write_avro(df: DataFrame, path: str, codec: str = "null") -> None:
    """Avro sink: each partition streams its Arrow batches into
    ``path/part-NNNNN.avro`` (one OCF data block per batch -> splittable by
    any stock reader), encoded column by column. No rdd/Pyrolite hop;
    blobs never touch the driver."""
    schema = schema_for_df(df)
    schema_json = json.dumps(schema)
    ftypes = [f["type"] for f in schema["fields"]]
    os.makedirs(path, exist_ok=True)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        sync = hashlib.md5(f"hadoop_2_7_1_spark:{pid}".encode()).digest()
        fh, n = None, 0
        try:
            for batch in batches:
                if fh is None:
                    fh = open(os.path.join(path, f"part-{pid:05d}.avro"), "wb")
                    _write_header(fh, schema_json, codec, sync)
                if batch.num_rows:
                    payload = _encode_records(ftypes, batch.columns)
                    _write_block(fh, batch.num_rows, payload, codec, sync)
                    n += batch.num_rows
        finally:
            if fh is not None:
                fh.close()
        yield pa.RecordBatch.from_arrays(
            [pa.array([pid], pa.int32()), pa.array([n], pa.int64())],
            names=["part", "n_records"],
        )

    counts = df.mapInArrow(run, "part int, n_records long").collect()
    if not any(r.n_records for r in counts):
        # header-only part for empty outputs, like SequenceFileOutputFormat
        with open(os.path.join(path, "part-00000.avro"), "wb") as fh:
            _write_header(
                fh, schema_json, codec, hashlib.md5(b"hadoop_2_7_1_spark:empty").digest()
            )


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro source: schema from the first part's header (read on the
    driver), then one task per part file — indexed by ``spark.range``, so no
    shuffle — yielding one typed Arrow batch per OCF block. File = unit of
    parallelism (the shard layout contract); each OCF block is
    independently decodable so a sync-marker-splitting scan is the drop-in
    upgrade on a real cluster."""
    local = path[7:] if path.startswith("file://") else path
    parts = sorted(_glob.glob(os.path.join(local, "part-*.avro")))
    if not parts:
        parts = [local]  # single-file read
    with open(parts[0], "rb") as fh:
        schema, _, _ = _read_header(fh, parts[0])
    arrow_schema = _arrow_schema_for(schema)

    def parse(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for i in batch.column(0).to_pylist():
                with open(parts[i], "rb") as fh:
                    part_schema, codec, sync = _read_header(fh, parts[i])
                    ftypes = [f["type"] for f in part_schema["fields"]]
                    for count, payload in _read_blocks(fh, codec, sync, parts[i]):
                        cols = _decode_records(ftypes, payload, count)
                        yield pa.RecordBatch.from_arrays(
                            [pa.array(c, type=t) for c, t in zip(cols, arrow_schema.types)],
                            schema=arrow_schema,
                        )

    n = len(parts)
    return spark.range(0, n, 1, n).mapInArrow(parse, spark_schema_for(schema))
