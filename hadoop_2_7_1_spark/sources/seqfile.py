"""SequenceFile source/sink.

Reference: ``IO/SequenceFile.java`` (layouts NONE/RECORD/BLOCK at :197,
writer factory :259) is the reference's binary KV container;
``SequenceFileInputFormat`` / ``...AsText`` / ``...AsBinary``
(MRC/mapreduce/lib/input/SequenceFileInputFormat.java:41,
SequenceFileAsTextInputFormat.java:37) read it back as native types,
strings, or raw bytes. ``IO/MapWritable.java`` / ``IO/ObjectWritable.java``
are the tagged-union value types (class-id byte + payload; UTF class name +
payload).

Spark-first stance (SURVEY.md §1.3): our *intermediates* are Parquet —
columnar, pruned, pushdown-friendly. This module exists for interchange with
data that already lives in SequenceFiles: reads go through Spark's Hadoop
input-format path, so files are block-splittable exactly as in the reference
(one task per block-aligned split — scales to many-TB inputs the same way
the reference's ``getSplits`` does).

The DEFAULT write path is an Arrow-batched ``mapInArrow`` writer that
serializes the SequenceFile v6 format (header, Writable encodings, sync
markers every SYNC_INTERVAL bytes so files stay splittable) straight from
each column's Python values: no ``df.rdd`` Pyrolite row-at-a-time hop, and
no pandas dtype coercion of nullable columns. Correctness is pinned by
round-tripping through the JVM Hadoop reader in tests/test_sources.py.
Compressed output still delegates to ``saveAsSequenceFile`` (the JVM owns
the codec implementations).

Every Python-side read goes through one header reader (:func:`_read_header`)
and one streaming record iterator (:func:`_read_records`).
"""

from __future__ import annotations

import datetime
import functools
import hashlib
import io
import os
import struct
import zlib
from collections.abc import Callable, Iterator
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

CODECS = {
    "gzip": "org.apache.hadoop.io.compress.GzipCodec",
    "deflate": "org.apache.hadoop.io.compress.DefaultCodec",
    "bzip2": "org.apache.hadoop.io.compress.BZip2Codec",
    # IO/compress/SnappyCodec.java, Lz4Codec.java — the cluster defaults for
    # SequenceFile interchange. Hadoop 3.3+ (bundled with Spark) backs these
    # with pure-Java snappy-java / lz4-java, so no native libhadoop needed.
    "snappy": "org.apache.hadoop.io.compress.SnappyCodec",
    "lz4": "org.apache.hadoop.io.compress.Lz4Codec",
}

# ---------------------------------------------------------------------------
# Writable wire encodings (IO/WritableUtils.java:271 vlong;
# IO/Text.java:286 vint+utf8; IO/BytesWritable.java:187 int+raw;
# primitives are big-endian DataOutput).
# ---------------------------------------------------------------------------

SYNC_INTERVAL = 100 * (4 + 16)  # SequenceFile.java SYNC_INTERVAL


def write_vlong(i: int) -> bytes:
    """Hadoop zero-compressed vlong (WritableUtils.writeVLong:271)."""
    if -112 <= i <= 127:
        return bytes([i & 0xFF])
    length = -112
    if i < 0:
        i = ~i
        length = -120
    tmp = i
    while tmp != 0:
        tmp >>= 8
        length -= 1
    out = [length & 0xFF]
    nbytes = -(length + 120) if length < -120 else -(length + 112)
    for idx in range(nbytes - 1, -1, -1):
        out.append((i >> (8 * idx)) & 0xFF)
    return bytes(out)


def read_vlong(buf: bytes, pos: int) -> tuple[int, int]:
    """Inverse of write_vlong → (value, new_pos)."""
    first = struct.unpack_from("b", buf, pos)[0]
    size = _vlong_size(buf[pos])
    if size == 1:
        return first, pos + 1
    val = int.from_bytes(buf[pos + 1 : pos + size], "big")
    return (~val if first < -120 else val), pos + size


def _vlong_size(first: int) -> int:
    """Total bytes of a vlong from its first (unsigned) byte
    (WritableUtils.decodeVIntSize)."""
    b = first - 256 if first > 127 else first
    if b >= -112:
        return 1
    return -119 - b if b < -120 else -111 - b


def _enc_text(s: str) -> bytes:
    b = s.encode("utf-8")
    return write_vlong(len(b)) + b


def _enc_long(v: int) -> bytes:
    return struct.pack(">q", int(v))


def _enc_int(v: int) -> bytes:
    return struct.pack(">i", int(v))


def _enc_double(v: float) -> bytes:
    return struct.pack(">d", float(v))


def _enc_float(v: float) -> bytes:
    return struct.pack(">f", float(v))


def _enc_bool(v: bool) -> bytes:
    return struct.pack(">?", bool(v))


def _enc_bytes(v: bytes) -> bytes:
    v = bytes(v)
    return struct.pack(">i", len(v)) + v


#: Spark SQL dtype → (Writable class, record encoder)
_WRITABLE_FOR_DTYPE = {
    "string": ("org.apache.hadoop.io.Text", _enc_text),
    "bigint": ("org.apache.hadoop.io.LongWritable", _enc_long),
    "int": ("org.apache.hadoop.io.IntWritable", _enc_int),
    "smallint": ("org.apache.hadoop.io.IntWritable", _enc_int),
    "double": ("org.apache.hadoop.io.DoubleWritable", _enc_double),
    "float": ("org.apache.hadoop.io.FloatWritable", _enc_float),
    "boolean": ("org.apache.hadoop.io.BooleanWritable", _enc_bool),
    "binary": ("org.apache.hadoop.io.BytesWritable", _enc_bytes),
}

#: AbstractMapWritable's pre-registered class ids (AbstractMapWritable.java:47
#: constructor) — these never appear in the per-file newClasses table.
_MAPW_CLASS_IDS = {
    "org.apache.hadoop.io.BooleanWritable": -126,
    "org.apache.hadoop.io.BytesWritable": -125,
    "org.apache.hadoop.io.FloatWritable": -124,
    "org.apache.hadoop.io.IntWritable": -123,
    "org.apache.hadoop.io.LongWritable": -122,
    "org.apache.hadoop.io.NullWritable": -119,
    "org.apache.hadoop.io.Text": -116,
}


def _enc_map_text_text(pairs) -> bytes:
    """MapWritable with Text keys and Text values (MapWritable.java:154
    write(): super.write = newClasses byte (0, all ids pre-known), then
    entry count int, then per entry id-byte + payload for key and value).
    ``pairs`` is one Arrow map value: a list of (key, value) tuples."""
    out = [struct.pack("b", 0), struct.pack(">i", len(pairs))]
    tid = struct.pack("b", _MAPW_CLASS_IDS["org.apache.hadoop.io.Text"])
    for k, v in pairs:
        out.append(tid)
        out.append(_enc_text(str(k)))
        out.append(tid)
        out.append(_enc_text(str(v)))
    return b"".join(out)


#: Spark SQL dtype → ObjectWritable declared class; every other type is
#: declared ``java.lang.String`` and written as its ``str`` form.
_OBJECT_CLASS_FOR_DTYPE = {
    "boolean": "boolean",
    "tinyint": "long",
    "smallint": "long",
    "int": "long",
    "bigint": "long",
    "float": "double",
    "double": "double",
    "binary": "org.apache.hadoop.io.BytesWritable",
}

_NULL_INSTANCE = "org.apache.hadoop.io.ObjectWritable$NullInstance"


def _enc_object_writable(declared: str, v) -> bytes:
    """ObjectWritable.java:133 writeObject: UTF declared-class name +
    payload. Java primitives write their boxed wire form; String writes UTF.
    (DataOutput.writeUTF = 2-byte BE length + modified-utf8; plain utf-8 is
    byte-identical for the class names and BMP text we emit.)"""
    if v is None:
        # writeObject(out, null, declared) swaps in a NullInstance declared
        # as Writable; the NullInstance payload is the original declared name
        return (
            _utf("org.apache.hadoop.io.Writable") + _utf(_NULL_INSTANCE) + _utf(declared)
        )
    if declared == "boolean":
        payload = struct.pack(">?", v)
    elif declared == "long":
        payload = struct.pack(">q", v)
    elif declared == "double":
        payload = struct.pack(">d", v)
    elif declared == "org.apache.hadoop.io.BytesWritable":
        # Writable branch (ObjectWritable.java:133 region): the declared
        # class name is followed by the INSTANCE class name before the
        # payload — stock readFields reads both; one name would misparse.
        return _utf(declared) + _utf(declared) + _enc_bytes(v)
    else:
        if isinstance(v, datetime.datetime):
            # Arrow hands session-zone-aware datetimes; the text form is
            # the zone's wall-clock time, without an offset suffix
            v = v.replace(tzinfo=None)
        payload = _utf(str(v))
    return _utf(declared) + payload


def _utf(s: str) -> bytes:
    b = s.encode("utf-8")
    return struct.pack(">H", len(b)) + b


def _read_utf(buf: bytes, pos: int) -> tuple[str, int]:
    (n,) = struct.unpack_from(">H", buf, pos)
    pos += 2
    return buf[pos : pos + n].decode("utf-8"), pos + n


class _SeqWriter:
    """One SequenceFile v6 stream: header + framed records + periodic sync
    (SequenceFile.java Writer.append:1338 / sync:1250)."""

    def __init__(self, fh, key_class: str, value_class: str, sync_seed: str):
        self.fh = fh
        self.sync = hashlib.md5(sync_seed.encode()).digest()
        self.since_sync = 0
        fh.write(b"SEQ\x06")
        fh.write(_enc_text(key_class))
        fh.write(_enc_text(value_class))
        fh.write(struct.pack(">??", False, False))  # compressed, block
        fh.write(struct.pack(">i", 0))  # empty metadata
        fh.write(self.sync)

    def append(self, key_bytes: bytes, value_bytes: bytes) -> None:
        if self.since_sync >= SYNC_INTERVAL:
            self.fh.write(struct.pack(">i", -1))
            self.fh.write(self.sync)
            self.since_sync = 0
        rec = (
            struct.pack(">ii", len(key_bytes) + len(value_bytes), len(key_bytes))
            + key_bytes
            + value_bytes
        )
        self.fh.write(rec)
        self.since_sync += len(rec)


#: Per-task result of the Arrow writers: records written, or the name of
#: the first column found holding a null its Writable class cannot hold.
_COUNTS_SCHEMA = "n_records long, null_column string"


def _counts(n: int, null_column: str = ""):
    import pyarrow as pa

    return pa.record_batch({"n_records": [n], "null_column": [null_column]})


def _null_column(batch, checked) -> str | None:
    """Name of the first column (by index in ``checked``) of an Arrow batch
    holding a null, map entries included."""
    import pyarrow as pa

    for i in checked:
        col = batch.column(i)
        if col.null_count or (pa.types.is_map(col.type) and col.items.null_count):
            return batch.schema.names[i]
    return None


def _raise_on_null(counts, classes: dict[str, str]) -> None:
    """Driver side of :func:`_null_column`: tasks report the column, the
    driver raises, so callers see a ``ValueError`` and not a task failure."""
    for r in counts:
        if r.null_column:
            raise ValueError(
                f"column {r.null_column!r} holds a null; "
                f"{classes[r.null_column]} cannot hold one"
            )


def write_sequence_file(
    df: DataFrame,
    path: str,
    key_col: str,
    value_col: str,
    codec: str | None = None,
    value_kind: str = "auto",
) -> None:
    """SequenceFileOutputFormat analogue: write (key, value) columns as a
    SequenceFile; Writable classes are inferred from the column types.

    Default path: Arrow-batched ``mapInArrow`` writer — each partition
    serializes its batches straight to ``path/part-NNNNN`` in SequenceFile
    v6 format (sync markers every SYNC_INTERVAL bytes keep the files
    splittable for any Hadoop reader). No ``df.rdd``/Pyrolite hop.

    ``value_kind``:
      - ``auto``: Writable from the column dtype (Text/LongWritable/...)
      - ``map``: value column is ``map<string,string>`` → MapWritable
      - ``object``: tagged ObjectWritable (class name + payload), declared
        class from the column dtype; nulls are written as the stock
        ``NullInstance`` form

    Any other null (keys, and values of every kind but ``object``) raises
    ``ValueError`` naming the column: those Writable classes have no null.

    ``codec`` enables compression (SequenceFile.java:228) with one of
    CODECS' short names or a fully-qualified codec class; that path
    delegates to the JVM's ``saveAsSequenceFile`` (interchange niche — the
    codecs live JVM-side).
    """
    if codec:
        pairs = df.select(key_col, value_col).rdd.map(tuple)
        pairs.saveAsSequenceFile(path, compressionCodecClass=CODECS.get(codec, codec))
        return

    dtypes = dict(df.dtypes)
    key_class, enc_key = _WRITABLE_FOR_DTYPE[dtypes[key_col]]
    checked = (0, 1)
    if value_kind == "map":
        value_class, enc_value = "org.apache.hadoop.io.MapWritable", _enc_map_text_text
    elif value_kind == "object":
        declared = _OBJECT_CLASS_FOR_DTYPE.get(dtypes[value_col], "java.lang.String")
        value_class = "org.apache.hadoop.io.ObjectWritable"
        enc_value = functools.partial(_enc_object_writable, declared)
        checked = (0,)
    else:
        value_class, enc_value = _WRITABLE_FOR_DTYPE[dtypes[value_col]]

    os.makedirs(path, exist_ok=True)
    sel = df.select(key_col, value_col)

    def run(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        writer, fh, n = None, None, 0
        try:
            for batch in batches:
                bad = _null_column(batch, checked)
                if bad is not None:
                    yield _counts(n, bad)
                    return
                if writer is None:
                    fh = open(os.path.join(path, f"part-{pid:05d}"), "wb")
                    writer = _SeqWriter(
                        fh, key_class, value_class, f"hadoop_2_7_1_spark:{pid}"
                    )
                keys, vals = (c.to_pylist() for c in batch.columns)
                for k, v in zip(keys, vals):
                    writer.append(enc_key(k), enc_value(v))
                n += batch.num_rows
        finally:
            if fh is not None:
                fh.close()
        yield _counts(n)

    counts = sel.mapInArrow(run, _COUNTS_SCHEMA).collect()
    _raise_on_null(counts, {key_col: key_class, value_col: value_class})
    if not any(r.n_records for r in counts):
        # Hadoop's SequenceFileOutputFormat emits header-only part files for
        # empty outputs; match that so readers see a valid (empty) file
        # rather than an empty directory.
        with open(os.path.join(path, "part-00000"), "wb") as fh:
            _SeqWriter(fh, key_class, value_class, "hadoop_2_7_1_spark:empty")


_SPARK_TYPE_FOR_WRITABLE = {
    "org.apache.hadoop.io.Text": "string",
    "org.apache.hadoop.io.LongWritable": "bigint",
    "org.apache.hadoop.io.IntWritable": "int",
    "org.apache.hadoop.io.DoubleWritable": "double",
    "org.apache.hadoop.io.FloatWritable": "float",
    "org.apache.hadoop.io.BooleanWritable": "boolean",
    "org.apache.hadoop.io.BytesWritable": "binary",
    "org.apache.hadoop.io.MapWritable": "map<string,string>",
}


def read_sequence_file(
    spark: SparkSession,
    path: str,
    key_name: str = "key",
    value_name: str = "value",
    min_splits: int | None = None,
) -> DataFrame:
    """SequenceFileInputFormat analogue: (key, value) DataFrame with native
    types (Writables auto-converted; MapWritable → dict → MapType).

    Empty files are handled: ``toDF`` cannot infer a schema from zero rows,
    so the Writable class names are read from the file header and mapped to
    Spark types instead."""
    rdd = spark.sparkContext.sequenceFile(path, minSplits=min_splits)
    try:
        return rdd.toDF([key_name, value_name])
    except ValueError:
        # toDF raises ValueError both for empty RDDs and for undeterminable
        # types (e.g. NullWritable values). Only the EMPTY case may fall
        # back to a header-derived schema — anything else must surface.
        if not rdd.isEmpty():
            raise
        import glob as _glob

        local = path[5:] if path.startswith("file:") else path
        parts = sorted(_glob.glob(os.path.join(local, "part-*"))) or [local]
        with open(parts[0], "rb") as fh:
            header = _read_header(fh)
        schema = (
            f"{key_name} {_SPARK_TYPE_FOR_WRITABLE.get(header.key_class, 'string')}, "
            f"{value_name} {_SPARK_TYPE_FOR_WRITABLE.get(header.value_class, 'string')}"
        )
        return spark.createDataFrame([], schema)


def read_sequence_file_as_text(
    spark: SparkSession, path: str, key_name: str = "key", value_name: str = "value"
) -> DataFrame:
    """SequenceFileAsTextInputFormat: both sides stringified
    (SequenceFileAsTextRecordReader calls toString on each Writable)."""
    from pyspark.sql import functions as F

    df = read_sequence_file(spark, path, key_name, value_name)
    return df.select(
        F.col(key_name).cast("string").alias(key_name),
        F.col(value_name).cast("string").alias(value_name),
    )


# ---------------------------------------------------------------------------
# Python-side SequenceFile parser: needed for value classes the JVM
# converter can't hand to Python (ObjectWritable's tagged union), and as the
# format's second, independent implementation for round-trip tests.
# ---------------------------------------------------------------------------

class _SeqHeader(NamedTuple):
    key_class: str
    value_class: str
    decompress: Callable[[bytes], bytes] | None  # None: NONE layout
    block: bool  # BLOCK layout (else RECORD when ``decompress`` is set)
    sync: bytes  # the 16-byte marker every sync escape must repeat


#: Codec class → decompress callable for the Python reader's compressed path
#: (SequenceFile.java:197-228 RECORD/BLOCK layouts; codec classes from CODECS).
def _decompressor_for(codec_class: str):
    import bz2
    import gzip as _gzip

    if codec_class.endswith(".DefaultCodec"):
        return zlib.decompress
    if codec_class.endswith(".GzipCodec"):
        return _gzip.decompress
    if codec_class.endswith(".BZip2Codec"):
        return bz2.decompress
    raise ValueError(f"python parser: unsupported codec {codec_class}")


class _Truncated(ValueError):
    """The stream ended inside a header field or a record."""


def _take(fh, n: int) -> bytes:
    b = fh.read(n)
    if len(b) != n:
        raise _Truncated("truncated SequenceFile")
    return b


def _take_vlong(fh) -> int:
    b = _take(fh, 1)
    return read_vlong(b + _take(fh, _vlong_size(b[0]) - 1), 0)[0]


#: Read buffer for files the Python reader opens: a scan reads 64 KiB
#: chunks, never a whole file (``open(path, "rb", buffering=READ_CHUNK)``).
READ_CHUNK = 64 * 1024


def _read_header(fh) -> _SeqHeader:
    """Read a v6 header from the start of binary file object ``fh``, leaving
    it positioned at the first record. The header is variable-length (the
    metadata map precedes the sync), so it is read field by field."""

    def text() -> str:
        return _take(fh, _take_vlong(fh)).decode()

    if _take(fh, 4) != b"SEQ\x06":
        raise ValueError("not a SequenceFile v6 stream")
    key_class, value_class = text(), text()
    compressed, block = struct.unpack(">??", _take(fh, 2))
    decompress = _decompressor_for(text()) if compressed else None
    (n_meta,) = struct.unpack(">i", _take(fh, 4))
    for _ in range(2 * n_meta):
        text()
    return _SeqHeader(key_class, value_class, decompress, block, _take(fh, 16))


def _read_records(fh, header: _SeqHeader) -> Iterator[tuple[bytes, bytes]]:
    """Yield ``(key_bytes, value_bytes)`` from the current position of
    ``fh``: just past the header, or a record, block or sync boundary the
    caller seeked to. Reads stream through ``fh``'s own buffer.

    Handles all three layouts of ``IO/SequenceFile.java:197-228``: NONE,
    RECORD (per-value codec stream after the standard framing), and BLOCK
    (sync + vint record count + four compressed sub-blocks: key-lengths,
    keys, value-lengths, values). Every sync escape's marker must equal the
    header's, as in ``SequenceFile.Reader`` ("File is corrupt!"): a mismatch
    or impossible framing raises ``ValueError``. A stream that ends inside a
    record stops cleanly at the last complete record (crawl-robustness
    contract shared with the other parsers)."""

    def take_int() -> int:
        return struct.unpack(">i", _take(fh, 4))[0]

    def check_sync() -> None:
        if _take(fh, 16) != header.sync:
            raise ValueError("corrupt SequenceFile: sync marker mismatch")

    decompress = header.decompress
    try:
        if header.block:
            while True:
                if take_int() != -1:
                    raise ValueError("corrupt SequenceFile: block without sync")
                check_sync()
                n_rec = _take_vlong(fh)
                key_lens, keys, val_lens, vals = [
                    decompress(_take(fh, _take_vlong(fh))) for _ in range(4)
                ]
                kp = vp = klp = vlp = 0
                for _ in range(n_rec):
                    klen, klp = read_vlong(key_lens, klp)
                    vlen, vlp = read_vlong(val_lens, vlp)
                    yield keys[kp : kp + klen], vals[vp : vp + vlen]
                    kp += klen
                    vp += vlen
        else:
            while True:
                rec_len = take_int()
                if rec_len == -1:  # sync escape
                    check_sync()
                    continue
                key_len = take_int()
                if not 0 <= key_len <= rec_len:
                    raise ValueError("corrupt SequenceFile: bad record framing")
                rec = _take(fh, rec_len)
                vb = rec[key_len:]
                yield rec[:key_len], decompress(vb) if decompress else vb
    except _Truncated:
        return


def _decode_writable(cls: str, b: bytes):
    if cls == "org.apache.hadoop.io.Text":
        n, p = read_vlong(b, 0)
        return b[p : p + n].decode("utf-8")
    if cls == "org.apache.hadoop.io.LongWritable":
        return struct.unpack(">q", b)[0]
    if cls == "org.apache.hadoop.io.IntWritable":
        return struct.unpack(">i", b)[0]
    if cls == "org.apache.hadoop.io.DoubleWritable":
        return struct.unpack(">d", b)[0]
    if cls == "org.apache.hadoop.io.BooleanWritable":
        return struct.unpack(">?", b)[0]
    if cls == "org.apache.hadoop.io.BytesWritable":
        (n,) = struct.unpack(">i", b[:4])
        return b[4 : 4 + n]
    if cls == "org.apache.hadoop.io.FloatWritable":
        return struct.unpack(">f", b)[0]
    if cls == "org.apache.hadoop.io.NullWritable":
        return None  # zero serialized bytes (SetFile values)
    raise ValueError(f"unsupported writable {cls}")


def _decode_object_writable(b: bytes) -> tuple[str, str | None]:
    """(declared class, value as string) from ObjectWritable bytes; the
    value is None for a null (the stock NullInstance form)."""
    name, pos = _read_utf(b, 0)
    if name == "org.apache.hadoop.io.Writable":
        instance, pos = _read_utf(b, pos)
        if instance == _NULL_INSTANCE:
            return _read_utf(b, pos)[0], None
    if name == "long":
        return name, str(struct.unpack_from(">q", b, pos)[0])
    if name == "double":
        return name, repr(struct.unpack_from(">d", b, pos)[0])
    if name == "boolean":
        return name, str(struct.unpack_from(">?", b, pos)[0]).lower()
    if name == "java.lang.String":
        s, _ = _read_utf(b, pos)
        return name, s
    if name == "org.apache.hadoop.io.BytesWritable":
        # Writable branch: instance class name follows the declared name.
        _, pos = _read_utf(b, pos)
        (n,) = struct.unpack_from(">i", b, pos)
        return name, bytes(b[pos + 4 : pos + 4 + n]).hex()
    raise ValueError(f"unsupported ObjectWritable class {name}")


def read_sequence_file_object_values(
    spark: SparkSession, path: str, key_name: str = "key"
) -> DataFrame:
    """ObjectWritable-valued SequenceFile → (key, value_class, value) rows,
    the tagged-struct representation of SURVEY §1.2.

    Runs over ``binaryFile`` (one task per file — SequenceFiles written for
    object interchange are many small files, not one giant one; for the
    monolithic case convert JVM-side first)."""
    files = spark.read.format("binaryFile").load(os.path.join(path, "part-*"))

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            keys, classes, values = [], [], []
            for content in pdf["content"]:
                fh = io.BytesIO(content)
                header = _read_header(fh)
                for kb, vb in _read_records(fh, header):
                    keys.append(str(_decode_writable(header.key_class, kb)))
                    cls, sval = _decode_object_writable(vb)
                    classes.append(cls)
                    values.append(sval)
            yield pd.DataFrame(
                {key_name: keys, "value_class": classes, "value": values}
            )

    return files.select("content").mapInPandas(
        run, f"{key_name} string, value_class string, value string"
    )
