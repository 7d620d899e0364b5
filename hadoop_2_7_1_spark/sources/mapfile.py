"""MapFile source/sink — the reference's sorted, indexed KV container.

Reference: ``IO/MapFile.java:59`` — a directory holding two SequenceFiles:
``data`` (records in key-sorted order) and ``index`` (every
INDEX_INTERVAL-th key -> LongWritable byte position of that record in
``data``; MapFile.Writer.append region). ``MapFile.Reader.get`` loads the
tiny index, binary-searches it, seeks ``data`` and scans at most one
interval. ``MapFileOutputFormat`` (MRC/mapreduce/lib/output/
MapFileOutputFormat.java) writes ONE MapFile per reducer partition.

Spark-first shape: the write is a range-repartition + within-partition sort
(one shuffle — the same sort the reference's reduce phase performs), then an
Arrow-batched ``mapInArrow`` writer emits ``part-NNNNN/{data,index}`` per
partition. At 100 TB the data files stay distributed and block-splittable;
only index entries (1 per ``index_interval`` records) and the returned part
manifest are small. Point lookup reads ONE index file, seeks ONE data file
and scans forward to the first key past the target — on sorted data at most
one index interval, whatever interval the file was written with — never the
whole file. Index and data are read by the SequenceFile reader of
:mod:`.seqfile` (all three compression layouts, sync markers checked).

Format compatibility is pinned by a stock ``org.apache.hadoop.io.MapFile
.Reader`` round-trip in tests/test_sources.py.
"""

from __future__ import annotations

import os
import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .seqfile import (
    READ_CHUNK,
    _COUNTS_SCHEMA,
    _SeqWriter,
    _WRITABLE_FOR_DTYPE,
    _counts,
    _decode_writable,
    _null_column,
    _raise_on_null,
    _read_header,
    _read_records,
)

#: io.map.index.interval default (MapFile.Writer)
INDEX_INTERVAL = 128

_LONG_WRITABLE = "org.apache.hadoop.io.LongWritable"


def write_map_file(
    df: DataFrame,
    path: str,
    key_col: str,
    value_col: str,
    num_parts: int = 4,
    index_interval: int = INDEX_INTERVAL,
    value_writable: tuple[str, object] | None = None,
    bloom: bool = False,
    bloom_num_keys: int = 1024 * 1024,
    bloom_error_rate: float = 0.005,
) -> int:
    """Write ``df`` as ``path/part-NNNNN/{data,index}`` MapFile directories
    (MapFileOutputFormat layout: one MapFile per partition, keys sorted
    within each). Returns the number of records written.

    Keys are range-partitioned so each part owns a contiguous key range —
    a point lookup then touches exactly one part (the reference's
    TotalOrderPartitioner + MapFileOutputFormat composition; plain
    MapFileOutputFormat hash-partitions, which also works but makes every
    reader check one part per hash bucket). A null key or value raises
    ``ValueError`` naming the column.
    """
    dtypes = dict(df.dtypes)
    key_class, enc_key = _WRITABLE_FOR_DTYPE[dtypes[key_col]]
    if value_writable is not None:
        value_class, enc_value = value_writable
    else:
        value_class, enc_value = _WRITABLE_FOR_DTYPE[dtypes[value_col]]

    os.makedirs(path, exist_ok=True)
    sel = (
        df.select(key_col, value_col)
        .repartitionByRange(num_parts, F.col(key_col))
        .sortWithinPartitions(key_col)
    )

    def new_bloom():
        from .bloomfilter import DynamicBloom, vector_size_for

        size = vector_size_for(bloom_num_keys, bloom_error_rate)
        return DynamicBloom(size, nr=bloom_num_keys)

    def run(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        part_dir = os.path.join(path, f"part-{pid:05d}")
        data_fh = index_fh = None
        data = index = None
        bf = new_bloom() if bloom else None
        n = 0
        try:
            for batch in batches:
                bad = _null_column(batch, (0, 1))
                if bad is not None:
                    yield _counts(n, bad)
                    return
                if data is None:
                    os.makedirs(part_dir, exist_ok=True)
                    data_fh = open(os.path.join(part_dir, "data"), "wb")
                    index_fh = open(os.path.join(part_dir, "index"), "wb")
                    data = _SeqWriter(
                        data_fh, key_class, value_class, f"mapfile-data:{pid}"
                    )
                    index = _SeqWriter(
                        index_fh, key_class, _LONG_WRITABLE, f"mapfile-index:{pid}"
                    )
                keys, vals = (c.to_pylist() for c in batch.columns)
                for k, v in zip(keys, vals):
                    kb = enc_key(k)
                    if n % index_interval == 0:
                        # record position BEFORE this append (MapFile.Writer:
                        # position.set(data.getLength()))
                        index.append(kb, struct.pack(">q", data_fh.tell()))
                    data.append(kb, enc_value(v))
                    if bf is not None:
                        bf.add(kb)  # raw serialized key bytes, like bloomKey.set
                    n += 1
        finally:
            if data_fh is not None:
                data_fh.close()
                index_fh.close()
        if bf is not None and data is not None:
            with open(os.path.join(part_dir, "bloom"), "wb") as fh:
                fh.write(bf.to_bytes())
        yield _counts(n)

    counts = sel.mapInArrow(run, _COUNTS_SCHEMA).collect()
    _raise_on_null(counts, {key_col: key_class, value_col: value_class})
    total = sum(r.n_records for r in counts)
    if total == 0:
        # header-only empty MapFile, like MapFile.Writer with no appends
        part_dir = os.path.join(path, "part-00000")
        os.makedirs(part_dir, exist_ok=True)
        with open(os.path.join(part_dir, "data"), "wb") as fh:
            _SeqWriter(fh, key_class, value_class, "mapfile-data:empty")
        with open(os.path.join(part_dir, "index"), "wb") as fh:
            _SeqWriter(fh, key_class, _LONG_WRITABLE, "mapfile-index:empty")
        if bloom:
            with open(os.path.join(part_dir, "bloom"), "wb") as fh:
                fh.write(new_bloom().to_bytes())
    return total


def read_map_file(
    spark: SparkSession, path: str, key_name: str = "key", value_name: str = "value"
) -> DataFrame:
    """Full scan: the ``data`` SequenceFiles read through Spark's Hadoop
    input path (block-splittable, same as any SequenceFile scan)."""
    from .seqfile import read_sequence_file

    return read_sequence_file(
        spark, os.path.join(path, "part-*", "data"), key_name, value_name
    )


def _norm(key):
    """Comparable form matching WritableComparable order: Text compares raw
    utf8 bytes, numeric Writables compare numerically."""
    return key.encode("utf-8") if isinstance(key, str) else key


def map_file_lookup(path: str, key):
    """Index-aware point lookup (MapFile.Reader.get): binary-search the
    in-memory index, seek ``data`` at the indexed position, scan forward
    until the first key past the target. Reads O(index) + one bounded data
    slice — never a full data file. Returns the value or None.

    Driver-side utility by design: a point lookup is metadata-scale; batch
    lookups belong in a join against :func:`read_map_file`.
    """
    hit = _map_file_probe(path, key)
    return hit[1] if hit is not None else None


def _map_file_probe(path: str, key):
    """Index-aware probe returning ``(True, value)`` on a hit, else None —
    the hit/value split lets NullWritable-valued containers (SetFile)
    distinguish "present with null value" from "absent"."""
    import glob

    target = _norm(key)
    for part_dir in sorted(glob.glob(os.path.join(path, "part-*"))):
        hit = _probe_part(part_dir, target)
        if hit is not None:
            return hit
    return None


def _probe_part(part_dir: str, target):
    """Probe ONE MapFile dir: binary-search its index, then scan ``data``
    from the indexed position to the first key >= target. The index holds
    record starts (NONE/RECORD) or block starts (BLOCK); either way the scan
    stops by the next indexed key."""
    with open(os.path.join(part_dir, "index"), "rb", buffering=READ_CHUNK) as fh:
        header = _read_header(fh)
        entries = [
            (_norm(_decode_writable(header.key_class, kb)), struct.unpack(">q", vb)[0])
            for kb, vb in _read_records(fh, header)
        ]
    if not entries or target < entries[0][0]:
        return None
    # rightmost indexed key <= target (entries are in key order)
    lo, hi = 0, len(entries) - 1
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if entries[mid][0] <= target:
            lo = mid
        else:
            hi = mid - 1
    with open(os.path.join(part_dir, "data"), "rb", buffering=READ_CHUNK) as fh:
        header = _read_header(fh)
        fh.seek(entries[lo][1])
        for kb, vb in _read_records(fh, header):
            k = _norm(_decode_writable(header.key_class, kb))
            if k == target:
                return (True, _decode_writable(header.value_class, vb))
            if k > target:  # sorted data: overshot
                return None
    return None


# ---------------------------------------------------------------------------
# SetFile / ArrayFile — the reference's two MapFile specializations
# ---------------------------------------------------------------------------

_NULL_WRITABLE = "org.apache.hadoop.io.NullWritable"


def write_set_file(
    df: DataFrame,
    path: str,
    key_col: str,
    num_parts: int = 4,
    index_interval: int = INDEX_INTERVAL,
) -> int:
    """SetFile (``IO/SetFile.java:33``): a MapFile of keys with NullWritable
    values — a sorted on-disk set. Duplicate keys are collapsed (a set), and
    NullWritable serializes to ZERO bytes, so each data record is just the
    framed key. Stock ``SetFile.Reader`` round-trip pinned in tests."""
    keys = df.select(key_col).distinct()
    return write_map_file(
        keys.withColumn("__null", F.col(key_col)),
        path,
        key_col,
        "__null",
        num_parts=num_parts,
        index_interval=index_interval,
        value_writable=(_NULL_WRITABLE, lambda _v: b""),
    )


def set_file_contains(path: str, key) -> bool:
    """SetFile.Reader.seek(key) semantics: True iff the key is a member.
    Same O(index + one interval) cost as a MapFile point lookup."""
    return _map_file_probe(path, key) is not None


def read_set_file(spark: SparkSession, path: str, key_name: str = "key") -> DataFrame:
    """Distributed scan of the member keys (data files are ordinary
    SequenceFiles; NullWritable values are dropped)."""
    rdd = spark.sparkContext.sequenceFile(os.path.join(path, "part-*", "data"))
    return rdd.keys().map(lambda k: (k,)).toDF([key_name])


def write_array_file(
    df: DataFrame,
    path: str,
    value_col: str,
    order_col: str,
    num_parts: int = 4,
    index_interval: int = INDEX_INTERVAL,
) -> int:
    """ArrayFile (``IO/ArrayFile.java:33``): a MapFile whose keys are the
    LongWritable append position 0..n-1. The reference's single Writer
    assigns positions by stream order; the distributed analogue assigns them
    by the total order of ``order_col`` (must be unique) via the two-phase
    prefix-rank — no global window, one range shuffle. Each part then owns a
    contiguous index range, so ``get(n)`` touches exactly one part."""
    from ..operators.partitioning import two_phase_prefix

    idx = (
        two_phase_prefix(
            df.select(order_col, value_col),
            [F.col(order_col)],
            F.lit(1),
            "__rank",
            num_partitions=num_parts,
        )
        .withColumn("__idx", (F.col("__rank") - 1).cast("bigint"))
        .select("__idx", value_col)
    )
    return write_map_file(
        idx, path, "__idx", value_col,
        num_parts=num_parts, index_interval=index_interval,
    )


def array_file_get(path: str, n: int):
    """ArrayFile.Reader.get(n): positional point lookup."""
    return map_file_lookup(path, int(n))


def read_array_file(
    spark: SparkSession, path: str, value_name: str = "value"
) -> DataFrame:
    """Distributed scan as (idx bigint, value) — the array with explicit
    positions, so downstream order never depends on file listing order."""
    return read_map_file(spark, path, key_name="idx", value_name=value_name)


# ---------------------------------------------------------------------------
# BloomMapFile — MapFile + per-dir DynamicBloomFilter (``bloom`` file)
# ---------------------------------------------------------------------------


def write_bloom_map_file(
    df: DataFrame,
    path: str,
    key_col: str,
    value_col: str,
    num_parts: int = 4,
    index_interval: int = INDEX_INTERVAL,
    bloom_num_keys: int = 1024 * 1024,
    bloom_error_rate: float = 0.005,
) -> int:
    """BloomMapFile (``IO/BloomMapFile.java:49``): each part dir gains a
    ``bloom`` file — a serialized DynamicBloomFilter over the raw key bytes —
    written in the SAME pass as data/index (no second scan). Lookups consult
    it first and skip the part on a negative, the whole point for sparse
    key sets. Stock BloomMapFile.Reader round-trip pinned in tests."""
    return write_map_file(
        df, path, key_col, value_col,
        num_parts=num_parts, index_interval=index_interval,
        bloom=True, bloom_num_keys=bloom_num_keys,
        bloom_error_rate=bloom_error_rate,
    )


def bloom_map_file_lookup(path: str, key):
    """BloomMapFile.Reader.get: test the per-part bloom before touching
    index/data; a negative costs one small file read and zero data I/O.
    Parts without a ``bloom`` file degrade to the plain probe
    (probablyHasKey returns true when bloomFilter == null)."""
    import glob

    from .bloomfilter import DynamicBloom

    target = _norm(key)
    key_bytes = _serialize_key(key)
    for part_dir in sorted(glob.glob(os.path.join(path, "part-*"))):
        bloom_path = os.path.join(part_dir, "bloom")
        if os.path.exists(bloom_path):
            with open(bloom_path, "rb") as fh:
                bf = DynamicBloom.from_bytes(fh.read())
            if not bf.test(key_bytes):
                continue  # definite miss: skip index+data entirely
        hit = _probe_part(part_dir, target)
        if hit is not None:
            return hit[1]
    return None


def _serialize_key(key) -> bytes:
    """Raw Writable bytes of a key — exactly what BloomMapFile.Writer feeds
    ``bloomKey`` (byteArrayForBloomKey: the serialized key, nothing else)."""
    from .seqfile import _enc_long, _enc_text

    if isinstance(key, str):
        return _enc_text(key)
    if isinstance(key, int):
        return _enc_long(key)
    raise TypeError(f"unsupported bloom key type {type(key)}")
