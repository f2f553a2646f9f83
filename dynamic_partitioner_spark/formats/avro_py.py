"""Pure-Python Avro object-container codec + distributed partitioned
Avro write/read.

Why this exists: the reference ships an Avro dynamic-partitioned sink
(`AvroDynamicPartitionedDatasetSink.java:53-134`), but this environment
has no ``spark-avro`` connector jar and no Python avro package.  The
Avro 1.x object-container format is a small public spec
(https://avro.apache.org/docs/1.11.1/specification/), and the
reference's observable schema surface is *flat records of six
primitives* (SURVEY.md §1.3: boolean/int/long/float/double/string from
the widget JSON), so a compact codec covers the full parity surface —
plus ``bytes`` and nullable unions because they're nearly free.

On a deployment that has the ``spark-avro`` jar, prefer
``df.write.format("avro")`` — ``write_partitioned`` does exactly that
when :func:`~..operators.partitioned_write.spark_avro_available` is
true.  This module is the fallback path, and it keeps all heavy work
executor-side:

  * **write**: one ``applyInPandas`` group per partition-key tuple —
    the same per-key writer fan-out the reference's CDAP
    ``DynamicPartitioner`` does (SURVEY.md §3 E3) — each group encodes
    its rows to one container file under ``k=v/`` Hive layout.  The
    writer only appends: CREATE and dynamic overwrite point it at
    ``write_partitioned``'s staging directory and commit from there,
    as for Parquet and ORC.
  * **read**: Spark's ``binaryFile`` source lists + reads files in
    parallel; ``mapInPandas`` decodes blocks; partition-key columns are
    parsed from the file path exactly like Spark's own partition
    discovery.

Determinism: file names derive from the key tuple, and the 16-byte sync
marker is md5(relative path), so re-running a write yields byte-identical
output — required for the driver's hash-based correctness gate.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import struct
import zlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAGIC = b"Obj\x01"

# --------------------------------------------------------------- schema

_SPARK_TO_AVRO = {
    T.BooleanType(): "boolean",
    T.IntegerType(): "int",
    T.ShortType(): "int",
    T.ByteType(): "int",
    T.LongType(): "long",
    T.FloatType(): "float",
    T.DoubleType(): "double",
    T.StringType(): "string",
    T.BinaryType(): "bytes",
}

_AVRO_TO_SPARK = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "bytes": T.BinaryType(),
}


def avro_schema_json(schema: T.StructType, name: str = "topLevelRecord") -> str:
    """Spark StructType → Avro record schema JSON (flat primitives;
    nullable fields become ``["null", T]`` unions, null-first like the
    reference's CDAP nullable-union convention)."""
    import re as _re
    fields = []
    for f in schema.fields:
        if f.dataType not in _SPARK_TO_AVRO:
            raise ValueError(
                f"avro_py supports flat primitive schemas; field "
                f"'{f.name}' has unsupported type {f.dataType.simpleString()}")
        if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", f.name):
            # the Avro spec's name rule (§Names): a column like
            # 'order date' or '2col' would WRITE fine and round-trip
            # through this module's own reader, but every conformant
            # reader (spark-avro, fastavro, avro-tools) rejects the
            # container's schema — corruption that only surfaces when
            # the data leaves the engine (r15 review).  Fail at write.
            raise ValueError(
                f"field name {f.name!r} is not a valid Avro name "
                "([A-Za-z_][A-Za-z0-9_]*); rename the column before "
                "the Avro sink")
        at: object = _SPARK_TO_AVRO[f.dataType]
        if f.nullable:
            at = ["null", at]
        fields.append({"name": f.name, "type": at})
    return json.dumps({"type": "record", "name": name, "fields": fields})


def spark_schema_from_avro(avro_json: str) -> T.StructType:
    rec = json.loads(avro_json)
    out = []
    for f in rec["fields"]:
        at = f["type"]
        nullable = False
        if isinstance(at, list):          # union — only ["null", prim]
            nonnull = [t for t in at if t != "null"]
            if len(nonnull) != 1 or not isinstance(nonnull[0], str):
                raise ValueError(f"unsupported union {at!r}")
            at, nullable = nonnull[0], True
        out.append(T.StructField(f["name"], _AVRO_TO_SPARK[at], nullable))
    return T.StructType(out)


# ----------------------------------------------------- binary primitives

def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _varint(n: int) -> bytes:
    """zigzag varint as one bytes object (single buffer write — a
    per-7-bit ``BytesIO.write`` measured ~3× slower on the hot path)."""
    z = _zigzag(n)
    if z < 0x80:
        return _VARINT1[z]
    out = []
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


#: interned single-byte varints (zigzag values 0..127 cover longs
#: -64..63 and every small length prefix)
_VARINT1 = [bytes([i]) for i in range(0x80)]


def _write_long(buf: io.BytesIO, n: int) -> None:
    buf.write(_varint(n))


def _read_long(mv: memoryview, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        b = mv[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


_F = struct.Struct("<f")
_D = struct.Struct("<d")


def _make_encoders(schema: T.StructType):
    """One closure per field: (BytesIO, value) -> None.

    Type dispatch happens HERE, once per schema — not per value.  The
    per-call if-chain over DataType singletons was the second hot spot
    of the pure-Python write path (after per-byte varint writes)."""
    encs = []
    for f in schema.fields:
        t = f.dataType
        if t == T.StringType():
            def enc(buf, v):
                raw = v.encode("utf-8")
                buf.write(_varint(len(raw)))
                buf.write(raw)
        elif t in (T.LongType(), T.IntegerType(), T.ShortType(),
                   T.ByteType()):
            def enc(buf, v):
                buf.write(_varint(int(v)))
        elif t == T.DoubleType():
            def enc(buf, v, _p=_D.pack):
                buf.write(_p(float(v)))
        elif t == T.FloatType():
            def enc(buf, v, _p=_F.pack):
                buf.write(_p(float(v)))
        elif t == T.BooleanType():
            def enc(buf, v):
                buf.write(b"\x01" if v else b"\x00")
        elif t == T.BinaryType():
            def enc(buf, v):
                raw = bytes(v)
                buf.write(_varint(len(raw)))
                buf.write(raw)
        else:
            raise ValueError(
                f"avro_py supports flat primitive schemas; field "
                f"'{f.name}' has unsupported type {t.simpleString()}")

        if f.nullable:
            def nenc(buf, v, enc=enc):
                if v is None:
                    buf.write(b"\x00")        # union branch 0 = null
                else:
                    buf.write(b"\x02")        # branch 1, zigzag(1)
                    enc(buf, v)
            encs.append(nenc)
        else:
            encs.append(enc)
    return encs


def _make_decoders(schema: T.StructType):
    """Build-time type dispatch, mirroring :func:`_make_encoders`."""
    decs = []
    for f in schema.fields:
        t = f.dataType
        if t == T.StringType():
            def dec(mv, pos):
                n, pos = _read_long(mv, pos)
                return str(mv[pos:pos + n], "utf-8"), pos + n
        elif t == T.LongType() or t == T.IntegerType():
            dec = _read_long
        elif t == T.DoubleType():
            def dec(mv, pos, _u=_D.unpack_from):
                return _u(mv, pos)[0], pos + 8
        elif t == T.FloatType():
            def dec(mv, pos, _u=_F.unpack_from):
                return _u(mv, pos)[0], pos + 4
        elif t == T.BooleanType():
            def dec(mv, pos):
                return mv[pos] == 1, pos + 1
        elif t == T.BinaryType():
            def dec(mv, pos):
                n, pos = _read_long(mv, pos)
                return bytes(mv[pos:pos + n]), pos + n
        else:  # pragma: no cover — schema pre-validated
            raise ValueError(str(t))

        if f.nullable:
            def ndec(mv, pos, dec=dec):
                branch, pos = _read_long(mv, pos)
                if branch == 0:
                    return None, pos
                return dec(mv, pos)
            decs.append(ndec)
        else:
            decs.append(dec)
    return decs


# ------------------------------------------------------- container files

def encode_container(rows: Iterator[tuple], schema: T.StructType,
                     sync: bytes, codec: str = "deflate",
                     block_rows: int = 4096) -> bytes:
    """Rows (tuples in schema field order) → Avro object-container bytes."""
    if codec not in ("null", "deflate"):
        # the container metadata CLAIMS the codec; writing it over
        # blocks that were not actually compressed that way would
        # produce a file every conformant reader mis-decodes (r13
        # review: only write_avro_partitioned validated)
        raise ValueError(f"encode_container supports codecs "
                         f"null/deflate, not {codec!r}")
    encs = _make_encoders(schema)
    ncols = len(encs)
    out = io.BytesIO()
    out.write(MAGIC)
    meta = {"avro.schema": avro_schema_json(schema).encode(),
            "avro.codec": codec.encode()}
    _write_long(out, len(meta))
    for k, v in meta.items():
        kb = k.encode()
        _write_long(out, len(kb))
        out.write(kb)
        _write_long(out, len(v))
        out.write(v)
    _write_long(out, 0)                     # end of metadata map
    out.write(sync)

    block = io.BytesIO()
    count = 0

    def flush():
        nonlocal count
        if not count:
            return
        data = block.getvalue()
        if codec == "deflate":
            data = zlib.compress(data)[2:-4]   # raw deflate per spec
        _write_long(out, count)
        _write_long(out, len(data))
        out.write(data)
        out.write(sync)
        block.seek(0)
        block.truncate()
        count = 0

    for row in rows:
        for i in range(ncols):
            encs[i](block, row[i])
        count += 1
        if count >= block_rows:
            flush()
    flush()
    return out.getvalue()


def _read_header(mv: memoryview) -> tuple[dict[str, bytes], int]:
    """Container header → (metadata map, offset of the first block).
    Raises ``EOFError`` when ``mv`` ends inside the header."""
    if bytes(mv[:4]) != MAGIC:
        raise ValueError("not an Avro object container file")
    pos = 4
    meta: dict[str, bytes] = {}
    try:
        while True:
            n, pos = _read_long(mv, pos)
            if n == 0:
                break
            if n < 0:                      # negative count → size follows
                n = -n
                _, pos = _read_long(mv, pos)
            for _ in range(n):
                kl, pos = _read_long(mv, pos)
                k = str(mv[pos:pos + kl], "utf-8")
                pos += kl
                vl, pos = _read_long(mv, pos)
                meta[k] = bytes(mv[pos:pos + vl])
                pos += vl
    except IndexError:
        raise EOFError("Avro container header is truncated") from None
    pos += 16                              # sync marker
    if pos > len(mv):
        raise EOFError("Avro container header is truncated")
    return meta, pos


def container_schema(head: bytes) -> T.StructType:
    """Spark schema from the header of an Avro container; ``head`` may
    be any prefix of the file that holds the whole header."""
    meta, _ = _read_header(memoryview(head))
    return spark_schema_from_avro(meta["avro.schema"].decode())


def decode_container(data: bytes) -> tuple[T.StructType, list[tuple]]:
    """Avro object-container bytes → (schema, rows as tuples)."""
    mv = memoryview(data)
    meta, pos = _read_header(mv)
    schema = spark_schema_from_avro(meta["avro.schema"].decode())
    codec = meta.get("avro.codec", b"null").decode()
    decs = _make_decoders(schema)
    ncols = len(decs)
    rows: list[tuple] = []
    total = len(mv)
    while pos < total:
        count, pos = _read_long(mv, pos)
        size, pos = _read_long(mv, pos)
        blk = mv[pos:pos + size]
        pos += size + 16                   # block + sync
        if codec == "deflate":
            blk = memoryview(zlib.decompress(blk, wbits=-15))
        elif codec != "null":
            raise ValueError(f"unsupported avro codec {codec!r}")
        bpos = 0
        for _ in range(count):
            vals = [None] * ncols
            for i in range(ncols):
                vals[i], bpos = decs[i](blk, bpos)
            rows.append(tuple(vals))
    return schema, rows


# ---------------------------------------------------- distributed write

def _hive_dir(field_names: list[str], key: tuple) -> str:
    # Same Hive escapePathName spelling as the spark-avro fast path, so
    # a partition written by either writer reads back as ONE logical
    # partition (urllib quote produced %20-style variants — ADVICE r2)
    from ..functions.paths import hive_partition_path
    return hive_partition_path(field_names, key)


def write_avro_partitioned(df: DataFrame, field_names: list[str],
                           path: str, codec: str = "deflate") -> str:
    """Hive-partitioned Avro append without the spark-avro jar.

    One ``applyInPandas`` group per distinct key tuple → one container
    file per partition directory (the reference's one-writer-per-key
    fan-out).  The group shuffle is the same hash-on-keys exchange
    ``partitionBy`` would plan.  Skew caveat: one giant key lands in one
    task — acceptable for the fallback path; the spark-avro fast path
    handles skew via REBALANCE in ``write_partitioned``.

    The write appends into ``path`` and collects no keys.  A CREATE or
    dynamic-overwrite write through ``write_partitioned`` points
    ``path`` at its staging directory and commits the partitions
    written there afterwards.  A failed write removes the files of its
    own job.  The fallback writer requires a POSIX-visible output path
    on all executors (it writes through the local file API).
    """
    import pandas as pd

    if codec not in ("null", "deflate"):
        raise ValueError(
            f"pure-Python avro writer supports codecs null/deflate, not "
            f"{codec!r}; install the spark-avro connector for {codec}")
    import uuid

    payload_schema = T.StructType(
        [f for f in df.schema.fields if f.name not in field_names])
    avro_schema_json(payload_schema)       # validate types up front
    cols = [f.name for f in payload_schema.fields]
    # driver-generated once and captured by the closure: every task
    # ATTEMPT for a partition writes the same deterministic file name,
    # so a task retry / speculative attempt overwrites its own partial
    # file instead of appending a duplicate; separate append jobs get
    # fresh tokens and coexist
    job_token = uuid.uuid4().hex[:12]
    float_cols = [f.name for f in payload_schema.fields
                  if isinstance(f.dataType, (T.DoubleType, T.FloatType))]
    # nullable integer columns need the same mask treatment: Arrow
    # hands int64-with-nulls to pandas as float64, which silently
    # rounds values beyond 2^53 (r13 review: data corruption).  The
    # value column is coalesced to 0 Spark-side so pandas receives
    # exact int64; the mask restores the nulls at encode time.
    int_cols = [f.name for f in payload_schema.fields
                if isinstance(f.dataType,
                              (T.LongType, T.IntegerType,
                               T.ShortType, T.ByteType))]

    clash = [c for c in (*float_cols, *int_cols)
             if f"__null_{c}" in df.columns]
    if clash:
        # a real payload column named '__null_x' would duplicate the
        # mask's label and crash pandas inside the per-group writer
        # (duplicate-label indexing) — refuse loudly up front, the
        # partitioned_write '_stage' clash pattern (r15 review)
        raise ValueError(
            f"columns {[f'__null_{c}' for c in clash]} collide with "
            "the writer's internal null-mask labels; rename them")

    def write_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        rel = _hive_dir(field_names, key)
        target = os.path.join(path, rel)
        os.makedirs(target, exist_ok=True)
        rel_md5 = hashlib.md5(rel.encode())
        sync = rel_md5.digest()
        # masks join the sort key: a NULL and a NaN double tie as NaN
        # in the pandas view, and shuffle arrival order would then
        # decide their output order — breaking the byte-identical
        # re-run/retry guarantee the deterministic file name relies on
        # (r13 review)
        sort_cols = cols + [f"__null_{c}" for c in (*float_cols,
                                                    *int_cols)]
        pdf = pdf.sort_values(sort_cols).reset_index(drop=True) \
            if cols else pdf
        # None only for TRUE nulls; float NaN is a legitimate double
        # value and must survive (the spark-avro fast path writes NaN
        # as NaN — blanket NaN→None diverged, and crashed non-nullable
        # float fields outright).  Arrow hands float columns to pandas
        # with nulls ALREADY collapsed to NaN, so the distinction rides
        # in the Spark-side __null_ mask columns projected below.
        if cols:
            vals = pdf[cols].astype(object)
            mask = pd.notna(vals)
            for c in (*float_cols, *int_cols):
                mask[c] = ~pdf[f"__null_{c}"].astype(bool)
            recs = vals.where(mask, None).itertuples(index=False,
                                                     name=None)
        else:
            # every column a partition key: itertuples over a zero-
            # column frame yields NOTHING, silently writing an empty
            # container while stats claimed len(pdf) rows (r13
            # review) — emit one empty record per row instead
            recs = iter([()] * len(pdf))
        blob = encode_container(recs, payload_schema, sync, codec)
        fname = f"part-{rel_md5.hexdigest()[:16]}-{job_token}.avro"
        with open(os.path.join(target, fname), "wb") as fh:
            fh.write(blob)
        return pd.DataFrame({"partition": [rel], "rows": [len(pdf)]})

    os.makedirs(path, exist_ok=True)       # empty input → valid empty dataset
    out_schema = "partition string, rows long"
    masked = df.select(
        "*", *[F.col(c).isNull().alias(f"__null_{c}")
               for c in (*float_cols, *int_cols)])
    for c in int_cols:
        # AFTER the mask projection: exact int64 reaches pandas, the
        # mask restores which zeros were really nulls
        masked = masked.withColumn(c, F.coalesce(F.col(c), F.lit(0))
                                   .cast(df.schema[c].dataType))
    stats = (masked.groupBy(*field_names)
             .applyInPandas(write_group, out_schema))
    try:
        stats.collect()                    # materialize = run the write
    except Exception:
        # remove THIS job's own partial output: succeeded tasks'
        # files are token-unique, and a caller's whole-call retry
        # would otherwise duplicate every one of their rows (r13
        # review).  glob.escape: the tree path is caller-supplied.
        import glob as _glob
        for f in _glob.glob(os.path.join(_glob.escape(path), "**",
                                         f"part-*-{job_token}.avro"),
                            recursive=True):
            try:
                os.remove(f)
            except OSError:
                pass
        raise
    return path


# ----------------------------------------------------- distributed read

def list_avro_containers(spark, path: str):
    """The ONE binaryFile listing for .avro containers under a tree:
    recursive and '*.avro'-globbed.  Spark's listing skips hidden
    directories, so a write's staging directory is never read."""
    return (spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.avro")
            .option("recursiveFileLookup", "true")
            .load(path))


def read_avro_partitioned(spark: SparkSession, path: str,
                          field_names: list[str],
                          payload_schema: T.StructType) -> DataFrame:
    """Read back a :func:`write_avro_partitioned` tree.

    ``binaryFile`` lists and reads container files executor-side;
    ``mapInArrow`` decodes — Arrow batches built from Python lists keep
    the None-vs-NaN distinction a pandas float column would collapse
    (a pandas-path read turned stored NaN doubles into NULLs).  Columns
    realign by the FILE's own schema names, so a field-order mismatch
    with the caller's schema cannot silently transpose same-typed
    columns.  Partition columns come from the file path (string-typed,
    matching both the reference's string partition dimensions and
    Spark's own discovery-with-inference-off)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    full = T.StructType(
        list(payload_schema.fields)
        + [T.StructField(f, T.StringType(), False) for f in field_names])
    out_names = ([f.name for f in payload_schema.fields]
                 + list(field_names))
    arrow_types = [to_arrow_type(f.dataType) for f in payload_schema.fields]

    def decode(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        from dynamic_partitioner_spark.functions.paths import (
            escape_path_name, partition_value_from_dir)
        for batch in batches:
            paths = batch.column(0).to_pylist()
            contents = batch.column(1).to_pylist()
            for fpath, content in zip(paths, contents):
                file_schema, rows = decode_container(bytes(content))
                pos = {f.name: i for i, f in enumerate(file_schema.fields)}
                missing = [f.name for f in payload_schema.fields
                           if f.name not in pos]
                if missing:
                    # a mixed-schema tree (evolved append) previously
                    # surfaced as an opaque executor KeyError (r13
                    # review) — name the file and the fields instead
                    raise ValueError(
                        f"avro file {fpath} lacks payload fields "
                        f"{missing} (schema evolution across the "
                        "tree?) — the pure-Python fallback reads one "
                        "schema; rewrite or read formats separately")
                arrays = [
                    pa.array([r[pos[f.name]] for r in rows], type=at)
                    for f, at in zip(payload_schema.fields, arrow_types)]
                for f in field_names:
                    marker = f"/{escape_path_name(f)}="
                    if marker not in fpath:
                        # a mixed-depth tree or stray .avro file whose
                        # path lacks the partition dir previously died
                        # as an opaque executor IndexError — name the
                        # file and the field instead, like the
                        # missing-payload-field error above (r15 review)
                        raise ValueError(
                            f"avro file {fpath} has no '{marker[1:]}' "
                            "directory in its path; the tree is not "
                            f"partitioned by {f!r} at this branch")
                    # LAST occurrence: the innermost dir is the real
                    # partition — a base path containing '/{f}=' (e.g.
                    # a date-stamped run dir) matched FIRST and stamped
                    # every row with the base path's value (r13 review)
                    seg = fpath.rsplit(marker, 1)[1].split("/", 1)[0]
                    arrays.append(pa.array(
                        [partition_value_from_dir(seg)] * len(rows),
                        type=pa.string()))
                yield pa.RecordBatch.from_arrays(arrays, out_names)

    files = list_avro_containers(spark, path).select("path", "content")
    return files.mapInArrow(decode, full)
