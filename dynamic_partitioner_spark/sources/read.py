"""Read-back of partitioned datasets (reference §2.2).

The reference configures Hive/Explore input formats so written datasets
are scannable (``FileSetUtil.java:76-85,115-119,156-158``) and never
discovers partitions when it reads: its driver commits partition
metadata after the tasks finish (SURVEY.md §E3, boundary #3) and Hive
reads that metadata.  Spark's partition discovery is the native
equivalent: ``spark.read.<fmt>(path)`` reconstructs partition columns
from directory names, prunes partitions on filter, and pushes
predicates/projections into the columnar scan.

Cost of resolving a tree, i.e. of the :func:`read_partitioned` call
before any query runs:

- **Listing.**  A local tree (Hadoop scheme ``file``) is listed on the
  driver: Spark's parallel-discovery threshold is pinned high while
  ``load()`` runs, so no listing job starts at any directory count.
  Every other filesystem (``hdfs``, ``s3a``, ...) keeps Spark's
  threshold, and with it the parallel listing job above 32 paths.
- **Schema.**  For Parquet the driver walks one branch of the tree to
  the first data file, reads that one footer (row groups skipped) and
  hands the schema to the reader, so Spark runs no footer-inference
  job.  The walk costs a fixed number of py4j calls per directory
  level, not per partition.  Where only Spark's own inference is
  exact, Spark infers as before: ``merge_schema``, a glob, a missing
  or empty tree, a summary file, or a footer that holds a partition
  column anywhere but last, in partition order.  ORC infers from one
  footer on the driver by itself; Avro without spark-avro reads one
  container header (see :func:`_read_avro_fallback`).

So a local Parquet or ORC tree resolves with no Spark job, and an
object-store tree with at most the listing job.

One semantic pin: the reference types every partition dimension STRING
(``PartitionedFileSetSinkConfig.java:146``), so we disable Spark's
partition-column type re-inference for the read.
"""

from __future__ import annotations

import json
import threading
from contextlib import contextmanager
from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..formats.avro_py import container_schema, read_avro_partitioned
from ..functions.paths import unescape_path_name
from ..spec import SinkSpec

_INFER = "spark.sql.sources.partitionColumnTypeInference.enabled"
_LIST_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_MERGE_PARQUET = "spark.sql.parquet.mergeSchema"
#: characters that make Spark expand a path as a glob
#: (``SparkHadoopUtil.isGlobPath``)
_GLOB = frozenset("{}[]*?\\")
#: Parquet summary files: Spark's inference prefers them to data files
_SUMMARY = ("_metadata", "_common_metadata")
#: pins are session-wide: two reads pinning at once would each restore
#: the other's pin as the "old" value and leave it set for good
_PIN_LOCK = threading.Lock()


def is_local_scheme(scheme: str | None) -> bool:
    """Whether Hadoop filesystem ``scheme`` is the local disk: its
    trees are listed on the driver, and a CREATE write claims its
    partitions with ``os.rename``."""
    return scheme == "file"


def _pins(scheme: str | None) -> dict[str, str]:
    """Confs pinned while Spark resolves a tree on filesystem
    ``scheme``: partition columns stay STRING, and a local tree is
    listed on the driver however many directories it has.  Any other
    scheme keeps Spark's parallel listing."""
    pins = {_INFER: "false"}
    if is_local_scheme(scheme):
        pins[_LIST_THRESHOLD] = str(2**31 - 1)
    return pins


@contextmanager
def _pinned(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` for the body, then restore each exactly: a conf
    that was unset before is unset again."""
    with _PIN_LOCK:
        old = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            yield
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def read_partitioned(spark: SparkSession, path: str,
                     fmt: str = "parquet",
                     merge_schema: bool = False) -> DataFrame:
    """Load a Hive-partitioned dataset; partition columns stay STRING.

    Resolving costs no Spark job for a local Parquet or ORC tree: the
    driver lists it and, for Parquet, reads one footer; on other
    filesystems Spark's parallel listing stays (module docstring).

    ``merge_schema=True`` unions the schemas of all files (parquet/ORC
    schema evolution: appends that added columns read back with NULLs
    for the old files).  Off by default — schema merging reads every
    file's footer in a Spark job, a metadata cost worth paying only on
    evolved datasets.  Without it, like Spark, the schema comes from
    one file: the first one in Spark's path order.

    Avro without the spark-avro jar routes to the pure-Python container
    reader (self-describing: partition fields from the directory
    layout, payload schema from a container header), so datasets the
    write-side fallback produced stay readable — and mergeable /
    compactable — through the same entry point."""
    if fmt == "avro":
        from ..operators.partitioned_write import spark_avro_available
        if not spark_avro_available(spark):
            if merge_schema:
                # the fallback reads ONE container header's schema —
                # silently dropping an explicit merge request would
                # either mis-read an evolved tree or surface as a
                # confusing executor-side field error (r14 review)
                raise ValueError(
                    "merge_schema=True is not supported by the "
                    "pure-Python Avro fallback (it decodes every "
                    "file against one self-describing header "
                    "schema); install spark-avro or read each "
                    "schema generation separately")
            return _read_avro_fallback(spark, path)
    try:
        fs, root, conf = _filesystem(spark, path)
    except Py4JJavaError:
        # no filesystem for this path: Spark's load raises its own error
        fs = None
    reader = spark.read.format(fmt)
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    elif fmt == "parquet" and fs is not None:
        schema = _footer_schema(spark, path, fs, root, conf)
        if schema is not None:
            reader = reader.schema(schema)
    scheme = fs.getScheme() if fs is not None else None
    with _pinned(spark, _pins(scheme)):
        return reader.load(path)


def _filesystem(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path, Configuration) of ``path``, with the
    session's Hadoop conf as Spark's own file index builds it."""
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    root = spark._jvm.org.apache.hadoop.fs.Path(path)
    return root.getFileSystem(conf), root, conf


class _Unresolved(ValueError):
    """A tree shape the driver-side walk does not reproduce."""


def _hidden(name: str) -> bool:
    """Spark's ``HadoopFSUtils.shouldFilterOutPathName``: the names its
    file listing drops."""
    exclude = ((name.startswith("_") and "=" not in name)
               or name.startswith(".") or name.endswith("._COPYING_"))
    return exclude and not name.startswith(_SUMMARY)


def _first_file(spark: SparkSession, fs, root,
                accept: Callable[[str], bool]):
    """``(FileStatus, partition keys)`` of the first file under ``root``
    that Spark's listing keeps and ``accept(name)`` takes, or None.

    Depth first in Spark's order of leaf paths (full path strings
    ascending), so a Parquet tree yields the file Spark's inference
    would read.  Each directory on the way costs a fixed number of
    py4j calls, one listing and one joined string of its names; only
    the entries visited are touched singly.  Hidden names, a write's
    staging directory among them, are skipped as Spark skips them.
    Raises
    :class:`_Unresolved` on a summary file, a directory that is not
    ``key=value`` or a key repeated along the branch."""
    jvm = spark._jvm
    wrap = jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray
    to_paths = jvm.org.apache.hadoop.fs.FileUtil.stat2Paths

    def walk(p, keys: list[str]):
        statuses = fs.listStatus(p)
        joined = wrap(to_paths(statuses)).mkString("\0")
        names = [s.rsplit("/", 1)[-1] for s in joined.split("\0")] \
            if joined else []
        if any(n.startswith(_SUMMARY) for n in names):
            raise _Unresolved(f"{p.toString()} holds a summary file")
        named = sorted((n, i) for i, n in enumerate(names)
                       if not _hidden(n))
        # a directory's files sort as "name/...": it goes after a
        # sibling that extends its name with a character below "/"
        # ("k=1" after "k=1.5"); the next name in order shows whether
        # any sibling does
        order = []
        for j, (n, i) in enumerate(named):
            nxt = named[j + 1][0] if j + 1 < len(named) else ""
            below = (len(nxt) > len(n) and nxt.startswith(n)
                     and nxt[len(n)] < "/" and statuses[i].isDirectory())
            order.append((n + "/" if below else n, n, i))
        for _, n, i in sorted(order):
            st = statuses[i]
            if st.isDirectory():
                key, _, value = n.partition("=")
                key = unescape_path_name(key)
                if not key or not value or key.lower() in map(str.lower,
                                                              keys):
                    raise _Unresolved(
                        f"{st.getPath().toString()} is not a key=value "
                        "directory with a new key")
                hit = walk(st.getPath(), [*keys, key])
                if hit is not None:
                    return hit
            elif accept(n):
                return st, keys
        return None

    return walk(root, [])


def _footer_schema(spark: SparkSession, path: str, fs, root,
                   conf) -> T.StructType | None:
    """The schema Spark's inference gives the Parquet tree at ``path``,
    from one footer read on the driver: the footer's fields, converted
    by Spark's own converter for this session, then the partition keys
    as STRING.  None where only Spark's inference is exact."""
    if (spark.conf.get(_MERGE_PARQUET).lower() == "true"
            or _GLOB & set(path)):
        return None
    jvm = spark._jvm
    parquet = jvm.org.apache.parquet
    spark_parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    try:
        hit = _first_file(spark, fs, root, lambda name: True)
        if hit is None:
            return None
        status, keys = hit
        file = status.getPath()
        meta = parquet.hadoop.ParquetFileReader.readFooter(
            conf, file,
            parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
        data = spark_parquet.ParquetFileFormat.readSchemaFromFooter(
            parquet.hadoop.Footer(file, meta),
            spark_parquet.ParquetToSparkSchemaConverter(
                spark._jsparkSession.sessionState().conf()))
    except (_Unresolved, Py4JJavaError):
        return None
    fields = T.StructType.fromJson(json.loads(data.json())).fields
    names = [f.name.lower() for f in fields]
    lowered = [k.lower() for k in keys]
    payload = [f for f in fields if f.name.lower() not in lowered]
    # a partition column the files also hold stays where the file has
    # it (typed from the path); a given schema puts every partition
    # column last, so it is exact only when both orders agree, as for
    # trees that store the partition columns last (DuckDB does)
    if names + [k for k in lowered if k not in names] != \
            [f.name.lower() for f in payload] + lowered:
        return None
    return T.StructType(
        payload + [T.StructField(k, T.StringType()) for k in keys])


def _read_avro_fallback(spark: SparkSession, path: str) -> DataFrame:
    """Pure-Python Avro read-back for jar-less deployments: the
    partition keys and one container file come from the driver-side
    walk, the payload schema from that container's self-describing
    header, read through the Hadoop filesystem; then
    ``formats.avro_py.read_avro_partitioned`` decodes distributed."""
    fs, root, _ = _filesystem(spark, path)
    hit = _first_file(spark, fs, root, lambda name: name.endswith(".avro"))
    if hit is None:
        raise FileNotFoundError(f"no .avro container files under {path}")
    status, keys = hit
    return read_avro_partitioned(spark, path, keys,
                                 _avro_schema(spark, fs, status))


def _avro_schema(spark: SparkSession, fs, status) -> T.StructType:
    """Payload schema from the header of the Avro container ``status``,
    reading only as many leading bytes as the header needs."""
    io_utils = spark._jvm.org.apache.commons.io.IOUtils
    size, n = status.getLen(), 1 << 16
    while True:
        n = min(n, size)
        stream = fs.open(status.getPath())
        try:
            head = bytes(io_utils.toByteArray(stream, n))
        finally:
            stream.close()
        try:
            return container_schema(head)
        except EOFError:
            if n == size:
                raise
            n *= 16


def read_table_view(spark: SparkSession, path: str, spec: SinkSpec) -> DataFrame:
    """Full logical relation: payload + string partition columns."""
    return read_partitioned(spark, path, spec.fmt)


def read_payload(spark: SparkSession, path: str, spec: SinkSpec) -> DataFrame:
    """Payload-only projection (reference table-schema semantics, §1.4:
    the Hive table schema excludes partition columns —
    ``PartitionedFileSetSinkConfig.java:101-108``)."""
    df = read_partitioned(spark, path, spec.fmt)
    return df.drop(*spec.field_names)


def read_fixed_width(spark: SparkSession, path: str,
                     colspecs: list[tuple[str, int, int, str]]) -> DataFrame:
    """Fixed-width text source: ``colspecs`` is a list of
    ``(name, start, length, type_ddl)`` with 1-based CHARACTER offsets
    (``substring`` slices code points; for the classic single-byte
    ASCII/EBCDIC-converted feeds characters and bytes coincide — a
    UTF-8 feed with multibyte characters needs byte-domain slicing over
    a binary read instead) — the mainframe/legacy-feed format Spark has
    no built-in reader for.

    One ``spark.read.text`` scan + a single projection of ``substring``
    slices (all codegen; casts run under ANSI so a malformed field
    fails loudly rather than silently nulling).  Splittable like any
    text file, so a 100 TB feed parallelizes by line ranges for free.
    Values are trimmed before the cast — fixed-width pads with spaces.
    """
    from pyspark.sql import functions as F

    lines = spark.read.text(path)
    cols = [F.trim(F.substring("value", start, length)).cast(dtype)
            .alias(name)
            for name, start, length, dtype in colspecs]
    return lines.select(*cols)
