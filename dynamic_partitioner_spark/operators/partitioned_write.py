"""Dynamic-partitioned sink — the reference's core capability (S1–S7).

Reference behavior being re-expressed (all file:line cites vs
``/root/reference/``):

  * one output directory per distinct partition-key tuple, Hive layout
    (``AvroDynamicPartitionedDatasetSink.java:51-131``) →
    ``df.write.partitionBy(*fields)``; Spark's ``FileFormatWriter``
    opens per-key writers inside each task, which IS the reference's
    CDAP ``DynamicPartitioner`` machinery, built in.
  * ``CREATE`` vs ``CREATE_OR_APPEND`` partition write options
    (``AvroDynamicPartitionedDatasetSink.java:70-73``): append maps to
    ``mode("append")``; CREATE = fail-if-partition-exists is enforced
    at commit, as the reference's driver does when it registers
    partition metadata after the tasks finish: the write lands in a
    hidden staging directory and each partition is then claimed by an
    exclusive rename (see :func:`write_partitioned`).  Dynamic
    partition overwrite commits through the same staged tree, retiring
    each replaced partition just before its claim.
  * stage tagging ``_CDAPStageName`` (``Constants.java:9-10``,
    ``Schemas.java:24-30``): opt-in constant column, off by default.

Scale posture (the part the reference could not do):

  * ``REBALANCE(keys)`` hint before the write — AQE-planned shuffle that
    co-locates each key into one task (→ one file per key instead of
    one-per-task-per-key) while SPLITTING skewed keys across tasks, so a
    hot key neither explodes small files nor bottlenecks one task.
  * ``maxRecordsPerFile`` caps file size for giant partitions.
  * The CREATE claim runs no Spark job: the new partition set comes
    from listing the staged tree, and each claim is one rename, so its
    cost follows the partitions the batch writes, not the target's.
"""

from __future__ import annotations

import dataclasses
import errno
import os
import shutil
import uuid

from py4j.java_gateway import is_instance_of
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.paths import (escape_path_name, hive_partition_path,
                               partition_value_from_dir,
                               unescape_path_name)
from ..functions.checkpoint import checkpoint_df
from ..sources.read import is_local_scheme, read_partitioned
from ..spec import SinkSpec, SpecError
from .partition_keys import normalize_partition_keys

#: reference Constants.java:9-10 — injected stage-tag field name.  We use a
#: neutral name; the semantic (constant routing column) is identical.
STAGE_FIELD = "_stage"

#: name prefix of a CREATE write's staging directory under the target:
#: the leading "." hides it from Spark's file index and from every
#: lister here, and it holds no "=", so no walk takes it for a partition
STAGING_PREFIX = ".graft-staging-"
#: subtree of the staging directory that holds the partitions an
#: overwrite replaces, until the publish has succeeded
RETIRED = ".retired"


class PartitionExistsError(RuntimeError):
    """CREATE-mode write would touch an already-existing partition."""


def existing_touched_partitions(
        spark: SparkSession, base_path: str, field_names: list[str],
        tuples: list[tuple[str, ...]]) -> list[tuple[str, ...]]:
    """Which of ``tuples`` already exist on disk — O(|tuples|)
    ``fs.exists`` probes on writer-exact composed paths
    (``hive_partition_path``, the same spelling authority the writer
    and the emptied-partition pruner use) instead of a FULL recursive
    walk of every partition directory (r15 review: a merge touching 3
    partitions of a 500k-partition lake paid ~500k listStatus RPCs —
    minutes of driver metadata latency per batch — where 3 probes
    answer the question).  ``list_existing_partitions`` remains the
    enumeration primitive for callers that genuinely need the full
    set."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    base = base_path.rstrip("/")
    jbase = jvm.org.apache.hadoop.fs.Path(base_path)
    fs = jbase.getFileSystem(hconf)
    if not fs.exists(jbase):
        return []
    out = []
    for t in tuples:
        rel = hive_partition_path(field_names, t)
        if fs.exists(jvm.org.apache.hadoop.fs.Path(f"{base}/{rel}")):
            out.append(t)
    return out


def list_existing_partitions(spark: SparkSession, base_path: str,
                             field_names: list[str]) -> set[tuple[str, ...]]:
    """Hive-layout partition discovery via the Hadoop FS API.

    Returns the set of existing key tuples under ``base_path``.  Pure
    metadata listing — no data read; one RPC per directory level.
    """
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(base_path)
    fs = jpath.getFileSystem(hconf)
    if not fs.exists(jpath):
        return set()

    found: set[tuple[str, ...]] = set()

    def walk(path, depth: int, prefix: tuple[str, ...]) -> None:
        if depth == len(field_names):
            found.add(prefix)
            return
        # the writer escapes the column name too (``a:b`` -> ``a%3Ab``)
        want = escape_path_name(field_names[depth]) + "="
        for status in fs.listStatus(path):
            if not status.isDirectory():
                continue
            name = status.getPath().getName()
            if name.startswith(want):
                # maps __HIVE_DEFAULT_PARTITION__ back to '' so the
                # listed key tuples compare against data-derived
                # ones (r14 review)
                value = partition_value_from_dir(name[len(want):])
                walk(status.getPath(), depth + 1, prefix + (value,))

    walk(jpath, 0, ())
    return found


def write_partitioned(df: DataFrame, spec: SinkSpec, path: str | None = None) -> str:
    """Validate, normalize keys, and write ``df`` Hive-partitioned.

    Returns the output path.  Raises :class:`~..spec.SpecError` on bad
    config and :class:`PartitionExistsError` in CREATE mode when an
    incoming key already exists (reference ``PartitionAlreadyExistsException``
    semantics via the CREATE write option).

    CREATE is checked at commit, not before the write.  The batch is
    written into a hidden ``.graft-staging-<uuid>`` directory under the
    target; the staged tree's listing gives the new partitions, and each
    one is claimed by an exclusive rename into place (an existing
    partition directory, even an empty one, is a clash).  Two CREATE
    writers racing for one partition therefore cannot both win it.  On
    a clash every partition this call already claimed moves back out
    and nothing of the batch stays visible; on a failed write likewise.
    The staging directory is removed after these outcomes.  Should the
    staged tree hold a file that no claimed partition carried, the
    claims roll back and the whole batch stays in the staging directory
    for recovery, with an error naming it.

    ``overwrite_partitions`` (dynamic overwrite: replace only the
    partitions the batch holds) commits through the same staged tree,
    as a replace at commit time: before each staged partition is
    claimed, the existing partition at its target moves into the
    staging directory's ``.retired`` subtree.  Any failure moves every
    claim back out and every retired partition back in; the retired
    copies are deleted with the staging directory only after the
    publish succeeds.  Costs and limits of this protocol:

    * A clashing CREATE write pays for the whole write before it finds
      the clash, then rolls back.
    * A crash mid-claim leaves each claimed partition whole (one rename
      each) and the unclaimed rest in the staging directory, which every
      reader skips; delete it by hand.  A crash mid-overwrite also
      leaves the partitions it had retired under
      ``<staging>/.retired/``: move back any whose target is missing.
    * On object stores a rename copies the bytes and is not exclusive,
      so two writers there can both claim a partition, and an overwrite
      copies each retired partition too.  Local disks and HDFS rename
      atomically.
    * Append writers running alongside a CREATE writer on the same
      target are not supported: files an append adds to a partition the
      CREATE writer has claimed leave with that partition if it rolls
      back.
    """
    spec.validate(df.schema)
    out = path or spec.base_path or spec.name
    ndf = normalize_partition_keys(df, spec.field_names)
    if spec.stage_name is not None:
        if STAGE_FIELD in ndf.columns:
            # withColumn would silently OVERWRITE a caller's own
            # _stage payload column with the literal stage name (and
            # merge rewrites would re-stamp kept rows) — raise like
            # the _z and derived-name clash paths do (r15 review)
            raise SpecError(
                f"input already has a column named {STAGE_FIELD!r}; "
                "stage tagging would overwrite it — rename the "
                "column or unset stage_name")
        ndf = ndf.withColumn(STAGE_FIELD, F.lit(spec.stage_name))
    if spec.mode_is_append and not spec.overwrite_partitions:
        _write(ndf, spec, out)
    else:
        _write_and_claim(ndf, spec, out)
    return out


def _write(ndf: DataFrame, spec: SinkSpec, out: str) -> None:
    """Append the key-normalized ``ndf`` under ``out``."""
    spark = ndf.sparkSession
    if spec.fmt == "avro" and not spark_avro_available(spark):
        # no spark-avro connector jar in this deployment — use the
        # pure-Python container codec (same Hive layout + per-key writer
        # fan-out; see formats/avro_py.py)
        from ..formats import write_avro_partitioned
        codec = (spec.compression_codec or "deflate").lower()
        write_avro_partitioned(ndf, spec.field_names, out,
                               codec="null" if codec == "none" else codec)
        return

    if spec.cluster_by_key:
        ndf = ndf.hint("rebalance", *map(F.col, spec.field_names))

    if spec.sort_within:
        # sorted write (Iceberg sorted-table / Delta OPTIMIZE shape):
        # sort AFTER key normalization with the partition fields as the
        # ordering prefix, so FileFormatWriter's required ordering is
        # already satisfied and it does NOT insert its own UNSTABLE
        # partition-column sort (which would scramble any incoming row
        # order) — every output file then holds a contiguous run of the
        # per-partition sort (see clustering_depth for the audit)
        ndf = ndf.sortWithinPartitions(
            *[F.col(c) for c in spec.field_names],
            *[F.col(c) for c in spec.sort_within])

    writer = (ndf.write.mode("append")
              .option("maxRecordsPerFile", str(spec.max_records_per_file))
              .partitionBy(*spec.field_names)
              .format(spec.fmt))
    for k, v in spec.writer_options().items():
        writer = writer.option(k, v)
    writer.save(out)


def _write_and_claim(ndf: DataFrame, spec: SinkSpec, out: str) -> None:
    """CREATE or dynamic overwrite: stage the write under ``out``, then
    claim the staged partitions in sorted order (so of two writers with
    overlapping batches at least one gets through), retiring each
    existing target first when ``spec.overwrite_partitions``.  Any
    failure undoes every claim and every retire of this call.  No
    Spark job beyond the write itself."""
    spark = ndf.sparkSession
    name = STAGING_PREFIX + uuid.uuid4().hex
    staging = f"{out.rstrip('/')}/{name}"
    jout = spark._jvm.org.apache.hadoop.fs.Path(out)
    fs = jout.getFileSystem(spark._jsc.hadoopConfiguration())
    root = fs.makeQualified(jout)
    tree = (_LocalClaims(root.toUri().getPath(), name)
            if is_local_scheme(fs.getScheme())
            else _HadoopClaims(spark, fs, root, name))
    keep_staging = False
    try:
        _write(ndf, spec, staging)
        staged = sorted(list_existing_partitions(spark, staging,
                                                 spec.field_names))
        rels = [hive_partition_path(spec.field_names, t) for t in staged]
        claimed: list[str] = []
        retired: list[str] = []
        left: list[str] = []
        try:
            for i, rel in enumerate(rels):
                if spec.overwrite_partitions and tree.exists(rel):
                    tree.retire(rel)
                    retired.append(rel)
                if not tree.claim(rel):
                    # the later keys are not ours yet: under CREATE any
                    # that exists clashes too
                    clash = [staged[i]] + [t for t, r in zip(
                        staged[i + 1:], rels[i + 1:])
                        if not spec.overwrite_partitions and tree.exists(r)]
                    raise PartitionExistsError(
                        f"partitions already exist under {out}: "
                        f"{clash[:5]}{'...' if len(clash) > 5 else ''}")
                claimed.append(rel)
            left = tree.unclaimed()
            if left:
                # the listing missed part of the batch: deleting the
                # staging directory would drop those rows unseen
                raise RuntimeError(
                    f"write to {out} staged files outside every "
                    f"partition it claimed, e.g. {left[:3]}; nothing was "
                    f"published and the batch is kept in {staging}")
            tree.publish_files()
        except BaseException:
            # the retired partitions live in the staging directory
            # until the rollback has moved them all back
            keep_staging = True
            tree.rollback(claimed, retired)
            keep_staging = bool(left)
            raise
    finally:
        if not keep_staging:
            tree.remove_staging()


class _LocalClaims:
    """Claims on the local disk with ``os.rename``.  POSIX ``rename(2)``
    refuses a non-empty target (``ENOTEMPTY``) in one atomic step, and
    a staged partition is never empty; an empty target directory it
    would replace, so an existing target is refused before renaming."""

    def __init__(self, out: str, staging_name: str) -> None:
        self.out = out
        self.staging = os.path.join(out, staging_name)
        #: parent directories the claims created, for the rollback
        self.made: list[str] = []

    def exists(self, rel: str) -> bool:
        return os.path.lexists(os.path.join(self.out, rel))

    def _make_parents(self, rel: str) -> None:
        parent = self.out
        for part in rel.split("/")[:-1]:
            parent = os.path.join(parent, part)
            try:
                os.mkdir(parent)
                self.made.append(parent)
            except FileExistsError:
                pass

    def claim(self, rel: str) -> bool:
        """Move staged partition ``rel`` into place; False on a clash."""
        if self.exists(rel):
            return False
        src = os.path.join(self.staging, rel)
        dst = os.path.join(self.out, rel)
        self._make_parents(rel)
        try:
            try:
                os.rename(src, dst)
            except FileNotFoundError:
                # a parent another writer made was removed by its
                # rollback between our mkdir and our rename
                self._make_parents(rel)
                os.rename(src, dst)
        except OSError as e:
            if e.errno in (errno.ENOTEMPTY, errno.EEXIST):
                return False
            raise
        return True

    def retire(self, rel: str) -> None:
        """Move the existing partition ``rel`` under ``.retired``."""
        dst = os.path.join(self.staging, RETIRED, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(os.path.join(self.out, rel), dst)

    def unclaimed(self) -> list[str]:
        """Files still below the staging directory's top level, outside
        ``.retired``."""
        return [os.path.relpath(os.path.join(d, f), self.staging)
                for top in os.scandir(self.staging)
                if top.is_dir() and top.name != RETIRED
                for d, _, files in os.walk(top.path) for f in files]

    def rollback(self, claimed: list[str], retired: list[str]) -> None:
        for rel in reversed(claimed):
            os.rename(os.path.join(self.out, rel),
                      os.path.join(self.staging, rel))
        for rel in reversed(retired):
            os.rename(os.path.join(self.staging, RETIRED, rel),
                      os.path.join(self.out, rel))
        for d in reversed(self.made):
            try:
                os.rmdir(d)
            except OSError:       # not empty: another writer's partition
                pass

    def publish_files(self) -> None:
        """Move the staged top-level files (Spark's ``_SUCCESS``
        marker) over the target's."""
        for entry in os.scandir(self.staging):
            if entry.is_file():
                os.replace(entry.path, os.path.join(self.out, entry.name))

    def remove_staging(self) -> None:
        shutil.rmtree(self.staging, ignore_errors=True)


class _HadoopClaims:
    """Claims on any other filesystem with ``FileContext.rename`` and
    ``Options.Rename.NONE``, which raises on any existing target; HDFS
    checks and renames in one atomic step.  ``FileSystem.rename`` would
    not do: onto an existing directory it returns true and nests the
    source inside it."""

    def __init__(self, spark: SparkSession, fs, out, staging_name: str):
        jvm = spark._jvm
        hfs = jvm.org.apache.hadoop.fs
        self.gateway = spark.sparkContext._gateway
        self.fs, self.out, self.path = fs, out, hfs.Path
        self.staging = hfs.Path(out, staging_name)
        self.fc = hfs.FileContext.getFileContext(
            out.toUri(), spark._jsc.hadoopConfiguration())
        rename = getattr(hfs, "Options$Rename")
        self.none = self._options(rename, rename.NONE)
        self.overwrite = self._options(rename, rename.OVERWRITE)
        self.made: list = []

    def _options(self, cls, value):
        arr = self.gateway.new_array(cls, 1)
        arr[0] = value
        return arr

    def exists(self, rel: str) -> bool:
        return self.fs.exists(self.path(self.out, rel))

    def _make_parents(self, rel: str) -> None:
        parent = self.out
        for part in rel.split("/")[:-1]:
            parent = self.path(parent, part)
            if not self.fs.exists(parent):
                self.fs.mkdirs(parent)
                self.made.append(parent)

    def _is(self, e: Py4JJavaError, cls: str) -> bool:
        return is_instance_of(self.gateway, e.java_exception, cls)

    def claim(self, rel: str) -> bool:
        src, dst = self.path(self.staging, rel), self.path(self.out, rel)
        self._make_parents(rel)
        try:
            try:
                self.fc.rename(src, dst, self.none)
            except Py4JJavaError as e:
                if not self._is(e, "java.io.FileNotFoundException"):
                    raise
                # a parent another writer made was removed by its
                # rollback between our mkdirs and our rename
                self._make_parents(rel)
                self.fc.rename(src, dst, self.none)
        except Py4JJavaError as e:
            if self._is(e, "org.apache.hadoop.fs.FileAlreadyExistsException"):
                return False
            raise
        return True

    def retire(self, rel: str) -> None:
        dst = self.path(self.staging, f"{RETIRED}/{rel}")
        self.fs.mkdirs(dst.getParent())
        self.fc.rename(self.path(self.out, rel), dst, self.none)

    def unclaimed(self) -> list[str]:
        """Files still below the staging directory's top level, outside
        ``.retired``."""
        top = self.staging.toUri().getPath().rstrip("/") + "/"
        left = []
        for st in self.fs.listStatus(self.staging):
            if st.isDirectory() and st.getPath().getName() != RETIRED:
                it = self.fs.listFiles(st.getPath(), True)
                while it.hasNext():
                    left.append(it.next().getPath().toUri().getPath()[
                        len(top):])
        return left

    def rollback(self, claimed: list[str], retired: list[str]) -> None:
        for rel in reversed(claimed):
            self.fc.rename(self.path(self.out, rel),
                           self.path(self.staging, rel), self.none)
        for rel in reversed(retired):
            self.fc.rename(self.path(self.staging, f"{RETIRED}/{rel}"),
                           self.path(self.out, rel), self.none)
        for d in reversed(self.made):
            try:
                self.fs.delete(d, False)
            except Py4JJavaError:     # not empty: another writer's partition
                pass

    def publish_files(self) -> None:
        for st in self.fs.listStatus(self.staging):
            if st.isFile():
                src = st.getPath()
                self.fc.rename(src, self.path(self.out, src.getName()),
                               self.overwrite)

    def remove_staging(self) -> None:
        self.fs.delete(self.staging, True)


def register_table(spark: SparkSession, spec: SinkSpec, path: str,
                   table_name: str | None = None) -> str:
    """Register a written dataset as an external catalog table.

    Reference parity: each sink registers its fileset as an external Hive
    table for Explore (``FileSetUtil.java:78,117,163``
    ``setEnableExploreOnCreate(true)`` + Hive schema from
    ``PartitionedFileSetSinkConfig.java:109-116``).  Spark equivalent:
    an external table over the path + ``recoverPartitions`` so the
    metastore learns the Hive-layout directories; partition columns are
    typed STRING (reference semantics).  Idempotent — re-registering
    refreshes partitions.
    """
    name = table_name or spec.name
    payload = [f for f in read_partitioned(spark, path, spec.fmt).schema.fields
               if f.name not in spec.field_names]
    if not payload:
        raise ValueError(
            f"dataset at {path} has no payload columns beyond the "
            f"partition fields {spec.field_names} — nothing to register")
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in payload)
    parts = ", ".join(f"`{c}` string" for c in spec.field_names)
    loc = path.replace("'", "''")       # SQL string literal escaping
    # quote each dot-separated part: backticking the WHOLE name would
    # turn 'db.tbl' into a single-part identifier containing a dot in
    # the current database, which recoverPartitions then re-parses as
    # two-part and fails (r13 review; write_bucketed splits the same
    # way)
    quoted = ".".join(f"`{p}`" for p in name.split("."))
    spark.sql(f"DROP TABLE IF EXISTS {quoted}")
    spark.sql(f"CREATE TABLE {quoted} ({cols}) USING {spec.fmt} "
              f"PARTITIONED BY ({parts}) LOCATION '{loc}'")
    # the QUOTED name: recoverPartitions parses its argument as a
    # multipart identifier, so a name needing quoting (hyphens) would
    # throw ParseException AFTER the table was created, aborting the
    # idempotent registration half-done (r15 review)
    spark.catalog.recoverPartitions(quoted)
    return name


def write_bucketed(df, table_name: str, bucket_cols: list[str],
                   n_buckets: int = 32, fmt: str = "parquet") -> str:
    """Write a bucketed + sorted catalog table (hash-bucketed by
    ``bucket_cols``).

    The 100 TB co-located-join primitive: two tables bucketed the same
    way join with ZERO exchange — each task reads matching bucket files
    from both sides (the plan audit shows SortMergeJoin with no Exchange
    beneath it).  Worth the one-time bucketing cost for any fact table
    joined repeatedly on the same key.  Bucket count sizes the
    parallelism of every later bucket-local join/scan; pick roughly
    (table size / executor-comfortable partition size).
    """
    spark = df.sparkSession
    if "." in table_name:
        db, tbl = table_name.split(".", 1)
    else:
        db, tbl = spark.catalog.currentDatabase(), table_name
    quoted = f"`{db}`.`{tbl}`"
    spark.sql(f"DROP TABLE IF EXISTS {quoted}")
    # with a non-persistent (in-memory) metastore, a previous process's
    # managed-table directory survives while the catalog entry doesn't —
    # saveAsTable then fails with LOCATION_ALREADY_EXISTS; clear it.
    # The managed location is <warehouse>[/<db>.db]/<lowercased table>.
    warehouse = spark.conf.get("spark.sql.warehouse.dir",
                               "spark-warehouse")
    sub = tbl.lower() if db == "default" else f"{db.lower()}.db/{tbl.lower()}"
    jvm = spark._jvm
    loc = jvm.org.apache.hadoop.fs.Path(warehouse + "/" + sub)
    fs = loc.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(loc):
        fs.delete(loc, True)
    (df.write.mode("overwrite").format(fmt)
     .bucketBy(n_buckets, *bucket_cols)
     .sortBy(*bucket_cols)
     .saveAsTable(table_name))
    return table_name


def _partition_member_filter(field_names: list[str],
                             tuples: list[tuple[str, ...]]):
    """Column predicate selecting rows whose stringified partition
    tuple is in ``tuples`` — single-field via ``isin``, multi-field
    via a NUL-joined concat (NUL cannot appear in a partition value:
    the key normalizer rejects it upstream, like '/').  ONE
    implementation for the three merge paths (r13 review: the 5-line
    block was copy-pasted into each, so a delimiter/escaping fix
    could drift).

    Partition columns are COALESCED to '' first: the writer spells an
    empty value ``__HIVE_DEFAULT_PARTITION__``, which Spark's READER
    surfaces as NULL — without the coalesce, neither ``isin`` (NULL
    never matches) nor ``concat_ws`` (which SKIPS null args) could
    select the empty-string partition's current rows, so a merge
    touching it silently DELETED every pre-existing row there (r15
    review; the writer rejects NULL keys, so a read-back NULL is
    unambiguously the written '')."""
    cols = [F.coalesce(F.col(f).cast("string"), F.lit(""))
            for f in field_names]
    if len(field_names) == 1:
        return cols[0].isin([t[0] for t in tuples])
    return F.concat_ws("\x00", *cols).isin(
        ["\x00".join(t) for t in tuples])


def _read_back_partitions_as_written(df: DataFrame,
                                     field_names: list[str]) -> DataFrame:
    """Map read-back NULL partition columns to '' — the writer spells
    an empty value ``__HIVE_DEFAULT_PARTITION__`` and Spark's reader
    surfaces that as NULL, but the writer's own normalizer REJECTS
    NULL keys, so kept rows re-entering a merge rewrite would
    otherwise raise (or, pre-r15, silently vanish from the member
    filter).  One authority for the three merge paths."""
    for f in field_names:
        df = df.withColumn(
            f, F.coalesce(F.col(f).cast("string"), F.lit("")))
    return df


def _collect_key_tuples(df: DataFrame,
                        field_names: list[str]) -> list[tuple[str, ...]]:
    """Distinct stringified partition tuples of ``df`` — driver-side,
    bounded by partition-key cardinality.  One implementation for the
    merge paths (r13 review: previously inlined four times).  A NULL
    read-back value maps to '' (the __HIVE_DEFAULT_PARTITION__
    spelling — r15 review: ``str(None)`` produced the literal 'None',
    a partition that never existed, so compact_tombstones silently
    retained empty-partition tombstones forever)."""
    return [tuple("" if r[f] is None else str(r[f])
                  for f in field_names)
            for r in df.select(*field_names).distinct().collect()]


def merge_upsert(spark: SparkSession, path: str, updates: DataFrame,
                 spec: SinkSpec, key_cols: list[str],
                 deletes: DataFrame | None = None) -> str:
    """Upsert into a partitioned dataset without a table format:
    rows in ``updates`` replace existing rows with the same ``key_cols``
    tuple; new keys append.  Only the partitions PRESENT IN THE UPDATES
    are rewritten (everything else is untouched bytes), via
    :func:`write_partitioned` with ``overwrite_partitions`` (staged,
    replaced at commit) — the Spark-first answer to MERGE for
    append-mostly datasets when Delta/Iceberg isn't in play.

    Shape: one partition-pruned read of the affected partitions (the
    ``isin`` filter on the partition columns prunes directories before
    IO), an anti-join on the business key (updates side is typically
    small → broadcast), then an overwrite write of those partitions
    only.  The scan, the join and the rewrite scale with
    the touched partitions; resolving the read does not: it lists the
    whole tree and, through ``merge_schema=True``, reads the footer of
    every file in the dataset in a Spark job before the filter prunes
    anything, so that cost grows with the dataset's file count.

    ``deletes`` (optional) removes keys without replacement: a frame
    carrying ``key_cols`` plus the partition columns (so the affected
    directories are known without scanning the dataset).  A partition
    left EMPTY by deletes is removed outright — dynamic overwrite alone
    can't express "this partition now has zero rows" (it only rewrites
    partitions present in the written data), so the empty directory is
    dropped through the Hadoop FileSystem API.

    Caveats: like every file-level writer here, single-writer; and an
    update must carry its partition columns — moving a row BETWEEN
    partitions updates the target partition and ALWAYS leaves the old
    copy in the source partition: replacement matches on
    (key, partition tuple), so the outcome is deterministic and never
    depends on what else shares the batch (r15 review: the old
    key-only anti-join deleted the source copy exactly when an
    unrelated row happened to co-touch that partition — same logical
    operation, two different table states).  Delete-from-old-partition
    needs a table format's delete vectors; pre-delete explicitly.
    """
    spec.validate(updates.schema)
    ndf = normalize_partition_keys(updates, spec.field_names)
    # a partition column may legitimately be part of the business key —
    # dedupe so the projection stays valid
    del_cols = list(dict.fromkeys([*key_cols, *spec.field_names]))
    del_ndf = (normalize_partition_keys(deletes.select(*del_cols),
                                        spec.field_names)
               if deletes is not None else None)
    touch_src = ndf.select(*spec.field_names)
    if del_ndf is not None:
        touch_src = touch_src.union(del_ndf.select(*spec.field_names))
    touched = _collect_key_tuples(touch_src, spec.field_names)
    # O(|touched|) probes, not a full partition walk (r15 review)
    affected = existing_touched_partitions(spark, path,
                                           spec.field_names, touched)
    merged = ndf
    if affected:
        # merge_schema: the touched partitions may hold columns the
        # update batch predates (schema evolution) — reading one
        # footer's schema and projecting kept rows through the batch's
        # columns would silently erase those columns from every
        # rewritten partition (r13 review).  The footer-read cost is
        # right for a mutation op.
        current = read_partitioned(spark, path, spec.fmt,
                                   merge_schema=True)
        flt = _partition_member_filter(spec.field_names, affected)
        # anti-join on (key, PARTITION tuple): a key-only anti-join
        # removed a moved key's old copy only when its source
        # partition was co-affected by unrelated batch rows — the
        # documented leaves-the-old-copy caveat held or not depending
        # on batch contents (r15 review).  Read-back partition cols
        # coalesce to '' for the __HIVE_DEFAULT_PARTITION__ spelling,
        # matching the normalized batch side.
        anti_cols = list(dict.fromkeys([*key_cols, *spec.field_names]))
        drop_keys = ndf.select(*anti_cols)
        if del_ndf is not None:
            drop_keys = drop_keys.union(del_ndf.select(*anti_cols))
        cur_keyed = _read_back_partitions_as_written(
            current.where(flt), spec.field_names)
        keep = (cur_keyed
                .join(F.broadcast(drop_keys.distinct()),
                      anti_cols, "left_anti"))
        # unionByName keeps evolved columns (null-filled on whichever
        # side lacks them) instead of projecting them away
        merged = ndf.unionByName(keep, allowMissingColumns=True)
    return _overwrite_and_prune(spark, path, spec, merged, affected)


def _overwrite_and_prune(spark: SparkSession, path: str, spec: SinkSpec,
                         merged: DataFrame,
                         affected: list[tuple[str, ...]]) -> str:
    """Dynamic-overwrite ``merged`` into ``path``, then drop any
    ``affected`` partition whose rows all disappeared — dynamic
    overwrite only rewrites partitions PRESENT in the written data, so
    an emptied partition's old files would otherwise survive.  The
    remaining-partition collect is bounded by |affected|."""
    up_spec = dataclasses.replace(spec, overwrite_partitions=True)
    # materialize once and CUT LINEAGE: the remaining-partition collect
    # and the overwrite write both consume the merged DAG (pruned read
    # + anti-join + union) — without this every merge pays that plan
    # twice.  Checkpointed blocks fail loudly if lost.
    merged = checkpoint_df(merged)
    remaining = (set(_collect_key_tuples(merged, spec.field_names))
                 if affected else set())
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    # Directory names must use the writer's own Hive escapePathName
    # spelling (space, '+', ',', '(' etc. stay literal) — a percent-
    # encoded spelling here silently missed such partitions (ADVICE r2).
    # Snapshot which emptied partitions exist BEFORE the overwrite so a
    # post-write miss is a hard error (spelling drift), not a skip.
    emptied = [t for t in affected if t not in remaining]
    existed: dict[tuple[str, ...], bool] = {}
    for t in emptied:
        rel = hive_partition_path(spec.field_names, t)
        jp = jvm.org.apache.hadoop.fs.Path(f"{path}/{rel}")
        fs = jp.getFileSystem(hconf)
        existed[t] = fs.exists(jp)
    out = write_partitioned(merged, up_spec, path)
    for t in emptied:
        if not existed[t]:  # e.g. a tombstone for a key never written
            continue
        rel = hive_partition_path(spec.field_names, t)
        jp = jvm.org.apache.hadoop.fs.Path(f"{path}/{rel}")
        fs = jp.getFileSystem(hconf)
        if not fs.exists(jp):
            raise IOError(
                f"emptied partition {rel} existed before the overwrite "
                "but cannot be located after it — partition-name "
                "escaping drifted from the writer's")
        if not fs.delete(jp, True):
            raise IOError(f"failed to delete emptied partition {rel}")
    return out


def merge_cdc(spark: SparkSession, path: str, changes: DataFrame,
              spec: SinkSpec, key_cols: list[str], seq_col: str,
              op_col: str = "op", delete_op: str = "D") -> str:
    """Sequence-aware CDC merge into a partitioned dataset: apply a raw
    change batch (op + monotone sequence + payload) so that the HIGHEST
    sequence per key wins — whether it arrives in this batch or already
    sits in the dataset — and a winning delete removes the key.

    Unlike :func:`merge_upsert` (unconditional replace), this is
    ORDER-INDEPENDENT across batches: a stale change (lower seq than
    the stored row) loses the competition and is a no-op, so re-applied
    or out-of-order batches converge to the same table.  The stored
    table therefore keeps ``seq_col`` as a regular column, and delete
    winners are stored as TOMBSTONE rows (``op_col`` retained, value
    ``delete_op``) rather than physically removed — otherwise a stale
    change arriving AFTER the delete would find no stored row to lose
    against and resurrect the key (the classic CDC tombstone problem;
    Kafka log compaction and table-format MERGE keep delete markers for
    exactly this reason).  Read the live view with
    :func:`read_cdc_table`; drop tombstones with a compaction pass once
    the stream is known complete past their sequence.

    Per batch: reduce the batch to its per-key winner, read ONLY the
    partitions those winners touch (partition-pruned), re-run the
    winner competition over current ∪ batch, rewrite just those
    partitions (emptied ones dropped).  Cost scales with touched
    partitions, not dataset size.  A key changing partitions leaves its
    old copy in the old partition — same caveat as merge_upsert.
    """
    from .relational import cdc_latest

    winners = cdc_latest(changes, key_cols, seq_col, op_col, delete_op,
                         keep_deletes=True)
    wn = normalize_partition_keys(winners, spec.field_names)
    touched = _collect_key_tuples(wn, spec.field_names)
    # O(|touched|) probes, not a full partition walk (r15 review)
    affected = existing_touched_partitions(spark, path,
                                           spec.field_names, touched)
    combined = wn
    if affected:
        # merge_schema + unionByName: same schema-evolution hazard as
        # merge_upsert — a projection through the batch's columns
        # would erase evolved columns from the rewritten partitions
        current = read_partitioned(spark, path, spec.fmt,
                                   merge_schema=True)
        flt = _partition_member_filter(spec.field_names, affected)
        # current already carries op (tombstones included) — it competes
        # on equal footing with the batch winners; partition cols map
        # NULL -> '' so stored empty-partition rows both compete AND
        # survive the writer's NULL-rejecting normalizer (r15 review)
        combined = wn.unionByName(
            _read_back_partitions_as_written(current.where(flt),
                                             spec.field_names),
            allowMissingColumns=True)
    merged = cdc_latest(combined, key_cols, seq_col, op_col, delete_op,
                        keep_deletes=True)
    spec.validate(merged.schema)
    return _overwrite_and_prune(spark, path, spec, merged, affected)


def read_cdc_table(spark: SparkSession, path: str, fmt: str = "parquet",
                   op_col: str = "op", delete_op: str = "D") -> DataFrame:
    """Live view of a :func:`merge_cdc` dataset: tombstone rows filtered
    out, the op column dropped.  Null-safe: a row whose op is NULL (a
    source that only stamps deletes) is live, not silently hidden by
    three-valued ``!=``."""
    return (read_partitioned(spark, path, fmt)
            .where(~F.col(op_col).eqNullSafe(delete_op))
            .drop(op_col))


def compact_tombstones(spark: SparkSession, path: str, spec: SinkSpec,
                       below_seq: int, seq_col: str,
                       op_col: str = "op", delete_op: str = "D") -> str:
    """Retention pass for a :func:`merge_cdc` dataset: physically drop
    tombstones whose sequence is ``< below_seq`` — the caller's promise
    that no change with a lower sequence can still arrive (a Kafka
    consumer's committed offset, a CDC slot's confirmed LSN).  Keeping a
    tombstone past that horizon buys nothing; dropping it earlier
    reopens the resurrection hole, so the horizon is an explicit
    argument rather than a default.

    Rewrites only partitions that actually hold expirable tombstones
    (partition-pruned scan of tombstone rows → dynamic overwrite of
    just those partitions, emptied ones removed) — cost scales with
    tombstone spread, not table size.
    """
    # merge_schema: the rewrite must carry schema-evolved columns —
    # a randomly-sampled old footer could hide them (r13 review)
    current = read_partitioned(spark, path, spec.fmt,
                               merge_schema=True)
    # null-safe on BOTH sides: a NULL op is not a tombstone, and a NULL
    # sequence is never provably below the horizon — plain three-valued
    # predicates would let `.where(~expirable)` silently DROP such live
    # rows during the rewrite
    expirable = (F.col(op_col).eqNullSafe(delete_op)
                 & F.coalesce(F.col(seq_col) < below_seq, F.lit(False)))
    holds = _collect_key_tuples(current.where(expirable),
                                spec.field_names)
    if not holds:
        return path
    merged = _read_back_partitions_as_written(
        current.where(_partition_member_filter(spec.field_names,
                                               holds))
        .where(~expirable), spec.field_names)
    return _overwrite_and_prune(spark, path, spec, merged, holds)


def compact_partitions(spark: SparkSession, path: str, fmt: str = "parquet",
                       target_rows_per_file: int = 5_000_000) -> int:
    """Rewrite a partitioned dataset with right-sized files per partition.

    The small-files problem is THE operational failure mode of dynamic
    partitioning at 100 TB (every task writing every key → files ×
    tasks×keys).  This op re-reads the tree, REBALANCEs on the partition
    keys (AQE sizes the shuffle output, splitting skewed keys), and
    rewrites the WHOLE tree into a temp dir, then atomically swaps it
    in — single-writer like every file-level op here: an append landing
    between the read and the swap goes to the old tree and is lost with
    it, so quiesce writers first (r13 review corrected this docstring —
    it previously claimed a per-partition dynamic overwrite that the
    swap design does not do).  Returns the number of partition columns
    detected.

    Swap discipline: the rewrite lands in ``<path>._compact_tmp``, the
    live tree moves to ``<path>._compact_old``, tmp moves to live, old
    is deleted.  Each ``FileSystem.rename`` returns **false** (not an
    exception) on most failures, so every return value is checked; a
    pre-existing tmp/old dir (crashed prior run) fails fast instead of
    silently no-op-renaming onto it.  **Crash recovery**: if the live
    path is missing, ``._compact_old`` still holds the full pre-compact
    data — rename it back; if the live path exists, any leftover
    ``._compact_tmp`` / ``._compact_old`` is safe to delete (rename is
    atomic on HDFS-like stores; on object stores, where a rename copies,
    prefer :func:`write_partitioned` with ``overwrite_partitions=True``,
    which renames only the partitions it rewrites).
    """
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jp = jvm.org.apache.hadoop.fs.Path
    fs = jp(path).getFileSystem(hconf)
    tmp_path = path.rstrip("/") + "._compact_tmp"
    old_path = path.rstrip("/") + "._compact_old"
    for leftover in (tmp_path, old_path):
        if fs.exists(jp(leftover)):
            raise RuntimeError(
                f"{leftover} already exists — a previous compaction "
                f"crashed mid-swap.  If {path} is missing, rename "
                f"{old_path} back to it; otherwise delete the leftover "
                "and re-run.")
    # mergeSchema: a compaction must carry columns that only newer
    # files have — reading one footer's schema and rewriting the whole
    # tree would silently drop schema-evolved columns forever
    df = read_partitioned(spark, path, fmt, merge_schema=True)
    discovered = _discover_partition_cols(spark, path)
    part_cols = [f.name for f in df.schema.fields
                 if f.dataType.simpleString() == "string"
                 and f.name in discovered]
    if not part_cols:
        raise ValueError(f"no Hive partition columns discovered under {path}")
    ndf = df.hint("rebalance", *map(F.col, part_cols))
    (ndf.write.mode("overwrite")
     .option("maxRecordsPerFile", str(target_rows_per_file))
     .partitionBy(*part_cols).format(fmt).save(tmp_path))
    old, new, trash = jp(path), jp(tmp_path), jp(old_path)
    if not fs.rename(old, trash):
        raise RuntimeError(
            f"compaction swap failed: rename {path} -> {old_path} "
            f"returned false; rewritten data is intact at {tmp_path}")
    if not fs.rename(new, old):
        # put the live tree back before failing — never leave the live
        # path empty when the pre-compact data still exists
        restored = fs.rename(trash, old)
        raise RuntimeError(
            f"compaction swap failed: rename {tmp_path} -> {path} "
            f"returned false; original data "
            f"{'restored to ' + path if restored else 'left at ' + old_path}")
    if not fs.delete(trash, True) and fs.exists(trash):
        # the swap SUCCEEDED (live tree is the rewrite), but the trash
        # dir survived — fail loudly with the true state, or the next
        # run's leftover-dir guard would misdiagnose this as a
        # crashed-mid-swap and tell an operator to restore STALE data
        # over a healthy tree (r13 review)
        raise RuntimeError(
            f"compaction SUCCEEDED (live data at {path} is the "
            f"rewrite) but deleting the pre-compact copy at "
            f"{old_path} returned false — remove that directory "
            "manually before the next compaction; do NOT rename it "
            "back over the live path")
    # invalidate cached file listings over this path.  refreshByPath
    # covers path-based plans, but catalog tables cache their file index
    # under the table identifier and only REFRESH TABLE drops it — so
    # find any table registered at this location and refresh it too
    # (without this a registered table fails with FILE_NOT_EXIST after
    # the swap).
    spark.catalog.refreshByPath(path)
    norm = path.rstrip("/")
    for db in spark.catalog.listDatabases():
        for tbl in spark.catalog.listTables(db.name):
            if tbl.tableType == "TEMPORARY":
                continue
            qual = f"`{db.name}`.`{tbl.name}`"
            loc = _table_location(spark, f"{db.name}.{tbl.name}")
            if loc is None:
                continue
            loc = loc.rstrip("/")
            # suffix match must land on a path-component boundary
            # (location may carry a scheme prefix, e.g. file:/...)
            if loc == norm or loc.endswith("/" + norm.lstrip("/")):
                spark.sql(f"REFRESH TABLE {qual}")
    return len(part_cols)


def write_sorted(df: DataFrame, path: str, sort_col: str,
                 n_files: int = 32, fmt: str = "parquet") -> str:
    """Globally-ordered export: range-partition on ``sort_col`` into
    ``n_files`` shards, sort within each shard, write one file per
    shard.  File k's values all precede file k+1's (disjoint ranges) and
    each file is internally sorted — so a downstream sequential reader
    (training-data loader, merge step) sees a total order without any
    single process ever holding the full sort.

    This is the scalable global sort: ``repartitionByRange`` samples the
    key distribution to pick balanced boundaries (skew-resistant), then
    each shard sorts locally — one shuffle, no driver materialization,
    versus ``coalesce(1).orderBy`` which serializes everything through
    one task.  Parquet min/max row-group stats on the sorted column also
    make point/range scans of the export partition-prunable.
    """
    (df.repartitionByRange(n_files, F.col(sort_col))
     .sortWithinPartitions(sort_col)
     .write.mode("overwrite").format(fmt).save(path))
    return path


def write_zordered(df: DataFrame, path: str, cols, bits: int = 8,
                   n_files: int = 32, fmt: str = "parquet") -> str:
    """Multi-column clustered export: range-partition + sort on the
    Morton value of ``cols`` (list of ``(name, lo, hi)`` quantization
    specs — see :mod:`..functions.zorder`), one file per shard.

    Where :func:`write_sorted` gives perfect min/max pruning on one
    column, this trades a little per-column locality for pruning on ALL
    participating columns: each output file covers a small
    hyper-rectangle of the combined space, so parquet footer stats cut
    scans filtered on any of them.  Same execution shape as
    ``write_sorted`` — one range shuffle (sampled boundaries, skew-
    resistant), local sorts, no driver materialization; the z column
    itself is pure codegen arithmetic.
    """
    from ..functions.zorder import zorder_value
    if "_z" in df.columns:
        # withColumn would silently REPLACE the user's column and the
        # post-sort drop would erase it from the export (r13 review;
        # the derived-partition path rejects the same clash class)
        raise SpecError(
            "input already has a column named '_z', which "
            "write_zordered uses internally — rename it first")
    z = df.withColumn("_z", zorder_value(cols, bits))
    (z.repartitionByRange(n_files, F.col("_z"))
     .sortWithinPartitions("_z")
     .drop("_z")
     .write.mode("overwrite").format(fmt).save(path))
    return path


def _table_location(spark: SparkSession, name: str) -> str | None:
    quoted = ".".join(f"`{p}`" for p in name.split("."))
    try:
        for row in spark.sql(f"DESCRIBE TABLE EXTENDED {quoted}").collect():
            if row.col_name == "Location":
                return row.data_type
    except Exception:
        pass
    return None


def _discover_partition_cols(spark: SparkSession, path: str) -> set[str]:
    """Names of Hive-layout partition directories directly under path."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)
    names: set[str] = set()
    stack = [jpath]
    while stack:
        p = stack.pop()
        for status in fs.listStatus(p):
            if status.isDirectory() and "=" in status.getPath().getName():
                names.add(unescape_path_name(
                    status.getPath().getName().split("=", 1)[0]))
                stack.append(status.getPath())
    return names


def datasource_available(spark: SparkSession, provider: str) -> bool:
    """Probe Spark's data-source registry for ``provider`` (a bare
    ``Class.forName`` through py4j resolves lazily and can lie).

    ``lookupDataSource`` takes (String, SQLConf) — passing the Scala
    ``SQLConf.get()`` is load-bearing: the (String, SparkConf) call does
    not exist and py4j would throw on *every* probe, silently disabling
    the fast path even with the connector installed."""
    try:
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            provider, spark._jvm.org.apache.spark.sql.internal.SQLConf.get())
        return True
    except Exception:
        return False


def spark_avro_available(spark: SparkSession) -> bool:
    """True when the spark-avro connector jar is on the classpath."""
    return datasource_available(spark, "avro")


def audit_partition_files(spark: SparkSession, path: str,
                          partition_cols: list[str],
                          fmt: str = "parquet") -> DataFrame:
    """File-size governance audit over a partitioned dataset: per
    partition key, the row count and the number of physical files —
    the observability primitive behind small-file detection and
    file-sizing policy enforcement (the dominant operational failure
    mode of a 100 TB partitioned lake is not wrong data but wrong
    file counts).

    One scan + one hash aggregate: ``input_file_name()`` is evaluated
    map-side per row and the distinct-file count rides the same
    shuffle as the row count.  Column pruning still applies — only the
    partition columns (free, from the directory layout) and the
    virtual file name are read, so the scan touches no data pages on
    parquet.

    Reads through :func:`read_partitioned` (r13 review): the audit
    works on all three sink formats and partition values stay STRING —
    with type inference on, directories ``p=01`` and ``p=1`` would
    both infer to int 1 and their per-directory file counts (the whole
    point of the audit) would silently merge under a key matching
    neither directory.
    """
    df = read_partitioned(spark, path, fmt)
    # project the virtual column first — Spark 4 (correctly) refuses
    # nondeterministic expressions as direct aggregate arguments
    named = df.select(*partition_cols, F.input_file_name().alias("_file"))
    return (named.groupBy(*[F.col(c).cast("string").alias(c)
                            for c in partition_cols])
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.countDistinct("_file").alias("n_files")))


def write_partitioned_derived(df: DataFrame, spec: SinkSpec,
                              path: str,
                              derive: dict[str, object]) -> str:
    """Hidden partitioning (the Iceberg partition-transform pattern):
    partition keys are DERIVED from payload expressions —
    ``year(ts)``, ``key % n_buckets``, a truncation — while every
    original column stays in the payload, so writers never maintain a
    redundant physical column and readers keep querying the raw
    field.  ``derive`` maps each partition field name (must equal
    ``spec.field_names``, in order) to its Column expression; the
    derived columns exist only as directory names after the write.

    The reference's sink partitions on pre-existing fields only
    (``FieldValueDynamicPartitioner.java:18-33``); this is the
    transform generalization a time/bucket-partitioned 100 TB lake
    needs so partition evolution never rewrites payload schemas.
    """
    if list(derive) != list(spec.field_names):
        raise SpecError(
            f"derive keys {list(derive)} must match spec.field_names "
            f"{list(spec.field_names)} in order")
    clash = set(derive) & set(df.columns)
    if clash:
        raise SpecError(
            f"derived partition names {sorted(clash)} already exist "
            "in the payload — rename the transform or partition on "
            "the column directly")
    proj = df
    for name, col in derive.items():
        proj = proj.withColumn(name, col)
    return write_partitioned(proj, spec, path)


def clustering_depth(stats: DataFrame, part_cols: list[str],
                     min_col: str, max_col: str,
                     order_extra: list[str] | None = None) -> DataFrame:
    """Interval-overlap DEPTH of per-file column ranges — the
    layout-quality metric behind lakehouse OPTIMIZE/Z-ORDER decisions
    ("how many files could a point lookup on this column touch"):
    depth of file i = number of files in the SAME partition whose
    [min, max] range intersects file i's, self included — a perfectly
    clustered layout scores 1 everywhere, a fully unclustered one
    scores files-per-partition.

    Input is a file-stats relation ``(part_cols…, min_col, max_col,
    extras…)`` — e.g. a ``_metadata``-grouped read-back, a catalog
    manifest, or footer stats.  Files are sequenced per partition by
    (min, max, then EVERY carried extra column unless ``order_extra``
    overrides the tail): with all carried columns in the ordering,
    ties are only possible between byte-identical stat rows, which
    are interchangeable — so the output multiset is deterministic
    even when the physical file naming is not.  (A caller overriding
    ``order_extra`` with a subset owns that determinism argument.)
    The overlap self-join is keyed on the partition columns
    (equi-join); its quadratic term is bounded by files-per-partition
    — the metadata relation, never the data (the compaction planner's
    shape).  Extra columns ride along unchanged.
    """
    extra = (list(order_extra) if order_extra is not None
             else [c for c in stats.columns
                   if c not in (*part_cols, min_col, max_col)])
    w = Window.partitionBy(*part_cols).orderBy(
        F.col(min_col), F.col(max_col), *[F.col(c) for c in extra])
    s = stats.withColumn("file_seq", F.row_number().over(w))
    b = s.select(*part_cols, F.col(min_col).alias("_bmin"),
                 F.col(max_col).alias("_bmax"))
    overlap = ((F.col(min_col) <= F.col("_bmax"))
               & (F.col("_bmin") <= F.col(max_col)))
    carry = [c for c in s.columns if c not in part_cols]
    return (s.join(b, part_cols).where(overlap)
            .groupBy(*part_cols, *carry)
            .agg(F.count(F.lit(1)).alias("depth")))


def plan_compaction(files: DataFrame, part_cols: list[str],
                    size_col: str, target: int,
                    tiebreak_cols: list[str] | None = None,
                    carry_cols: list[str] | None = None) -> DataFrame:
    """Small-file compaction PLANNER: group each partition's files
    into rolling bins of ~``target`` size units, emitting which files
    merge into which output bin — the step a 100 TB lake runs nightly
    BEFORE any rewrite I/O (:func:`compact_partition` is the rewrite;
    this is the plan an operator reviews and schedules).

    Algorithm (deterministic, shuffle-light): within each partition,
    files order by size descending (first-fit-decreasing flavor; ties
    on ``tiebreak_cols``) and fill bins by running total —
    ``bin = cum_before_this_file DIV target`` — so every bin except
    possibly the last closes at or just past ``target``.  Two windows
    over the same partition keys + one over (partition, bin); no data
    files are read, only the stats relation (thousands of rows per
    million files), so the plan costs seconds at any lake size.

    Returns per-file rows: ``(*part_cols, file_seq, <size_col>, bin,
    bin_size, bin_files, *carry_cols)``.  ``carry_cols`` are identity
    columns (file paths, batch dirs) passed through untouched so an
    EXECUTOR of the plan (``versioned.compact_snapshot``) can map each
    planned row back to a physical file without re-deriving the
    window ordering — the single-authority seam for the bin
    arithmetic (the r10 lesson: a second hand-rolled copy of the FFD
    silently diverges on the next fix).
    """
    if target <= 0:
        raise ValueError("target must be positive")
    clash = sorted(set(carry_cols or [])
                   & {*part_cols, size_col, "file_seq", "bin",
                      "bin_size", "bin_files"})
    if clash:
        # two same-named output columns bind ambiguously downstream
        # (the snapshot_manifest reserved-column hazard, r13) — refuse
        raise ValueError(
            f"carry_cols {clash} collide with the plan's own output "
            "columns; rename or drop them")
    tb = [F.asc(c) for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*part_cols).orderBy(F.desc(size_col), *tb)
    cum_before = F.coalesce(
        F.sum(size_col).over(
            w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0))
    # integer bin id: cum_before DIV target (truncation toward zero —
    # identical in Spark `div` and DuckDB `//` for the non-negative
    # sums here)
    seq = (files
           .withColumn("file_seq", F.row_number().over(w))
           .withColumn("_cum", cum_before.cast("long"))
           .withColumn("bin", F.expr(f"_cum div {int(target)}")))
    wb = Window.partitionBy(*part_cols, "bin")
    return (seq
            .withColumn("bin_size", F.sum(size_col).over(wb))
            .withColumn("bin_files", F.count(F.lit(1)).over(wb))
            .select(*part_cols, "file_seq", size_col, "bin",
                    "bin_size", "bin_files",
                    *(carry_cols or [])))
