"""Sink specification + validation.

Re-expresses the reference's plugin config surface
(``PartitionedFileSetSinkConfig.java:38-76`` — name, schema, fieldNames,
basePath, appendToPartition; per-format codec knobs in
``FileSetUtil.java:224-286`` and ``ORCDynamicPartitionedDatasetSink.java:100-133``)
as a plain dataclass validated against a Spark ``StructType``.

Validation rules mirror the reference exactly:
  * every partition field must exist in the input schema
    (``PartitionedFileSetSinkConfig.java:134-138``)
  * partition fields must be non-nullable
    (``PartitionedFileSetSinkConfig.java:140-144``)
  * every partition dimension is typed STRING regardless of source type
    (``PartitionedFileSetSinkConfig.java:146``)
  * ORC: if a codec is set, chunk/stripe/stride/index must all be set and
    ``indexStride >= 1000`` (``ORCDynamicPartitionedDatasetSink.java:171-183``)

The reference's ORC knob bugs (stripeSize written into ``orc.compress.size``,
``createIndex`` writing the stride value —
``ORCDynamicPartitionedDatasetSink.java:118-126``) are deliberately FIXED
here: each knob maps to its correct writer option.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import types as T


class SpecError(ValueError):
    """Deploy-time validation failure (reference: IllegalArgumentException)."""


#: codec name (case-insensitive, "none" allowed) → Spark writer option value,
#: per format.  Reference maps: FileSetUtil.java:224-246 (Avro
#: {snappy,deflate}), :262-286 (Parquet {snappy,gzip,lzo}),
#: ORCDynamicPartitionedDatasetSink.java:104-117 (ORC {snappy,zlib}).
CODECS: dict[str, dict[str, str]] = {
    "parquet": {"none": "uncompressed", "snappy": "snappy", "gzip": "gzip",
                "lzo": "lzo", "zstd": "zstd"},  # zstd: modern extension
    "avro": {"none": "uncompressed", "snappy": "snappy", "deflate": "deflate",
             "zstandard": "zstandard"},
    "orc": {"none": "none", "snappy": "snappy", "zlib": "zlib", "zstd": "zstd"},
}

FORMATS = ("parquet", "avro", "orc")


@dataclass
class SinkSpec:
    """Everything the reference's plugin config carries, Spark-shaped."""

    name: str                                  # dataset / table name
    field_names: list[str]                     # partition fields, ordered
    fmt: str = "parquet"                       # parquet | avro | orc
    #: optional declared schema: StructType, DDL string, or an **Avro
    #: record-schema JSON string** — the exact input format the reference
    #: takes (PartitionedFileSetSinkConfig.java:55-57 declares it; :82-88
    #: parses it with Schema.parseJson), so existing CDAP pipeline configs
    #: can be fed in unchanged.  The non-nullable partition-field rule is
    #: checked against THIS schema when given — files read from parquet
    #: are always nullable in Spark, so the declared schema carries the
    #: contract (an Avro ["null", T] union field counts as nullable,
    #: matching Schema.isNullable in getPartitioning, :140-144).
    schema: T.StructType | str | None = None
    base_path: str | None = None               # defaults to name
    compression_codec: str | None = None
    append_to_partition: str | None = None     # None/"No" → CREATE, else APPEND
    #: dynamic partition overwrite: replace ONLY the partitions present in
    #: the incoming data, leave all others untouched — the modern third
    #: write mode the reference's CREATE/CREATE_OR_APPEND pair lacks.
    #: Committed like CREATE, from a staging directory, whatever the
    #: session's partitionOverwriteMode; wins over append_to_partition
    overwrite_partitions: bool = False
    stage_name: str | None = None              # opt-in _stage tag column (S7)
    # ORC-only knobs (ORCDynamicPartitionedDatasetSink.java:59-72)
    compression_chunk_size: int | None = None
    stripe_size: int | None = None
    index_stride: int | None = None
    create_index: bool | None = None
    # scale knobs (ours): cap rows per output file; repartition by key first
    max_records_per_file: int = 5_000_000
    cluster_by_key: bool = True
    #: opt-in SORTED WRITE (the Iceberg sorted-table / Delta OPTIMIZE
    #: write shape): sort rows by these columns WITHIN each task,
    #: after partition-key normalization, so every output file is a
    #: contiguous run of the per-partition sort order — point lookups
    #: on the sort column then touch ~1 file (see clustering_depth).
    #: Applied after the partition columns (which Spark's writer
    #: requires first in the ordering); without this, the writer
    #: inserts its own UNSTABLE sort on the partition columns and any
    #: incoming row order is lost.
    sort_within: list[str] | None = None
    extra_options: dict[str, str] = field(default_factory=dict)

    @property
    def mode_is_append(self) -> bool:
        """CREATE vs CREATE_OR_APPEND (AvroDynamicPartitionedDatasetSink.java:70-73):
        null or "No" → CREATE (fail if a target partition exists)."""
        return self.append_to_partition is not None and self.append_to_partition != "No"

    def declared_schema(self) -> T.StructType | None:
        if self.schema is None:
            return None
        if isinstance(self.schema, T.StructType):
            return self.schema
        s = self.schema.strip()
        if s.startswith("{"):
            # Avro record-schema JSON (the reference's native format)
            from .formats.avro_py import spark_schema_from_avro
            try:
                return spark_schema_from_avro(s)
            except Exception as e:
                # reference wording, PartitionedFileSetSinkConfig.java:85-87
                raise SpecError(f"Unable to parse schema: {e}") from e
        try:
            return T.StructType.fromDDL(s)
        except Exception as e:
            raise SpecError(f"Unable to parse schema: {e}") from e

    def validate(self, input_schema: T.StructType) -> None:
        if not self.field_names:
            raise SpecError("at least one partition field is required")
        if self.fmt not in FORMATS:
            raise SpecError(f"unknown format '{self.fmt}'; one of {FORMATS}")
        by_name = {f.name: f for f in input_schema.fields}
        declared = self.declared_schema()
        declared_by_name = ({f.name: f for f in declared.fields}
                            if declared is not None else None)
        for fname in self.field_names:
            if fname not in by_name:
                # PartitionedFileSetSinkConfig.java:134-138
                raise SpecError(
                    f"Partition field '{fname}' must exist in the input schema")
            if declared_by_name is not None:
                if fname not in declared_by_name:
                    raise SpecError(
                        f"Partition field '{fname}' must exist in the declared schema")
                if declared_by_name[fname].nullable:
                    # PartitionedFileSetSinkConfig.java:140-144.  Runtime
                    # nulls are additionally rejected per-row by the
                    # normalize guard regardless of declared nullability.
                    raise SpecError(
                        f"Partition field '{fname}' must be non-nullable")
        if self.sort_within and self.fmt == "avro":
            # the pure-Python avro container fallback (no spark-avro
            # jar) returns before the sort is applied and does not
            # guarantee per-file contiguous runs — reject rather than
            # silently violate the sorted-write contract on one path
            raise SpecError(
                "sort_within is not supported for avro — the container "
                "fallback writer cannot guarantee sorted file runs")
        for sname in self.sort_within or []:
            if sname not in by_name:
                raise SpecError(
                    f"Sort field '{sname}' must exist in the input schema")
            if sname in self.field_names:
                raise SpecError(
                    f"Sort field '{sname}' is a partition field — the "
                    "writer already orders by partition fields first")
        if self.compression_codec is not None:
            codec = self.compression_codec.lower()
            if codec not in CODECS[self.fmt]:
                raise SpecError(
                    f"codec '{self.compression_codec}' not supported for "
                    f"{self.fmt}; one of {sorted(CODECS[self.fmt])}")
        if self.fmt == "orc":
            self._validate_orc()

    def _validate_orc(self) -> None:
        # ORCDynamicPartitionedDatasetSink.java:171-183: codec set (and not
        # None) requires every knob; indexStride >= 1000.
        codec = (self.compression_codec or "none").lower()
        if codec != "none":
            knobs = (self.compression_chunk_size, self.stripe_size,
                     self.index_stride, self.create_index)
            if any(k is None for k in knobs):
                raise SpecError(
                    "ORC: compressionChunkSize, stripeSize, indexStride and "
                    "createIndex are all required when a codec is set")
            if self.index_stride < 1000:  # type: ignore[operator]
                raise SpecError("ORC: indexStride must be >= 1000")

    def writer_options(self) -> dict[str, str]:
        """Format-specific writer options (codec + ORC knobs, bugs fixed)."""
        opts: dict[str, str] = dict(self.extra_options)
        codec = (self.compression_codec or "").lower()
        if codec:
            mapped = CODECS[self.fmt][codec]
            if self.fmt == "parquet":
                opts["compression"] = mapped
            elif self.fmt == "avro":
                opts["compression"] = mapped
            else:
                opts["orc.compress"] = mapped.upper() if mapped != "none" else "NONE"
        if self.fmt == "orc":
            if self.compression_chunk_size is not None:
                opts["orc.compress.size"] = str(self.compression_chunk_size)
            if self.stripe_size is not None:
                opts["orc.stripe.size"] = str(self.stripe_size)
            if self.index_stride is not None:
                opts["orc.row.index.stride"] = str(self.index_stride)
            if self.create_index is not None:
                opts["orc.create.index"] = "true" if self.create_index else "false"
        return opts
