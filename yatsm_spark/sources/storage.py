"""Storage layer: one writer interface over parquet-now / Iceberg-later.

Parity anchor: S6 result sink (yatsm/cli/line.py np.savez per row → here
partitioned table appends [M]) and S5 line cache (yatsm/cache.py [H] → the
materialized 1m tier IS the cache).

The sandbox has no Iceberg jars (SURVEY.md §7.4), so the default backend is
a partitioned parquet layout with the SAME partition spec the Iceberg DDL
would use:

    {root}/{table}/bucket=<k>/...   with bucket = pmod(xxhash64(conv_id), B)

On a real cluster swap ParquetStorage for IcebergStorage (writeTo(...)
.append(), MERGE INTO for reconcile) — the engine only talks to the
Storage protocol. Bucketed layout co-locates every per-conv operation
(rollup groups, kernel groups, chunk groups) so downstream stages shuffle
within buckets only; at 10^12 turns the bucket count B is the unit of
checkpoint/resume (SURVEY.md §4 partitioning row).

On-disk format (``TIER_FORMAT_VERSION``): every table is written with
timestamps as INT64 ``TIMESTAMP_MICROS`` and with Parquet v2 data pages.
Spark's default timestamp type is INT96, which the Parquet format
deprecates and which costs 12 bytes per slot. On the dense 1m grid it also
defeats the dictionary and snappy: ``window_start`` alone was about half
of all bytes a pipeline run wrote. INT64 alone changes nothing; v2 pages
let the writer use DELTA_BINARY_PACKED, which stores a regular grid of
timestamps in a few bits per row. Other int64 columns go to
DELTA_BINARY_PACKED where the dictionary falls back. ``write_bucket``
compresses pages with zstd (15% fewer bytes than snappy over a perfbench
seed-1 run's tables); ``write`` (the staged measures) keeps snappy, which
``conf.shuffle_partitions_for_bytes`` is calibrated on, and the writer's
default metadata. Values are unchanged; only their encoding is.

``write_bucket`` also derives per-column writer options from the frame's
schema (``bucket_column_options``), so a bucket table carries only the
metadata its readers use:

- **Statistics.** Min/max statistics and column indexes are kept on
  string, timestamp and boolean columns only: ``conv_id``, ``tier``,
  ``window_start``, ``chunk_start``, the segment timestamps and
  ``gap_filled``, the columns that ``route_range``, retention and the
  tier reads filter on. The measures, counts, fit values and codec blobs
  have none; ``val_codec``'s min and max alone were about 1 KB of one
  chunks footer.
- **Dictionary.** Timestamps and the stat moments (``rollup.MOMENTS``
  with a null gap value) skip the dictionary. Their values rarely repeat
  within a file, yet on inputs whose first page repeats many values the
  dictionary passes the writer's size check and then keeps the column
  far above its delta-encoded size (``window_start`` near its INT96 size;
  on perfbench seed 1, the sum of squares of ``tier_1m`` 23,855 B against
  18,808 B).

Version history: 1: Spark defaults (INT96 timestamps, v1 pages, snappy).
2: INT64 ``TIMESTAMP_MICROS`` + v2 pages. 3: zstd bucket tables.
4: statistics only on string, timestamp and boolean columns, and no
dictionary on timestamps and stat moments.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    StringType,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from yatsm_spark.conf import scoped_conf
from yatsm_spark.operators.rollup import MOMENTS

DEFAULT_BUCKETS = 16

#: Version of the on-disk format ParquetStorage writes. The pipeline folds
#: it into each bucket's fingerprint, so a resume rewrites buckets written
#: in an older format instead of mixing formats in one table (history in
#: the module docstring).
TIER_FORMAT_VERSION = 4

#: The parquet writer reads the timestamp type from the session conf only;
#: a write option for it is ignored.
_TS_TYPE_CONF = "spark.sql.parquet.outputTimestampType"

_TIMES = (TimestampType, TimestampNTZType)
#: Leaf types that keep min/max statistics in bucket tables: the keys,
#: times and flags that reads filter on.
_FILTERED = (StringType, BooleanType, *_TIMES)


def _leaf(path: str, dtype: DataType) -> tuple[str, DataType]:
    """Parquet column path and type of a field's leaf. Bucket tables nest
    only arrays, which Spark writes as three-level lists."""
    while isinstance(dtype, ArrayType):
        path, dtype = f"{path}.list.element", dtype.elementType
    return path, dtype


def bucket_column_options(schema: StructType) -> dict[str, str]:
    """Per-column parquet writer options of a bucket table with ``schema``:
    no statistics on a leaf that is not a string, timestamp or boolean, and
    no dictionary on timestamps and stat moments (module docstring)."""
    stat_moments = {m.name for m in MOMENTS if m.gap is None}
    opts = {}
    for f in schema.fields:
        path, leaf = _leaf(f.name, f.dataType)
        if not isinstance(leaf, _FILTERED):
            opts[f"parquet.column.statistics.enabled#{path}"] = "false"
        if isinstance(leaf, _TIMES) or path in stat_moments:
            opts[f"parquet.enable.dictionary#{path}"] = "false"
    return opts


def with_bucket(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Stable conv bucket: pmod(xxhash64(conv_id), B). xxhash64 is a fixed
    Spark function — bucket assignment never depends on parallelism."""
    return df.withColumn("bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int"))


class ParquetStorage:
    def __init__(self, root: str, n_buckets: int = DEFAULT_BUCKETS):
        self.root = root
        self.n_buckets = n_buckets
        os.makedirs(root, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    @staticmethod
    def _write_parquet(df: DataFrame, writer: DataFrameWriter, path: str) -> None:
        """Write with INT64 timestamps and v2 pages. The timestamp type is a
        session conf, so set it for this write and restore the caller's
        value (or its absence) afterwards."""
        with scoped_conf(df.sparkSession.conf, _TS_TYPE_CONF, "TIMESTAMP_MICROS"):
            writer.option("parquet.writer.version", "v2").parquet(path)

    def write(self, df: DataFrame, table: str, mode: str = "overwrite",
              partition_by: tuple[str, ...] = ("bucket",)) -> None:
        if "bucket" in partition_by and "bucket" not in df.columns:
            df = with_bucket(df, self.n_buckets)
        self._write_parquet(df, df.write.mode(mode).partitionBy(*partition_by),
                            self.path(table))

    def write_bucket(self, df: DataFrame, table: str, bucket: int) -> None:
        """Atomic per-bucket write: tmp dir + rename (the graft's analogue
        of the reference's one-.npz-per-row commit, S6)."""
        final = os.path.join(self.path(table), f"bucket={bucket}")
        tmp = final + ".inprogress"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        writer = (df.write.mode("overwrite").option("compression", "zstd")
                  .options(**bucket_column_options(df.schema)))
        self._write_parquet(df, writer, tmp)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)

    def bucket_size(self, table: str, bucket: int) -> tuple[int, int]:
        """(bytes, files) of a committed bucket's parquet data files, from a
        directory listing (checksum and _SUCCESS files left out)."""
        d = os.path.join(self.path(table), f"bucket={bucket}")
        sizes = [os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)
                 if f.endswith(".parquet")]
        return sum(sizes), len(sizes)

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.read.option("basePath", self.path(table)).parquet(self.path(table))

    def read_bucket(self, spark: SparkSession, table: str, bucket: int) -> DataFrame:
        return spark.read.parquet(os.path.join(self.path(table), f"bucket={bucket}"))

    def exists(self, table: str) -> bool:
        return os.path.exists(self.path(table))

    def drop(self, table: str) -> None:
        if self.exists(table):
            shutil.rmtree(self.path(table))


class IcebergStorage:
    """Iceberg backend for real clusters (sandbox has no Iceberg jars —
    SURVEY.md §7.4 — so this path is exercised only when the catalog conf
    is present; ParquetStorage is the test-time default).

    Table layout mirrors ParquetStorage: one table per tier/artifact,
    partitioned by bucket(conv) via a hidden-partition spec. Reconcile
    (J4/S5 cache-update semantics) uses MERGE INTO keyed on
    (conv_id, window_start); retention eviction is a partition-predicate
    DELETE — both snapshot-isolated, which supersedes the parquet
    backend's tmp+rename bucket commits.
    """

    def __init__(self, spark: SparkSession, catalog: str, namespace: str,
                 n_buckets: int = DEFAULT_BUCKETS):
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        self.n_buckets = n_buckets

    def _ident(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    def ensure(self, df: DataFrame, table: str) -> None:
        (df.writeTo(self._ident(table))
           .partitionedBy(F.bucket(self.n_buckets, F.col("conv_id")))
           .createOrReplace())

    def write(self, df: DataFrame, table: str, mode: str = "append", **_) -> None:
        w = df.writeTo(self._ident(table))
        w.append() if mode == "append" else w.createOrReplace()

    def merge_rollup(self, updates: DataFrame, table: str) -> None:
        """Idempotent upsert of rollup rows (late-data reconcile)."""
        updates.createOrReplaceTempView("_updates")
        self.spark.sql(f"""
            MERGE INTO {self._ident(table)} t
            USING _updates u
            ON t.conv_id = u.conv_id AND t.window_start = u.window_start
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
        """)

    def evict_before(self, table: str, cutoff) -> None:
        self.spark.sql(
            f"DELETE FROM {self._ident(table)} WHERE window_start < TIMESTAMP '{cutoff}'")

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.table(self._ident(table))
