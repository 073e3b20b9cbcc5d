"""Table sink abstraction: catalog tables when a catalog is there,
parquet paths otherwise.

The north rule targets Iceberg tables; this sandbox has no Iceberg
runtime jars, so the sink routes by target *shape*:

  * a path (contains ``/`` or a URI scheme) → parquet append — the
    sandbox stand-in;
  * a catalog identifier (``db.results``, ``iceberg.prod.results``) →
    the DataFrameWriterV2 (``df.writeTo``) path. Against an Iceberg
    catalog this is a snapshot-committing append. Against the built-in
    session catalog (tested here) it creates/appends a managed parquet
    table — same API surface, weaker commit semantics.

Only the writer changes per target; every operator upstream is
unchanged (they produce DataFrames, the sink decides durability).

A batched sink holds one partition per checkpoint batch:
``append_batch`` writes ``<path>/batch_id=<id>/`` (readers see
``batch_id`` as a partition column) or a table's ``batch_id``
partition, and ``drop_batches`` deletes a batch and every later one.
That is all the checkpoint protocol (checkpoints.py) needs to redo an
uncommitted batch whole: whether a batch is committed is decided by
its lineage row alone, never by the sinks.

``append_row`` commits one driver-side row (a batch's lineage) without
a Python stage: on a path the driver writes it as a parquet file
through the session's Hadoop ``FileSystem`` (no Spark job at all); on
a catalog table it appends a JVM literal row.

The sink decides the codec too. Every parquet file it writes (path
appends, catalog tables, the lineage row) is zstd at level 3, zstd's
own default, and the level Spark's parquet writer uses unasked:

  * zstd, not Spark's default Snappy: it is the codec Iceberg writes
    by default, and a committed document stores a third fewer bytes
    (perfbench bulk: 424 → 279 B) for the same write CPU once the JVM
    is warm; pyarrow, DuckDB and Spark all read it;
  * level 3, not higher: level 19 saves 9% more bytes for about
    eight times the write CPU.

A catalog table is created with the codec as a writer option, which
the catalog keeps with the table, so every later append and
``insertInto`` writes zstd as well (a ``tableProperty`` never reaches
the parquet writer: the table's files come out Snappy).

``load`` tests existence (``FileSystem`` on paths, ``tableExists`` on
tables) instead of catching the failed analysis: an analysis failure
also makes the ``Observation`` listener log a long JVM stack trace.
"""

from __future__ import annotations

import uuid
from typing import Optional

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType
from pyspark.sql.utils import AnalysisException

# every parquet file a sink writes (module docstring); Spark's writer
# takes zstd's level 3 unasked, pyarrow's would take 1
CODEC, CODEC_LEVEL = "zstd", 3


def is_path(target: str) -> bool:
    return "/" in target or target.startswith(("file:", "s3:", "s3a:", "hdfs:"))


def append(df: DataFrame, target: str) -> None:
    """Append ``df`` to a parquet path or a catalog table (created on
    first append; an Iceberg catalog supplies its own table format)."""
    if is_path(target):
        df.write.mode("append").parquet(target, compression=CODEC)
        return
    if not df.sparkSession.catalog.tableExists(target):
        _create(df.writeTo(target))
        return
    try:
        # V2 writer: on an Iceberg table this is a snapshot commit
        df.writeTo(target).append()
    except AnalysisException:
        # the built-in session catalog's V1 tables lack the V2 batch
        # append capability — same append through the V1 writer
        df.write.mode("append").saveAsTable(target)


def append_batch(df: DataFrame, target: str, batch_id: int) -> None:
    """Append ``df`` as batch ``batch_id`` of ``target``: on a path
    into ``<target>/batch_id=<id>/``, on a catalog table into its
    ``batch_id`` partition (a new table is created partitioned by
    it). A ``batch_id`` column of ``df`` is replaced by the batch's."""
    if is_path(target):
        df.drop("batch_id").write.mode("append").parquet(f"{target}/batch_id={batch_id}",
                                                         compression=CODEC)
        return
    spark, batch = df.sparkSession, df.withColumn("batch_id", F.lit(batch_id))
    if not spark.catalog.tableExists(target):
        _create(batch.writeTo(target).partitionedBy(F.col("batch_id")))
    else:
        # insertInto matches columns by position: put them in the table's order
        batch.select(*spark.table(target).columns).write.insertInto(target)


def _create(writer) -> None:
    """Create a parquet catalog table whose appends all write ``CODEC``."""
    writer.using("parquet").option("compression", CODEC).create()


def drop_batches(spark: SparkSession, target: str, first: int) -> None:
    """Delete every batch of ``target`` whose id is ``first`` or more;
    a missing target has none. On a path this is a ``FileSystem`` glob
    and delete (no Spark job); on a table, a partition drop."""
    if not is_path(target):
        if spark.catalog.tableExists(target):
            specs = [f"PARTITION ({p})" for (p,) in spark.sql(f"SHOW PARTITIONS {target}").collect()
                     if int(p.split("=", 1)[1]) >= first]
            if specs:
                spark.sql(f"ALTER TABLE {target} DROP IF EXISTS {', '.join(specs)}")
        return
    fs, pattern = _fs_path(spark, target, "batch_id=*")
    for status in fs.globStatus(pattern) or ():
        path = status.getPath()
        if int(path.getName().split("=", 1)[1]) >= first:
            fs.delete(path, True)


def _fs_path(spark: SparkSession, target: str, *children: str):
    """(Hadoop FileSystem, Path) of ``target`` joined with ``children``,
    under the session's Hadoop configuration — any Hadoop URI."""
    fs_api = spark._jvm.org.apache.hadoop.fs
    path = fs_api.Path(target)
    for child in children:
        path = fs_api.Path(path, child)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), path


def append_row(spark: SparkSession, values: tuple, schema: str, target: str) -> None:
    """Append one row (``values`` in the order of the DDL ``schema``)
    to ``target``. On a path the driver writes a one-row parquet file
    as ``.part-<uuid>.parquet.tmp`` and renames it to
    ``part-<uuid>.parquet``, so readers, which skip dot-files, never
    see a partial file. On a table it appends a JVM literal row; no
    Python worker runs in either case."""
    struct = StructType.fromDDL(schema)
    if not is_path(target):
        row = spark.range(1, numPartitions=1).select(
            *[F.lit(v).cast(f.dataType).alias(f.name) for v, f in zip(values, struct.fields)])
        append(row, target)
        return
    buf = pa.BufferOutputStream()
    pq.write_table(pa.table([[v] for v in values], schema=to_arrow_schema(struct)), buf,
                   compression=CODEC, compression_level=CODEC_LEVEL)
    name = f"part-{uuid.uuid4()}.parquet"
    fs, tmp = _fs_path(spark, target, f".{name}.tmp")
    out = fs.create(tmp, False)
    try:
        out.write(buf.getvalue().to_pybytes())
    finally:
        out.close()
    _, final = _fs_path(spark, target, name)
    if not fs.rename(tmp, final):
        raise OSError(f"could not commit {final.toString()}")


def load(spark: SparkSession, target: str) -> Optional[DataFrame]:
    """Read the sink target; None when it does not exist yet. A
    directory with no visible entry (only the ``_temporary`` of a
    crashed first write, say) does not exist yet either."""
    if not is_path(target):
        return spark.read.table(target) if spark.catalog.tableExists(target) else None
    fs, path = _fs_path(spark, target)
    if not fs.exists(path):
        return None
    if fs.getFileStatus(path).isDirectory():
        _, visible = _fs_path(spark, target, "[!._]*")
        if not fs.globStatus(visible):
            return None
    return spark.read.parquet(target)
