"""The on-disk layout every persistent table here shares: hive-
partitioned parquet, one file per partition per write, compaction by
dynamic partition overwrite, and a table that no write reached reading
as absent.

The results sink (sink.py) and the four indexes (dedup_index,
fuzzy_index, cdc_index, text_index) keep their own commit logic and
call these helpers for the layout itself:

* :func:`write_partitioned` — repartition on the partition column
  before ``partitionBy``, so each partition dir receives one file per
  write (the small-files bound);
* :func:`dynamic_overwrite` — an ``overwrite`` inside it replaces only
  the partition dirs present in the data (compaction, the sink's
  per-bucket rewrite), never the whole table;
* :func:`read_table` — a read of the table ROOT with ``basePath``, so
  partition columns are exposed for pruning and ``_``-prefixed
  sidecars (``_manifest.json``, ``_bloom/``, ``_stats/``,
  ``_rewrites/``) stay out;
* :func:`read_sidecar` — a read of one of those ``_``-prefixed
  sidecar tables through its data files;
* :func:`scratch_dir` — the temporary table dir of a gate lifecycle.

Both reads probe the path through the Hadoop ``FileSystem`` of the
warehouse, not ``os.path``: a table lives wherever the warehouse lives
(HDFS/S3 in production), where a local directory listing is always
empty. The probe also keeps Spark's reader off paths it would warn
about: an absent path (a ``FileStreamSink`` stack trace) and a named
``_`` directory ("All paths were ignored").
"""

from __future__ import annotations

import shutil
import tempfile
from contextlib import contextmanager

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

_OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"

# the two read failures that mean "no table here yet": no directory, or
# a directory without a data file (a write that kept no row)
_ABSENT = {"PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"}


@contextmanager
def dynamic_overwrite(spark: SparkSession):
    """Within the block, ``mode("overwrite")`` replaces only the
    partitions present in the written data; the previous mode is
    restored on exit."""
    prev = spark.conf.get(_OVERWRITE_MODE, "static")
    spark.conf.set(_OVERWRITE_MODE, "dynamic")
    try:
        yield
    finally:
        spark.conf.set(_OVERWRITE_MODE, prev)


def write_partitioned(
    df: DataFrame,
    path: str,
    part_col: str,
    mode: str,
    sort_col: str | None = None,
) -> None:
    """Write ``df`` partition-dirred by ``part_col``, one file per
    partition dir; ``sort_col`` orders the rows inside each file (so
    parquet row-group stats prune within a partition)."""
    df = df.repartition(part_col)
    if sort_col is not None:
        df = df.sortWithinPartitions(sort_col)
    df.write.mode(mode).partitionBy(part_col).parquet(path)


def _fs(spark: SparkSession, path: str):
    """(Hadoop ``Path``, its ``FileSystem``) for ``path``."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def read_table(spark: SparkSession, path: str) -> DataFrame | None:
    """The table at ``path``, or ``None`` when no write has reached it
    (no directory, or one without data files). Every other read error
    raises, and so does a caller's ``.select`` of a column the table
    does not have."""
    p, fs = _fs(spark, path)
    if not fs.exists(p):
        return None
    try:
        return spark.read.option("basePath", path).parquet(path)
    except AnalysisException as e:
        if e.getCondition() in _ABSENT:
            return None
        raise


def read_sidecar(spark: SparkSession, path: str) -> DataFrame | None:
    """The unpartitioned ``_``-prefixed table at ``path``, read from its
    data files, or ``None`` when it has none (no directory, or no file
    that is not hidden: ``_SUCCESS``, ``.crc``)."""
    p, fs = _fs(spark, path)
    if not fs.exists(p):
        return None
    files = [
        s.getPath().toString()
        for s in fs.listStatus(p)
        if s.isFile() and not s.getPath().getName().startswith(("_", "."))
    ]
    return spark.read.parquet(*files) if files else None


@contextmanager
def scratch_dir(prefix: str):
    """A fresh temporary directory, removed when the block exits. A
    result that must outlive it has to be pinned (eager
    ``localCheckpoint``) inside the block."""
    d = tempfile.mkdtemp(prefix=prefix)
    try:
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)
