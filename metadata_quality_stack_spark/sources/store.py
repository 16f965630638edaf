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
  ``_rewrites/``) stay out. The probe goes through the Spark reader, not
  ``os.path``: a table lives wherever the warehouse lives (HDFS/S3 in
  production), where a local directory listing is always empty;
* :func:`hex_bucket` — the md5-hex-prefix bucket, computable for a
  literal without a job;
* :func:`scratch_dir` — the temporary table dir of a gate lifecycle.
"""

from __future__ import annotations

import shutil
import tempfile
from contextlib import contextmanager

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def read_table(spark: SparkSession, path: str) -> DataFrame | None:
    """The table at ``path``, or ``None`` when no write has reached it
    (no directory, or one without data files). Every other read error
    raises, and so does a caller's ``.select`` of a column the table
    does not have."""
    try:
        return spark.read.option("basePath", path).parquet(path)
    except AnalysisException as e:
        if e.getCondition() in _ABSENT:
            return None
        raise


def hex_bucket(hex_col: F.Column, n: int) -> F.Column:
    """Bucket ``0..n-1`` from the first two hex digits of an md5 hex
    string, computable for a literal without running a job."""
    return F.conv(F.substring(hex_col, 1, 2), 16, 10).cast("int") % n


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
