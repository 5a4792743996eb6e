"""Parquet reads planned without a Spark job.

``spark.read.parquet(path)`` runs one Spark job before any row is read:
schema inference, which with ``mergeSchema`` off reads ONE footer and
assumes every other file agrees. Spark writes its schema into that
footer (the ``org.apache.spark.sql.parquet.row.metadata`` key) and
prefers it over the parquet types, so reading the same key with pyarrow
on the driver (well under a millisecond) and handing it to
``spark.read.schema(...)`` gives the same DataFrame without the job.
Iceberg and Delta do the same: they never infer, they carry the schema.

Every other case infers as Spark would: a non-local URI, a glob, a
directory with ``_metadata`` summary files, a file another writer made
(no Spark key in its footer), or ``spark.sql.parquet.mergeSchema`` on.

A read of more root paths than
``spark.sql.sources.parallelPartitionDiscovery.threshold`` makes Spark
list them in a Spark job; ``read_parquet`` reads them in chunks of at
most that many paths and unions the chunks, so a catalog scan of any
file count runs no job at plan time. The session's threshold is read,
never set: it also governs every other read's directory listing.
"""

from __future__ import annotations

import json
import os
from functools import reduce
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
_GLOB_CHARS = set("{}[]*?\\")


def _local_path(spark: SparkSession, path: str) -> Optional[str]:
    """``path`` as a driver-local file system path, or None when Spark
    would resolve it elsewhere (another scheme, a non-local default
    file system) or would glob it."""
    if _GLOB_CHARS & set(path):
        return None
    if path.startswith("file:"):
        return "/" + path[len("file:"):].lstrip("/")
    if "://" in path:
        return None
    fs = spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS")
    return path if (fs or "file:").startswith("file:") else None


def _first_data_file(path: str) -> Optional[str]:
    """The file whose footer Spark's non-merging inference would trust:
    ``path`` itself, or the first data file under the directory (Spark's
    hidden-name rule; partition directories descended in name order).
    None when there is none or when summary files would take precedence."""
    if os.path.isfile(path):
        return path
    if not os.path.isdir(path):
        return None
    files, dirs = [], []
    with os.scandir(path) as it:
        for e in it:
            name = e.name
            if name.startswith(("_metadata", "_common_metadata")):
                return None
            if ((name.startswith("_") and "=" not in name)
                    or name.startswith(".") or name.endswith("._COPYING_")):
                continue
            (dirs if e.is_dir() else files).append(name)
    if files:
        return os.path.join(path, min(files))
    for d in sorted(dirs):
        found = _first_data_file(os.path.join(path, d))
        if found is not None:
            return found
    return None


def footer_schema(spark: SparkSession, path: str) -> Optional[StructType]:
    """The schema ``spark.read.parquet(path)`` would infer, read from one
    Spark-written footer on the driver; None where only Spark's own
    inference gives it (see the module docstring)."""
    import pyarrow.parquet as pq

    if spark.conf.get("spark.sql.parquet.mergeSchema").lower() == "true":
        return None
    local = _local_path(spark, path)
    first = _first_data_file(local) if local is not None else None
    if first is None:
        return None
    try:
        meta = pq.read_metadata(first).metadata or {}
    except (OSError, ValueError):
        return None  # not readable as parquet: let Spark raise its error
    raw = meta.get(_SPARK_SCHEMA_KEY)
    return None if raw is None else StructType.fromJson(json.loads(raw))


def read_parquet(spark: SparkSession, paths: Sequence[str]) -> DataFrame:
    """``spark.read.parquet(*paths)``, planned with no Spark job where
    the first path's footer gives the schema: the paths then reach Spark
    in chunks below the session's parallel-listing threshold."""
    paths = list(paths)
    schema = footer_schema(spark, paths[0])
    reader = spark.read if schema is None else spark.read.schema(schema)
    step = int(spark.conf.get(
        "spark.sql.sources.parallelPartitionDiscovery.threshold"))
    if step < 1 or schema is None:
        step = len(paths)
    parts = [reader.parquet(*paths[i:i + step])
             for i in range(0, len(paths), step)]
    return reduce(DataFrame.union, parts)
