"""Per-partition lineage + metrics (north_rule B9).

Three complementary mechanisms:

- `StageMetrics.wrap`: wraps a mapInPandas-style generator so every
  Arrow batch increments Spark ACCUMULATORS (rows in/out, batches) —
  live, cheap, visible on the driver after any action, no extra shuffle.
- `lineage_table`: a mapInPandas pass emitting one row per partition
  (partition_id, rows, min/max of a key, sha256 of sorted keys) —
  a durable side table that joins stage outputs to their inputs, the
  row-level analog of the reference's md5 content keys
  (reference index.js:806-826).
- `summarize`: the same per-partition rows plus a content hash and a
  value count, from one action — what a job verifies a written output
  with; `write_lineage` then writes the rows from the driver.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

# the lineage columns, defined once: (name, Spark DDL type)
_LINEAGE_FIELDS = (
    ("partition_id", "int"),
    ("n_rows", "long"),
    ("key_min", "string"),
    ("key_max", "string"),
    ("keys_sha256", "string"),
)
LINEAGE_COLUMNS = tuple(name for name, _ in _LINEAGE_FIELDS)
LINEAGE_SCHEMA = ", ".join(f"{name} {ddl}" for name, ddl in _LINEAGE_FIELDS)


class StageMetrics:
    """Accumulator bundle for one stage."""

    def __init__(self, spark: SparkSession, stage: str):
        sc = spark.sparkContext
        self.stage = stage
        self.rows_in = sc.accumulator(0)
        self.rows_out = sc.accumulator(0)
        self.batches = sc.accumulator(0)

    def wrap(self, fn):
        """Wrap a mapInPandas generator fn(iter) -> iter so the
        accumulators count every batch that flows through it."""
        rows_in, rows_out, batches = self.rows_in, self.rows_out, self.batches

        def _wrapped(batch_iter):
            def _counted_in():
                for pdf in batch_iter:
                    rows_in.add(len(pdf))
                    batches.add(1)
                    yield pdf

            for out in fn(_counted_in()):
                rows_out.add(len(out))
                yield out

        return _wrapped

    def snapshot(self) -> dict:
        return {
            "stage": self.stage,
            "rows_in": self.rows_in.value,
            "rows_out": self.rows_out.value,
            "batches": self.batches.value,
        }


def _partition_rows(
    df: DataFrame, key_col: str, count_col=None, hash_cols: tuple[str, ...] = ()
) -> DataFrame:
    """One row per partition: the LINEAGE_SCHEMA columns, plus `h` =
    bit_xor of xxhash64(*hash_cols) over the partition when hash_cols are
    given and `counts` = JSON rows per value of `count_col` (a name or a
    Column) when count_col is. Only the columns asked for cross to
    Python."""
    from pyspark.sql import functions as F

    cols = [F.spark_partition_id().alias("partition_id"), F.col(key_col).cast("string").alias("k")]
    schema = LINEAGE_SCHEMA
    if hash_cols:
        cols.append(F.xxhash64(*hash_cols).alias("h"))
        schema += ", h long"
    counted = count_col is not None  # the closure must not capture a Column
    if counted:
        cols.append((F.col(count_col) if isinstance(count_col, str) else count_col).alias("c"))
        schema += ", counts string"

    def _per_partition(batch_iter):
        pid = -1
        keys: list = []
        hx = 0
        counts: Counter = Counter()
        for pdf in batch_iter:
            if len(pdf):
                pid = int(pdf["partition_id"].iloc[0])
                keys.append(pdf["k"].to_numpy())
                if hash_cols:
                    hx ^= int(np.bitwise_xor.reduce(pdf["h"].to_numpy()))
                if counted:
                    counts.update({k: int(v) for k, v in pdf["c"].value_counts().items()})
        if not keys:
            return
        allk = np.sort(np.concatenate(keys))
        sha = hashlib.sha256()
        for k in allk:
            sha.update(str(k).encode())
            sha.update(b"\x00")
        row = {
            "partition_id": [pid],
            "n_rows": [len(allk)],
            "key_min": [str(allk[0])],
            "key_max": [str(allk[-1])],
            "keys_sha256": [sha.hexdigest()],
        }
        if hash_cols:
            row["h"] = [hx]
        if counted:
            row["counts"] = [json.dumps(counts)]
        yield pd.DataFrame(row)

    return df.select(*cols).mapInPandas(_per_partition, schema)


def lineage_table(df: DataFrame, key_col: str) -> DataFrame:
    """One row per partition: counts + key range + content hash of the
    sorted key set (order-insensitive, so repartitioning upstream does not
    change the aggregate lineage of identical content)."""
    return _partition_rows(df, key_col)


@dataclass
class Summary:
    """What one pass over a written output proves about it."""

    lineage: list[dict]  # LINEAGE_SCHEMA rows, by partition_id
    rows: int
    h: int  # bit_xor of xxhash64(hash_cols) over every row; 0 when empty
    counts: dict[str, int]  # rows per value of count_col


def summarize(
    df: DataFrame, key_col: str, count_col, hash_cols: tuple[str, ...] = ()
) -> Summary:
    """ONE action over `df`: the lineage_table rows, the row count, the
    order-insensitive bit_xor(xxhash64(*hash_cols)) aggregate (the same
    JVM hash a Spark `bit_xor(xxhash64(...))` computes, so it compares
    with one) and the row count per value of `count_col` (a column name
    or a Column). Only the key, the 8-byte hash and the count column
    cross to Python."""
    parts = _partition_rows(df, key_col, count_col, hash_cols).collect()
    hx = 0
    counts: Counter = Counter()
    for r in parts:
        if hash_cols:
            hx ^= r["h"]
        counts.update(json.loads(r["counts"]))
    lineage = sorted(
        ({k: r[k] for k in LINEAGE_COLUMNS} for r in parts), key=lambda r: r["partition_id"]
    )
    return Summary(lineage, sum(r["n_rows"] for r in parts), hx, dict(counts))


def write_lineage(rows: list[dict], path: str) -> None:
    """Write LINEAGE_SCHEMA rows (one per partition: a handful) as one
    parquet file from the driver, replacing `path` — a Spark job for
    them would cost more than the pass that computed them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    arrow_type = {"int": pa.int32(), "long": pa.int64(), "string": pa.string()}
    schema = pa.schema([(name, arrow_type[ddl]) for name, ddl in _LINEAGE_FIELDS])
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(
        pa.Table.from_pylist(rows, schema=schema), os.path.join(path, "part-00000.parquet")
    )
