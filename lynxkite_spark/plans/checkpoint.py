"""Content-addressed checkpointing: the reference's memoizing entity
store re-created for iterative DataFrame algorithms.

The reference GUID-hashes (operation, params, inputs) and recomputes only
missing entities (/root/reference/app/.../graph_api/MetaGraph.scala:39-57,
DataManager.scala:120+; on-disk layout EntityIO.scala:71-110 with a
_SUCCESS-style marker, SparkDomain.scala:175-229). We hash
(input fingerprint, op name, params, iteration) → a parquet table name;
a step whose output exists is skipped, which makes any iterative run
resumable mid-algorithm.

Each checkpoint carries a sidecar ``_lineage.json`` with per-partition
row counts + checksums and the convergence metric series — the
"per-partition lineage + metrics" required by the north rule.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def step_key(input_fingerprint: str, op: str, params: dict, iteration: int | None = None) -> str:
    payload = json.dumps(
        {"input": input_fingerprint, "op": op, "params": params, "iter": iteration},
        sort_keys=True,
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:24]


def table_fingerprint(df: DataFrame, sample_cols: list[str] | None = None) -> str:
    """Cheap content fingerprint of a DataFrame: order-insensitive xor/sum
    of per-row hashes over the key columns, plus the row count. One pass,
    map-side combinable."""
    cols = sample_cols or df.columns
    agg = df.select(F.xxhash64(*cols).alias("h")).agg(
        F.count("*").alias("n"),
        F.expr("bit_xor(h)").alias("s"),  # order-insensitive, overflow-free
    )
    n, s = agg.first()
    return f"{n}:{s}"


class CheckpointManager:
    """Parquet-backed checkpoint registry under ``root``.

    ``save(df, key)`` writes the data plus a lineage sidecar;
    ``load(key)`` returns the DataFrame if the step already ran
    (the memoization hit path); ``metrics(key)`` returns the sidecar.

    Two limits of the store, stated here once:

    * ``root`` is a local-filesystem path. Keys are directories handled
      with ``os.path``, ``shutil`` and ``os.replace``, not Hadoop
      ``FileSystem`` paths, so an HDFS or object-store root does not
      work (on a cluster, ``root`` must be a mount every node sees).
    * The sidecar carries the table's schema, and every read-back and
      ``load`` passes it to the reader, so no read runs Spark's schema
      inference job. A sidecar written without a schema still loads;
      its read infers the schema.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _dir(self, key: str) -> str:
        return os.path.join(self.root, key)

    def exists(self, key: str) -> bool:
        return os.path.exists(os.path.join(self._dir(key), "_lineage.json"))

    def save(self, df: DataFrame, key: str, metrics: dict | None = None) -> DataFrame:
        path = self._dir(key)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        df.write.mode("overwrite").parquet(tmp)
        schema = df.schema.jsonValue()
        out = self._read(tmp, schema)
        # per-partition lineage: row count + order-insensitive checksum per file
        lineage_rows = (
            out.select(
                F.input_file_name().alias("part"),
                F.xxhash64(*out.columns).alias("h"),
            )
            .groupBy("part")
            .agg(F.count("*").alias("rows"), F.expr("bit_xor(h)").alias("checksum"))
            .collect()
        )
        sidecar = {
            "key": key,
            "written_at": time.time(),
            "partitions": [
                {"file": os.path.basename(r["part"]), "rows": r["rows"], "checksum": str(r["checksum"])}
                for r in lineage_rows
            ],
            "total_rows": int(sum(r["rows"] for r in lineage_rows)),
            "metrics": metrics or {},
            "schema": schema,
        }
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
        with open(os.path.join(path, "_lineage.json"), "w") as f:
            json.dump(sidecar, f, indent=1)
        return self._read(path, schema)

    def _read(self, path: str, schema: dict | None) -> DataFrame:
        reader = self.spark.read if schema is None else self.spark.read.schema(StructType.fromJson(schema))
        return reader.parquet(path)

    def load(self, key: str) -> DataFrame | None:
        sidecar = self.metrics(key)
        if sidecar is None:
            return None
        return self._read(self._dir(key), sidecar.get("schema"))

    def metrics(self, key: str) -> dict | None:
        p = os.path.join(self._dir(key), "_lineage.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)


def materialize(df: DataFrame) -> DataFrame:
    """Cut lineage NOW: eager localCheckpoint. Iterative DataFrame
    algorithms reference the previous state several times per round, so
    without truncation the logical plan (and Catalyst analysis time)
    grows exponentially with the iteration count — the reference
    sidesteps the same problem by persisting every heavy operation
    (SparkDomain.scala:175-229). On a multi-executor cluster prefer a
    durable CheckpointManager.save at a cadence on top of this (local
    checkpoints don't survive executor loss)."""
    return df.localCheckpoint(eager=True)
