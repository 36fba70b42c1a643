"""Processing-ledger control table — ``tech.tech_processed_files``
(scripts/bronze_incremental.py:111-155; S8 keyed upsert, S9 in-place
update in SURVEY.md §2.1).

Vanilla parquet has no in-place UPDATE/MERGE, so the ledger is
read-modify-overwrite: new rows anti-join out their old versions, and
the union is written to a staging directory and swapped in by the
crash-recoverable rename-aside swap of sources/dirswap.py. Every read
first repairs an interrupted swap, so a crash mid-commit leaves the
old ledger or the new one, never neither. The pattern would be Delta
``MERGE`` on a real deployment, with identical semantics.

Cost: the table is tiny by construction (one row per ingested file),
so a commit is one small parquet rewrite — O(files) bytes but a
constant number of Spark jobs. Callers batch their records (build them
with :func:`ledger_records`, a JVM-local frame that the anti-join
broadcasts) and commit once per run, so a run pays one commit however
many files it logs. Before the first commit, :meth:`ControlTable.processed_ok`
answers without a job and :meth:`ControlTable.upsert` writes the
records directly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from data_engineering_project_spark.localframe import local_rows
from data_engineering_project_spark.sources.dirswap import (
    recover_table,
    staging_path,
    swap_in,
)

LEDGER_SCHEMA = StructType(
    [
        StructField("file_name", StringType(), False),
        StructField("fingerprint", StringType(), True),
        StructField("processed_at", TimestampType(), True),
        StructField("rows_in", LongType(), True),
        StructField("rows_inserted", LongType(), True),
        StructField("status", StringType(), True),  # OK / SKIP / FAIL
        StructField("note", StringType(), True),
    ]
)
LEDGER_DDL = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in LEDGER_SCHEMA)


def ledger_records(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """Ledger rows (tuples in LEDGER_SCHEMA order) as a JVM-local frame
    — no Python RDD, so an upsert of them pays no Python-worker stage
    and the anti-join sees a size statistic to broadcast on. The rows
    are inlined into the plan, so their number is bounded by the
    caller: one per file a run logs (one per landed month)."""
    return local_rows(spark, rows, LEDGER_DDL)


class ControlTable:
    """Keyed-upsert ledger over a parquet directory."""

    def __init__(self, spark: SparkSession, path: str, key: str = "file_name"):
        self.spark = spark
        self.path = path
        self.key = key

    def _exists(self) -> bool:
        """Repair an interrupted swap, then report whether the ledger exists."""
        recover_table(self.path)
        return os.path.exists(self.path)

    def read(self) -> DataFrame:
        if self._exists():
            return self.spark.read.schema(LEDGER_SCHEMA).parquet(self.path)
        return self.spark.createDataFrame([], LEDGER_SCHEMA)

    def _overwrite(self, df: DataFrame) -> None:
        staging = staging_path(self.path)
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        swap_in(self.path, staging)

    def upsert(self, records: DataFrame) -> None:
        """INSERT ... ON CONFLICT (file_name) DO UPDATE equivalent
        (scripts/bronze_incremental.py:144-155): incoming rows win."""
        if not self._exists():
            self._overwrite(records)
            return
        current = self.read()
        keep = current.join(records.select(self.key), self.key, "left_anti")
        self._overwrite(keep.unionByName(records))

    def update_where(self, condition, assignments: dict) -> None:
        """In-place UPDATE equivalent (scripts/normalize_tech_log.py:4-11):
        read → conditional withColumn → overwrite."""
        df = self.read()
        for col_name, value in assignments.items():
            df = df.withColumn(
                col_name, F.when(condition, value).otherwise(F.col(col_name))
            )
        self._overwrite(df)

    def processed_ok(self) -> set[tuple[str, str]]:
        """(file_name, fingerprint) pairs already OK/SKIP — the skip gate
        (scripts/bronze_incremental.py:125-133)."""
        if not self._exists():
            return set()
        rows = (
            self.read()
            .filter(F.col("status").isin("OK", "SKIP"))
            .select("file_name", "fingerprint")
            .collect()
        )
        return {(r.file_name, r.fingerprint) for r in rows}
