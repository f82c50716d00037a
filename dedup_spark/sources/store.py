"""StageStore: idempotent stage tables + lineage + per-partition metrics
(SURVEY.md §2 B4/B5/B38, §7.2).

Two backends behind one interface:

- ``IcebergStore``: ``df.writeTo(catalog.ns.table).createOrReplace()`` with
  the committed snapshot-id recorded in lineage — used when the session has
  the Iceberg extension (session.iceberg_available). This is the north-rule
  deployment path (BASELINE.json:14 "checkpoints ... to Iceberg").
- ``ParquetStore``: directory-per-table with an atomically renamed
  ``manifest.json`` AFTER a successful parquet commit — the sandbox fallback
  (no Iceberg jar on disk, SURVEY.md §7.0). A stage is "done" iff its
  manifest exists, its config fingerprint matches and it carries the table's
  schema: every read of a committed table passes that schema to Spark, so
  neither a fresh commit nor a resumed stage pays a schema-inference job.

Only the stage TABLES go through Spark. Manifests, the lineage log and the
approximation censuses (carried inside each stage's manifest) are small
files the driver writes under the store root, which must therefore be
driver-local. Per-partition metrics (stage, partition_id, rows) come from
the MATERIALIZED output — the parquet footers where the driver can read
them, else one Spark aggregate — never a recompute of the stage.
"""

from __future__ import annotations

import json
import os
import tempfile
import threading
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# Stage commits may run on a small thread pool (plans.pipeline runs leaf
# diagnostic stages concurrently with the main chain); the only shared
# mutable file is the lineage log, so serialize appends to it.
_LINEAGE_LOCK = threading.Lock()


@dataclass
class StageResult:
    name: str
    rows: int
    skipped: bool
    seconds: float = 0.0


class ParquetStore:
    def __init__(self, root: str, run_id: str, fingerprint: str):
        self.root = root
        self.run_id = run_id
        self.fingerprint = fingerprint
        os.makedirs(root, exist_ok=True)

    # --- paths ---
    def _table_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.manifest.json")

    def _load_manifest(self, name: str) -> dict | None:
        mf = self._manifest(name)
        if not os.path.exists(mf):
            return None
        with open(mf) as f:
            return json.load(f)

    # --- stage lifecycle ---
    def is_done(self, name: str) -> bool:
        m = self._load_manifest(name)
        return (
            m is not None
            and m.get("fingerprint") == self.fingerprint
            and m.get("run_id") == self.run_id
            and m.get("status") == "done"
            and "schema" in m
        )

    def write(self, name: str, df: DataFrame,
              census: tuple | None = None) -> StageResult:
        """Materialize a stage idempotently; returns rows written.

        ``census=(census_name, fn)`` stores ``fn(committed_df, rows)`` in the
        manifest as ``"census": {census_name: value}``. The manifest rename
        is the commit, so "done" implies census-present and the lineage log
        (which appends every manifest) is the one recall-budget view. The
        manifest also records the table's schema, which ``read`` passes to
        Spark in place of inferring it from the files."""
        out, extra = self._commit_table(name, df)
        rows = self._write_metrics(name, out)
        manifest = {
            "stage": name,
            "run_id": self.run_id,
            "fingerprint": self.fingerprint,
            "status": "done",
            "rows": rows,
            "schema": df.schema.jsonValue(),
            **extra,
        }
        if census is not None:
            cname, fn = census
            manifest["census"] = {cname: int(fn(out, rows))}
        # atomic rename so a crash mid-write can never look "done"
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".manifest.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest(name))
        self._append_lineage(manifest)
        return StageResult(name, rows, skipped=False)

    def _commit_table(self, name: str, df: DataFrame) -> tuple[DataFrame, dict]:
        """Write the stage table → (committed table, extra manifest keys)."""
        path = self._table_dir(name)
        df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.schema(df.schema).parquet(path), {}

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        """A committed table, read with the schema its manifest records (a
        file-source read comes back nullable, as an inferred one does)."""
        schema = StructType.fromJson(self._load_manifest(name)["schema"])
        return spark.read.schema(schema).parquet(self._table_dir(name))

    # --- lineage + metrics ---
    def _append_lineage(self, manifest: dict) -> None:
        path = os.path.join(self.root, "t_lineage.jsonl")
        with _LINEAGE_LOCK, open(path, "a") as f:
            f.write(json.dumps(manifest) + "\n")

    def lineage(self) -> list[dict]:
        path = os.path.join(self.root, "t_lineage.jsonl")
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def _write_metrics(self, name: str, out: DataFrame) -> int:
        """Per-partition metrics + total rows from the committed parquet
        FOOTERS — driver-side file metadata reads, zero Spark jobs. A
        metrics job per stage (~1-2s each) was a large share of the
        pipeline's fixed overhead; the footers carry the same per-file
        (= per-partition) row counts the job would compute.

        The footer fast path only works when the store root is a LOCAL
        directory; for object-store roots (--store-root s3://…) the glob
        would silently return nothing and record rows=0, so fall back to
        the Spark-side aggregate used by IcebergStore."""
        import glob as _glob

        import pyarrow as pa
        import pyarrow.parquet as pq

        tdir = self._table_dir(name)
        if not os.path.isdir(tdir):
            return self._spark_metrics(name, out)
        files = sorted(
            f
            for f in _glob.glob(os.path.join(tdir, "part-*"))
            if not f.endswith(".crc")
        )
        rows = [pq.read_metadata(f).num_rows for f in files]
        tbl = pa.table(
            {
                "partition_id": pa.array(range(len(rows)), pa.int32()),
                "rows_out": pa.array(rows, pa.int64()),
                "stage": pa.array([name] * len(rows)),
                "run_id": pa.array([self.run_id] * len(rows)),
            }
        )
        mdir = os.path.join(self.root, "t_metrics")
        os.makedirs(mdir, exist_ok=True)
        pq.write_table(tbl, os.path.join(mdir, f"{name}-{self.run_id}.parquet"))
        return int(sum(rows))

    def _spark_metrics(self, name: str, out: DataFrame) -> int:
        """One Spark aggregate over the committed table — works on any
        filesystem (the fallback for non-local roots and Iceberg). Like the
        footer path it overwrites one entry per (stage, run_id), so a
        recommitted stage does not count its rows twice."""
        m = (
            out.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("rows_out"))
            .withColumn("stage", F.lit(name))
            .withColumn("run_id", F.lit(self.run_id))
        ).cache()
        m.write.mode("overwrite").parquet(
            os.path.join(self.root, "t_metrics", f"{name}-{self.run_id}")
        )
        total = m.agg(F.sum("rows_out")).collect()[0][0] or 0
        m.unpersist()
        return int(total)

    def metrics(self, spark: SparkSession) -> DataFrame:
        # footer files and Spark-written directories side by side
        return spark.read.option("recursiveFileLookup", "true").parquet(
            os.path.join(self.root, "t_metrics")
        )


class IcebergStore(ParquetStore):
    """Iceberg-backed variant: stage tables become real Iceberg tables.

    Inherits write() — manifest (census included) and lineage; only the
    table commit (``writeTo().createOrReplace()``, so every stage commit is
    an Iceberg snapshot: atomic, time-travelable) and read differ, and the
    manifest also names the table. Only usable when the session has the
    Iceberg runtime (not this sandbox — SURVEY.md §7.0)."""

    def __init__(self, catalog_ns: str, root: str, run_id: str, fingerprint: str):
        super().__init__(root, run_id, fingerprint)
        self.catalog_ns = catalog_ns

    def _commit_table(self, name: str, df: DataFrame) -> tuple[DataFrame, dict]:
        tbl = f"{self.catalog_ns}.{name}"
        df.writeTo(tbl).createOrReplace()
        return df.sparkSession.read.table(tbl), {"table": tbl}

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.table(f"{self.catalog_ns}.{name}")

    def _write_metrics(self, name: str, out: DataFrame) -> int:
        """Iceberg tables have no local part-files; compute the partition
        metrics with one Spark aggregate over the committed snapshot."""
        return self._spark_metrics(name, out)


def make_store(
    spark: SparkSession, root: str, run_id: str | None, fingerprint: str
) -> ParquetStore:
    from dedup_spark.session import iceberg_available

    run_id = run_id or uuid.uuid4().hex[:12]
    if iceberg_available(spark):
        return IcebergStore("dedup", root, run_id, fingerprint)
    return ParquetStore(root, run_id, fingerprint)
