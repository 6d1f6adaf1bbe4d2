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
  manifest exists and its config fingerprint matches.

Both share one commit sequence (data → metrics → census → manifest →
lineage) and record lineage rows (stage, run_id, fingerprint, status, rows)
and per-partition metrics (stage, partition_id, rows) — read from the
committed parquet footers (Iceberg: one aggregate over the committed
snapshot), never a recompute of the stage. The store root is a LOCAL
directory: manifests, lineage and censuses are plain files under it.
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
        # manifests, lineage and censuses are plain local files; a URI root
        # would split them into a CWD-relative "s3:/…" tree while Spark
        # writes the data to the real URI, so a resume elsewhere finds none
        if "://" in root:
            raise ValueError(
                f"store root must be a local directory, not a URI: {root!r}"
            )
        self.root = root
        self.run_id = run_id
        self.fingerprint = fingerprint
        os.makedirs(root, exist_ok=True)

    # --- paths ---
    def _table_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.manifest.json")

    # --- stage lifecycle ---
    def is_done(self, name: str) -> bool:
        mf = self._manifest(name)
        if not os.path.exists(mf):
            return False
        with open(mf) as f:
            m = json.load(f)
        return (
            m.get("fingerprint") == self.fingerprint
            and m.get("run_id") == self.run_id
            and m.get("status") == "done"
        )

    def write(self, name: str, df: DataFrame,
              census: tuple | None = None) -> StageResult:
        """Materialize a stage idempotently; returns rows written.

        ``census=(census_name, fn)`` records ``fn(committed_df, rows)`` into
        t_metrics BEFORE the manifest rename (ADVICE r4): "done" therefore
        implies census-present, so a driver crash between the data commit and
        the census can never leave a resumable stage whose approximation
        accounting is permanently missing."""
        extra = self._write_data(name, df)
        out = self.read(df.sparkSession, name)
        rows = self._write_metrics(name, out)
        if census is not None:
            cname, fn = census
            self.record_census(cname, fn(out, rows))
        manifest = {
            "stage": name,
            "run_id": self.run_id,
            "fingerprint": self.fingerprint,
            "status": "done",
            "rows": rows,
            **extra,
        }
        # atomic rename so a crash mid-write can never look "done"
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".manifest.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest(name))
        self._append_lineage(manifest)
        return StageResult(name, rows, skipped=False)

    def _write_data(self, name: str, df: DataFrame) -> dict:
        """Commit the stage's rows; returns extra manifest fields."""
        df.write.mode("overwrite").parquet(self._table_dir(name))
        return {}

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.parquet(self._table_dir(name))

    # --- lineage + metrics ---
    def _append_lineage(self, manifest: dict) -> None:
        path = os.path.join(self.root, "t_lineage.jsonl")
        with _LINEAGE_LOCK, open(path, "a") as f:
            f.write(json.dumps(manifest) + "\n")

    def record_census(self, name: str, value: int) -> None:
        """One approximation-census row per run into t_metrics (VERDICT r3
        #5): salting loss, verify slack-gate skips, containment skipped
        groups. Logged censuses vanish with the driver; a metrics row
        survives resume, so the recall accounting is durable. Schema matches
        the per-partition metrics rows (partition_id -1 marks a run-level
        census); the fixed per-(census, run_id) file name makes a rewrite
        idempotent."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        stage = f"census_{name}"
        mdir = os.path.join(self.root, "t_metrics")
        os.makedirs(mdir, exist_ok=True)
        tbl = pa.table(
            {
                "partition_id": pa.array([-1], pa.int32()),
                "rows_out": pa.array([int(value)], pa.int64()),
                "stage": pa.array([stage]),
                "run_id": pa.array([self.run_id]),
            }
        )
        pq.write_table(tbl, os.path.join(mdir, f"{stage}-{self.run_id}.parquet"))

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
        (= per-partition) row counts the job would compute."""
        import glob as _glob

        import pyarrow as pa
        import pyarrow.parquet as pq

        files = sorted(
            f
            for f in _glob.glob(os.path.join(self._table_dir(name), "part-*"))
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
        """One Spark aggregate over the committed table (Iceberg tables
        have no local part-files to read footers from)."""
        m = (
            out.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("rows_out"))
            .withColumn("stage", F.lit(name))
            .withColumn("run_id", F.lit(self.run_id))
        ).cache()
        m.write.mode("append").parquet(os.path.join(self.root, "t_metrics"))
        total = m.agg(F.sum("rows_out")).collect()[0][0] or 0
        m.unpersist()
        return int(total)

    def metrics(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.root, "t_metrics"))


class IcebergStore(ParquetStore):
    """Iceberg-backed variant: stage tables become real Iceberg tables.

    Inherits the commit sequence (metrics → census → manifest → lineage);
    only the data write/read switch to ``writeTo().createOrReplace()`` so
    every stage commit is an Iceberg snapshot (atomic, time-travelable).
    Only usable when the session has the Iceberg runtime (not this sandbox
    — SURVEY.md §7.0)."""

    def __init__(self, catalog_ns: str, root: str, run_id: str, fingerprint: str):
        super().__init__(root, run_id, fingerprint)
        self.catalog_ns = catalog_ns

    def _write_data(self, name: str, df: DataFrame) -> dict:
        tbl = f"{self.catalog_ns}.{name}"
        df.writeTo(tbl).createOrReplace()
        return {"table": tbl}

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.table(f"{self.catalog_ns}.{name}")

    def _write_metrics(self, name: str, out: DataFrame) -> int:
        return self._spark_metrics(name, out)


def make_store(
    spark: SparkSession, root: str, run_id: str | None, fingerprint: str
) -> ParquetStore:
    from dedup_spark.session import iceberg_available

    run_id = run_id or uuid.uuid4().hex[:12]
    if iceberg_available(spark):
        return IcebergStore("dedup", root, run_id, fingerprint)
    return ParquetStore(root, run_id, fingerprint)
