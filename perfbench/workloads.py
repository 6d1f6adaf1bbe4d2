"""The benchmark's workloads and their cached, identity-checked inputs.

Every workload runs over the same generated images table (``gen_images`` at
(n, seed)), written to parquet before any timing; the engine only ever
receives that table.

- ``images_full``: the flagship path. ``run_pipeline`` from scratch, timed
  until ``t_report`` can be read. Every layer works here.
- ``images_append``: the nightly append. Set-up builds a prior store over
  ``gen_images(n)``; the timed run passes its ``t_sigs`` as ``prior_sigs``
  over a snapshot ``gen_images(n + delta)``, which is ``gen_images(n)`` plus
  appended rows. Signatures decode only the new rows; every downstream layer
  still does its full work.
- ``captions_text``: ``text_dedup_clusters`` over ``(image_id, caption)`` of
  the non-empty captions, checkpointed and written to a ``noop`` sink. No
  payload decode, no pHash, no containment, no store.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from dedup_spark.sources.gen_images import gen_images

from perfbench.truth import IMAGE_FAMILIES, TEXT_FAMILIES

OUTPUT_COLS = ["image_id", "cluster_id", "cluster_size", "is_winner"]
IMAGE_COLS = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]


def table_identity(path: str) -> dict:
    """Row count and a content hash of a parquet table, independent of how
    its rows are split into files (read in this process: no Spark job)."""
    t = pq.read_table(path, columns=IMAGE_COLS).sort_by("image_id").combine_chunks()
    h = hashlib.sha256()
    for col in t.columns:
        for buf in col.chunks[0].buffers() if col.num_chunks else ():
            if buf is not None:
                h.update(buf)
    return {"rows": t.num_rows, "sha256": h.hexdigest()}


def ensure_table(spark, work: Path, n: int, seed: int) -> tuple[str, dict, float]:
    """Path of ``gen_images(n, seed)`` as parquet, generated once per (n, seed).

    A cached table is re-identified by row count and content hash before it
    is used, so a stale or damaged cache is regenerated instead of feeding a
    run. Returns (path, identity, seconds spent generating)."""
    path = work / "inputs" / f"images-n{n}-s{seed}"
    meta = path.with_suffix(".json")
    if meta.exists() and path.exists():
        want = json.loads(meta.read_text())
        if table_identity(str(path)) == want:
            return str(path), want, 0.0
    shutil.rmtree(path, ignore_errors=True)
    t0 = time.perf_counter()
    parts = spark.sparkContext.defaultParallelism
    gen_images(spark, n, seed, num_partitions=parts).write.mode("overwrite").parquet(
        str(path)
    )
    gen_s = time.perf_counter() - t0
    ident = table_identity(str(path))
    if ident["rows"] != n:
        raise RuntimeError(f"generated {ident['rows']} rows, expected {n}")
    meta.write_text(json.dumps(ident))
    return str(path), ident, gen_s


def dir_stats(path) -> tuple[int, int]:
    """(bytes, data files) of a committed table directory; checksum and
    marker files (``.*``, ``_*``) are not data."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return size, files


def _store_bytes(root: Path) -> int:
    """Bytes of the stage tables committed under a store root."""
    return sum(
        dir_stats(d)[0] for d in root.iterdir()
        if d.is_dir() and d.name != "t_metrics"
    )


class ImagesFull:
    name = "images_full"
    families = IMAGE_FAMILIES
    warmups = 1

    def __init__(self, spark, work: Path, n: int, seed: int):
        self.spark, self.work, self.n, self.seed = spark, work, n, seed

    def inputs(self) -> float:
        """Generate (or re-identify) the inputs; returns generation seconds."""
        self.input, ident, gen_s = ensure_table(self.spark, self.work, self.n, self.seed)
        self.token = f"images:{self.n}:{self.seed}:{ident['sha256']}"
        self.truth_ids = self._ids(self.input)
        return gen_s

    def _ids(self, path: str) -> list[str]:
        return pq.read_table(path, columns=["image_id"]).column(0).to_pylist()

    def prepare(self) -> float:
        """Untimed set-up beyond the inputs; returns its seconds."""
        return 0.0

    def _pipeline_kwargs(self) -> dict:
        return {}

    def run(self, run_id: str, tag):
        from dedup_spark.plans.pipeline import run_pipeline

        root = self.work / "stores" / run_id
        run_pipeline(
            self.spark, self.spark.read.parquet(self.input), str(root),
            run_id=run_id, input_token=self.token, **self._pipeline_kwargs(),
        )
        with tag("report", "read_t_report"):
            self.spark.read.parquet(str(root / "t_report")).count()
        return root

    def output(self, root: Path) -> pd.DataFrame:
        return self.spark.read.parquet(str(root / "t_report")).toPandas()

    def store_mb(self, root: Path) -> float:
        return _store_bytes(root) / float(1 << 20)

    def cleanup(self, root: Path) -> None:
        shutil.rmtree(root, ignore_errors=True)


class ImagesAppend(ImagesFull):
    name = "images_append"

    def inputs(self) -> float:
        # ~2% appended rows, whole blocks so the planted layout stays intact
        self.delta = max(100, (self.n // 50) // 100 * 100)
        self.prior_input, prior_ident, g0 = ensure_table(
            self.spark, self.work, self.n, self.seed
        )
        self.input, ident, g1 = ensure_table(
            self.spark, self.work, self.n + self.delta, self.seed
        )
        self.token = (
            f"append:{self.n + self.delta}:{self.seed}:{ident['sha256']}"
            f"|prior:{prior_ident['sha256']}"
        )
        self.truth_ids = self._ids(self.input)
        return g0 + g1

    def prepare(self) -> float:
        from dedup_spark.plans.pipeline import run_pipeline

        t0 = time.perf_counter()
        root = self.work / "stores" / "prior"
        shutil.rmtree(root, ignore_errors=True)
        run_pipeline(
            self.spark, self.spark.read.parquet(self.prior_input), str(root),
            run_id="prior", input_token=f"prior:{self.n}:{self.seed}",
        )
        self.prior_sigs = self.spark.read.parquet(str(root / "t_sigs"))
        return time.perf_counter() - t0

    def _pipeline_kwargs(self) -> dict:
        return {"prior_sigs": self.prior_sigs}


class CaptionsText(ImagesFull):
    name = "captions_text"
    families = TEXT_FAMILIES
    # its first job after a single warm-up is still ~10 % slower than the
    # next; a job is short, so a second warm-up is cheap
    warmups = 2

    def run(self, run_id: str, tag):
        from dedup_spark.operators.textdedup import text_dedup_clusters

        docs = (
            self.spark.read.parquet(self.input)
            .where(F.col("caption") != "")
            .select("image_id", "caption")
        )
        # the checkpoint keeps the timed job's own result: the sink and the
        # output check both read it instead of re-running the clusters
        out = text_dedup_clusters(docs, "image_id", "caption").localCheckpoint()
        out.write.format("noop").mode("overwrite").save()
        return out

    def output(self, out) -> pd.DataFrame:
        return out.select(*OUTPUT_COLS).toPandas()

    def store_mb(self, out) -> float:
        return 0.0

    def cleanup(self, out) -> None:
        pass


WORKLOADS = {w.name: w for w in (ImagesFull, ImagesAppend, CaptionsText)}
