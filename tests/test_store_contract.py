"""StageStore contract coverage the sandbox can't get from a real Iceberg
runtime (VERDICT r1 #6 / ADVICE r1): drive IcebergStore.write/read/
_write_metrics against a stubbed writeTo/read.table, and pin that URI store
roots are rejected before anything is written."""

from __future__ import annotations

import pytest

from dedup_spark.sources.store import IcebergStore, ParquetStore


def test_iceberg_store_write_read_metrics(spark, tmp_path, monkeypatch):
    root = str(tmp_path)
    store = IcebergStore("dedup", root, "r1", "fp1")
    written: dict[str, str] = {}

    class FakeWriter:
        def __init__(self, df, tbl):
            self.df, self.tbl = df, tbl

        def createOrReplace(self):
            path = f"{root}/iceberg_{self.tbl.replace('.', '_')}"
            self.df.write.mode("overwrite").parquet(path)
            written[self.tbl] = path

    df = spark.range(17).selectExpr("cast(id as string) AS image_id")
    # patch the CONCRETE classes (pyspark 4 classic subclasses the public
    # pyspark.sql.DataFrame base, which defines its own writeTo)
    monkeypatch.setattr(
        type(df), "writeTo", lambda df, tbl: FakeWriter(df, tbl)
    )
    monkeypatch.setattr(
        type(spark.read),
        "table",
        lambda rd, tbl: spark.read.parquet(written[tbl]),
    )
    res = store.write("t_x", df)
    assert res.rows == 17 and not res.skipped
    assert written == {"dedup.t_x": f"{root}/iceberg_dedup_t_x"}
    assert store.is_done("t_x")
    assert store.read(spark, "t_x").count() == 17
    m = store.metrics(spark).toPandas()
    assert m.rows_out.sum() == 17
    assert set(m.stage) == {"t_x"}
    lin = store.lineage()
    assert lin and lin[-1]["stage"] == "t_x" and lin[-1]["rows"] == 17


def test_uri_store_root_rejected_before_any_write(tmp_path, monkeypatch):
    # manifests and lineage are local files: a URI root must fail up front,
    # not create a CWD-relative "s3:/…" tree beside the real data
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="local directory"):
        ParquetStore("s3://bucket/runs/r1", "r1", "fp1")
    with pytest.raises(ValueError, match="local directory"):
        IcebergStore("dedup", "file:///tmp/runs/r1", "r1", "fp1")
    assert list(tmp_path.iterdir()) == []
