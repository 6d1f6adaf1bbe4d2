"""The benchmark's traced mode (perfbench/trace.py) patches engine names by
attribute at install time; a deleted or renamed name would only surface as
an AttributeError inside a traced benchmark run. Pin them here instead."""

import importlib

from perfbench.trace import ENTRY_POINTS

from dedup_spark.sources.store import ParquetStore


def test_trace_entry_points_resolve():
    missing = [
        f"{mod}.{fn}"
        for mod, funcs in ENTRY_POINTS.items()
        for fn in funcs
        if not callable(getattr(importlib.import_module(mod), fn, None))
    ]
    assert not missing, missing


def test_traced_store_methods_resolve():
    for name in ("write", "_table_dir"):
        assert callable(getattr(ParquetStore, name, None)), name
