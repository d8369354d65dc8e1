"""Scans, sinks and table formats. The re-exported readers and the
registry load on first use, so importing a Spark-free submodule
(``txlog_log``) does not import pyspark."""

import importlib

_LAZY = {
    "read_csv": "io",
    "read_parquet": "io",
    "read_testdata": "io",
    "write_parquet": "io",
    "TableRegistry": "registry",
}


def __getattr__(name: str):
    if name in _LAZY:
        module = importlib.import_module(f"{__name__}.{_LAZY[name]}")
        return getattr(module, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
