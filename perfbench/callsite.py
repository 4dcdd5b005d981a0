"""Run a PySpark script with Python call sites on every job.

PySpark labels a job with the Python line that launched it only for
some actions (``collect`` and friends); ``DataFrame.count``,
``localCheckpoint`` and the writers run without one, so their jobs show
up as ``count at NativeMethodAccessorImpl.java:0``. For the traced run
this launcher wraps those entry points to set the caller's
``file:line`` as the job call site, then runs the script unmodified::

    python3 perfbench/callsite.py scripts/run_curation.py --warc ...
"""

from __future__ import annotations

import functools
import os
import runpy
import sys


def _caller(skip: str) -> str:
    f = sys._getframe(2)
    while f is not None and f.f_code.co_filename.startswith(skip):
        f = f.f_back
    if f is None:
        return "unknown:0"
    return f"{f.f_code.co_filename}:{f.f_lineno}"


def _wrap(cls, name: str, pyspark_dir: str) -> None:
    fn = getattr(cls, name)

    @functools.wraps(fn)
    def wrapped(self, *args, **kwargs):
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return fn(self, *args, **kwargs)
        sc._jsc.setCallSite(f"{name} at {_caller(pyspark_dir)}")
        try:
            return fn(self, *args, **kwargs)
        finally:
            sc._jsc.setCallSite(None)

    setattr(cls, name, wrapped)


def install() -> None:
    import pyspark
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    pyspark_dir = os.path.dirname(pyspark.__file__)
    for name in ("count", "localCheckpoint", "checkpoint"):
        _wrap(DataFrame, name, pyspark_dir)
    for name in ("save", "parquet", "json", "csv", "text", "orc",
                 "saveAsTable", "insertInto"):
        _wrap(DataFrameWriter, name, pyspark_dir)


def main() -> None:
    script = sys.argv[1]
    sys.argv = sys.argv[1:]
    install()
    runpy.run_path(script, run_name="__main__")


if __name__ == "__main__":
    main()
