"""Python-worker hygiene shared by the engine's worker-side functions.

A reused PySpark worker runs ``pyspark/worker_util.py:setup_spark_files`` at
the start of every task, and that calls ``importlib.invalidate_caches()``.
Workers import pyspark (and py4j, and a ``--py-files`` zip) through
``zipimport``. Since CPython 3.10, ``zipimporter.invalidate_caches()``
re-reads its archive's central directory, and ``sys.path_importer_cache``
holds one ``zipimporter`` per zip path entry and per package directory
inside a zip. So every task re-parsed pyspark.zip about 16 times before the
UDF ran: cProfile of one reused-worker task on a 4-vCPU host showed 16
``zipimport._read_directory`` calls taking 0.435 s of its 0.500 s, and
~0.12 s of worker CPU per task unprofiled. With the entries purged inside
the UDF that fell to ~0.02 s, and a one-task ``mapInPandas`` job went from
0.16 s to 0.11 s.
"""

from __future__ import annotations

import sys
import zipimport


def forget_zip_finders() -> None:
    """Drop every ``zipimporter`` from ``sys.path_importer_cache`` so that
    the next task's ``importlib.invalidate_caches()`` finds none to refresh.

    Safe: ``zipimport._zip_directory_cache`` keeps each archive's parsed
    index, so a later import through that path builds a fresh finder from
    the cached index without reading the zip again. Call it first in every
    function that runs inside a Python worker."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)
