"""Python worker daemon that imports the extraction stack once per application.

Spark forks every Python worker of an application from one daemon process,
the module named by ``spark.python.daemon.module`` (``config.get_spark``
names this one).  The stock ``pyspark.daemon`` forks from an interpreter
that has imported only pyspark, which costs twice:

* per worker: each forked worker imports pandas, pyarrow and the kernel
  again (about 0.4 CPU s each on a 4-core host);
* per task: ``pyspark.worker_util.setup_spark_files`` calls
  ``importlib.invalidate_caches()`` before every task, and on Python 3.11
  that makes every ``zipimporter`` in ``sys.path_importer_cache`` re-read
  the whole directory of its archive (``pyspark.zip`` has 1,328 entries;
  0.10-0.15 CPU s per task with the 14 importers a worker holds).

This daemon imports the stack before the first fork, so workers inherit
it, and removes the zipimporters from ``sys.path_importer_cache`` before
every task, so the invalidation has nothing to re-read.  An import that
has to search an archive again rebuilds its importer from zipimport's own
directory cache, without reading the archive.

It also freezes the preloaded objects out of the cyclic GC before the
first fork: ``pyspark.daemon`` runs ``gc.collect()`` after every task of a
reused worker, and each of those collections would otherwise rescan every
module the daemon imported.  Workers inherit the freeze and the raised
generation-0 threshold (extraction tasks allocate many short-lived
objects).

Spark runs it as ``python -m aser_spark.worker_daemon``.
"""

from __future__ import annotations

import gc
import importlib
import sys
import zipimport

# what a worker would otherwise import on its first extraction task;
# pyarrow imports pandas_compat lazily, on the first Arrow batch
PRELOAD = (
    "numpy",
    "pandas",
    "pyarrow",
    "pyarrow.pandas_compat",
    "pyspark.sql.pandas.serializers",
    "pyspark.sql.pandas.types",
    "pyspark.sql.pandas.utils",
    "aser_spark.nlp",
    "aser_spark.nlp.syntax",
    "aser_spark.kernel",
    "aser_spark.kernel.discourse",
    "aser_spark.kernel.discourse_models",
    "aser_spark.pipeline.extract",
)


def _drop_archive_importers() -> None:
    """Remove every zipimporter from ``sys.path_importer_cache``."""
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]


def main() -> None:
    from pyspark import daemon

    # a module that fails to import stops the daemon, and Spark reports
    # the daemon's traceback from every Python UDF
    for name in PRELOAD:
        importlib.import_module(name)
    gc.collect()
    gc.freeze()
    gc.set_threshold(50_000, 25, 50)
    run_task = daemon.worker_main

    def worker_main(infile, outfile):
        # a top-level import during the previous task puts the archive
        # importers back
        _drop_archive_importers()
        return run_task(infile, outfile)

    daemon.worker_main = worker_main
    daemon.manager()


if __name__ == "__main__":
    main()
