"""One seam for every Python kernel this package hands to Spark.

Each ``mapInPandas`` / ``mapInArrow`` / ``applyInPandas`` /
``applyInArrow`` / ``applyInPandasWithState`` function goes through
:func:`kernel`, which does two things. (The Arrow kernels are the wire
conversions in ``sources/wire.py``: decode, transcode, down-convert and
legacy ingest on ``mapInArrow``, which read and yield
``pyarrow.RecordBatch`` es, and encode on ``applyInArrow``, which takes
and returns one ``pyarrow.Table`` per group.)

**Ships the kernel's modules by value.** Executor Python workers cannot
import this package (it is on the driver's ``sys.path`` only), so a kernel
that calls a codec module (``kafka_records``, ``offsets_wire``,
``avro_codec``, ``media_codec``) names it in ``ship`` and cloudpickle
embeds the module's code in the task closure. The kernel itself must be
defined inside its operator function, so cloudpickle takes it by value too.

**Drops the worker's archive importers before the kernel runs.** pyspark's
``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``
at the start of every task. On Python 3.11 that makes every
``zipimport.zipimporter`` cached in ``sys.path_importer_cache`` re-read
its whole archive directory. A reused worker holds one such entry per path
it has imported from inside ``pyspark.zip``, the ``spark-core`` jar and
py4j: 16 entries and 0.11-0.22 s per task on a 4-vCPU host, paid before
any kernel starts. The wrapper deletes those entries inside the worker, so
the next task's ``invalidate_caches()`` finds nothing to re-read (0.08 ms;
``tools/worker_probe.py`` measures both). The drop runs when pyspark
calls the kernel; a first import later in the same task can add an entry
back (3 in a fresh worker's first task), and the next call drops it.

The drop is safe:

- a ``sys.path_importer_cache`` entry is only a cache: ``PathFinder``
  creates a finder again the next time an import walks that path;
- creating a ``zipimporter`` again is a dict lookup, because the archive's
  directory stays in ``zipimport._zip_directory_cache``;
- the archives are Spark's own install files and cannot change while a
  worker lives.

The saving is per reused worker process: with
``spark.python.worker.reuse=false`` every task runs in a fresh worker that
has never run a kernel, so the drop does nothing there. The wrapper keeps
the kernel's arity and annotations exactly as pyspark reads them
(``getfullargspec``, ``get_type_hints``), so each call site keeps its eval
type: an unannotated ``applyInArrow`` kernel stays the table form, the
one pyspark picks when the hints name no iterator; ``tests/test_kernels.py``
keeps every call site on this seam.
"""

from __future__ import annotations

import functools
import inspect
import sys
import zipimport
from types import ModuleType
from typing import Callable

from pyspark import cloudpickle


def drop_zip_importers() -> None:
    """Delete every ``zipimport.zipimporter`` entry from
    ``sys.path_importer_cache``."""
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
        del cache[path]


def kernel(fn: Callable, *ship: ModuleType) -> Callable:
    """``fn`` as a Spark Python kernel: the modules in ``ship`` pickle by
    value with it, and each call first drops the worker's archive
    importers (see the module docstring). The result has ``fn``'s
    signature and annotations."""
    for module in (sys.modules[__name__], *ship):
        cloudpickle.register_pickle_by_value(module)

    @functools.wraps(fn)
    def run(*args):
        drop_zip_importers()
        return fn(*args)

    # getfullargspec does not follow __wrapped__, but it reads __signature__
    run.__signature__ = inspect.signature(fn)
    return run
