"""PySpark worker daemon with the heavy scientific stack preloaded.

``pyspark.daemon`` forks one worker process per task-slot request;
modules imported BEFORE the fork are inherited copy-on-write, so
importing numpy/pandas/pyarrow once in the daemon removes their ~1 s
import from every worker's first task. On a cold ``local[N]`` session
the first Python stage otherwise pays N concurrent cold imports (an
import storm that serializes on the page cache and the GIL-free but
CPU-bound module init), which is a large share of the first index
build's warmup tax in a fresh process. At production executor sizes the
same preload runs once per executor instead of once per core.

Selected via ``spark.python.daemon.module`` (session.get_spark sets it;
``KBSE_DAEMON_PRELOAD=0`` opts out). The module must be importable by
the worker Python — get_spark prepends the repo root to PYTHONPATH
before the JVM gateway launches so the forked interpreter finds it.

Forking after these imports relies on each library being fork-safe:
pyarrow re-creates its CPU/IO thread pools in a forked child (since
4.0) and numpy's bundled OpenBLAS stops its threads at fork. The
minimums are the ones the pandas/Arrow paths of pyspark 4.1 already
require, pyarrow >= 15.0 and numpy >= 1.22 (run with pyarrow 16.1 and
numpy 1.26). With an older or custom-built BLAS/Arrow, opt out with
``KBSE_DAEMON_PRELOAD=0``.
"""

if __name__ == "__main__":
    try:  # preload is an optimization, never a correctness dependency
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401
    except ImportError:
        pass
    import pyspark.daemon

    pyspark.daemon.manager()
