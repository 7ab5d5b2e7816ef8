"""Custom pyspark worker daemon that preloads the engine's UDF import chain.

Spark forks one Python worker per task from the daemon process, and (as
measured on this box) does NOT reuse workers across *different* UDF
expressions — so every UDF-bearing stage pays the pandas/numpy/pyarrow +
crawlspark import (~2-4 s) in every fresh worker.  Importing everything
HERE, in the daemon, makes every forked worker inherit the warm modules
copy-on-write: worker startup drops from seconds to milliseconds.

Enable with ``spark.python.daemon.module=crawlspark.worker_daemon``
(session.py does this automatically; /root/repo must be on PYTHONPATH for
the executor python — session.py exports it).
"""

# heavy third-party deps first
import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401

# the engine modules whose functions run inside UDFs
try:  # pragma: no cover - defensive: daemon must never fail to start
    import crawlspark.bloom  # noqa: F401
    import crawlspark.extract  # noqa: F401
    import crawlspark.sched  # noqa: F401
    import crawlspark.textops  # noqa: F401
    import crawlspark.urlnorm  # noqa: F401
except Exception:
    pass

import gc

from pyspark.daemon import manager

if __name__ == "__main__":
    # Freeze the preloaded heap before the first fork: a worker's full
    # collections then skip it instead of walking (and un-sharing) it, so a
    # Python stage costs the same whichever worker runs it — an extraction
    # wave fills every core, and its slowest worker sets the stage's wall.
    gc.freeze()
    manager()
