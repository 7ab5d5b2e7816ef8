"""The preloading worker daemon hands its forked workers a frozen heap."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_daemon_freezes_preloaded_heap_before_forking():
    # run the module as the daemon does (as __main__), with pyspark's
    # manager replaced by a probe of the gc state it would fork from
    code = (
        "import gc, runpy, pyspark.daemon as d\n"
        "d.manager = lambda: print(gc.get_freeze_count())\n"
        "runpy.run_module('crawlspark.worker_daemon', run_name='__main__')\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True,
        check=True, timeout=120,
    )
    # the whole import chain (numpy, pandas, pyarrow, crawlspark) is frozen
    assert int(out.stdout.strip()) > 10_000
