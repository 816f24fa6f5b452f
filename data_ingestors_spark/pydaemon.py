"""Python-worker daemon with heavy libraries preloaded (guide §4.5).

``spark.python.worker.reuse=false`` (session.py, r12-opt) kills
cross-stage worker heap bloat by forking a FRESH worker per task — but
each fresh worker then re-pays the numpy/pandas/pyarrow import chain
(~0.4-0.8 s of CPU per fork, times up to ``local[N]`` concurrent
workers per python stage). Importing those modules HERE, in the daemon
process every worker forks from, moves that cost to one-time daemon
startup: forked children inherit the fully-initialised modules through
copy-on-write memory, so ``import numpy`` inside the worker (or inside
pyspark's Arrow serializers) becomes a sys.modules lookup.

This changes process setup only — no computation, serialization format
or result is affected. Libraries are imported best-effort so a
minimal environment without pandas still works (workers then import
lazily exactly as before). Fork-safety: Arrow memory-pool background
threads initialise lazily on first use (post-fork, in the worker), and
the daemon pins ``OPENBLAS_NUM_THREADS``/``OMP_NUM_THREADS`` to 1
BEFORE importing numpy (ADVICE r12 low #4: common OpenBLAS builds
spawn their thread pool at import time, not lazily — with the pin the
daemon truly carries no live threads into fork instead of relying on
OpenBLAS's atfork handlers). OpenBLAS sizes its pool when numpy is
imported, here in the daemon, so raising the env post-fork does
nothing: a worker that wants multi-threaded BLAS must use
``threadpoolctl``, or run with ``SPARK_GRAFT_PY_DAEMON_PRELOAD=0``
(a value already in the environment at launch is kept, see below).
Spark's one-core-per-task model means the single-threaded default is
also the right performance posture.

Activated via ``spark.python.daemon.module`` in
:func:`data_ingestors_spark.session.get_spark`; the repo root is put
on the workers' PYTHONPATH there so this module resolves in the
spawned daemon interpreter.
"""

from __future__ import annotations

import importlib
import os

# Pin BLAS thread pools to one thread BEFORE numpy can import OpenBLAS:
# no daemon-side threads may exist at fork time (see module docstring).
# setdefault so an operator that explicitly sized its BLAS pool wins.
for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

for _m in ("numpy", "pandas", "pyarrow"):
    try:  # pragma: no cover - exercised in spawned daemons, not pytest
        importlib.import_module(_m)
    except Exception:
        pass

if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()
