"""PySpark worker daemon with the engine's heavyweight imports preloaded.

The stock daemon (``pyspark.daemon``) forks a fresh worker per task slot;
each worker then imports pyspark.worker and, on first Arrow/pandas UDF use,
numpy + pandas + pyarrow — ~1–2 s of pure import time per worker, paid by
the FIRST Python-UDF stage of a session across every core at once (the
"time to initialize Python workers" task metric; measured ~5 s summed on
this engine's first build stage).  Forked children inherit the parent's
loaded module cache, so importing those modules HERE — once, in the daemon
— makes every forked worker start warm (guide §4.5's init-once principle,
applied to the interpreter itself).

Enabled via ``spark.python.daemon.module=seismic_spark.daemon``
(session.get_spark sets it when this module is importable).  The imports
are best-effort: a worker environment without pandas still serves
non-pandas UDFs exactly like the stock daemon.
"""

try:  # pragma: no cover - trivial import preload
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyarrow.compute  # noqa: F401

    import pyspark.worker  # noqa: F401  (pulls the serializer stack too)
except Exception:  # pragma: no cover
    pass

from pyspark.daemon import manager

if __name__ == "__main__":
    manager()
