"""Python worker daemon of the engine's sessions (``spark.python.daemon.module``,
set by ``session.get_spark``).

Spark forks every Python worker from one daemon, started at a session's
first Python task. Two costs made that start ~2.5 s on 4 cores:

* Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, which holds no
  bytecode, first on the daemon's path, so each start compiled pyspark again
  (~1.1 s). The daemon imports the interpreter's installed, byte-compiled
  pyspark instead when it is the same release.
* Every worker imported pandas and pyarrow for its first Arrow batch (~0.6 s
  per worker). The daemon imports them once, before it forks.
"""

import importlib.machinery
import sys
import zipfile
from pathlib import Path


def _prefer_installed_pyspark() -> None:
    archives = [p for p in sys.path if p.endswith("pyspark.zip")]
    rest = [p for p in sys.path if p not in archives]
    installed = importlib.machinery.PathFinder.find_spec("pyspark", rest)
    if not archives or installed is None or installed.origin is None:
        return
    with zipfile.ZipFile(archives[0]) as z:
        bundled_version = z.read("pyspark/version.py")
    if Path(installed.origin).with_name("version.py").read_bytes() == bundled_version:
        sys.path[:] = rest


if __name__ == "__main__":
    _prefer_installed_pyspark()
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    from pyspark import daemon

    daemon.manager()
