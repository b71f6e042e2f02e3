"""Python worker daemon of engine sessions (`spark.python.daemon.module`).

At the start of every task PySpark's worker calls
`importlib.invalidate_caches()`, and there every `zipimporter` re-reads
its archive's central directory in pure Python: pyspark.zip once per
package imported from it, the spark-core jar twice, together 0.1-0.2 s
of each task on a reused worker. Under this daemon an importer re-reads
only when its archive's (mtime, size) stamp differs from the one of its
last read. The daemon patches before it forks, so every worker has the
rule from its first task on.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    """Re-read the archive's directory only when the archive changed."""
    try:
        st = os.stat(self.archive)
    except OSError:
        return _reread(self)
    stamp = (st.st_mtime_ns, st.st_size)
    if getattr(self, "_op_etl_stamp", None) != stamp:
        _reread(self)
        self._op_etl_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager

    manager()
