"""PySpark's Python worker daemon, started with the lazy zip invalidation.

:func:`config.get_spark` names this module in ``spark.python.daemon.module``
on local masters. Spark forks every Python worker from the daemon, so each
worker starts with ``zipimporter.invalidate_caches`` already patched —
including workers that only run PySpark's own RDD functions and never
import this package. Spark runs it the way it runs ``pyspark.daemon``:
``python -m candidategeneration_spark._daemon [worker module]``.
"""

from .config import install_lazy_zip_invalidation

if __name__ == "__main__":
    install_lazy_zip_invalidation()
    from pyspark import daemon
    daemon.manager()
