"""Python worker daemon that imports the Arrow UDF stack before it forks.

``get_spark`` names this module as ``spark.python.daemon.module``.
Spark's own ``pyspark.daemon`` forks one worker per task slot, and each
worker then imports pandas, numpy, pyarrow and ``pyspark.sql`` on its
first pandas UDF: every worker holds a private copy. Imported here, in
the daemon, they sit in pages the workers share copy-on-write, and
``gc.freeze()`` moves them out of the collector's reach, so a child's
collection never writes to those pages. ``pyspark.daemon`` still reads
the worker module from ``sys.argv[1]`` when it is imported.
"""

import gc

import pandas  # noqa: F401
import pyarrow  # noqa: F401
import pyspark.sql.functions  # noqa: F401
import pyspark.sql.pandas.serializers  # noqa: F401
from pyspark import daemon

if __name__ == "__main__":
    gc.freeze()
    daemon.manager()
