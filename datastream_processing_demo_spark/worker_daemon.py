"""PySpark's worker daemon with the pipeline workers' imports done once.

`session.get_session` sets `spark.python.daemon.module` to this module.
Importing it loads what every `pyspark.worker` of the pipeline imports
anyway and then freezes those objects out of the garbage collector;
running it serves `pyspark.daemon.manager()`. The workers it forks share
those pages copy-on-write, and the `gc.collect()` the daemon runs after
each task of a reused worker skips them (measured in session.py).
"""

import gc
import http.client  # noqa: F401
import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow.compute  # noqa: F401
import pyarrow.json  # noqa: F401
import pyarrow.parquet  # noqa: F401
import pyspark.sql.datasource  # noqa: F401
import pyspark.sql.pandas.serializers  # noqa: F401
from pyspark import daemon

from datastream_processing_demo_spark.sources import plog  # noqa: F401
from datastream_processing_demo_spark.streaming import sinks  # noqa: F401

gc.collect()
gc.freeze()

if __name__ == "__main__":
    daemon.manager()
