"""Python worker daemon of build_session's sessions
(spark.python.daemon.module). Spark forks every Python worker from this
process, so the modules imported here are in each worker's sys.modules
from its first task on: pandas (pyspark's Arrow worker path imports it)
and the compress and rollup kernels would otherwise be imported again
after every fork."""

import pandas  # noqa: F401
from pyspark import daemon

import modelardb_dynamic_spark.operators.compress  # noqa: F401
import modelardb_dynamic_spark.operators.rollup  # noqa: F401

if __name__ == "__main__":
    daemon.manager()
