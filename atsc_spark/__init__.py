"""atsc_spark — a PySpark-native time-series rollup, downsample and
retention engine with ATSC-style lossy frame compression.

Built from scratch against the behaviour of the reference compressor
(instaclustr/atsc, surveyed in SURVEY.md); the execution engine is
Spark DataFrames + Arrow-batched pandas UDFs throughout.
"""

__version__ = "0.1.0"

# Spark Python workers import this package when they unpickle an engine
# kernel; make their per-task importlib.invalidate_caches() cheap there.
from . import zipcache as _zipcache

_zipcache.install()
