"""predictor_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of harveybc/predictor, rebuilt Spark-first.

Architecture (see SURVEY.md):
- All data operators are declarative DataFrame transformations so Catalyst
  handles pushdown, pruning, join strategy, and AQE handles skew/coalesce.
- Every operator is parameterized by (series_id, ts) so one series or 10^9
  series run the same code (reference is single-series pandas).
- pandas_udf / applyInPandas only where NumPy is the point (FFT, STL).
"""

__version__ = "0.1.0"

from predictor_spark.session import get_spark  # noqa: F401
from predictor_spark.shiplib import install_worker_zip_guard

install_worker_zip_guard()
