"""timeseriesfuser_spark — a PySpark-native time-series fusion & analytics engine.

A from-scratch, Spark-first implementation of the capabilities of
klovanone/timeseriesfuser (reference: /root/reference, v0.5.2): chronological
multi-source merge (sorted diagonal union), forward fill (LOCF), interval
resampling with gap fill, batched sinks and row-level replay — plus
large-scale data-pipeline extensions (dedup, similarity search, text
analysis, multimodal column plumbing, as-of join, Structured Streaming).

Design stance (see SURVEY.md §7): everything is declared with the public
DataFrame API so Catalyst/AQE pick the physical plan; Python UDFs only where
built-ins cannot express the semantics (and then Arrow-batched).
"""

from timeseriesfuser_spark.config import SourceConfig, FuserConfig
from timeseriesfuser_spark.intervals import (
    interval_to_ms,
    next_boundary_ms,
    boundary_label_col,
)
from timeseriesfuser_spark.timeutils import coerce_to_epoch_ms, iso_utc
from timeseriesfuser_spark.operators.fuse import TimeSeriesFuser
from timeseriesfuser_spark.operators.fill import forward_fill
from timeseriesfuser_spark.operators.resample import resample_last_interval
from timeseriesfuser_spark.operators.asof import asof_join
from timeseriesfuser_spark.handlers import BatchEveryIntervalHandler
from timeseriesfuser_spark.replay import (
    BaseHandler,
    CollectHandler,
    StopFlag,
    replay,
    foreach_batch,
)
from timeseriesfuser_spark.sinks import write_batched
from timeseriesfuser_spark.ops.util import cache_scope
from timeseriesfuser_spark.sources.readers import TS_COL, SRC_ID_COL, SEQ_COL

__all__ = [
    "SourceConfig",
    "FuserConfig",
    "TimeSeriesFuser",
    "interval_to_ms",
    "next_boundary_ms",
    "boundary_label_col",
    "coerce_to_epoch_ms",
    "iso_utc",
    "forward_fill",
    "resample_last_interval",
    "asof_join",
    "BatchEveryIntervalHandler",
    "BaseHandler",
    "CollectHandler",
    "StopFlag",
    "replay",
    "foreach_batch",
    "write_batched",
    "cache_scope",
    "TS_COL",
    "SRC_ID_COL",
    "SEQ_COL",
]

__version__ = "0.2.0"
