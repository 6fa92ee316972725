from airbyte_custom_spark.streaming.pipeline import CdcIngestJob, backfill  # noqa: F401
from airbyte_custom_spark.streaming.liveness import (  # noqa: F401
    LivenessWatchdog,
    StalledStreamError,
)
from airbyte_custom_spark.streaming.metrics import BatchMetricsLog  # noqa: F401
