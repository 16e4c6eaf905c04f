"""The one trigger choice behind every streaming query this package starts.

Bounded runs (``continuous=False``) use Trigger.AvailableNow: drain the
backlog and stop.  Continuous (live) runs fire on a fixed processing-time
cadence (``LIVE_PROCESSING_TIME`` for the live-topic sinks) instead of
Spark's ASAP trigger.  With no data, the ASAP loop re-polls its source
every 10 ms (``spark.sql.streaming.pollingDelay``).  For a file source, each poll lists
the directory and builds a fresh Hadoop Configuration.  For a Kafka source,
each poll is a latest-offsets request to the brokers.  The reference's
consumer blocks in a long-poll instead, so an idle topic costs it nothing.
At 250 ms an idle topic polls 4 times a second instead of about 100.  New
records become visible at most one interval later.  Under load nothing
changes, because Spark starts the next batch at once when a batch overruns
the interval.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

LIVE_PROCESSING_TIME = "250 milliseconds"

# Logs a WARN ("Current batch is falling behind") for every micro-batch that
# runs longer than the trigger interval.  A live topic's batches take longer
# than 250 ms whenever a file lands, so at WARN it would print one line per
# landed batch; the overrun is expected, and each query's
# ``lastProgress['durationMs']`` still reports it.
_FALLING_BEHIND_LOGGER = (
    "org.apache.spark.sql.execution.streaming.runtime.ProcessingTimeExecutor"
)


def _quiet_falling_behind(spark: SparkSession) -> None:
    """Raise the falling-behind logger to ERROR in ``spark``'s driver JVM,
    JVM-wide and until the JVM exits (it overrides a level set in the
    user's log4j2 config).  Only that one class's level changes; setting it
    again is a no-op."""
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        _FALLING_BEHIND_LOGGER, jvm.org.apache.logging.log4j.Level.ERROR
    )


def start_query(
    writer: DataStreamWriter,
    spark: SparkSession,
    continuous: bool,
    processing_time: str,
) -> StreamingQuery:
    """Start ``writer`` with the package's trigger: Trigger.AvailableNow
    when not ``continuous``, else one micro-batch per ``processing_time``
    (a Spark interval string such as ``'1 second'``).  A continuous start
    also quiets the falling-behind WARN JVM-wide (``_quiet_falling_behind``)."""
    if not continuous:
        return writer.trigger(availableNow=True).start()
    _quiet_falling_behind(spark)
    return writer.trigger(processingTime=processing_time).start()
