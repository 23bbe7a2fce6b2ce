"""Structured Streaming twins of the batch relations.

Every ``stream_*`` function builds its streaming DataFrame and ends in
``drain``: the one way a stream runs here, with one wait bound and one
failure policy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

DRAIN_TIMEOUT_S = 600


def drain(df: DataFrame, out_dir: str, checkpoint_dir: str) -> DataFrame:
    """Run the streaming ``df`` with Trigger.AvailableNow over all input
    present at start, and return what it emitted.

    The append-mode output sinks exactly-once to parquet at ``out_dir``
    (the file sink's metadata log lists only committed files).  A drain
    that outlasts DRAIN_TIMEOUT_S is stopped and raises TimeoutError, so a
    half-drained sink is never read and no query keeps running after its
    caller removes the directories."""
    q = (
        df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(f"stream drain exceeded {DRAIN_TIMEOUT_S}s")
    return df.sparkSession.read.schema(df.schema).parquet(out_dir)
