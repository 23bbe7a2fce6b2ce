"""Structured Streaming twins of the batch relations.

Every ``stream_*`` function builds its streaming DataFrame and ends in
``drain``: the one way a stream runs here, with one wait bound and one
failure policy.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame

DRAIN_TIMEOUT_S = 600


def drain(
    df: DataFrame, out_dir: str, checkpoint_dir: str, output_mode: str = "append"
) -> DataFrame:
    """Run the streaming ``df`` with Trigger.AvailableNow over all input
    present at start, and return what it emitted.

    Append mode sinks exactly-once to parquet at ``out_dir`` (the file
    sink's metadata log lists only committed files).  Complete mode, which
    file sinks reject, sinks to a memory table with a per-call unique name.
    A drain that outlasts DRAIN_TIMEOUT_S is stopped and raises
    TimeoutError, so a half-drained sink is never read and no query keeps
    running after its caller removes the directories."""
    w = (
        df.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    if output_mode == "complete":
        table = f"drain_{uuid.uuid4().hex}"
        w = w.format("memory").queryName(table)
    else:
        w = w.format("parquet").option("path", out_dir)
    q = w.start()
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(f"stream drain exceeded {DRAIN_TIMEOUT_S}s")
    if output_mode == "complete":
        return df.sparkSession.table(table)
    return df.sparkSession.read.schema(df.schema).parquet(out_dir)
