"""Incremental reconciliation — the batch snapshot-diff under foreachBatch.

The reference achieves incrementality by re-running the whole snapshot
reconciliation each run (cnics_to_fhir.py:249-928). Because the engine's
reconciliation is expressed as ``current × existing → action plan``
(operators/merge.py), the SAME code runs in Structured Streaming: each
micro-batch of changed current-state rows is diffed against a snapshot
provider and handed to any sink callback (the HTTP writer in production,
a collector in tests).

State notes for scale: the diff itself is stateless per batch (the snapshot
provider is the state); watermarking/dedup of the change stream happens
upstream with ``withWatermark`` + ``dropDuplicates`` on the business key.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from cnics_to_fhir_spark.operators.merge import merge_plan


def reconcile_stream(
    current_stream: DataFrame,
    snapshot_provider: Callable[[], DataFrame],
    sink: Callable[[DataFrame, int], None],
    key: str = "key",
    checkpoint_dir: str | None = None,
    payload_cols: list[str] | None = None,
    full_state: bool = True,
):
    """Wire a streaming DataFrame of current-state rows into per-batch
    MERGE plans. Returns the StreamingQuery (caller stops it).

    ``snapshot_provider`` is called per batch so it can read the writer's
    own previous output (the read-your-writes requirement of SURVEY §7.4).

    ``full_state`` declares what a micro-batch MEANS, which decides
    whether absence implies deletion:

    - True (the reference's semantics — each run re-extracts the whole
      current state, cnics_to_fhir.py:249-928): a snapshot key missing
      from the batch was removed upstream → emit delete.
    - False (changed-rows / CDC batches — e.g. downstream of
      dedup-on-ingest or any incremental source): a key absent from the
      batch is merely UNCHANGED; deriving deletes from absence would
      tear down the whole store one micro-batch at a time. Deletes must
      come from explicit tombstones or a periodic full-state pass.
    """

    def for_each_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        plan = merge_plan(
            batch_df, snapshot_provider(), keys=[key], payload_cols=payload_cols
        )
        if not full_state:
            plan = plan.filter(plan["action"] != "delete")
        sink(plan, epoch_id)

    writer = current_stream.writeStream.foreachBatch(for_each_batch).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
