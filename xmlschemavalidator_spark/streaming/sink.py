"""Streaming violations sink: foreachBatch + epoch-keyed commit log.

The streaming counterpart of manifest.resumable_validate, built from the
same pieces: each micro-batch writes its violation rows under
``epoch=<batchId>`` through ``tables.write_partitioned`` (dynamic partition
overwrite → a replayed batch after failure overwrites exactly its own
files), reads them back with ``manifest.violation_counts`` (one aggregate
over the explicit schema, so an all-clean batch commits zeros) and then
commits ``_commits/epoch=<batchId>.json`` with ``manifest.commit_once`` —
write-once, so Structured Streaming's at-least-once foreachBatch contract
becomes effectively-exactly-once for the sink.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xmlschemavalidator_spark.compiler import RuleSet
from xmlschemavalidator_spark.engine import validate
from xmlschemavalidator_spark.manifest import commit_once, committed_units, violation_counts
from xmlschemavalidator_spark.tables import write_partitioned


class StreamingViolationsSink:
    def __init__(self, ruleset: RuleSet, key: str, out_dir: str):
        self.ruleset = ruleset
        self.key = key
        self.out_dir = out_dir
        self.commits_dir = os.path.join(out_dir, "_commits")
        os.makedirs(self.commits_dir, exist_ok=True)

    def committed_epochs(self) -> set[int]:
        return {int(e) for e in committed_units(self.commits_dir, "epoch")}

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body. Replays of an already-committed epoch no-op."""
        if batch_id in self.committed_epochs():
            return
        violations = validate(batch_df, self.ruleset, key=self.key).violations.withColumn(
            "epoch", F.lit(batch_id)
        )
        viol_path = os.path.join(self.out_dir, "violations")
        write_partitioned(violations, viol_path, ["epoch"])
        # metrics from the WRITTEN epoch files (tiny) — the violations plan
        # is the one that ran, so don't re-scan the batch for counts
        counts = violation_counts(
            violations, viol_path, "epoch", [str(batch_id)], self.key, self.ruleset.rule_ids()
        )[str(batch_id)]
        commit_once(
            self.commits_dir,
            "epoch",
            batch_id,
            {"batch_id": batch_id, "committed_at": time.time(), **counts},
        )


def write_violations_stream(
    stream_df: DataFrame,
    ruleset: RuleSet,
    key: str,
    out_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """Start the streaming validation sink; returns the StreamingQuery."""
    sink = StreamingViolationsSink(ruleset, key, out_dir)
    writer = stream_df.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
