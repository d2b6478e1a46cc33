"""Streaming distribution-drift monitor: per-micro-batch t-digest sketches
compared against a persisted baseline snapshot.

Composes the batch primitives (checks/baseline.py sketch+compare) under the
same foreachBatch epoch-commit discipline as StreamingViolationsSink: each
micro-batch writes one report row per monitored column under
``epoch=<batchId>`` through ``tables.write_partitioned`` (dynamic partition
overwrite — replays rewrite exactly their own files) and then commits
``_commits/epoch=<batchId>.json`` with ``manifest.commit_once``
(write-once), so the at-least-once foreachBatch contract is effectively
exactly-once for the drift log. State is ZERO on the stream side — the
sketch is recomputed per batch (one narrow pass over the batch), and the
baseline lives on disk.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xmlschemavalidator_spark.checks.baseline import compute_digests, load_baseline
from xmlschemavalidator_spark.checks.tdigest import Digest, quantile_gap_drift
from xmlschemavalidator_spark.manifest import commit_once, committed_units
from xmlschemavalidator_spark.tables import write_partitioned

import numpy as np

_REPORT_SCHEMA = "column string, drift double, current_total long, baseline_total long"


class StreamingDriftMonitor:
    """foreachBatch body: sketch → compare vs baseline → epoch-keyed report.

    ``alert_threshold`` marks rows (``alert`` boolean) rather than raising:
    a monitoring stream must keep consuming; the alert surface is the
    report log itself.
    """

    def __init__(
        self,
        columns: list[str],
        baseline_path: str,
        snapshot: str,
        out_dir: str,
        delta: int = 200,
        qs: list[float] | None = None,
        alert_threshold: float = 0.2,
    ):
        self.columns = columns
        self.baseline_path = baseline_path
        self.snapshot = snapshot
        self.out_dir = out_dir
        self.delta = delta
        self.qs = qs
        self.alert_threshold = alert_threshold
        self.commits_dir = os.path.join(out_dir, "_commits")
        os.makedirs(self.commits_dir, exist_ok=True)
        self._baseline: dict[str, Digest] | None = None

    def committed_epochs(self) -> set[int]:
        return {int(e) for e in committed_units(self.commits_dir, "epoch")}

    def _get_baseline(self, spark) -> dict[str, Digest]:
        # loaded once per query run, not per batch — the baseline is
        # immutable for a given snapshot name
        if self._baseline is None:
            self._baseline = load_baseline(
                spark, self.baseline_path, self.snapshot, self.delta
            )
        return self._baseline

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in self.committed_epochs():
            return
        spark = batch_df.sparkSession
        base = self._get_baseline(spark)
        current = compute_digests(batch_df, self.columns, self.delta)
        rows = []
        for c in self.columns:
            cur = current[c]
            b = base.get(c, Digest(np.array([]), np.array([], dtype=np.int64)))
            rows.append(
                (c, float(quantile_gap_drift(cur, b, self.qs)), cur.total, b.total)
            )
        report = (
            spark.createDataFrame(rows, _REPORT_SCHEMA)
            # NaN drift (empty batch / no baseline for the column) must NOT
            # alert: Spark orders NaN above every number, so a bare >= would
            # fire on every idle trigger interval
            .withColumn(
                "alert",
                F.when(F.isnan("drift"), F.lit(False)).otherwise(
                    F.col("drift") >= self.alert_threshold
                ),
            )
            .withColumn("epoch", F.lit(batch_id))
        )
        write_partitioned(report, os.path.join(self.out_dir, "reports"), ["epoch"])
        commit_once(
            self.commits_dir,
            "epoch",
            batch_id,
            {"batch_id": batch_id, "committed_at": time.time(), "columns": self.columns},
        )

    def reports(self, spark) -> DataFrame:
        """The accumulated drift log across epochs."""
        return spark.read.parquet(os.path.join(self.out_dir, "reports"))
