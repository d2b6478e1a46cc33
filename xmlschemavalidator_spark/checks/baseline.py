"""Persisted drift baselines: t-digest centroid snapshots on disk.

North-star shape: "distribution-drift via per-partition t-digest quantile
sketches compared KS-style against a baseline snapshot". The sketch pass
(checks/tdigest.py) is the scan-side cost; this module is the snapshot
lifecycle around it:

* :func:`snapshot_baseline` — one narrow mapInPandas pass per column over
  the current table, centroids persisted as parquet keyed by
  ``(snapshot, column)``. A baseline for N columns of a 10^12-row table is
  N × delta centroid rows — kilobytes, independent of table size;
* :func:`drift_report` — sketch the current table the same way, load the
  named baseline snapshot, and emit one KS-style drift number per column
  (max quantile-CDF gap, 0 = identical; see tdigest.quantile_gap_drift);
* re-snapshotting the same snapshot overwrites exactly that partition of
  the store (``tables.write_partitioned``, dynamic partition overwrite —
  same idempotence contract as the violations written by manifest.py).

The store layout is plain parquet partitioned by snapshot — readable by
any engine, diffable across snapshots, and mergeable (centroids are
associative) if baselines are themselves built incrementally.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xmlschemavalidator_spark.checks.tdigest import (
    Digest,
    merge_digests,
    partition_digests_multi,
    quantile_gap_drift,
)
from xmlschemavalidator_spark.tables import write_partitioned

_STORE_SCHEMA = "snapshot string, column string, mean double, weight long"


def compute_digests(
    df: DataFrame, columns: list[str], delta: int = 200
) -> dict[str, Digest]:
    """One merged digest per column, from ONE narrow sketch pass over the
    table for ALL columns (partition_digests_multi) — N columns no longer
    cost N scans. The driver merge sees ≤ delta × #partitions rows per
    column."""
    pdf = partition_digests_multi(df, columns, delta).toPandas()
    out: dict[str, Digest] = {}
    empty = Digest(np.array([]), np.array([], dtype=np.int64))
    for c in columns:
        grp = pdf[pdf["column"] == c]
        out[c] = merge_digests(grp, delta) if len(grp) else empty
    return out


def save_baseline(
    spark: SparkSession, digests: dict[str, Digest], path: str, snapshot: str
) -> None:
    """Persist centroids under ``<path>/snapshot=<snapshot>/``. Dynamic
    partition overwrite: re-saving a snapshot replaces only itself."""
    rows = []
    for col, d in digests.items():
        for m, w in zip(d.means, d.weights):
            rows.append((snapshot, col, float(m), int(w)))
    write_partitioned(spark.createDataFrame(rows, _STORE_SCHEMA), path, ["snapshot"])


def load_baseline(
    spark: SparkSession, path: str, snapshot: str, delta: int = 200
) -> dict[str, Digest]:
    """Read one snapshot's centroids back into per-column Digests. The
    snapshot predicate prunes to one directory partition."""
    pdf = (
        spark.read.parquet(path)
        .where(F.col("snapshot") == snapshot)
        .select("column", "mean", "weight")
        .toPandas()
    )
    out: dict[str, Digest] = {}
    for col, grp in pdf.groupby("column"):
        out[str(col)] = merge_digests(grp, delta)
    return out


def snapshot_baseline(
    df: DataFrame, columns: list[str], path: str, snapshot: str, delta: int = 200
) -> dict[str, Digest]:
    """Sketch ``columns`` of ``df`` and persist as the named baseline."""
    digests = compute_digests(df, columns, delta)
    save_baseline(df.sparkSession, digests, path, snapshot)
    return digests


def drift_report(
    df: DataFrame,
    columns: list[str],
    path: str,
    snapshot: str,
    delta: int = 200,
    qs: list[float] | None = None,
) -> pd.DataFrame:
    """Current-vs-baseline drift, one row per column:
    ``(column, drift, current_total, baseline_total)``. ``drift`` is the
    KS-style max quantile-CDF gap; NaN when either side is empty or the
    column has no baseline in the snapshot."""
    current = compute_digests(df, columns, delta)
    base = load_baseline(df.sparkSession, path, snapshot, delta)
    rows = []
    for c in columns:
        cur = current[c]
        b = base.get(c, Digest(np.array([]), np.array([], dtype=np.int64)))
        rows.append(
            {
                "column": c,
                "drift": quantile_gap_drift(cur, b, qs),
                "current_total": cur.total,
                "baseline_total": b.total,
            }
        )
    return pd.DataFrame(rows, columns=["column", "drift", "current_total", "baseline_total"])
