"""Per-partition lineage + metrics manifest with resume, and the one
write-once commit protocol every resumable writer uses.

North rule: "resumable from a checkpointed per-partition lineage/metrics
manifest (Delta-style commit log keyed by Iceberg partition + snapshot-id),
skip already-committed partitions on resume."

Design (works over any partitioned table — Iceberg partition values, Hive
directory partitions, or a derived bucket column):

* the job is split by a **partition column** (the unit of commit);
* each partition's outputs (violation rows) land under
  ``<out>/part=<p>/`` via ``tables.write_partitioned`` (dynamic partition
  overwrite) — re-running a partition replaces exactly its own files, so
  retries are idempotent;
* after a partition's outputs are durably written, a single JSON commit
  file ``<manifest>/snapshot=<s>/part=<p>.json`` records its metrics
  (n_rows, n_failed_docs, n_violations, wall seconds, lineage: snapshot id
  + input fingerprint);
* resume = list commit files for the snapshot, filter the input to
  not-yet-committed partitions (a pushed-down partition-pruning filter),
  process only those.

The streaming violations sink and the drift monitor commit their epochs
(``_commits/epoch=<batchId>.json``) through the same two functions:
:func:`commit_once` (write-once: temp file + hard link, an existing commit
is never overwritten) and :func:`committed_units`. The sink shares
:func:`violation_counts`, the one read-back of written violations.

Batching: partitions are processed in groups of ``batch_size`` per Spark
job — at 10^12 rows you want hundreds of partitions per job (amortize
scheduling), not one job per partition.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xmlschemavalidator_spark.compiler import RuleSet
from xmlschemavalidator_spark.engine import validate
from xmlschemavalidator_spark.tables import write_partitioned


def commit_once(commit_dir: str, unit: str, unit_id: str | int, record: dict) -> bool:
    """Write ``record`` as ``<commit_dir>/<unit>=<unit_id>.json``, once.
    Returns False, leaving the existing file alone, if the unit is already
    committed — idempotent under retries/speculation. Any other failure of
    the commit (e.g. a file system without hard links) raises: treating it
    as a lost race would leave the unit uncommitted forever."""
    path = os.path.join(commit_dir, f"{unit}={unit_id}.json")
    if os.path.exists(path):
        return False
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(record, fh)
    try:
        # link (not rename): rename REPLACES an existing file, so two
        # concurrent committers would both "win"; link fails with EEXIST
        # for the loser — true write-once under speculation/races
        os.link(tmp, path)
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)
    return True


def committed_units(commit_dir: str, unit: str) -> set[str]:
    """Ids of the ``<unit>=<id>.json`` commits in ``commit_dir``; a leftover
    temp file of an interrupted commit is not a commit."""
    prefix = f"{unit}="
    return {
        f[len(prefix) : -len(".json")]
        for f in os.listdir(commit_dir)
        if f.startswith(prefix) and f.endswith(".json")
    }


def violation_counts(
    violations: DataFrame,
    path: str,
    unit_col: str,
    units: list[str],
    key: str,
    rule_ids: list[str],
) -> dict[str, dict[str, int]]:
    """ONE aggregate over the ``violations`` written under ``path``: for
    each of ``units`` (string ids of ``unit_col``), ``n_violations``,
    ``n_failed_docs`` (distinct non-NULL keys) and ``viol_<rule>`` for each
    rule with rows. Read with the EXPLICIT schema: an all-clean unit writes
    no data file, and a schema-inferring read of no files throws."""
    unit = F.col(unit_col).cast("string")
    per_rule = [F.count(F.when(F.col("rule_id") == r, 1)) for r in rule_ids]
    out = {u: {"n_violations": 0, "n_failed_docs": 0} for u in units}
    for row in (
        violations.sparkSession.read.schema(violations.schema)
        .parquet(path)
        .where(unit.isin(units))
        .groupBy(unit)
        .agg(F.count(F.lit(1)), F.count_distinct(F.col(key)), *per_rule)
        .collect()
    ):
        out[row[0]] = {
            "n_violations": row[1],
            "n_failed_docs": row[2],
            **{f"viol_{r}": n for r, n in zip(rule_ids, row[3:]) if n},
        }
    return out


@dataclass
class PartitionMetrics:
    snapshot: str
    partition: str
    n_rows: int
    n_failed_docs: int
    n_violations: int
    wall_s: float
    committed_at: float


class MetricsManifest:
    """File-backed commit log. One JSON per (snapshot, partition)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _snap_dir(self, snapshot: str) -> str:
        d = os.path.join(self.root, f"snapshot={snapshot}")
        os.makedirs(d, exist_ok=True)
        return d

    def committed(self, snapshot: str) -> set[str]:
        return committed_units(self._snap_dir(snapshot), "part")

    def commit(self, m: PartitionMetrics) -> bool:
        """Write-once: returns False (no overwrite) if already committed."""
        return commit_once(self._snap_dir(m.snapshot), "part", m.partition, m.__dict__)

    def metrics(self, snapshot: str) -> list[PartitionMetrics]:
        d = self._snap_dir(snapshot)
        out = []
        for f in sorted(os.listdir(d)):
            if f.endswith(".json"):
                with open(os.path.join(d, f)) as fh:
                    out.append(PartitionMetrics(**json.load(fh)))
        return out

    def snapshots(self) -> list[str]:
        return sorted(
            d[len("snapshot="):]
            for d in os.listdir(self.root)
            if d.startswith("snapshot=")
        )

    def snapshot_times(self) -> dict[str, float]:
        """snapshot -> earliest ``committed_at`` across its partitions (the
        snapshot's first commit). Snapshots with no commits yet are absent.
        This is the chronological order of the log itself — valid for ANY
        id scheme (uuid, hash, date), unlike string comparison."""
        out: dict[str, float] = {}
        for s in self.snapshots():
            ts = [m.committed_at for m in self.metrics(s)]
            if ts:
                out[s] = min(ts)
        return out

    def anomalies(
        self,
        snapshot: str,
        history: list[str] | None = None,
        z: float = 3.0,
        min_history: int = 3,
    ) -> list[dict]:
        """Per-partition metric anomalies vs the history of previous runs:
        the monitoring layer over the lineage/metrics log. For each
        partition of ``snapshot``, the violation rate and failed-doc rate
        are z-scored against the same partition's history (default: every
        snapshot whose FIRST COMMIT TIMESTAMP precedes the scored one's —
        chronological by the log itself, so uuid-style ids that don't sort
        lexicographically still get their full history; round-3 ADVICE
        fix. Individual partition commits landing after the scored
        snapshot's first commit are excluded too, so scoring a non-latest
        snapshot never sees data committed after it started — even from
        interleaved earlier-starting snapshots); |z| >= ``z`` is flagged.
        An explicit ``history`` list is taken as-is, no time filtering. Fewer than ``min_history``
        prior points → no judgement (cold start is not an anomaly).
        Driver-side only — the commit log is kilobytes.
        """
        import math

        cutoff = None
        if history is None:
            times = self.snapshot_times()
            if snapshot in times:
                cur = (times[snapshot], snapshot)
                history = sorted(
                    (s for s, t in times.items() if (t, s) < cur),
                    key=lambda s: (times[s], s),
                )
                # per-METRIC cutoff too: an interleaved earlier snapshot may
                # keep committing partitions after this one started — those
                # commits are future data for the scored run and must not
                # enter its baseline (review finding)
                cutoff = times[snapshot]
            else:
                # scored snapshot has no commits (nothing to judge anyway);
                # keep the old id-ordering fallback for the empty pass below
                history = [s for s in self.snapshots() if s < snapshot]
        hist: dict[str, list[tuple[float, float]]] = {}
        for s in history:
            for m in self.metrics(s):
                if cutoff is not None and m.committed_at >= cutoff:
                    continue
                if m.n_rows:
                    hist.setdefault(m.partition, []).append(
                        (m.n_violations / m.n_rows, m.n_failed_docs / m.n_rows)
                    )
        out: list[dict] = []
        for m in self.metrics(snapshot):
            pts = hist.get(m.partition, [])
            if len(pts) < min_history or not m.n_rows:
                continue
            for idx, name in ((0, "violation_rate"), (1, "failed_doc_rate")):
                vals = [p[idx] for p in pts]
                mean = sum(vals) / len(vals)
                var = sum((v - mean) ** 2 for v in vals) / len(vals)
                # relative std floor: a perfectly-flat history would turn ANY
                # deviation into z=inf — 5% of the mean is the noise floor
                std = max(math.sqrt(var), max(mean, 1e-9) * 0.05)
                cur = (m.n_violations if idx == 0 else m.n_failed_docs) / m.n_rows
                score = (cur - mean) / std
                if abs(score) >= z:
                    out.append(
                        {
                            "partition": m.partition,
                            "metric": name,
                            "value": cur,
                            "mean": mean,
                            "std": std,
                            "z": score,
                        }
                    )
        return out


def resumable_validate(
    df: DataFrame,
    ruleset: RuleSet,
    *,
    key: str,
    partition_col: str,
    snapshot: str,
    manifest: MetricsManifest,
    violations_out: str,
    batch_size: int = 64,
) -> list[PartitionMetrics]:
    """Validate ``df`` partition-group by partition-group with commit/resume.

    Already-committed partitions (for this snapshot) are skipped via a
    pushed-down filter on ``partition_col``. Violations are written under
    ``violations_out`` partitioned by ``partition_col`` with dynamic
    overwrite, so a partially-failed run leaves no duplicates after retry.
    Returns metrics for every partition committed by THIS call.
    """
    # normalize the partition column to a non-null STRING up front: a NULL
    # partition value would otherwise never match the isin() resume filter
    # (NULL isin [...] is NULL) and its rows would stay pending forever
    df = df.withColumn(
        partition_col,
        F.coalesce(F.col(partition_col).cast("string"), F.lit("__null__")),
    )
    done = manifest.committed(snapshot)
    parts = [str(r[0]) for r in df.select(partition_col).distinct().collect()]
    pending = sorted(p for p in parts if p not in done)

    committed: list[PartitionMetrics] = []
    for i in range(0, len(pending), batch_size):
        batch = pending[i : i + batch_size]
        t0 = time.time()
        sub = df.where(F.col(partition_col).isin(batch))

        # ONE full-width pass: violations carry the partition column through
        # the same projection (violation_cols) — never joined back to the
        # input (that join is a second full scan + key shuffle at scale).
        res = validate(sub, ruleset, key=key, violation_cols=[partition_col])
        write_partitioned(res.violations, violations_out, [partition_col])

        # n_rows per partition: a column-pruned scan reading ONLY the
        # partition column (parquet row-group metadata does most of it).
        rows = {
            str(r["p"]): r["n_rows"]
            for r in sub.groupBy(F.col(partition_col).cast("string").alias("p"))
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .collect()
        }
        # failure metrics from the WRITTEN violations (tiny, already durable)
        counts = violation_counts(
            res.violations, violations_out, partition_col, batch, key, ruleset.rule_ids()
        )
        wall = time.time() - t0
        for p, n_rows in rows.items():
            m = PartitionMetrics(
                snapshot=snapshot,
                partition=p,
                n_rows=n_rows,
                n_failed_docs=counts[p]["n_failed_docs"],
                n_violations=counts[p]["n_violations"],
                wall_s=wall / max(len(rows), 1),
                committed_at=time.time(),
            )
            if manifest.commit(m):
                committed.append(m)
    return committed
