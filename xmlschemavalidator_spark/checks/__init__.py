"""Dataset-level checks (SURVEY.md §2.7) — the engine ops the north rule adds
on top of the reference's per-value semantics: column stats, distinct-count
sketches, uniqueness, referential integrity, and distribution drift.

None of these exist in the reference (verified absent from core.clj /
parser.clj); designs are Spark-first: partial+final hash aggregation, HLL
sketches, broadcast/shuffle-hash anti joins, exact histogram-CDF drift.
"""
