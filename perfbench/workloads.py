"""The benchmark's workloads: inputs, one run through the package's public
functions, and the check of that run's outputs against the reference.

Every workload reads input that was generated from the seed and written to
parquet once, before any timing. A run re-reads the parquet, so no run
profits from state an earlier run left in the session.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

import reference
from xmlschemavalidator_spark import datagen
from xmlschemavalidator_spark.engine import validate
from xmlschemavalidator_spark.flagship import run_flagship, web_ruleset
from xmlschemavalidator_spark.manifest import MetricsManifest, resumable_validate
from xmlschemavalidator_spark.xsd import parse_xsd

INPUT_FILES = 4  # parquet files per input, one per local core
XSD_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "documents.xsd")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class _Checked:
    """Holds the checksum of the first checked run; later runs must match."""

    checksum = None

    def _checksum(self, value, errors: list) -> None:
        if self.checksum is None:
            self.checksum = value
        elif value != self.checksum:
            errors.append(f"checksum {value} != first run's {self.checksum}")

    def discard(self, out: dict) -> None:
        """Remove what a run wrote, once it is checked."""


class Workload(_Checked):
    """A run sends violations to a noop sink and collects the per-partition
    summary; both are checked against the reference."""

    name: str
    key: str
    rules: dict  # rule_id -> reference SQL
    columns: tuple  # input columns the rules reference
    layers: tuple = ()  # extra layer calls the traced run makes

    def __init__(self, work_dir: str, rows: int, seed: int):
        self.rows = rows
        self.seed = seed
        self.work_dir = work_dir
        self.input_path = os.path.join(work_dir, "input")
        self.con = None  # DuckDB connection, opened with the reference

    def read(self, spark):
        return spark.read.parquet(self.input_path)

    def scan(self, spark) -> None:
        """The floor: read only the columns the rules reference."""
        _noop(self.read(spark).select(*self.columns))

    def _materialize(self, res, tracer) -> dict:
        """Violations to a noop sink, with an Observation gathering the row
        count, per-rule counts and an order-independent checksum while they
        are written; then the per-partition summary, collected."""
        digest = F.pmod(F.xxhash64(F.col(self.key), "rule_id", "observed_value"), F.lit(2147483647))
        obs = Observation()
        aggs = [
            F.count(F.lit(1)).alias("n"),
            F.sum(digest).alias("checksum"),
            *[F.sum(F.when(F.col("rule_id") == rid, 1).otherwise(0)).alias(rid) for rid in self.rules],
        ]
        with tracer.span("engine.violations"):
            _noop(res.violations.observe(obs, *aggs))
        with tracer.span("engine.summary"):
            summary = res.partition_summary.collect()
        return {"violations": obs.get, "summary": summary}

    def check(self, out: dict, ref: reference.Reference) -> list[str]:
        errors = []
        v = out["violations"]
        if v["n"] != ref.violation_rows:
            errors.append(f"violation rows {v['n']} != reference {ref.violation_rows}")
        for rid, n in ref.per_rule.items():
            if v[rid] != n:
                errors.append(f"rule {rid}: {v[rid]} violations != reference {n}")
        rows = sum(r["n_rows"] for r in out["summary"])
        failed = sum(r["n_failed_docs"] for r in out["summary"])
        if rows != ref.rows:
            errors.append(f"partition_summary rows {rows} != input rows {ref.rows}")
        if failed != ref.failed_rows:
            errors.append(f"partition_summary failed docs {failed} != reference {ref.failed_rows}")
        self._checksum(v["checksum"], errors)
        return errors

    def stats(self, out: dict) -> dict:
        return {
            "violation_rows": out["violations"]["n"],
            "failed_docs": sum(r["n_failed_docs"] for r in out["summary"]),
        }


class FlagshipPages(Workload):
    name = "flagship_pages"
    key = "url"
    rules = reference.PAGES_RULES
    columns = ("url", "warc_ts", "html", "text", "lang")

    def __init__(self, work_dir: str, rows: int, seed: int):
        super().__init__(work_dir, rows, seed)
        self.layers = (ManifestCommit(self),)

    def generate(self, spark) -> None:
        datagen.pages(spark, self.rows, seed=self.seed, partitions=INPUT_FILES).write.parquet(
            self.input_path
        )

    def reference(self, con) -> reference.Reference:
        return reference.pages_reference(con, self.input_path)

    def build(self, timings: dict) -> None:
        t0 = time.perf_counter()
        self.ruleset = web_ruleset()
        self.ruleset.compile()
        timings["compile_s"] = time.perf_counter() - t0
        self.n_rules = len(self.ruleset.rule_ids())

    def verdicts(self, spark) -> None:
        res = validate(self.read(spark), self.ruleset, key=self.key)
        _noop(res.verdicts.select(self.key, "_doc_ok"))

    def run(self, spark, tracer, i: int) -> dict:
        return self._materialize(run_flagship(self.read(spark), key=self.key), tracer)


class XsdDocuments(Workload):
    name = "xsd_documents"
    key = "doc_id"
    rules = reference.DOCS_RULES
    columns = ("doc_id", "xml")
    root = "document"

    def generate(self, spark) -> None:
        d = datagen.documents(spark, self.rows, seed=self.seed, partitions=INPUT_FILES)
        # an absent text is an absent <text> element
        text = F.coalesce(F.concat(F.lit("<text>"), d.text, F.lit("</text>")), F.lit(""))
        xml = F.concat(
            F.lit('<document source="'), d.source, F.lit('">'),
            text,
            F.lit("<lang>"), d.lang, F.lit("</lang>"),
            F.lit("<n_chars>"), d.n_chars.cast("string"), F.lit("</n_chars>"),
            F.lit("</document>"),
        )
        d.select("doc_id", xml.alias("xml")).write.parquet(self.input_path)

    def reference(self, con) -> reference.Reference:
        return reference.documents_reference(con, self.input_path)

    def build(self, timings: dict) -> None:
        with open(XSD_PATH) as fh:
            xsd_text = fh.read()
        t0 = time.perf_counter()
        self.schema = parse_xsd(xsd_text)
        ruleset = self.schema.ruleset_for(self.root)
        t1 = time.perf_counter()
        ruleset.compile()
        timings["parse_s"] = t1 - t0
        timings["compile_s"] = time.perf_counter() - t1
        self.n_rules = len(ruleset.rule_ids())

    def _validate(self, spark):
        return self.schema.validate_xml_column(self.read(spark), "xml", root=self.root, key=self.key)

    def verdicts(self, spark) -> None:
        _noop(self._validate(spark).verdicts.select(self.key, "_doc_ok"))

    def run(self, spark, tracer, i: int) -> dict:
        return self._materialize(self._validate(spark), tracer)


class ManifestCommit(_Checked):
    """The manifest layer over the flagship's pages, traced only:
    ``resumable_validate`` in the shape of jobs/validate_job.py (64 hash
    buckets of the url, 16 per batch, violations written as partitioned
    parquet), then the same call on the committed snapshot (a resume with
    nothing left to do)."""

    name = "commit"
    buckets = 64
    batch_size = 16

    def __init__(self, pages: FlagshipPages):
        self.pages = pages

    def run(self, spark, tracer, i: int) -> dict:
        out_dir = os.path.join(self.pages.work_dir, "commits", f"run{i}")
        key = self.pages.key
        df = self.pages.read(spark).withColumn(
            "part", F.pmod(F.xxhash64(F.col(key)), F.lit(self.buckets)).cast("int")
        )
        args = dict(
            key=key,
            partition_col="part",
            snapshot=f"run{i}",
            manifest=MetricsManifest(os.path.join(out_dir, "manifest")),
            violations_out=os.path.join(out_dir, "violations"),
            batch_size=self.batch_size,
        )
        started_at = time.time()
        with tracer.span("manifest.first_run"):
            first = resumable_validate(df, self.pages.ruleset, **args)
        with tracer.span("manifest.resume"):
            again = resumable_validate(df, self.pages.ruleset, **args)
        return {"first": first, "again": again, "started_at": started_at, "dir": out_dir}

    def check(self, out: dict, ref: reference.Reference) -> list[str]:
        errors = []
        first, again = out["first"], out["again"]
        if len(first) != self.buckets:
            errors.append(f"first call committed {len(first)} buckets, expected {self.buckets}")
        if again:
            errors.append(f"resume committed {len(again)} buckets, expected none")
        rows = sum(m.n_rows for m in first)
        if rows != ref.rows:
            errors.append(f"committed rows {rows} != input rows {ref.rows}")
        n_viol = sum(m.n_violations for m in first)
        if n_viol != ref.violation_rows:
            errors.append(f"committed violations {n_viol} != reference {ref.violation_rows}")
        n_failed = sum(m.n_failed_docs for m in first)
        if n_failed != ref.failed_keys:
            errors.append(f"committed failed docs {n_failed} != reference {ref.failed_keys}")
        per_rule, checksum = reference.written_violations(
            self.pages.con, os.path.join(out["dir"], "violations"), self.pages.rules
        )
        if per_rule != ref.per_rule:
            errors.append(f"written violations per rule {per_rule} != reference {ref.per_rule}")
        self._checksum(checksum, errors)
        return errors

    def stats(self, out: dict) -> dict:
        """Commits, batch walls from the spacing of ``committed_at`` (a
        batch's partitions commit together once its outputs are written),
        and violation parquet bytes per violation row."""
        first = sorted(out["first"], key=lambda m: m.committed_at)
        ends = [out["started_at"]] + [
            first[min(k + self.batch_size, len(first)) - 1].committed_at
            for k in range(0, len(first), self.batch_size)
        ]
        n_viol = sum(m.n_violations for m in first)
        viol_bytes = reference.parquet_bytes(os.path.join(out["dir"], "violations"))
        return {
            "commits": len(first),
            "batch_s": [b - a for a, b in zip(ends, ends[1:])],
            "violation_bytes_per_row": viol_bytes / max(n_viol, 1),
        }

    def discard(self, out: dict) -> None:
        shutil.rmtree(out["dir"], ignore_errors=True)


WORKLOADS = {w.name: w for w in (FlagshipPages, XsdDocuments)}
