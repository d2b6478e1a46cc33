"""Validation benchmark: one workload per invocation, on ``local[4]``.

    python3 perfbench/run.py --workload flagship_pages --seed 1 --seconds 18 --trace 0

Run it from the repository root. Workloads (see workloads.py):

* ``flagship_pages`` -- flagship.run_flagship over generated pages; its
  traced run also times the manifest layer on the same pages
  (resumable_validate with 64 commits, then a resume);
* ``xsd_documents``  -- parse_xsd + validate_xml_column over XML documents.

One process, one Spark job at a time, one closed-loop caller: a run starts
when the previous one has finished. Inputs are generated from ``--seed`` and
written to parquet before any timing; every run's output is checked against
DuckDB SQL over the same parquet (reference.py).

``--trace 0`` prints the end-to-end metrics: ``docs_per_sec`` (median over
the runs of input rows / run wall time), ``setup_s`` (median of three
set-ups, each a session start, ruleset build and compile, and a warm-up run;
the first is the process's own, timed from process start and including the
JVM launch, the other two restart the session in the same JVM) and
``ok_run_ratio`` (runs that neither raised nor failed a check / runs made).
``--trace 1`` instead makes a traced run: spans around each call into a
layer, Spark's stage metrics per span, plan-node counts, and the tracing
overhead as traced minus untraced docs_per_sec.

The last line of stdout is one JSON object: correct, attempted, failed,
metrics. A full report (host block, quartiles, spans) is written under
``.perfbench/reports/``. Everything the run writes stays in the checkout.
"""

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "xmlschemavalidator_spark"
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "3g"
SETUP_SAMPLES = 3
# Untimed runs between the set-ups and the timed runs. The JIT keeps speeding
# runs up over the first few (flagship on a 4-core VM: 2.5 s, then 1.9 s by
# the seventh run), so timing them would make the median depend on how fast
# one JVM warms.
WARM_RUNS = 2
# Input rows per workload: about 1.5 s per run on a 4-core VM.
ROWS = {"flagship_pages": 150_000, "xsd_documents": 100_000}
SPAN_METRICS = ("executor_cpu_s", "executor_run_s", "input_bytes", "shuffle_write_bytes",
                "spill_bytes", "task_skew")
STAGE_SPANS = ("scan.read", "engine.verdicts", "engine.violations", "engine.summary",
               "manifest.first_run", "manifest.resume")


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``.
    Must run before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"


def _stop_jvm(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _quartiles(values: list[float]) -> dict:
    if len(values) < 2:
        v = values[0] if values else 0.0
        return {"median": v, "q1": v, "q3": v, "n": len(values)}
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3, "n": len(values)}


class Bench:
    def __init__(self, args, work: str, import_s: float):
        from spans import Tracer
        from workloads import WORKLOADS

        self.args = args
        self.import_s = import_s
        self.wl = WORKLOADS[args.workload](work, ROWS[args.workload], args.seed)
        self.tracer = Tracer(enabled=bool(args.trace))
        self.plain = Tracer(enabled=False)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    # -- set-up ---------------------------------------------------------
    def set_up(self, first: bool) -> float:
        """One set-up: session, ruleset build and compile, warm-up run.

        The first set-up is the process's own: it is timed from process
        start, launches the JVM, and excludes the one-off input generation
        and reference computation. Later ones stop the session and start a
        new one in the same JVM."""
        import reference
        from xmlschemavalidator_spark.session import get_spark

        tr = self.tracer
        harness_s = 0.0
        with tr.span("setup") as setup:
            with tr.span("session") as session:
                self.spark = get_spark(master=MASTER, shuffle_partitions=SHUFFLE_PARTITIONS)
                self.spark.sparkContext.setLogLevel("ERROR")
                tr.spark = self.plain.spark = self.spark
            if first:
                self.session_span = session
                with tr.span("harness.inputs") as harness:
                    self.wl.generate(self.spark)
                    self.wl.con = reference.connect(os.path.join(self.wl.work_dir, "tmp"))
                    self.ref = self.wl.reference(self.wl.con)
                harness_s = harness.duration
            self.timings: dict = {}
            with tr.span("build"):
                self.wl.build(self.timings)
            with tr.span("warmup"):
                self.attempt(self.plain)
        return setup.duration - harness_s + (self.import_s if first else 0.0)

    # -- one run --------------------------------------------------------
    def attempt(self, tracer, target=None, span_name: str = "run"):
        """One run of ``target`` (the workload, or one of its extra layers)
        and its check; returns (seconds, stats), or None if it failed."""
        target = target or self.wl
        self.attempted += 1
        try:
            with tracer.span(span_name) as span:
                out = target.run(self.spark, tracer, self.attempted)
            errors = target.check(out, self.ref)
            stats = target.stats(out)
            target.discard(out)
        except Exception:
            errors = [traceback.format_exc()]
        if errors:
            self.failed += 1
            self.errors.extend(errors)
            print(f"run {self.attempted} FAILED: {errors[0]}", file=sys.stderr)
            return None
        return span.duration, stats

    def _rate(self, result) -> list[float]:
        return [self.wl.rows / result[0]] if result else []

    # -- modes ----------------------------------------------------------
    def run(self) -> dict:
        from host import canary_rows_per_sec, cpu_ticks, host_block, steal_share

        if self.args.trace:
            setups = [self.set_up(first=True)]
            canary_pre = canary_rows_per_sec(self.spark)
        else:
            setups = []
            for k in range(SETUP_SAMPLES):
                if k:
                    self.spark.stop()
                setups.append(self.set_up(first=k == 0))
            # the canary's own code changes the JIT's profile; the warm runs
            # after it let the workload's code settle again before timing
            canary_pre = canary_rows_per_sec(self.spark)
            with self.tracer.span("warm"):
                for _ in range(WARM_RUNS):
                    self.attempt(self.plain)
        ticks = cpu_ticks()
        deadline = time.perf_counter() + self.args.seconds
        rates, traced_rates, stats, rounds = [], [], {}, 0
        while True:
            rates += self._rate(self.attempt(self.plain))
            if self.args.trace:
                stats.update(self.traced_round(traced_rates))
            rounds += 1
            # a traced run makes two rounds at least, so every layer has a
            # call after its first one in the JVM
            if time.perf_counter() >= deadline and rounds >= (2 if self.args.trace else 1):
                break
        steal = steal_share(ticks, cpu_ticks())
        canary_post = canary_rows_per_sec(self.spark)

        report = {
            "workload": self.wl.name,
            "host": host_block(self.spark, self.args.seed, self.wl.rows, self.ref.input_bytes,
                               canary_pre, canary_post, steal),
            "docs_per_sec": _quartiles(rates),
            "run_s": [self.wl.rows / r for r in rates],
            "setup_s": {"samples": setups, "median": statistics.median(setups)},
            "attempted": self.attempted,
            "failed": self.failed,
            "errors": self.errors[:20],
            "reference": {"rows": self.ref.rows, "per_rule": self.ref.per_rule,
                          "failed_rows": self.ref.failed_rows, "failed_keys": self.ref.failed_keys},
        }
        if self.args.trace:
            report["metrics"] = self.layer_metrics(rates, traced_rates, stats)
            report["spans"] = self.tracer.to_json()
        else:
            report["metrics"] = {
                "docs_per_sec": {"value": report["docs_per_sec"]["median"], "unit": "docs/s"},
                "setup_s": {"value": report["setup_s"]["median"], "unit": "s"},
                "ok_run_ratio": {"value": 1 - self.failed / self.attempted, "unit": "ratio"},
            }
        return report

    def traced_round(self, traced_rates: list) -> dict:
        """The layer calls, each materializing its own output, under spans:
        the scan floor, the verdicts alone, a traced run (violations and
        summary), then any extra layer the workload has (the manifest)."""
        tr = self.tracer
        stats = {}
        with tr.span("scan.read"):
            self.wl.scan(self.spark)
        with tr.span("engine.verdicts"):
            self.wl.verdicts(self.spark)
        result = self.attempt(tr)
        traced_rates += self._rate(result)
        if result:
            stats.update(result[1])
        for layer in self.wl.layers:
            result = self.attempt(tr, layer, layer.name)
            if result:
                stats.update(result[1])
        return stats

    def layer_metrics(self, rates, traced_rates, stats) -> dict:
        from host import jvm_peak_rss_mb
        from spans import median_of

        tr = self.tracer
        rss = jvm_peak_rss_mb()
        tr.collect()

        def named(name):
            spans = [s for s in tr.spans if s.name == name]
            # a layer's first call in the JVM is its warm-up: keep it out
            # of the medians when there are later calls
            return spans[1:] if name.startswith("manifest.") and len(spans) > 1 else spans

        def med(name):
            return median_of(s.duration for s in named(name))

        runs = named("run")
        plans = [tr.plan_counts(s) for s in runs]
        plan = plans[0] if plans else {}
        n_viol = stats.get("violation_rows", 0)
        untraced = median_of(rates)
        traced = median_of(traced_rates)
        m = {
            "session.start_s": (self.session_span.duration, "s"),
            "session.jvm_peak_rss_mb": (rss, "MB"),
            "compiler.compile_s": (self.timings["compile_s"], "s"),
            "compiler.n_rules": (self.wl.n_rules, "count"),
            "xsd.parse_s": (self.timings.get("parse_s", 0.0), "s"),
            "scan.read_s": (med("scan.read"), "s"),
            "engine.verdicts_s": (med("engine.verdicts"), "s"),
            "engine.violations_s": (med("engine.violations"), "s"),
            "engine.summary_s": (med("engine.summary"), "s"),
            "engine.violation_rows": (n_viol, "count"),
            "engine.failed_docs": (stats.get("failed_docs", 0), "count"),
            "engine.violation_yield": (n_viol / (self.wl.rows * self.wl.n_rules), "ratio"),
            "engine.plan_scans": (plan.get("scans", 0), "count"),
            "engine.plan_exchanges": (plan.get("exchanges", 0), "count"),
            "engine.plan_array_filters": (plan.get("array_filters", 0), "count"),
            "xsd.plan_from_xml": (plan.get("from_xml", 0), "count"),
            "manifest.first_run_s": (med("manifest.first_run"), "s"),
            "manifest.resume_s": (med("manifest.resume"), "s"),
            "manifest.commits": (stats.get("commits", 0), "count"),
            "manifest.batch_s_p50": (median_of(stats.get("batch_s", [])), "s"),
            "manifest.violation_bytes_per_row": (stats.get("violation_bytes_per_row", 0.0), "B/row"),
            "run.self_s": (median_of(tr.self_time(s) for s in runs), "s"),
            "setup.self_s": (median_of(tr.self_time(s) for s in named("setup")), "s"),
            "trace.untraced_docs_per_sec": (untraced, "docs/s"),
            "trace.traced_docs_per_sec": (traced, "docs/s"),
            "trace.overhead_docs_per_sec": (traced - untraced, "docs/s"),
            "trace.plan_counts_repeat": (float(all(p == plan for p in plans)), "bool"),
        }
        units = {"input_bytes": "B", "shuffle_write_bytes": "B", "spill_bytes": "B", "task_skew": "ratio"}
        for name in STAGE_SPANS:
            for metric in SPAN_METRICS:
                values = [s.stages[metric] for s in named(name) if s.stages]
                m[f"{name}.{metric}"] = (median_of(values), units.get(metric, "s"))
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(ROWS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    reports = os.path.join(out_dir, "reports")
    os.makedirs(reports, exist_ok=True)
    _isolate(work)
    sys.path.insert(0, ROOT)

    bench = None
    try:
        # imported before Bench so the first set-up counts the import time
        import pyspark  # noqa: F401

        import xmlschemavalidator_spark.session  # noqa: F401

        bench = Bench(args, work, time.perf_counter() - PROCESS_START)
        report = bench.run()
    finally:
        if bench is not None:
            if bench.wl.con is not None:
                bench.wl.con.close()
            _stop_jvm(bench.spark)
        shutil.rmtree(work, ignore_errors=True)

    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(reports, name), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    _print_report(report, args)
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": report["metrics"],
    }), flush=True)
    return 0


def _print_report(report: dict, args) -> None:
    h = report["host"]
    print(f"workload {report['workload']}  seed {args.seed}  rows {h['input_rows']}  "
          f"input {h['input_bytes']} B  {h['master']}  nproc {h['nproc']}")
    print(f"  python {h['python']}  java {h['java']}  spark {h['spark']}  duckdb {h['duckdb']}")
    print(f"  cpu canary {h['canary_rows_per_sec_before']:.0f} rows/s before, "
          f"{h['canary_rows_per_sec_after']:.0f} after; cpu steal {h['cpu_steal_share_timed']:.1%} "
          f"while timed")
    d = report["docs_per_sec"]
    print(f"  docs_per_sec      {d['median']:.1f} docs/s  (q1 {d['q1']:.1f}, q3 {d['q3']:.1f}, n={d['n']})")
    s = report["setup_s"]
    print(f"  setup_s           {s['median']:.3f} s  (samples {', '.join(f'{x:.3f}' for x in s['samples'])})")
    ratio = report["failed"] / report["attempted"]
    print(f"  failed_run_ratio  {ratio:.4f}  ({report['failed']} of {report['attempted']} runs; "
          f"ok_run_ratio {1 - ratio:.4f})")
    if args.trace:
        print("  spans (name: calls, median wall, median self time)")
        by_name: dict = {}
        for span in report["spans"]:
            by_name.setdefault(span["name"], []).append(span)
        for name, spans in by_name.items():
            wall = statistics.median(x["duration_s"] for x in spans)
            own = statistics.median(x["self_s"] for x in spans)
            print(f"    {name:24s} {len(spans):3d}  {wall:9.4f} s  {own:9.4f} s")
        for k, v in report["metrics"].items():
            print(f"  {k:40s} {v['value']:.6g} {v['unit']}")


if __name__ == "__main__":
    sys.exit(main())
