"""The traced run (run.py --trace 1): per-layer metrics, measured from
outside the program.  It is never one of the timed runs.

* Spans: while an ActionTracer is active, pyspark's action methods are
  wrapped, and every outermost action call records a span with its
  thread and the wtq frame that issued it.
* Noop prefixes: growing prefixes of the filter pipeline are written to
  Spark's noop sink; each layer is the difference from the previous
  prefix.
* Rules: the pure-Python rule cores and score_udf.func are timed on
  one core in the driver, over a fixed sample of the seed's texts.
* Spark's own task accounting: the event log of the run's warm
  iterations, written to the run's scratch directory and removed once
  parsed.

Each traced run measures every layer: the run's workload gives the
setup, spark.*, trace.* and peak_rss_mb numbers; the pipeline, rules, curation and
build layers come from one traced iteration of each workload and the
probes above.  Every `*unattributed_s` is the part of a traced
iteration's wall that no span or layer covers.
"""

from __future__ import annotations

import functools
import json
import math
import os
import re
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.readwriter import DataFrameWriter

from perfbench import corpus
from perfbench.run import (
    CACHE,
    NPROC,
    Meter,
    ROOT,
    Tally,
    TreeRssSampler,
    attempt,
    log,
    result_line,
    start_spark,
)
from perfbench.workloads import WORKLOADS
from wtq.operators.curation import source_quality_gate, strip_boilerplate_lines
from wtq.pipeline import decide, dedup_recrawls, metrics_view, salted_repartition, score_udf
from wtq.rules.heuristics import py_stats
from wtq.rules.langid import predict_lang
from wtq.rules.perplexity import char_perplexity
from wtq.rules.scrub import scrub_text

PROBE_REPEATS = 2
TRACE_WARM_ITERATIONS = 2

# per-layer metric -> the end-to-end metric and workload it should move
SHOULD_MOVE: dict[str, str] = {
    "session.start_s": "setup_s, all",
    "generate.pages_s": "none (keeps generator cost visible)",
    "setup.cold_extra_s": "setup_s, most on curate (largest plan tree)",
    "pipeline.scan_s": "docs_per_cpu_s, filter (small share)",
    "pipeline.exchange_s": "docs_per_cpu_s, filter (small share)",
    "pipeline.window_s": "docs_per_cpu_s, filter (small share)",
    "pipeline.arrow_s": "docs_per_cpu_s, filter",
    "pipeline.score_s": "docs_per_cpu_s, filter > curate",
    "pipeline.rules_s": "docs_per_cpu_s, filter",
    "pipeline.sink_s": "docs_per_cpu_s, filter only",
    "pipeline.unattributed_s": "docs_per_cpu_s, filter",
    "pipeline.null_return_frac": "docs_per_cpu_s, filter",
    "rules.scrub_docs_per_s": "docs_per_cpu_s, filter",
    "rules.langid_docs_per_s": "docs_per_cpu_s, filter",
    "rules.perplexity_docs_per_s": "docs_per_cpu_s, filter",
    "rules.py_stats_docs_per_s": "docs_per_cpu_s, filter",
    "rules.score_udf_docs_per_s": "docs_per_cpu_s, filter",
    "rules.in_spark_over_standalone": "docs_per_cpu_s, filter",
    "curation.base_checkpoint_s": "docs_per_cpu_s, curate",
    "curation.strip_s": "docs_per_cpu_s, curate; no change on filter",
    "curation.host_gate_s": "docs_per_cpu_s, curate; no change on filter",
    "curation.boiler_lines_removed": "work done, curate",
    "curation.host_gated_docs": "work done, curate",
    "curation.unattributed_s": "docs_per_cpu_s, curate",
    "build.quality_s": "build runs in the traced run only; none on filter or curate",
    "build.dedup_s": "build runs in the traced run only; none on filter or curate",
    "build.decontam_s": "build runs in the traced run only; none on filter or curate",
    "build.budget_s": "build runs in the traced run only; none on filter or curate",
    "build.write_s": "build runs in the traced run only; none on filter or curate",
    "build.lineage_s": "build runs in the traced run only; none on filter or curate",
    "build.unattributed_s": "build runs in the traced run only; none on filter or curate",
    "build.lineage.00_input": "work done, build (traced run only)",
    "build.lineage.10_quality_kept": "work done, build (traced run only)",
    "build.lineage.20_after_dedup": "work done, build (traced run only)",
    "build.lineage.30_after_decontam": "work done, build (traced run only)",
    "build.lineage.40_after_budget": "work done, build (traced run only)",
    "build.lineage.50_written": "work done, build (traced run only)",
    "build.lineage.60_lsh_over_cap_buckets": "work done, build (traced run only)",
    "build.lineage.61_lsh_max_bucket_size": "work done, build (traced run only)",
    "spark.executor_run_s": "docs_per_cpu_s, all",
    "spark.executor_cpu_s": "docs_per_cpu_s, all",
    "spark.gc_s": "docs_per_cpu_s, all",
    "spark.core_idle_frac": "wall.docs_per_s, curate (serial small jobs, driver gaps)",
    "spark.shuffle_write_bytes": "docs_per_cpu_s, curate",
    "spark.shuffle_read_bytes": "docs_per_cpu_s, curate",
    "spark.spill_bytes": "docs_per_cpu_s, curate",
    "spark.jobs": "docs_per_cpu_s, curate",
    "spark.tasks": "docs_per_cpu_s, curate",
    "spark.failed_tasks": "docs_per_cpu_s, all; failed",
    "spark.task_skew": "docs_per_cpu_s, filter (Arrow-stage stragglers)",
    "trace.overhead_frac": "none",
    "peak_rss_mb": "none (memory of the workload phase; too unsteady to bound)",
    "wall.docs_per_s": "none (the wall view of docs_per_cpu_s; also moves with host steal)",
    "host.steal_frac": "none (other guests on the host; explains wall.docs_per_s)",
}


# ---- action spans ---------------------------------------------------------

_ACTIONS = (
    (
        ClassicDataFrame,
        ("count", "collect", "localCheckpoint", "checkpoint", "toPandas", "take", "first", "head"),
    ),
    (DataFrameWriter, ("save", "parquet")),
)
_WTQ_DIR = os.path.join(ROOT, "wtq") + os.sep
_BUILD_PY = os.path.join(ROOT, "wtq", "build.py")
_PERFBENCH_DIR = os.path.dirname(os.path.abspath(__file__)) + os.sep


@dataclass
class Span:
    start: float
    end: float
    main: bool  # issued from the main thread, not a driver-pool thread
    action: str
    label: str
    build_line: int | None


def _caller(frame) -> tuple[str, int | None]:
    """(label of the innermost wtq or benchmark frame, line of the
    wtq/build.py frame or None)."""
    label, build_line = "unlabelled", None
    while frame is not None:
        fn = frame.f_code.co_filename
        if label == "unlabelled" and (fn.startswith(_WTQ_DIR) or fn.startswith(_PERFBENCH_DIR)):
            label = f"{os.path.relpath(fn, ROOT)}:{frame.f_lineno} {frame.f_code.co_name}"
        if fn == _BUILD_PY:
            build_line = frame.f_lineno
        frame = frame.f_back
    return label, build_line


class ActionTracer:
    """Context manager: while active, each outermost call of a pyspark
    action method records a Span in `spans`; `start`/`end` bound the
    block."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.start = self.end = 0.0
        self._local = threading.local()
        self._saved: list[tuple[type, str, object]] = []

    def _wrap(self, action: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            if getattr(tracer._local, "busy", False):
                return fn(*a, **kw)
            tracer._local.busy = True
            label, build_line = _caller(sys._getframe(1))
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                t1 = time.perf_counter()
                tracer._local.busy = False
                tracer.spans.append(
                    Span(t0, t1, threading.current_thread() is threading.main_thread(),
                         action, label, build_line)
                )

        return traced

    def __enter__(self) -> "ActionTracer":
        self.spans = []
        for cls, names in _ACTIONS:
            for name in names:
                fn = cls.__dict__[name]
                self._saved.append((cls, name, fn))
                setattr(cls, name, self._wrap(f"{cls.__name__}.{name}", fn))
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.perf_counter()
        for cls, name, fn in self._saved:
            setattr(cls, name, fn)
        self._saved = []


def attribute(tracer: ActionTracer, stage_of) -> dict[str, float]:
    """Split the traced block's wall exclusively: an instant goes to
    the stage of the main-thread span active then, else to "lineage"
    when only driver-pool spans are active, else to "unattributed".
    `stage_of(span)` may return None for "unattributed"."""
    pts = sorted(
        {tracer.start, tracer.end}
        | {t for s in tracer.spans for t in (s.start, s.end) if tracer.start < t < tracer.end}
    )
    out: dict[str, float] = {}
    for a, b in zip(pts, pts[1:]):
        mid = (a + b) / 2
        active = [s for s in tracer.spans if s.start <= mid < s.end]
        main = [s for s in active if s.main]
        if main:
            key = stage_of(main[0]) or "unattributed"
        elif active:
            key = "lineage"
        else:
            key = "unattributed"
        out[key] = out.get(key, 0.0) + (b - a)
    return out


_SECTION_RE = re.compile(r"^\s*# (\d+)[a-z]?\. ")
_BUILD_SECTIONS = {1: "quality", 2: "dedup", 3: "decontam", 4: "budget", 5: "write"}


def build_line_stages() -> dict[int, str]:
    """Line of wtq/build.py -> build stage, from its numbered section
    comments ("# 1. quality filter ...", "# 2. near-dup removal ...")."""
    stages, current = {}, None
    with open(_BUILD_PY) as f:
        for lineno, line in enumerate(f, 1):
            m = _SECTION_RE.match(line)
            if m:
                current = _BUILD_SECTIONS.get(int(m.group(1)))
            if current:
                stages[lineno] = current
    return stages


def build_stage_of(line_stages: dict[int, str]):
    def stage_of(span: Span) -> str | None:
        stage = line_stages.get(span.build_line) if span.build_line else None
        if stage == "write" and not span.action.startswith("DataFrameWriter"):
            return "lineage"
        return stage

    return stage_of


def log_spans(name: str, tracer: ActionTracer) -> None:
    by_label: dict[str, list[float]] = {}
    for s in tracer.spans:
        by_label.setdefault(f"{s.action} @ {s.label}", []).append(s.end - s.start)
    log(f"{name}: traced wall {tracer.end - tracer.start:.3f}s, {len(tracer.spans)} spans")
    for label, ds in sorted(by_label.items(), key=lambda kv: -sum(kv[1])):
        log(f"  {sum(ds):8.3f}s {len(ds):3d}x {label}")


# ---- noop-sink prefixes and probes ----------------------------------------


def noop_s(make_df) -> float:
    """Median wall of writing `make_df()` to the noop sink."""
    times = []
    for _ in range(PROBE_REPEATS):
        t0 = time.perf_counter()
        make_df().write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _identity_udf():
    @F.pandas_udf(T.StringType())
    def identity(s: pd.Series) -> pd.Series:
        return s

    return identity


def pipeline_prefixes(spark, pages: str) -> dict[str, float]:
    """Noop-sink walls of the filter pipeline's growing prefixes."""
    identity = _identity_udf()

    def scan():
        return spark.read.parquet(pages).select("url", "warc_ts", "text", "lang")

    def exchange():
        return salted_repartition(scan(), NPROC)

    def window():
        return dedup_recrawls(exchange())

    return {
        "scan": noop_s(scan),
        "exchange": noop_s(exchange),
        "window": noop_s(window),
        "arrow": noop_s(lambda: window().withColumn("__x", identity(F.col("text")))),
        "score": noop_s(lambda: window().withColumn("__s", score_udf(F.col("text")))),
        "decide": noop_s(lambda: decide(spark.read.parquet(pages), num_partitions=NPROC)),
    }


def curation_probes(spark, pages: str) -> dict[str, float]:
    base = dedup_recrawls(
        salted_repartition(
            spark.read.parquet(pages).select("url", "warc_ts", "text", "lang"), NPROC
        )
    ).localCheckpoint(eager=True)
    strip = noop_s(
        lambda: strip_boilerplate_lines(base, "url", "text", carry_cols=("warc_ts", "lang"))
    )
    gate = noop_s(
        lambda: source_quality_gate(
            spark.read.parquet(pages)
            .select("url", "text")
            .withColumn("host", F.substring_index(F.col("url"), "/", 3)),
            "url",
            "text",
            "host",
        )
    )
    return {"curation.strip_s": strip, "curation.host_gate_s": gate}


def _docs_per_s(fn, items) -> float:
    fn(items)  # fills the per-word memos, as earlier batches do in a worker
    times = []
    for _ in range(PROBE_REPEATS):
        t0 = time.perf_counter()
        fn(items)
        times.append(time.perf_counter() - t0)
    return len(items) / statistics.median(times)


def rules_rates(spark, pages: str) -> tuple[dict[str, float], int]:
    """Single-core rates of the rule cores over one Arrow batch's worth
    of the seed's deduped texts (evenly spaced in url order); also
    returns the deduped document count."""
    pdf = pd.read_parquet(pages, columns=["url", "warc_ts", "text"])
    dedup = pdf.sort_values(
        ["url", "warc_ts", "text"], ascending=[True, False, True]
    ).drop_duplicates("url", keep="first")
    max_batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    n = min(max_batch, math.ceil(len(dedup) / NPROC))
    texts = dedup.text.iloc[:: max(1, len(dedup) // n)].iloc[:n].tolist()
    scrubbed = [scrub_text(t).text for t in texts]
    return {
        "rules.scrub_docs_per_s": _docs_per_s(lambda xs: [scrub_text(t) for t in xs], texts),
        "rules.langid_docs_per_s": _docs_per_s(lambda xs: [predict_lang(t) for t in xs], scrubbed),
        "rules.perplexity_docs_per_s": _docs_per_s(
            lambda xs: [char_perplexity(t) for t in xs], scrubbed
        ),
        "rules.py_stats_docs_per_s": _docs_per_s(lambda xs: [py_stats(t) for t in xs], scrubbed),
        "rules.score_udf_docs_per_s": _docs_per_s(
            lambda xs: score_udf.func(pd.Series(xs)), texts
        ),
    }, len(dedup)


# ---- Spark event log ------------------------------------------------------


def event_log_conf(evdir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + evdir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def spark_metrics(evdir: str, windows: list[tuple[str, float, float]]) -> dict[str, float]:
    """Per-iteration task accounting of the iterations in `windows`
    ((job group, start, end) in epoch seconds).  A job is grouped by the
    job group the benchmark set; jobs from wtq's driver-pool threads
    carry none and are grouped by the window their submission falls in."""
    events = []
    for dirpath, _, files in os.walk(evdir):
        for name in files:
            with open(os.path.join(dirpath, name)) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    groups = {g for g, _, _ in windows}

    def window_of(t_ms: float) -> str | None:
        for g, a, b in windows:
            if a * 1000 <= t_ms <= b * 1000:
                return g
        return None

    stage_job: dict[int, int] = {}
    job_group: dict[int, str | None] = {}
    stage_wall: dict[int, float] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            job_group[e["Job ID"]] = g if g is not None else window_of(e["Submission Time"])
            for s in e["Stage IDs"]:
                stage_job.setdefault(s, e["Job ID"])
        elif e["Event"] == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                stage_wall[info["Stage ID"]] = info["Completion Time"] - info["Submission Time"]

    def measured(stage: int) -> bool:
        return job_group.get(stage_job.get(stage, -1)) in groups

    tasks = [e for e in events if e["Event"] == "SparkListenerTaskEnd" and measured(e["Stage ID"])]
    n_iter = len(windows)
    wall = sum(b - a for _, a, b in windows)

    def total(get) -> float:
        return float(sum(get(e.get("Task Metrics") or {}) for e in tasks))

    run_s = total(lambda m: m.get("Executor Run Time", 0)) / 1000
    longest = max((s for s in stage_wall if measured(s)), key=stage_wall.get, default=None)
    runs = sorted(
        (e.get("Task Metrics") or {}).get("Executor Run Time", 0)
        for e in tasks
        if e["Stage ID"] == longest
    )
    skew = runs[-1] / max(statistics.median(runs), 1) if runs else 1.0
    return {
        "spark.executor_run_s": run_s / n_iter,
        "spark.executor_cpu_s": total(lambda m: m.get("Executor CPU Time", 0)) / 1e9 / n_iter,
        "spark.gc_s": total(lambda m: m.get("JVM GC Time", 0)) / 1000 / n_iter,
        "spark.core_idle_frac": 1 - run_s / (wall * NPROC),
        "spark.shuffle_write_bytes": total(
            lambda m: (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        ) / n_iter,
        "spark.shuffle_read_bytes": total(
            lambda m: sum(
                (m.get("Shuffle Read Metrics") or {}).get(k, 0)
                for k in ("Remote Bytes Read", "Local Bytes Read")
            )
        ) / n_iter,
        "spark.spill_bytes": total(
            lambda m: m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        ) / n_iter,
        "spark.jobs": sum(1 for g in job_group.values() if g in groups) / n_iter,
        "spark.tasks": len(tasks) / n_iter,
        "spark.failed_tasks": sum(1 for e in tasks if e["Task Info"].get("Failed")) / n_iter,
        "spark.task_skew": skew,
    }


# ---- the traced run -------------------------------------------------------


def traced_run(args, work: str) -> dict:
    m: dict[str, float] = {}
    t0 = time.perf_counter()
    pages = corpus.ensure_seeded_pages(args.seed, os.path.join(work, "generate"))
    m["generate.pages_s"] = time.perf_counter() - t0
    ref = corpus.oracle_reference(args.seed, CACHE, pages, NPROC)
    wls = {
        name: cls(pages, NPROC, ref if cls.needs_oracle else None)
        for name, cls in WORKLOADS.items()
    }
    evdir = os.path.join(work, "eventlog")
    os.makedirs(evdir)
    tally = Tally()

    t0 = time.perf_counter()
    spark = start_spark(work, event_log_conf(evdir))
    m["session.start_s"] = time.perf_counter() - t0
    sc = spark.sparkContext
    own = wls[args.workload]

    def must(meter: Meter | None, what: str) -> float:
        """The iteration's wall seconds; raises when it failed."""
        if meter is None:
            raise RuntimeError(f"{what} failed")
        return meter.wall

    def run_untraced(group: str) -> tuple[Meter, float, float]:
        sc.setJobGroup(group, group)
        a = time.time()
        meter = attempt(own, spark, work, tally)
        must(meter, f"{args.workload} iteration {group}")
        return meter, a, time.time()

    # a fixed count of warm iterations, not --seconds: the run must stay
    # well inside its time limit on the heaviest workload
    windows, warm = [], []
    with TreeRssSampler() as rss:
        cold, _, _ = run_untraced("cold")
        while len(warm) < TRACE_WARM_ITERATIONS:
            meter, a, b = run_untraced(f"warm-{len(warm)}")
            windows.append((f"warm-{len(warm)}", a, b))
            warm.append(meter)
    m["peak_rss_mb"] = rss.peak_kb / 1024
    walls = [w.wall for w in warm]
    log(f"{args.workload} seed={args.seed} cold_s={cold.wall} warm_s={walls}")
    m["setup.cold_extra_s"] = cold.wall - statistics.median(walls)
    m["wall.docs_per_s"] = pq.read_metadata(pages).num_rows / statistics.median(walls)
    m["host.steal_frac"] = statistics.median(w.steal_frac for w in warm)
    sc.setJobGroup("probes", "layer probes")

    # one traced iteration of every workload, the run's own first;
    # `inspected` collects what their outputs count
    inspected: dict[str, float] = {}

    def inspect_filter(out, result):
        edits = pd.read_parquet(os.path.join(out, "decided"), columns=["n_scrub_edits"])
        inspected["null_return_frac"] = float((edits.n_scrub_edits == 0).mean())

    def inspect_curate(out, result):
        row = metrics_view(spark.read.parquet(os.path.join(out, "decided"))).agg(
            F.sum("n_boiler_lines_removed"), F.sum("n_host_gated")
        ).first()
        inspected["boiler"], inspected["gated"] = float(row[0]), float(row[1])

    def inspect_build(out, lineage):
        for k, v in lineage.items():
            inspected[f"build.lineage.{k}"] = float(v)

    inspectors = {"filter": inspect_filter, "curate": inspect_curate, "build": inspect_build}
    tracers: dict[str, ActionTracer] = {}

    def traced_iteration(name: str) -> float:
        tracers[name] = tr = ActionTracer()
        dt = must(
            attempt(wls[name], spark, work, tally, tracer=tr, inspect=inspectors[name]),
            f"traced {name} iteration",
        )
        log_spans(name, tr)
        return dt

    # the run's own workload, traced between two untraced iterations
    traced = traced_iteration(args.workload)
    after = must(attempt(own, spark, work, tally), f"{args.workload} iteration")
    m["trace.overhead_frac"] = traced / ((walls[-1] + after) / 2) - 1

    # Iterations keep speeding up while plans and worker memos warm, so
    # the probes run the filter and curation operators before those
    # workloads are traced.  The build is traced on its first run in the
    # session: a warm-up build would take the run too close to its time
    # limit, so its LSH, decontamination and budget operators are cold.
    pre = pipeline_prefixes(spark, pages)
    m.update(curation_probes(spark, pages))
    for name in ("filter", "curate"):
        if name != args.workload:
            traced_iteration(name)
    traced_iteration("build")

    # filter: the prefixes, then the traced iteration's sinks and the rest
    ftr = tracers["filter"]
    f_wall = ftr.end - ftr.start
    f_spans = sum(s.end - s.start for s in ftr.spans)
    m.update(
        {
            "pipeline.scan_s": pre["scan"],
            "pipeline.exchange_s": pre["exchange"] - pre["scan"],
            "pipeline.window_s": pre["window"] - pre["exchange"],
            "pipeline.arrow_s": pre["arrow"] - pre["window"],
            "pipeline.score_s": pre["score"] - pre["arrow"],
            "pipeline.rules_s": pre["decide"] - pre["score"],
            # the first span is the decided write, which includes the
            # whole decide plan; the others write the derived views
            "pipeline.sink_s": f_spans - pre["decide"],
            "pipeline.unattributed_s": f_wall - f_spans,
            "pipeline.null_return_frac": inspected["null_return_frac"],
        }
    )
    log(
        f"filter layers sum {sum(v for k, v in m.items() if k.startswith('pipeline.') and k.endswith('_s')):.3f}s"
        f" = traced iteration wall {f_wall:.3f}s"
    )

    rates, n_dedup = rules_rates(spark, pages)
    m.update(rates)
    in_spark = n_dedup / max(m["pipeline.score_s"], 1e-6) / NPROC
    m["rules.in_spark_over_standalone"] = in_spark / m["rules.score_udf_docs_per_s"]

    ctr = tracers["curate"]
    checkpoints = [
        s for s in ctr.spans if s.action.endswith("localCheckpoint") and s.label.startswith("wtq/pipeline.py")
    ]
    m["curation.base_checkpoint_s"] = sum(s.end - s.start for s in checkpoints)
    m["curation.unattributed_s"] = (ctr.end - ctr.start) - sum(s.end - s.start for s in ctr.spans)
    m["curation.boiler_lines_removed"] = inspected["boiler"]
    m["curation.host_gated_docs"] = inspected["gated"]

    stages = attribute(tracers["build"], build_stage_of(build_line_stages()))
    for stage in ("quality", "dedup", "decontam", "budget", "write", "lineage", "unattributed"):
        m[f"build.{stage}_s"] = stages.get(stage, 0.0)
    m.update({k: v for k, v in inspected.items() if k.startswith("build.lineage.")})

    spark.stop()
    m.update(spark_metrics(evdir, windows))
    shutil.rmtree(evdir)

    for k in sorted(m):
        log(f"  {k:40s} {m[k]:14.4f}   moves: {SHOULD_MOVE.get(k, '?')}")
    return result_line(m, "per_layer", tally.attempted, tally.failed)
