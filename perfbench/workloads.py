"""The three workloads: one closed-loop iteration each, and the check
of its outputs that runs after the timed span.

* filter: the flagless pipeline, the decided write and its three
  derived views.  Python scoring and its Arrow transfer are about half
  of an iteration; no curation or build stage runs, and it is the
  write-heavy use of the sinks.
* curate: the pipeline with the boilerplate strip and the host gate,
  decided write only.  Adds the strip-base checkpoint, the digest
  shuffle and the host gate's second raw scan.
* build: build_training_set with its defaults.  The only workload that
  runs LSH + connected components, decontamination, the token budget
  and the lineage jobs.  Only the traced run uses it: its cold and warm
  iterations do not fit a timed run's share of the benchmark budget.
"""

from __future__ import annotations

import os

import pandas as pd

from perfbench import checks
from wtq.build import build_training_set
from wtq.pipeline import decisions_view, metrics_view, run_pipeline, scrubbed_view


class Workload:
    needs_oracle = False
    # untimed iterations after the set-up, then measured ones (run.py);
    # the counts share a timed run's part of the benchmark budget
    warmup = 0
    measured = 5

    def __init__(self, pages: str, num_partitions: int, ref: pd.DataFrame | None):
        self.pages = pages
        self.num_partitions = num_partitions
        self.ref = ref

    def iterate(self, spark, out: str):
        """One timed iteration writing its sinks under `out`; returns
        what `check` needs besides the sinks."""
        raise NotImplementedError

    def check(self, spark, out: str, result) -> list[str]:
        raise NotImplementedError


class Filter(Workload):
    needs_oracle = True
    # the cheaper iteration, so it affords the longer warm-up
    warmup = 2
    measured = 5

    def iterate(self, spark, out):
        res = run_pipeline(spark, self.pages, num_partitions=self.num_partitions)
        res.decided.write.mode("overwrite").parquet(os.path.join(out, "decided"))
        decided = spark.read.parquet(os.path.join(out, "decided"))
        decisions_view(decided).write.mode("overwrite").parquet(os.path.join(out, "decisions"))
        scrubbed_view(decided).write.mode("overwrite").parquet(os.path.join(out, "scrubbed"))
        metrics_view(decided).write.mode("overwrite").parquet(os.path.join(out, "metrics"))

    def check(self, spark, out, result):
        return checks.check_filter(
            pd.read_parquet(os.path.join(out, "decisions")),
            pd.read_parquet(os.path.join(out, "scrubbed"), columns=["url", "text_sha256"]),
            pd.read_parquet(os.path.join(out, "metrics")),
            self.ref,
        )


class Curate(Workload):
    needs_oracle = True
    # half as dear again per iteration as filter, after a longer set-up
    warmup = 1
    measured = 4

    def iterate(self, spark, out):
        res = run_pipeline(
            spark,
            self.pages,
            num_partitions=self.num_partitions,
            strip_boilerplate=True,
            host_gate=True,
        )
        res.decided.write.mode("overwrite").parquet(os.path.join(out, "decided"))

    def check(self, spark, out, result):
        path = os.path.join(out, "decided")
        decided = pd.read_parquet(
            path, columns=["url", "keep", "fired_rules", "n_boiler_removed", "host_gated"]
        )
        metrics = metrics_view(spark.read.parquet(path)).toPandas()
        return checks.check_curate(decided, metrics, self.ref)


class Build(Workload):
    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.first_split: frozenset[tuple[str, str]] | None = None

    def iterate(self, spark, out):
        res = build_training_set(spark, self.pages, os.path.join(out, "corpus"))
        return {r.stage: r.n_docs for r in res.lineage.collect()}

    def check(self, spark, out, lineage):
        written = pd.read_parquet(os.path.join(out, "corpus"), columns=["url", "split"])
        problems = checks.check_build(lineage, written, self.first_split)
        if self.first_split is None and not problems:
            self.first_split = checks.split_membership(written)
        return problems


WORKLOADS: dict[str, type[Workload]] = {"filter": Filter, "curate": Curate, "build": Build}
