#!/usr/bin/env python
"""Benchmark harness.

Runs the headline pipeline + representative operator queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE COMPACT JSON line:

    {"metric": "pipeline_docs_per_sec", "value": N, "unit": "docs/sec",
     "queries": {...per-query best seconds...}, "sf": ..., "cpus": ...,
     "n_docs": ...}

The final line is deliberately small (the driver tail-captures it; the
round-4 enriched line outgrew the capture and left the round without a
parsed headline).  Everything beyond the per-query bests — raw samples,
rel_spread, noise summary, the interleaved A/B record, and the
training-set build lineage — is written to a side file
(``BENCH/samples_latest.json`` by default, ``$WTQ_BENCH_SAMPLES_OUT``
to override).

The pipeline metric is end-to-end: read pages parquet → re-crawl dedup
→ salted repartition → Arrow scrub/score → rule battery → write
decisions + scrubbed + metrics to parquet sinks (real I/O included).

Sampling protocol (held constant from round 4 so round-over-round
deltas compare like for like): 5 pipeline samples across two time
windows (3 before the query sweep, 2 after — the host's effective
speed swings up to ~3x on a minutes scale, DEVNOTES); headline = best
of all 5, and the side file ALSO records first-window best-of-3 for
comparisons against rounds that sampled a single window.  New in round
5: the flagless and curated pipelines are sampled INTERLEAVED
(A/B/A/B...) inside each window, so their spreads are measured under
the same host conditions and a curated-vs-flagless delta cannot be an
artifact of when each was sampled.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    replicate = int(os.environ.get("WTQ_BENCH_REPLICATE", "8"))
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    samples_out = os.environ.get(
        "WTQ_BENCH_SAMPLES_OUT", os.path.join(repo_dir, "BENCH", "samples_latest.json")
    )

    sys.path.insert(0, repo_dir)
    from wtq.build import build_training_set
    from wtq.generate import ensure_pages
    from wtq.pipeline import run_pipeline
    from wtq.queries import QUERIES
    from wtq.session import get_spark

    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    pages_path = ensure_pages(sf_dir, replicate=replicate)

    spark = get_spark("wtq-bench", master=f"local[{cpus}]", shuffle_partitions=cpus)

    n_pages = spark.read.parquet(pages_path).count()
    log(f"bench: sf_dir={sf_dir} cpus={cpus} pages={n_pages}")

    # -- warmup: JIT/codegen + Python worker pool spin-up (not timed) --
    # (must aggregate a UDF-derived column: count(*) would let Catalyst
    # prune the Python scoring pass and warm nothing)
    run_pipeline(spark, pages_path, num_partitions=cpus).decided.agg(
        F.sum(F.size("fired_rules"))
    ).collect()
    # The CURATED plan warms separately: it is the largest tree in the
    # suite (boilerplate doc-frequency join + host-gate aggregation on
    # top of the pipeline) and its first execution pays one-time
    # codegen/broadcast-machinery costs the flagless warmup does not
    # touch.  Round 4 timed it cold and recorded a 38.7s first sample
    # vs 7.8s warm — the unexplained "bimodality" was simply the
    # missing warmup (round-5 A/B confirms: warm curated samples track
    # warm flagless samples at ~1.4-2x, the cost of its two extra
    # corpus passes).
    run_pipeline(
        spark, pages_path, num_partitions=cpus,
        strip_boilerplate=True, host_gate=True,
    ).decided.agg(F.sum(F.size("fired_rules"))).collect()

    # -- headline: full pipeline with real sinks (PipelineResult.write) --
    out = tempfile.mkdtemp(prefix="wtq_bench_")
    cur_out = tempfile.mkdtemp(prefix="wtq_bench_cur_")

    def one_pipeline_run() -> tuple[float, int]:
        t0 = time.time()
        # exactly one partition per core: the Arrow score pass is the
        # heavy narrow stage and over-splitting it 4x was measured 37%
        # slower at this batch size (per-task Arrow + scheduling
        # overhead; same economics as minhash_signatures' repartition
        # note).  At cluster scale the partition count follows data
        # size, not this constant.
        run_pipeline(spark, pages_path, num_partitions=cpus).write(out)
        n = spark.read.parquet(f"{out}/decided").count()
        log(f"  decided + derived views: {time.time() - t0:.2f}s")
        return time.time() - t0, n

    def one_curated_run() -> float:
        # the integrated curation chain (strip_boilerplate + host_gate
        # flags) — same sink shape as a flagless decided write so the
        # A/B delta isolates the two extra curation passes
        t0 = time.time()
        res = run_pipeline(
            spark, pages_path, num_partitions=cpus,
            strip_boilerplate=True, host_gate=True,
        )
        res.decided.write.mode("overwrite").parquet(f"{cur_out}/decided")
        return time.time() - t0

    # Window 1: interleaved A/B ×3 — each curated sample is bracketed
    # by flagless samples taken seconds apart, so a curated/flagless
    # ratio far outside the flagless spread is a real plan cost, not
    # host drift (round-4 verdict item: the two families were sampled
    # ~6 minutes apart and their 4x spread was unattributable).
    pipeline_samples: list[float] = []
    curated_samples: list[float] = []
    ab_order: list[str] = []
    n_docs = 0
    for _ in range(3):
        sec_i, n_docs = one_pipeline_run()
        pipeline_samples.append(sec_i)
        ab_order.append("flagless")
        log(f"  pipeline sample: {sec_i:.2f}s")
        sec_c = one_curated_run()
        curated_samples.append(sec_c)
        ab_order.append("curated")
        log(f"  pipeline_curated sample: {sec_c:.2f}s")
    pipeline_sec = min(pipeline_samples)
    first_window_best = pipeline_sec
    log(f"pipeline (window 1): {n_docs} docs best {pipeline_sec:.2f}s")

    # -- representative operator queries --
    headline = [
        "pricing_summary",
        "region_revenue",
        "latest_event_per_user",
        "event_pivot",
        "dedup_exact",
        "dedup_minhash_lsh",
        "simhash",
        "simhash_near_pairs",
        "dedup_clusters",
        "ann_bruteforce",
        "doc_decisions",
        "top_words",
        "spatial_radius_join",
        "tfidf_top_terms",
        "media_features",
        "html_to_text",
        "nb_quality_scores",
        "ann_ivf_topk",
        "order_value_deciles",
        # curation family (driver-registered since round 4)
        "decontaminate",
        "incremental_corpus_dedup",
        "token_budget_sample",
        "source_quality_gate",
        "strip_boilerplate",
    ]
    q_times: dict[str, float] = {}
    q_samples: dict[str, list[float]] = {}
    for name in headline:
        # best-of-3: the VM throttles under sustained load — the same
        # warm query has measured 2.3s and 9.7s minutes apart, so two
        # samples are not enough to reliably catch a clean one
        samples = []
        for _ in range(3):
            t0 = time.time()
            # full collect (results are small) so no column gets pruned away
            n = len(QUERIES[name](spark, sf_dir).collect())
            samples.append(time.time() - t0)
        q_times[name] = round(min(samples), 3)
        q_samples[name] = [round(s, 3) for s in samples]
        log(f"{name}: {q_times[name]}s ({n} rows) samples={q_samples[name]}")

    # -- full training-set build at bench scale --
    # The one-entry-point curation stack (quality+strip+gate → exact-
    # first LSH dedup → decontaminate → per-host budget → split →
    # parquet + lineage): the number a real user of this engine cares
    # about most.  Best-of-2 (a build is ~4 pipeline-equivalents of
    # work; two samples bound host drift without doubling bench wall
    # time).  Lineage conservation is asserted here so the recorded
    # wall time is for a build whose counts verifiably partition.
    build_samples: list[float] = []
    build_lineage: dict[str, int] = {}
    for _ in range(2):
        build_dir = tempfile.mkdtemp(prefix="wtq_bench_build_")
        t0 = time.time()
        res = build_training_set(spark, pages_path, f"{build_dir}/corpus")
        lineage = {r.stage: r.n_docs for r in res.lineage.collect()}
        build_samples.append(time.time() - t0)
        shutil.rmtree(build_dir, ignore_errors=True)
        build_lineage = lineage
        log(f"  training_set_build sample: {build_samples[-1]:.2f}s lineage={lineage}")
    doc_stages = [k for k in sorted(build_lineage) if not k.startswith("6")]
    for a, b in zip(doc_stages, doc_stages[1:]):
        if b != "50_written":
            assert build_lineage[a] >= build_lineage[b], (a, b, build_lineage)
    assert build_lineage["50_written"] == build_lineage["40_after_budget"] > 0
    q_times["training_set_build"] = round(min(build_samples), 3)
    q_samples["training_set_build"] = [round(s, 3) for s in build_samples]
    log(f"training_set_build: {q_times['training_set_build']}s")

    # Window 2: interleaved A/B ×2 — second sampling window ~minutes
    # later (same two-window protocol as round 4; best across both is
    # the headline, first-window best-of-3 goes to the side file for
    # like-for-like comparison against single-window rounds).
    for _ in range(2):
        sec_i, _n = one_pipeline_run()
        pipeline_samples.append(sec_i)
        ab_order.append("flagless")
        sec_c = one_curated_run()
        curated_samples.append(sec_c)
        ab_order.append("curated")
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(cur_out, ignore_errors=True)
    pipeline_sec = min(pipeline_samples)
    docs_per_sec = n_docs / pipeline_sec
    q_times["pipeline"] = round(pipeline_sec, 3)
    q_samples["pipeline"] = [round(s, 3) for s in pipeline_samples]
    q_times["pipeline_curated"] = round(min(curated_samples), 3)
    q_samples["pipeline_curated"] = [round(s, 3) for s in curated_samples]
    log(f"pipeline (both windows): best {pipeline_sec:.2f}s = {docs_per_sec:.0f} docs/sec")
    log(f"pipeline_curated: best {q_times['pipeline_curated']}s samples={q_samples['pipeline_curated']}")

    # Noise summary so round-over-round comparisons can tell drift from
    # regression: rel_spread = (max - min) / min per query over the
    # warm samples.  A query whose round delta is inside its own spread
    # is noise, not a code change.  Guard the denominator: a sub-ms
    # sample rounds to 0.0 in q_samples, and a ZeroDivisionError here
    # would discard the whole already-measured result.
    spreads = {
        name: round((max(s) - min(s)) / max(min(s), 1e-6), 3)
        for name, s in q_samples.items()
    }
    ranked = sorted(spreads.values())
    noise = {
        "median_rel_spread": ranked[len(ranked) // 2],
        "max_rel_spread": max(spreads.items(), key=lambda kv: kv[1]),
    }
    log(f"noise: {noise}")

    # Side file: everything the compact driver line omits.
    os.makedirs(os.path.dirname(samples_out), exist_ok=True)
    with open(samples_out, "w") as f:
        json.dump(
            {
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "cpus": cpus,
                "n_docs": n_docs,
                "query_samples": q_samples,
                "rel_spread": spreads,
                "noise": noise,
                "pipeline_first_window_best3": round(first_window_best, 3),
                "ab_interleave_order": ab_order,
                "curated_over_flagless_best_ratio": round(
                    min(curated_samples) / pipeline_sec, 3
                ),
                "training_set_build_lineage": build_lineage,
            },
            f,
            indent=1,
        )
    log(f"samples written: {samples_out}")

    # COMPACT final line — the driver tail-captures and parses this.
    print(
        json.dumps(
            {
                "metric": "pipeline_docs_per_sec",
                "value": round(docs_per_sec, 1),
                "unit": "docs/sec",
                "queries": q_times,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "cpus": cpus,
                "n_docs": n_docs,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
