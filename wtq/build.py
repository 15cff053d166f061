"""End-to-end training-data build: ONE entry point composing the whole
curation stack the way a production corpus build runs it.

    pages ─ quality filter (+ boilerplate strip, + host gate)
          ─ near-dup removal (exact-first LSH clusters, keep min-id rep)
          ─ benchmark decontamination (held-out hash-slice of the corpus)
          ─ per-host token budget
          ─ train/val/test split (url-hash buckets; leakage bounded by
            the upstream dedup stage — see build_training_set)
          → parquet per split + a one-row-per-stage lineage table

Every stage is individually oracle-gated elsewhere (wtq.queries /
tests); this module adds the composition contract: stages only remove
documents (conservation), the split partitions the survivors exactly,
and the whole build is a pure function of its input (content-hash
ordering everywhere — rerunning yields byte-identical membership).

Scale shape: each stage is the operator documented in SCALE.md; the
composition adds no new shuffle beyond its stages (the lineage table
is a union of per-stage counts — driver-sized, never data).  The LSH
bucket-occupancy audit (over-cap bucket count and max bucket size in
the lineage — the observability a production dedup run wants) reads
the dedup stage's own materialized ids-only bucket table, so it adds
one small aggregation, not a second signature pass."""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wtq.operators import curation as C
from wtq.operators.dedup import drop_near_duplicates
from wtq.pipeline import _host, run_pipeline

# one url in BENCH_SLICE_MOD seeds the held-out benchmark slice
# (md5-bucketed — works for string ids, unlike the numeric id-parity
# split of the standalone query demo)
BENCH_SLICE_MOD = 101


@dataclass
class BuildResult:
    lineage: DataFrame  # (stage, n_docs) — doc stages monotone non-increasing


def build_training_set(spark: SparkSession, pages_path: str, out_dir: str) -> BuildResult:
    """Run the full curation stack and write train/val/test parquet.

    A deterministic held-out slice of the corpus itself (md5(url)
    bucket 0 of BENCH_SLICE_MOD) plays the benchmark role and is
    excluded from every split — the self-contained analog of
    decontaminating against a real eval suite.

    The dedup stage's pair expansion and its occupancy audit both read
    `dedup.LSH_BUCKET_CAP`, so the audit always reports on the cap the
    pair stage actually enforced.

    Returns BuildResult with the lineage table;
    splits are written with (url, text, n_tokens) columns.  Lineage has
    two row families: `NN_*` document counts (monotone non-increasing
    through the stages) and `6N_lsh_*` audit gauges (over-cap bucket
    count and max bucket size — NOT document counts).  A document
    stage that keeps nothing raises `ValueError` naming it, before the
    write, so an existing corpus at `out_dir` is left as it was.
    """
    # 1. quality filter with both curation passes.  Round-6: the
    # pipeline's partition count is the configured parallelism —
    # the Arrow score stage is CPU-bound, not byte-bound, so AQE's
    # byte-targeted coalescing of the url exchange under-parallelizes
    # it (measured ~8% on the curated chain at sf1.0); build outputs
    # are partitioning-independent (content-hash membership), so this
    # changes no rows.
    # the 00_input lineage count (distinct urls of the raw input) is
    # independent of every stage — run it from a driver thread so its
    # scan back-fills executors behind the pipeline's stragglers
    # (guide §2.6) instead of serializing at the end
    from concurrent.futures import ThreadPoolExecutor

    _pool = ThreadPoolExecutor(max_workers=4)
    # a raising stage must not leak the pool's threads: cancel what has
    # not started and wait for the running count jobs to return
    try:
        _fut_input = _pool.submit(
            lambda: spark.read.parquet(pages_path).select("url").distinct().count()
        )
        decided = run_pipeline(
            spark,
            pages_path,
            num_partitions=spark.sparkContext.defaultParallelism,
            strip_boilerplate=True,
            host_gate=True,
        ).decided
        kept = decided.filter("keep").select("url", "text")
        # the chain is re-used by several counting/writing consumers below;
        # materialize once (the CTAS-at-fan-out discipline).  Same for the
        # dedup and decontamination survivors: without their checkpoints
        # the lineage counts at the bottom re-executed the LSH + connected-
        # components chain and the decontamination join a second and third
        # time (round-4 advisory — measured as the build's dominant
        # redundant cost at scale).
        kept = kept.localCheckpoint(eager=True)

        # 2. near-dup removal: keep each cluster's min-id representative.
        # The resolution shares ONE materialized bucket table between
        # pair generation and the occupancy stats (round-6: the audit
        # used to re-run the exact-dedup collapse + the whole signature
        # UDF pass a second time — the build's largest redundant cost;
        # the shared table is ids-only, so the checkpoint is cheap and
        # the audited cap is by construction the cap the pair stage
        # enforced).
        deduped, stats = drop_near_duplicates(kept, "url", "text")
        deduped = deduped.localCheckpoint(eager=True)

        # 2b. occupancy audit gauges (see above: measured over the exact-
        # dedup representative set the pair stage consumed).  The bucket
        # table is already materialized at this point, so the histogram
        # aggregation is independent of everything downstream — submit it
        # from a driver thread (guide §2.6) and collect the row when the
        # lineage is assembled.
        _fut_audit = _pool.submit(
            lambda: stats.agg(
                F.coalesce(
                    F.sum(F.when(F.col("over_cap"), F.col("n_buckets"))), F.lit(0)
                ).alias("n_over"),
                F.coalesce(F.max("bucket_size"), F.lit(0)).alias("max_size"),
            ).collect()[0]
        )

        # 3. decontamination
        bench_docs = deduped.filter(C.hash_bucket("url", BENCH_SLICE_MOD) == 0)
        benchmark = C.benchmark_grams(bench_docs, "text")
        candidates = deduped.filter(C.hash_bucket("url", BENCH_SLICE_MOD) != 0)
        hits = C.decontaminate(candidates, "url", "text", benchmark=benchmark)
        clean = candidates.join(hits.select("url"), "url", "left_anti").localCheckpoint(
            eager=True
        )

        # 4. per-host token budget (host = authority component of the url)
        hosted = clean.withColumn("host", _host())
        sampled = C.token_budget_sample(hosted, "url", "text", "host").select(
            "url", "n_tokens"
        )
        final = clean.join(sampled, "url").localCheckpoint(eager=True)

        # 5. train/val/test split: md5(url) buckets (98/1/1), a pure
        # function of the url — stable across reruns and cluster sizes.
        # Leakage: EXACT-duplicate content cannot straddle splits because
        # the upstream exact-dedup stage collapses identical text to one
        # survivor regardless of url; near-duplicates above the LSH
        # threshold are likewise collapsed to one representative.  The
        # residual risk — near-identical content BELOW the similarity
        # threshold (or too short to shingle) surviving under different
        # urls — straddles with probability proportional to the bucket
        # split, and no split key fixes that (a content hash differs on
        # near-identical text too); only a tighter dedup threshold does.
        final = final.withColumn("split", C.split_of("url"))

        # every stage frame is checkpointed at this point, so the four
        # lineage counts are independent tiny jobs — run them
        # concurrently (guide §2.6: back-fill, don't serialize).  They
        # run before the write: an overwrite with nothing would replace
        # a previous corpus with a bare _SUCCESS
        stage_frames = {
            "10_quality_kept": kept,
            "20_after_dedup": deduped,
            "30_after_decontam": clean,
            "40_after_budget": final,
        }
        count_futs = {k: _pool.submit(df.count) for k, df in stage_frames.items()}
        counts = {k: f.result() for k, f in count_futs.items()}
        empty = [k for k, n in sorted(counts.items()) if n == 0]
        if empty:
            raise ValueError(
                f"build stage {empty[0]} kept no documents; {out_dir} was not written"
            )
        final.write.mode("overwrite").partitionBy("split").parquet(out_dir)
        counts["50_written"] = spark.read.parquet(out_dir).count()
        counts["00_input"] = _fut_input.result()
        row = _fut_audit.result()
        counts["60_lsh_over_cap_buckets"] = row.n_over
        counts["61_lsh_max_bucket_size"] = row.max_size
    finally:
        _pool.shutdown(cancel_futures=True)
    lineage = spark.createDataFrame(
        sorted(counts.items()), "stage string, n_docs long"
    )
    return BuildResult(lineage=lineage)
