"""Chunked checkpoint/resume execution.

Resumability substitutes for streaming state (SURVEY.md §2.9): the
url-space is split into N deterministic chunks by murmur3(url) mod N;
each chunk's decided rows + metrics are written to its own directory
and sealed with a commit marker, mirroring the reference's
drop-and-recreate idempotence (``drop table if exists`` before every
CTAS stage — SURVEY.md §7 hard-part 4).  A re-run skips sealed chunks
and overwrites unsealed ones, so a kill at any point never double
counts: metrics live in the same per-chunk commit as the data.

Scale notes (10^12 docs): the chunk predicate ``murmur3(url) % N = k``
maps to Iceberg's ``bucket(url, N)`` partition transform, so each
chunk read is partition pruning, not a full scan (the parquet filter
here is the sandbox stand-in).  Chunk count N is the resume
granularity — pick N ≈ cluster-hours of work / desired checkpoint
interval.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wtq.pipeline import decide, metrics_view

MARKER = "_WTQ_COMMITTED"


class InjectedFailure(RuntimeError):
    """Raised by the test harness to simulate a mid-run crash."""


def chunk_expr(n_chunks: int):
    return F.pmod(F.hash(F.col("url")), F.lit(n_chunks))


def committed_chunks(out_dir: str, n_chunks: int) -> list[int]:
    return [
        k for k in range(n_chunks)
        if os.path.exists(os.path.join(out_dir, f"chunk={k}", MARKER))
    ]


def run_checkpointed(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    n_chunks: int = 8,
    fail_after_chunk: int | None = None,
) -> list[int]:
    """Run the pipeline chunk-by-chunk with commit markers; returns the
    list of chunks computed in THIS invocation (sealed ones skipped).

    Corpus-scope curation passes (strip_boilerplate / host_gate in
    run_pipeline) are deliberately NOT chunked here: their statistics
    span the whole corpus, so a resumable curation build computes them
    in a dedicated pass first (strip_boilerplate_lines' hot set /
    source_quality_gate's verdict table are both small at-rest tables)
    and applies them per chunk — per-chunk recomputation would change
    results with N and break the sealed-chunk determinism contract."""
    pages = spark.read.parquet(pages_path)
    done: list[int] = []
    for k in range(n_chunks):
        chunk_dir = os.path.join(out_dir, f"chunk={k}")
        marker = os.path.join(chunk_dir, MARKER)
        if os.path.exists(marker):
            continue
        chunk = pages.filter(chunk_expr(n_chunks) == k)
        decided = decide(chunk)
        decided.write.mode("overwrite").parquet(os.path.join(chunk_dir, "decided"))
        # metrics in the same commit unit as the data (no double count)
        metrics_view(
            spark.read.parquet(os.path.join(chunk_dir, "decided"))
        ).withColumn("chunk", F.lit(k)).write.mode("overwrite").parquet(
            os.path.join(chunk_dir, "metrics")
        )
        with open(marker, "w") as f:
            f.write("ok\n")
        done.append(k)
        if fail_after_chunk is not None and k >= fail_after_chunk:
            raise InjectedFailure(f"injected failure after chunk {k}")
    return done


def read_decided(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "chunk=*", "decided"))


def read_metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "chunk=*", "metrics"))
