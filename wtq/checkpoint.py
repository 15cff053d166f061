"""Chunked checkpoint/resume execution.

Resumability substitutes for streaming state (SURVEY.md §2.9): the
url-space is split into N deterministic chunks by murmur3(url) mod N;
each chunk's four outputs (``PipelineResult.write``) are written to
its own directory and sealed with a commit marker that records the
chunk count N, mirroring the reference's drop-and-recreate idempotence (``drop table if exists``
before every CTAS stage — SURVEY.md §7 hard-part 4).  A re-run skips
sealed chunks and overwrites unsealed ones, so a kill at any point
never double counts: metrics live in the same per-chunk commit as the
data.  Chunk k of one N is not chunk k of another, so a re-run with a
different N, or a read of chunks sealed under two counts, raises
``ValueError`` instead of mixing them.  Paths go through Hadoop's FileSystem API, so a local path and
any URI the session can write (``file://``, ``s3a://``, …) both work.

Scale notes (10^12 docs): the chunk predicate ``murmur3(url) % N = k``
maps to Iceberg's ``bucket(url, N)`` partition transform, so each
chunk read is partition pruning, not a full scan.  On a plain parquet
input (the only one here) each chunk read is a full scan, N in all.
Chunk count N is the resume granularity — pick N ≈ cluster-hours of
work / desired checkpoint interval.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wtq.pipeline import PipelineResult, decide

MARKER = "_WTQ_COMMITTED"


def chunk_expr(n_chunks: int):
    return F.pmod(F.hash(F.col("url")), F.lit(n_chunks))


def _marker(spark: SparkSession, out_dir: str, k: int):
    """(FileSystem, Path) of chunk k's commit marker."""
    path = spark._jvm.org.apache.hadoop.fs.Path(f"{out_dir}/chunk={k}/{MARKER}")
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), path


def _sealed(spark: SparkSession, out_dir: str) -> dict[int, int]:
    """chunk -> the chunk count its commit marker records, for the
    chunks under `out_dir` that carry one: one FileSystem listing of
    ``chunk=*/MARKER`` (empty when nothing matches), then one read per
    marker.  Raises ValueError when the sealed chunks record more than
    one count."""
    pattern = spark._jvm.org.apache.hadoop.fs.Path(f"{out_dir}/chunk=*/{MARKER}")
    fs = pattern.getFileSystem(spark._jsc.hadoopConfiguration())
    sealed = {}
    for st in fs.globStatus(pattern) or []:
        stream = fs.open(st.getPath())
        try:
            recorded = bytes(stream.readAllBytes()).decode()
        finally:
            stream.close()
        k = int(st.getPath().getParent().getName().split("=", 1)[1])
        if not recorded.strip().isdigit():
            raise ValueError(f"chunk {k} under {out_dir} is sealed without a chunk count")
        sealed[k] = int(recorded)
    counts = sorted(set(sealed.values()))
    if len(counts) > 1:
        raise ValueError(
            f"{out_dir} holds chunks sealed with {counts[0]} and with {counts[1]} chunks"
        )
    return dict(sorted(sealed.items()))


def committed_chunks(spark: SparkSession, out_dir: str, n_chunks: int) -> list[int]:
    """The sealed chunks of an `n_chunks`-chunk run under `out_dir`;
    raises ValueError when they were sealed with another chunk count."""
    sealed = _sealed(spark, out_dir)
    other = set(sealed.values()) - {n_chunks}
    if other:
        raise ValueError(
            f"{out_dir} holds chunks sealed with {other.pop()} chunks, not {n_chunks}"
        )
    return list(sealed)


def run_checkpointed(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    n_chunks: int = 8,
) -> list[int]:
    """Run the pipeline chunk-by-chunk with commit markers; returns the
    list of chunks computed in THIS invocation (sealed ones skipped).
    Raises ValueError when `out_dir` holds chunks sealed with another
    `n_chunks`.

    Corpus-scope curation passes (strip_boilerplate / host_gate in
    run_pipeline) are deliberately NOT chunked here: their statistics
    span the whole corpus, so a resumable curation build computes them
    in a dedicated pass first (strip_boilerplate_lines' hot set /
    source_quality_gate's verdict table are both small at-rest tables)
    and applies them per chunk — per-chunk recomputation would change
    results with N and break the sealed-chunk determinism contract."""
    pages = spark.read.parquet(pages_path)
    sealed = set(committed_chunks(spark, out_dir, n_chunks))
    done: list[int] = []
    for k in range(n_chunks):
        if k in sealed:
            continue
        chunk = pages.filter(chunk_expr(n_chunks) == k)
        PipelineResult(decide(chunk)).write(f"{out_dir}/chunk={k}")
        fs, marker = _marker(spark, out_dir, k)
        stream = fs.create(marker, True)
        stream.write(str(n_chunks).encode())
        stream.close()
        done.append(k)
    return done


def read_chunks(spark: SparkSession, out_dir: str, name: str) -> DataFrame:
    """Output `name` (decided / decisions / scrubbed / metrics) of the
    sealed chunks, with `chunk` as an int column read from the
    directory name.  A chunk whose write was cut off has no marker and
    is not read, so `decided` and `metrics` always cover the same
    chunks; raises FileNotFoundError when no chunk is sealed and
    ValueError when the sealed chunks record different chunk counts."""
    sealed = _sealed(spark, out_dir)
    if not sealed:
        raise FileNotFoundError(f"no sealed chunk under {out_dir}")
    paths = [f"{out_dir}/chunk={k}/{name}" for k in sealed]
    return spark.read.option("basePath", out_dir).parquet(*paths)
