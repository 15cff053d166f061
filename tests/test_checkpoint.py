"""Kill-and-resume test (SURVEY.md §5.5): fail mid-run, rerun, assert
identical final output and conserved metrics with no double counting,
on a plain local path and on a Hadoop ``file://`` URI; a chunk whose
write was cut off is never read, and a resume with another chunk
count is refused."""

from __future__ import annotations

import os

import pytest

from wtq.checkpoint import MARKER, committed_chunks, read_chunks, run_checkpointed
from wtq.pipeline import PipelineResult, run_pipeline

N_CHUNKS = 4


@pytest.mark.parametrize("uri", [False, True], ids=["path", "file_uri"])
def test_kill_and_resume(spark, pages_path, tmp_path, monkeypatch, uri):
    local = str(tmp_path / "ckpt")
    out = f"file://{local}" if uri else local
    pages = f"file://{pages_path}" if uri else pages_path

    # first run dies inside chunk 2's write, after its `decided` landed
    write = PipelineResult.write

    def killed_in_chunk_2(self, out_dir):
        if not out_dir.endswith("chunk=2"):
            return write(self, out_dir)
        self.decided.write.mode("overwrite").parquet(f"{out_dir}/decided")
        raise RuntimeError("killed")

    monkeypatch.setattr(PipelineResult, "write", killed_in_chunk_2)
    with pytest.raises(RuntimeError, match="killed"):
        run_checkpointed(spark, pages, out, n_chunks=N_CHUNKS)
    monkeypatch.undo()
    assert committed_chunks(spark, out, N_CHUNKS) == [0, 1]
    # the unsealed chunk is on disk but not read: decided and metrics
    # of what was read cover the same chunks
    assert os.path.isdir(os.path.join(local, "chunk=2", "decided"))
    decided = read_chunks(spark, out, "decided")
    assert {r.chunk for r in decided.select("chunk").distinct().collect()} == {0, 1}
    n_input = read_chunks(spark, out, "metrics").agg({"n_input": "sum"}).first()[0]
    assert decided.count() == n_input
    mtimes = {
        k: os.path.getmtime(os.path.join(local, f"chunk={k}", "_WTQ_COMMITTED"))
        for k in (0, 1)
    }

    # resume: only the remaining chunks run
    done = run_checkpointed(spark, pages, out, n_chunks=N_CHUNKS)
    assert done == [2, 3]
    assert committed_chunks(spark, out, N_CHUNKS) == [0, 1, 2, 3]
    for k, m in mtimes.items():
        assert os.path.getmtime(os.path.join(local, f"chunk={k}", "_WTQ_COMMITTED")) == m

    # every chunk holds the four outputs of a one-shot write
    for k in range(N_CHUNKS):
        assert {"decided", "decisions", "scrubbed", "metrics"} <= set(
            os.listdir(os.path.join(local, f"chunk={k}"))
        )

    # final output identical to a single-shot run
    got = (
        read_chunks(spark, out, "decisions")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    ref = (
        run_pipeline(spark, pages_path)
        .decided.select("url", "keep", "fired_rules")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    assert got.url.tolist() == ref.url.tolist()
    assert got.keep.tolist() == ref.keep.tolist()
    assert [list(a) for a in got.fired_rules] == [list(a) for a in ref.fired_rules]
    assert set(got.chunk) == set(range(N_CHUNKS))

    # metrics conserved across chunks — no double counting; the chunk
    # column comes from the directory name, last
    metrics = read_chunks(spark, out, "metrics")
    assert metrics.columns[-1] == "chunk"
    assert dict(metrics.dtypes)["chunk"] == "int"
    m = metrics.toPandas()
    assert int(m.n_input.sum()) == len(ref)
    assert int(m.n_keep.sum()) == int(ref.keep.sum())
    assert read_chunks(spark, out, "decided").count() == len(ref)

    # second resume is a no-op
    assert run_checkpointed(spark, pages, out, n_chunks=N_CHUNKS) == []


def test_read_chunks_skips_unsealed(spark, tmp_path):
    """read_chunks reads exactly the chunks that carry a commit marker,
    and raises when there is none."""
    out = str(tmp_path / "ckpt")
    with pytest.raises(FileNotFoundError):
        read_chunks(spark, out, "decided")
    for k in range(3):
        spark.range(10 * k, 10 * k + 10).write.parquet(f"{out}/chunk={k}/decided")
    for k in (0, 1):
        with open(os.path.join(out, f"chunk={k}", MARKER), "w") as f:
            f.write("3")  # a seal records the chunk count
    assert committed_chunks(spark, out, 3) == [0, 1]
    got = read_chunks(spark, out, "decided")
    assert dict(got.dtypes)["chunk"] == "int"
    assert sorted((r.id, r.chunk) for r in got.collect()) == [
        (i, i // 10) for i in range(20)
    ]


def test_resume_with_another_chunk_count_raises(spark, pages_path, tmp_path, monkeypatch):
    """Chunk k of a 4-chunk run is not chunk k of a 2-chunk run: a
    resume with another n_chunks raises instead of skipping chunks
    sealed under the old count, and read_chunks refuses chunks sealed
    under two counts."""
    out = str(tmp_path / "ckpt")
    write = PipelineResult.write

    def killed_in_chunk_2(self, out_dir):
        if out_dir.endswith("chunk=2"):
            raise RuntimeError("killed")
        return write(self, out_dir)

    monkeypatch.setattr(PipelineResult, "write", killed_in_chunk_2)
    with pytest.raises(RuntimeError, match="killed"):
        run_checkpointed(spark, pages_path, out, n_chunks=N_CHUNKS)
    monkeypatch.undo()
    assert committed_chunks(spark, out, N_CHUNKS) == [0, 1]

    with pytest.raises(ValueError, match=f"{N_CHUNKS} chunks, not 2"):
        run_checkpointed(spark, pages_path, out, n_chunks=2)
    with pytest.raises(ValueError, match=f"{N_CHUNKS} chunks, not 2"):
        committed_chunks(spark, out, 2)

    # reseal chunk 1 as if by a 2-chunk run (dropping the local
    # filesystem's checksum of the old marker)
    os.remove(os.path.join(out, "chunk=1", f".{MARKER}.crc"))
    with open(os.path.join(out, "chunk=1", MARKER), "w") as f:
        f.write("2")
    with pytest.raises(ValueError, match=f"sealed with 2 and with {N_CHUNKS} chunks"):
        read_chunks(spark, out, "decided")
