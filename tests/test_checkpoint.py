"""Kill-and-resume test (SURVEY.md §5.5): fail mid-run, rerun, assert
identical final output and conserved metrics with no double counting,
on a plain local path and on a Hadoop ``file://`` URI."""

from __future__ import annotations

import os

import pytest

from wtq.checkpoint import (
    InjectedFailure,
    committed_chunks,
    read_chunks,
    run_checkpointed,
)
from wtq.pipeline import run_pipeline

N_CHUNKS = 4


@pytest.mark.parametrize("uri", [False, True], ids=["path", "file_uri"])
def test_kill_and_resume(spark, pages_path, tmp_path, uri):
    local = str(tmp_path / "ckpt")
    out = f"file://{local}" if uri else local
    pages = f"file://{pages_path}" if uri else pages_path

    # first run dies after chunk 1
    with pytest.raises(InjectedFailure):
        run_checkpointed(spark, pages, out, n_chunks=N_CHUNKS, fail_after_chunk=1)
    assert committed_chunks(spark, out, N_CHUNKS) == [0, 1]
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
