"""Self-tests of the benchmark: seeded inputs, live checks, declared
metrics.  Run with `python3 -m pytest perfbench -q` from the
repository root; the last test runs the benchmark once (about a
minute)."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, corpus, layers, run  # noqa: E402

# digest of the seed-0 pages table: row for row the table wtq.generate
# builds from the sf0.1 testdata documents
SEED0_PAGES_DIGEST = "bb432121ff78ba3f3d36504a9068510de623d6fc450fab4787b747b0c4f55640"


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _digest(df: pd.DataFrame) -> str:
    return hashlib.sha256(pd.util.hash_pandas_object(df, index=False).values.tobytes()).hexdigest()


def test_seed_reproduces_pages(tmp_path):
    a = pd.read_parquet(corpus.ensure_seeded_pages(0, str(tmp_path / "a")))
    b = pd.read_parquet(corpus.ensure_seeded_pages(0, str(tmp_path / "b")))
    assert _digest(a) == _digest(b) == SEED0_PAGES_DIGEST


def test_other_seed_changes_urls_not_mix(tmp_path):
    a = pd.read_parquet(corpus.ensure_seeded_pages(0, str(tmp_path)))
    b = pd.read_parquet(corpus.ensure_seeded_pages(7, str(tmp_path)))
    assert not set(a.url) & set(b.url)
    assert len(a) == len(b)
    assert a.lang.value_counts().equals(b.lang.value_counts())


def test_oracle_split_over_workers_matches_one_process(tmp_path):
    pages = corpus.ensure_seeded_pages(0, str(tmp_path))
    one = corpus.oracle_reference(0, str(tmp_path / "one"), pages, workers=1)
    four = corpus.oracle_reference(0, str(tmp_path / "four"), pages, workers=4)
    assert len(one) == pd.read_parquet(pages, columns=["url"]).url.nunique()
    pd.testing.assert_frame_equal(one, four)


def test_seed_out_of_range_rejected(tmp_path):
    with pytest.raises(ValueError):
        corpus.seed_dir(str(tmp_path), -1)


# ---- checks reject corrupted outputs ----------------------------------------


def _filter_outputs():
    ref = pd.DataFrame(
        {
            "url": ["u1", "u2", "u3"],
            "keep": [True, False, True],
            "fired_rules": [[], ["Q-1"], []],
            "text_sha256": ["h1", "h2", "h3"],
        }
    )
    decisions = ref[["url", "keep", "fired_rules"]].copy()
    scrubbed = ref.loc[ref.keep, ["url", "text_sha256"]].copy()
    metrics = pd.DataFrame(
        {"partition_id": [0, 1], "n_input": [2, 1], "n_keep": [1, 1], "n_drop": [1, 0]}
    )
    return decisions, scrubbed, metrics, ref


def test_check_filter_accepts_and_rejects():
    decisions, scrubbed, metrics, ref = _filter_outputs()
    assert checks.check_filter(decisions, scrubbed, metrics, ref) == []
    flipped = decisions.copy()
    flipped.loc[0, "keep"] = False
    assert checks.check_filter(flipped, scrubbed, metrics, ref)
    wrong_sha = scrubbed.copy()
    wrong_sha.iloc[0, 1] = "other"
    assert checks.check_filter(decisions, wrong_sha, metrics, ref)
    leaky = metrics.copy()
    leaky.loc[0, "n_drop"] = 0
    assert checks.check_filter(decisions, scrubbed, leaky, ref)


def test_check_curate_accepts_and_rejects():
    _, _, _, ref = _filter_outputs()
    decided = ref[["url", "keep", "fired_rules"]].copy()
    decided["n_boiler_removed"] = [0, 0, 2]
    decided["host_gated"] = [False, False, False]
    metrics = pd.DataFrame(
        {
            "n_input": [3],
            "n_keep": [2],
            "n_drop": [1],
            "n_boiler_lines_removed": [2],
            "n_host_gated": [0],
        }
    )
    assert checks.check_curate(decided, metrics, ref) == []
    flipped = decided.copy()
    flipped.loc[0, "keep"] = False
    assert checks.check_curate(flipped, metrics, ref)
    gated = decided.copy()
    gated.loc[0, ["keep", "host_gated"]] = [False, True]
    assert checks.check_curate(gated, metrics, ref)  # metrics miss the gated doc


def _build_outputs():
    lineage = {
        "00_input": 10,
        "10_quality_kept": 6,
        "20_after_dedup": 5,
        "30_after_decontam": 4,
        "40_after_budget": 3,
        "50_written": 3,
        "60_lsh_over_cap_buckets": 0,
        "61_lsh_max_bucket_size": 2,
    }
    written = pd.DataFrame({"url": ["a", "b", "c"], "split": ["train", "train", "val"]})
    return lineage, written


def test_check_build_accepts_and_rejects():
    lineage, written = _build_outputs()
    assert checks.check_build(lineage, written, None) == []
    first = checks.split_membership(written)
    assert checks.check_build(lineage, written, first) == []
    assert checks.check_build(lineage, written.iloc[1:], first)  # a dropped split row
    moved = written.copy()
    moved.loc[2, "split"] = "test"
    assert checks.check_build(lineage, moved, first)
    assert checks.check_build({**lineage, "30_after_decontam": 6}, written, first)


class _FakeWorkload:
    def __init__(self, problems=(), raises=False):
        self.problems, self.raises = list(problems), raises

    def iterate(self, spark, out):
        if self.raises:
            raise RuntimeError("iteration failed")

    def check(self, spark, out, result):
        return self.problems


def test_failed_iterations_are_counted(tmp_path):
    tally = run.Tally()
    assert run.attempt(_FakeWorkload(), None, str(tmp_path), tally) is not None
    assert run.attempt(_FakeWorkload(["flipped keep"]), None, str(tmp_path), tally) is None
    assert run.attempt(_FakeWorkload(raises=True), None, str(tmp_path), tally) is None
    assert (tally.attempted, tally.failed) == (3, 2)
    assert os.listdir(tmp_path) == []


# ---- declarations -----------------------------------------------------------


def test_per_layer_declared_with_should_move():
    names = [m["name"] for m in _benchmark_json()["per_layer"]]
    assert len(names) == len(set(names))
    assert set(names) == set(layers.SHOULD_MOVE)


def test_undeclared_metric_is_refused():
    with pytest.raises(RuntimeError):
        run.result_line({"docs_per_s": 1.0, "bogus_s": 1.0}, "end_to_end", 1, 0)


def test_build_sections_cover_every_stage():
    assert set(layers.build_line_stages().values()) == {
        "quality", "dedup", "decontam", "budget", "write"
    }


def test_attribution_is_exclusive():
    tr = layers.ActionTracer()
    tr.start, tr.end = 0.0, 10.0
    tr.spans = [
        layers.Span(1.0, 4.0, True, "DataFrame.count", "wtq/build.py:1", 1),
        layers.Span(3.0, 6.0, False, "DataFrame.count", "unlabelled", None),
        layers.Span(7.0, 8.0, True, "DataFrameWriter.parquet", "wtq/build.py:2", 2),
    ]
    out = layers.attribute(tr, lambda s: {1: "quality", 2: "write"}.get(s.build_line))
    assert out == {"unattributed": 4.0, "quality": 3.0, "lineage": 2.0, "write": 1.0}


def test_benchmark_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "filter", "--seed", "0",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_run_prints_every_declared_metric():
    spec = _benchmark_json()
    p = subprocess.run(
        [*spec["command"], "--workload", spec["workloads"][0]["name"], "--seed", "0",
         "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    line = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] and line["failed"] == 0
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == units
    assert all(v["value"] > 0 for v in line["metrics"].values())
