"""Correctness checks for the three workloads' outputs.

Each check takes the outputs as pandas frames, read back after the
timed span, and returns a list of problems; an empty list means the
iteration is correct.  They are pure functions, so the self-tests can
feed them deliberately corrupted outputs.
"""

from __future__ import annotations

import pandas as pd

BUILD_DOC_STAGES = (
    "00_input",
    "10_quality_kept",
    "20_after_dedup",
    "30_after_decontam",
    "40_after_budget",
    "50_written",
)
SPLITS = frozenset({"train", "val", "test"})


def _rules(v) -> tuple[str, ...]:
    return tuple(v) if v is not None else ()


def _url_set_problems(got: pd.DataFrame, ref: pd.DataFrame, what: str) -> list[str]:
    problems = []
    n_dup = int(got.url.duplicated().sum())
    if n_dup:
        problems.append(f"{what}: {n_dup} duplicate urls")
    only_got = len(set(got.url) - set(ref.url))
    only_ref = len(set(ref.url) - set(got.url))
    if only_got or only_ref:
        problems.append(
            f"{what}: {only_got} urls not in the reference, {only_ref} reference urls missing"
        )
    return problems


def _conservation(
    metrics: pd.DataFrame,
    n_docs: int,
    n_keep: int,
    n_host_gated: int | None = None,
    n_boiler_lines: int | None = None,
) -> list[str]:
    s = metrics.sum(numeric_only=True)
    problems = []
    if int(s["n_input"]) != n_docs:
        problems.append(f"metrics: n_input {int(s['n_input'])} != {n_docs} decided docs")
    if int(s["n_keep"] + s["n_drop"]) != int(s["n_input"]):
        problems.append("metrics: n_keep + n_drop != n_input")
    if int(s["n_keep"]) != n_keep:
        problems.append(f"metrics: n_keep {int(s['n_keep'])} != {n_keep}")
    if n_host_gated is not None and int(s["n_host_gated"]) != n_host_gated:
        problems.append(f"metrics: n_host_gated {int(s['n_host_gated'])} != {n_host_gated}")
    if n_boiler_lines is not None and int(s["n_boiler_lines_removed"]) != n_boiler_lines:
        problems.append(
            f"metrics: n_boiler_lines_removed {int(s['n_boiler_lines_removed'])} != {n_boiler_lines}"
        )
    return problems


def check_filter(
    decisions: pd.DataFrame,
    scrubbed: pd.DataFrame,
    metrics: pd.DataFrame,
    ref: pd.DataFrame,
) -> list[str]:
    """`decisions` (url, keep, fired_rules) and `scrubbed` (url,
    text_sha256) must equal the oracle reference `ref` (url, keep,
    fired_rules, text_sha256); `metrics` must conserve documents."""
    problems = _url_set_problems(decisions, ref, "decisions")
    m = decisions.merge(ref, on="url", suffixes=("", "_ref"))
    n_keep = int((m.keep != m.keep_ref).sum())
    if n_keep:
        problems.append(f"decisions: keep differs from the oracle on {n_keep} urls")
    n_rules = sum(_rules(a) != _rules(b) for a, b in zip(m.fired_rules, m.fired_rules_ref))
    if n_rules:
        problems.append(f"decisions: fired_rules differ from the oracle on {n_rules} urls")
    exp = ref.loc[ref.keep, ["url", "text_sha256"]]
    if len(scrubbed) != len(exp) or set(zip(scrubbed.url, scrubbed.text_sha256)) != set(
        zip(exp.url, exp.text_sha256)
    ):
        problems.append("scrubbed: (url, text_sha256) differs from the oracle's kept docs")
    return problems + _conservation(metrics, len(ref), int(ref.keep.sum()))


def check_curate(decided: pd.DataFrame, metrics: pd.DataFrame, ref: pd.DataFrame) -> list[str]:
    """`decided` (url, keep, fired_rules, n_boiler_removed, host_gated)
    of the curated pipeline.  Documents the boilerplate strip left
    untouched must carry the oracle's rules, and their keep must be the
    oracle's keep minus the host gate."""
    problems = _url_set_problems(decided, ref, "decided")
    m = decided.merge(ref[["url", "keep", "fired_rules"]], on="url", suffixes=("", "_ref"))
    plain = m[m.n_boiler_removed == 0]
    if plain.empty:
        problems.append("decided: no document left unstripped, nothing to compare")
    n_rules = sum(
        _rules(a) != _rules(b) for a, b in zip(plain.fired_rules, plain.fired_rules_ref)
    )
    if n_rules:
        problems.append(f"decided: fired_rules differ from the oracle on {n_rules} unstripped urls")
    n_keep = int((plain.keep != (plain.keep_ref & ~plain.host_gated)).sum())
    if n_keep:
        problems.append(
            f"decided: keep != oracle keep and not host_gated on {n_keep} unstripped urls"
        )
    gated_bad = m.host_gated & (m.keep | m.fired_rules.map(lambda v: len(_rules(v)) > 0))
    if gated_bad.any():
        problems.append(f"decided: {int(gated_bad.sum())} host-gated urls are kept or rule-dropped")
    return problems + _conservation(
        metrics,
        len(ref),
        int(decided.keep.sum()),
        n_host_gated=int(decided.host_gated.sum()),
        n_boiler_lines=int(decided.n_boiler_removed.sum()),
    )


def split_membership(written: pd.DataFrame) -> frozenset[tuple[str, str]]:
    return frozenset(zip(written.url, written.split.astype(str)))


def check_build(
    lineage: dict[str, int],
    written: pd.DataFrame,
    first: frozenset[tuple[str, str]] | None,
) -> list[str]:
    """`lineage` is the build's (stage -> n_docs) table and `written`
    the (url, split) rows of its output; `first` is the split
    membership of the run's first build, or None for that build."""
    missing = [s for s in BUILD_DOC_STAGES if s not in lineage]
    if missing:
        return [f"lineage: stages missing: {missing}"]
    problems = []
    stages = sorted(k for k in lineage if not k.startswith("6"))
    for a, b in zip(stages, stages[1:]):
        if b != "50_written" and lineage[a] < lineage[b]:
            problems.append(f"lineage: {a}={lineage[a]} < {b}={lineage[b]}")
    if not lineage["50_written"] == lineage["40_after_budget"] > 0:
        problems.append("lineage: 50_written != 40_after_budget or no document written")
    if len(written) != lineage["50_written"]:
        problems.append(f"splits: {len(written)} rows written, lineage says {lineage['50_written']}")
    n_dup = int(written.url.duplicated().sum())
    if n_dup:
        problems.append(f"splits: {n_dup} urls in more than one split row")
    if not set(written.split.astype(str)) <= SPLITS:
        problems.append(f"splits: unexpected split names {sorted(set(written.split.astype(str)))}")
    if first is not None and split_membership(written) != first:
        problems.append("splits: membership differs from the run's first build")
    return problems
