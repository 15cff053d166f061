"""Seeded pages corpus and the cached oracle reference.

wtq.generate derives every page from a (doc_id, lang) skeleton table.
The skeleton of the sf0.1 `documents` table is kept in
`docs_sf0.1.tsv` next to this file, so a run reads no data outside its
checkout.  The seed shifts every doc_id by `seed * SEED_STRIDE`.
SEED_STRIDE is a multiple of 57, so each page keeps its feature class
(key % 19) and its companion-page rule (key % 3).  Every seed therefore
has the same 19-class mix and the same row count, with other urls,
hosts and texts.  Seed 0 is the unshifted table.

Everything generated goes under a cache directory keyed by a digest of
the sources that define it, so a change to the generator, the rules or
the oracle never reads a stale copy.
"""

from __future__ import annotations

import hashlib
import multiprocessing
import os
from concurrent.futures import ProcessPoolExecutor

import pandas as pd

from wtq.generate import ensure_pages

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SKELETON = os.path.join(os.path.dirname(os.path.abspath(__file__)), "docs_sf0.1.tsv")
# one copy of the skeleton (5,614 pages): with more, a timed run's cold
# set-up and warm iterations outgrow its share of the benchmark budget
REPLICATE = 1
# a multiple of 57 = 19 * 3, and larger than any skeleton doc_id, so
# two seeds share no page key
SEED_STRIDE = 57 * 1_000_000
MAX_SEED = 2**31

# sources whose change must invalidate the cache
_CACHE_SOURCES = ("wtq/generate.py", "wtq/rules", "oracle/oracle.py")


def _source_digest() -> str:
    h = hashlib.sha256()
    with open(SKELETON, "rb") as f:
        h.update(f.read())
    for rel in _CACHE_SOURCES:
        path = os.path.join(ROOT, rel)
        files = (
            sorted(os.path.join(path, n) for n in os.listdir(path) if n.endswith(".py"))
            if os.path.isdir(path)
            else [path]
        )
        for fp in files:
            h.update(os.path.relpath(fp, ROOT).encode())
            with open(fp, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def seed_dir(cache_root: str, seed: int) -> str:
    if not 0 <= seed < MAX_SEED:
        raise ValueError(f"seed must be in [0, {MAX_SEED}), got {seed}")
    return os.path.join(cache_root, _source_digest(), f"seed{seed}")


def seeded_documents(seed: int) -> pd.DataFrame:
    docs = pd.read_csv(SKELETON, sep="\t", dtype={"doc_id": "int64", "lang": "str"})
    docs["doc_id"] += seed * SEED_STRIDE
    return docs


def _write_atomic(df: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    df.to_parquet(tmp, index=False)
    os.replace(tmp, path)


def ensure_seeded_pages(seed: int, cache_root: str) -> str:
    """Write (once) the seed's documents skeleton and pages table under
    `cache_root`; return the pages parquet path."""
    d = seed_dir(cache_root, seed)
    # the directory name is the sf tag ensure_pages puts into its own
    # cache path, as for the sf0.1 testdata directory
    sf_dir = os.path.join(d, "sf0.1")
    docs_path = os.path.join(sf_dir, "documents.parquet")
    if not os.path.exists(docs_path):
        _write_atomic(seeded_documents(seed), docs_path)
    return ensure_pages(sf_dir, replicate=REPLICATE, cache_root=d)


def _oracle_part(pages: pd.DataFrame) -> pd.DataFrame:
    from oracle.oracle import oracle_decide

    return oracle_decide(pages)[["url", "keep", "fired_rules", "text_sha256"]]


def oracle_reference(seed: int, cache_root: str, pages_path: str, workers: int) -> pd.DataFrame:
    """(url, keep, fired_rules, text_sha256) from oracle.oracle_decide
    on the seed's pages, computed once per seed and cached.  The oracle
    decides each url on its own crawl rows, so the pages are split by
    url over `workers` processes."""
    path = os.path.join(seed_dir(cache_root, seed), "oracle.parquet")
    if not os.path.exists(path):
        pages = pd.read_parquet(pages_path)
        part = pd.util.hash_pandas_object(pages.url, index=False) % workers
        parts = [pages[part == i] for i in range(workers)]
        ctx = multiprocessing.get_context("fork")
        with ProcessPoolExecutor(workers, mp_context=ctx) as pool:
            ref = pd.concat(pool.map(_oracle_part, parts), ignore_index=True)
        _write_atomic(ref.sort_values("url", ignore_index=True), path)
    return pd.read_parquet(path)
