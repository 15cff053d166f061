"""Scale-discipline and property-based tests.

Skew: the generator plants a Zipf host distribution (host0 owns ~22%
of urls). Salted murmur3(url) repartitioning must spread work evenly
anyway (SURVEY.md §7 hard-part 3).

Properties (hypothesis): scrub idempotence and determinism over
adversarial strings — no Spark needed, these gate the pure cores.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from wtq.operators.dedup import CC_SINGLE_TASK_MAX_EDGES
from wtq.pipeline import metrics_view, run_pipeline
from wtq.rules.heuristics import py_stats
from wtq.rules.langid import predict_lang
from wtq.rules.perplexity import char_perplexity
from wtq.rules.scrub import scrub_text


def test_host_skew_broken_by_salted_repartition(spark, pages_path, pages_pdf):
    hosts = pages_pdf.url.str.extract(r"https://([^/]+)/")[0]
    top_share = hosts.value_counts(normalize=True).iloc[0]
    assert top_share > 0.15  # the skew is really planted

    res = run_pipeline(spark, pages_path, num_partitions=8)
    m = metrics_view(res.decided).toPandas()
    assert len(m) == 8
    assert m.n_input.max() / m.n_input.mean() < 1.5  # balanced anyway


TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=400
)


@settings(max_examples=200, deadline=None)
@given(TEXT)
def test_scrub_idempotent_property(t):
    once = scrub_text(t)
    twice = scrub_text(once.text)
    assert once.text.encode("utf-8") == twice.text.encode("utf-8")
    assert twice.n_email == twice.n_phone == twice.n_ip == 0


@settings(max_examples=200, deadline=None)
@given(TEXT)
def test_scorers_total_and_deterministic(t):
    a = (predict_lang(t), char_perplexity(t), py_stats(t))
    b = (predict_lang(t), char_perplexity(t), py_stats(t))
    assert a == b
    lang, margin = a[0]
    assert margin >= 0.0 and a[1] >= 0.0


def test_approx_count_distinct_tolerance(spark):
    """Approx aggs exist but are not oracle-matchable across engines
    (different sketches) — assert Spark's HLL is within 5% of exact."""
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    row = li.agg(
        F.approx_count_distinct("l_partkey").alias("approx"),
        F.countDistinct("l_partkey").alias("exact"),
    ).collect()[0]
    assert abs(row.approx - row.exact) / row.exact < 0.05


import pytest


def test_ngram_df_cap_bounds_boilerplate_blowup(spark, monkeypatch):
    """One boilerplate shingle shared by all docs must NOT produce a
    quadratic inverted-index join: with the df cap the hot posting list
    is dropped before the self-join; pairs come only from real overlap."""
    import pandas as pd

    import wtq.operators.dedup as D

    n = D.NGRAM_DF_CAP * 4  # 4x over the cap
    boiler = "all rights reserved worldwide"
    docs = pd.DataFrame(
        {
            "doc_id": range(n),
            # unique content per doc + the same boilerplate tail
            "text": [f"alpha{i} beta{i} gamma{i} delta{i} {boiler}" for i in range(n)],
        }
    )
    df = spark.createDataFrame(docs)
    monkeypatch.setattr(D, "NGRAM_TOP_N", n * n)
    pairs = D.ngram_jaccard_pairs(df, "doc_id", "text")
    # without the cap the boilerplate shingles alone join C(n,2) pairs;
    # with it, no pair shares an informative shingle
    assert pairs.count() == 0


def test_simhash_near_pairs_finds_planted_dups(spark, pages_path, pages_pdf):
    """The generator plants true near-dup companion pages (url,
    url + '-dup').  The banded SimHash join must recover them, and the
    total output must stay O(n) — not the C(n,2) degeneracy of
    round 1."""
    from wtq.operators.dedup import simhash_near_pairs

    pages = spark.read.parquet(pages_path)
    n = pages.count()
    pairs = simhash_near_pairs(pages, "url", "text").collect()
    found = {(r.doc1, r.doc2) for r in pairs}
    planted = {u for u in pages_pdf.url if u.endswith("-dup")}
    assert planted, "generator must plant near-dup companions"
    recovered = sum(
        1 for d in planted if (d[: -len("-dup")], d) in found or (d, d[: -len("-dup")]) in found
    )
    # one mutated word flips only a few shingles -> hamming <= 3 for
    # nearly all planted pairs; demand full recall of at least 80%
    assert recovered / len(planted) >= 0.8, (recovered, len(planted))
    assert len(pairs) < 0.01 * n * (n - 1) / 2, "near-pair output must be << n^2"


def test_md5_60_matches_hex_parse():
    import hashlib

    from wtq.operators.dedup import _md5_60

    for s in ["", "a", "hello world", "unicode é中文", "x" * 100]:
        assert _md5_60(s) == int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_embedding_planted_pair_pinned(spark):
    """Each planted clone must surface as a near-dup of its source with
    cosine ~0.98 (the exact value is oracle-checked; here we pin the
    pair identity and threshold)."""
    from wtq.operators.similarity import (
        PLANT_N,
        PLANT_OFFSET,
        embedding_dup_pairs,
        with_planted_dups,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = embedding_dup_pairs(with_planted_dups(emb)).collect()
    got = {(r.doc1, r.doc2): r.cos for r in rows}
    for k in range(PLANT_N):
        assert (k, k + PLANT_OFFSET) in got, f"planted pair {k} missing"
        assert got[(k, k + PLANT_OFFSET)] > 0.95


def test_bucketed_join_avoids_exchange(spark, tmp_path):
    """Co-located join via bucketing: both sides bucketed by the join
    key → SortMergeJoin with NO Exchange (the 100 TB co-location
    strategy replacing the reference's btree join indexes,
    SURVEY.md §4)."""
    from plan_audit import plan_string

    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    # (warehouse dir is a static conf — uses ./spark-warehouse, gitignored;
    # stale dirs survive a fresh metastore, so remove them explicitly)
    import shutil

    for name, df, key in (("b_orders", o, "o_orderkey"), ("b_lineitem", li, "l_orderkey")):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(f"spark-warehouse/{name}", ignore_errors=True)
        df.write.bucketBy(8, key).sortBy(key).mode("overwrite").saveAsTable(name)
    # at test scale the small side would be broadcast; disable to expose
    # the bucketed sort-merge join that a 100 TB fact⋈fact would use
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        ).groupBy("o_orderstatus").count()
        plan = plan_string(j, mode="simple")
        assert "SortMergeJoin" in plan
        # the join itself needs no shuffle; only the final agg exchanges
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


# the shipped edge ceiling exercises the single-task union-find fast
# path; a ceiling of 0 forces the distributed pointer-jumping loop —
# both strategies must satisfy every CC contract.
_CC_PATHS = [("single_task", CC_SINGLE_TASK_MAX_EDGES), ("distributed", 0)]


@pytest.mark.parametrize("path,max_edges", _CC_PATHS, ids=[p[0] for p in _CC_PATHS])
def test_connected_components_deep_chain(spark, monkeypatch, path, max_edges):
    """A 200-node chain (diameter 199 >> CC_MAX_ITERS=20) must still
    converge — pointer jumping doubles reach per round, so convergence
    is O(log diameter), and the old one-hop variant would raise here."""
    from wtq.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "doc1 long, doc2 long"
    )
    monkeypatch.setattr("wtq.operators.dedup.CC_SINGLE_TASK_MAX_EDGES", max_edges)
    cc = connected_components(pairs).collect()
    assert len(cc) == 200
    assert {r.cluster for r in cc} == {0}


@pytest.mark.parametrize("path,max_edges", _CC_PATHS, ids=[p[0] for p in _CC_PATHS])
def test_connected_components_string_ids(spark, monkeypatch, path, max_edges):
    """Node ids are any orderable type — url-keyed near-dup graphs are
    strings.  (The numeric label-sum convergence check this replaced
    crashed on exactly this input.)"""
    from wtq.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "doc1 string, doc2 string"
    )
    monkeypatch.setattr("wtq.operators.dedup.CC_SINGLE_TASK_MAX_EDGES", max_edges)
    cc = {r.node: r.cluster for r in connected_components(pairs).collect()}
    assert cc == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_connected_components_paths_agree_on_random_graph(spark, monkeypatch):
    """The single-task union-find and the distributed pointer-jumping
    loop are two physical strategies for ONE logical operator — on a
    seeded random graph (stars, chains, triangles, singleton-free)
    their (node, cluster) outputs must be identical."""
    import random

    from wtq.operators.dedup import connected_components

    rng = random.Random(42)
    edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(250)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "doc1 long, doc2 long")
    fast = sorted(map(tuple, connected_components(pairs).collect()))
    monkeypatch.setattr("wtq.operators.dedup.CC_SINGLE_TASK_MAX_EDGES", 0)
    dist = sorted(map(tuple, connected_components(pairs).collect()))
    assert fast == dist


def test_duplicate_flood_bounded_buckets_and_expanded_clusters(spark):
    """10³ byte-identical docs (viral boilerplate) must NOT form a
    corpus-sized LSH bucket: dedup_resolution collapses them to ONE
    representative per exact fingerprint before banding (bucket size
    in rep space = 1), then re-expands the members into the cluster.
    Also pins the cap itself and the sentinel-group inclusion."""
    from wtq.operators.dedup import LSH_BUCKET_CAP, dedup_clusters, dedup_resolution

    flood = [(i, "the same viral boilerplate page body repeated everywhere") for i in range(1000)]
    near = [
        (2000, "a genuinely different document about distributed query engines and shuffles"),
        (2001, "a genuinely different document about distributed query engines and exchanges"),
    ]
    shorties = [(3000, "too short"), (3001, "too short")]  # < k words, byte-identical
    df = spark.createDataFrame(flood + near + shorties, "doc_id long, text string")

    clusters = {r.cluster: r for r in dedup_clusters(df, "doc_id", "text").collect()}
    # the flood is ONE cluster with all 1000 members, rep = min id
    assert clusters[0].n_docs == 1000
    assert clusters[0].members.split(",")[0] == "0"
    # near-dup pair still found in rep space
    assert clusters[2000].n_docs == 2
    # byte-identical sentinel docs (< k words) cluster via fingerprint
    assert clusters[3000].n_docs == 2

    # rep space: one doc per fingerprint, so the flood is one member of
    # its buckets and the occupancy audit shows nothing over the cap
    _, stats = dedup_resolution(df, "doc_id", "text")
    stats = stats.collect()
    assert max(r.bucket_size for r in stats) == 2  # the near-dup pair shares buckets
    assert not any(r.over_cap for r in stats)

    # the drop contract for buckets exceeding the cap is pinned in
    # test_lsh_bucket_cap_degrades_to_star_edges below
    assert LSH_BUCKET_CAP >= 1000


def test_lsh_bucket_stats_audits_the_cap_in_force(spark, monkeypatch):
    """The occupancy audit dedup_resolution returns flags over_cap
    against the SAME cap the pair stage ran with — with LSH_BUCKET_CAP
    patched to 5, the near-duplicate band buckets read as over the cap
    even though the shipped cap would not.  Near, not byte-identical,
    duplicates: exact-duplicate collapse runs first and would leave one
    member.
    Each band has one shared bucket; 35–48 of the 50 documents fall in
    it, and the distinct last words make 62 one-member buckets."""
    import wtq.operators.dedup as D

    body = "the same viral boilerplate page body repeated everywhere on every site we crawled"
    flood = [(i, f"{body} w{i}") for i in range(50)]
    df = spark.createDataFrame(flood, "doc_id long, text string")
    with monkeypatch.context() as m:
        m.setattr(D, "LSH_BUCKET_CAP", 5)
        stats = D.dedup_resolution(df, "doc_id", "text")[1].collect()
    assert max(r.bucket_size for r in stats) == 48
    assert sum(r.n_buckets for r in stats if r.over_cap) == D.LSH_BANDS
    assert all(r.over_cap == (r.bucket_size > 5) for r in stats)
    default_stats = D.dedup_resolution(df, "doc_id", "text")[1].collect()
    assert {r.bucket_size for r in default_stats} == {r.bucket_size for r in stats}
    assert not any(r.over_cap for r in default_stats)


def test_lsh_bucket_cap_degrades_to_star_edges(spark, monkeypatch):
    """With the cap forced tiny, an over-cap bucket emits LINEAR star
    edges (bucket-min ↔ member) instead of C(n,2) all-pairs, while
    normal-sized buckets still pair fully."""
    import wtq.operators.dedup as D

    flood = [(i, "the same viral boilerplate page body repeated everywhere") for i in range(50)]
    near = [
        (2000, "a genuinely different document about distributed query engines and shuffles"),
        (2001, "a genuinely different document about distributed query engines and exchanges"),
    ]
    df = spark.createDataFrame(flood + near, "doc_id long, text string")
    with monkeypatch.context() as m:
        m.setattr(D, "LSH_BUCKET_CAP", 5)
        pairs = D.minhash_lsh_pairs(df, "doc_id", "text").collect()
    flood_pairs = [r for r in pairs if r.doc1 < 2000]
    # star, not clique: 49 edges (0, i) — never 50·49/2 = 1225
    assert len(flood_pairs) == 49
    assert all(r.doc1 == 0 for r in flood_pairs)
    # normal-sized buckets still emit ordinary pairs
    assert any(r.doc1 == 2000 and r.doc2 == 2001 for r in pairs)
    # and the clusters are fully recovered either way
    labels, _ = D.dedup_resolution(df, "doc_id", "text")
    cc = {r.cluster for r in labels.collect()}
    assert cc == {0, 2000}


def test_simhash_cap_degrades_to_verified_star(spark, monkeypatch):
    """Over-cap simhash buckets emit Hamming-VERIFIED star edges
    (bucket-min ↔ member) instead of being dropped: a near-identical
    flood (pairwise distance ~0) keeps its min-rooted edges under a
    tiny cap, and no non-min clique pair sneaks through from the
    over-cap buckets."""
    import wtq.operators.dedup as D

    base = "the same viral boilerplate page body repeated everywhere across mirror sites today".split()
    rows = []
    for i in range(30):
        w = list(base)
        w[i % len(w)] = f"variant{i}"
        rows.append((i, " ".join(w)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with monkeypatch.context() as m:
        m.setattr(D, "LSH_BUCKET_CAP", 5)
        capped = D.simhash_near_pairs(df, "doc_id", "text").collect()
    uncapped = {
        (r.doc1, r.doc2) for r in D.simhash_near_pairs(df, "doc_id", "text").collect()
    }
    assert capped, "flood pairs must not vanish under the cap"
    # every capped pair is a true verified pair from the uncapped run
    assert {(r.doc1, r.doc2) for r in capped} <= uncapped
    assert all(r.hamming <= D.HAMMING_MAX for r in capped)
    # star shape: far fewer pairs than the uncapped near-clique
    assert len(capped) < len(uncapped)


def test_lsh_cap_recall(spark, monkeypatch):
    """Quantifies the cap's recall cost on a NEAR-identical flood (the
    case exact-dedup-first cannot collapse: every doc differs by one
    token, so fingerprints are all distinct).  Round 3 dropped the
    whole bucket — cluster recall 0 on this corpus.  The star rule
    keeps cluster-level recall at exactly 1.0 by construction, and
    this test measures both levels against an uncapped run."""
    import wtq.operators.dedup as D

    base = "the same viral boilerplate page body repeated everywhere across mirror sites"
    n = 120
    df = spark.createDataFrame(
        [(i, f"{base} mirror{i}") for i in range(n)], "doc_id long, text string"
    )
    uncapped = {
        (r.doc1, r.doc2) for r in D.minhash_lsh_pairs(df, "doc_id", "text").collect()
    }
    with monkeypatch.context() as m:
        m.setattr(D, "LSH_BUCKET_CAP", 20)
        capped = {
            (r.doc1, r.doc2) for r in D.minhash_lsh_pairs(df, "doc_id", "text").collect()
        }
    # every capped pair is a true candidate (star ⊆ uncapped)
    assert capped <= uncapped
    # pair-level recall is partial — that is the accepted cost...
    pair_recall = len(capped) / len(uncapped)
    assert 0 < pair_recall < 1
    # ...but cluster-level recall is 1.0: the SAME components emerge
    def comps(pairs):
        return sorted(
            map(
                tuple,
                D.connected_components(
                    spark.createDataFrame(list(pairs), "doc1 long, doc2 long")
                ).collect(),
            )
        )

    assert comps(capped) == comps(uncapped)
    # the whole flood is one cluster rooted at min id
    assert {c for _, c in comps(capped)} == {0}


def test_simhash_cap_recall_measured(spark, monkeypatch):
    """Quantifies the simhash star fallback's recall (round-5 verdict
    item 7).  Unlike the minhash star — whose cluster recall is exactly
    1.0 because every emitted edge is a candidate regardless of
    similarity — the simhash star Hamming-VERIFIES its (min, member)
    edges, so a member > HAMMING_MAX from the bucket minimum loses its
    edge even when it is within range of some other member.  This
    corpus makes that case real: a DRIFT CHAIN of 60 docs with 0-19
    word mutations off one base — adjacent docs are within Hamming 5,
    distant docs are 20+ bits from doc 0 yet still co-bucket with it
    (band chunks survive mutations that flip other bands' bits).

    Measured on this deterministic construction (pinned): an over-cap
    bucket of 19 members under cap=10, pair recall 13/14 ≈ 0.93,
    cluster co-membership recall 1.0 (the lost pair's endpoints stay
    connected through surviving chain edges).  The floor assertions
    (≥ 0.8 pair, = 1.0 cluster HERE) are the measured bound cited in
    simhash_near_pairs' docstring — cluster recall 1.0 is a property
    of chains whose adjacent links survive, NOT a general guarantee."""
    import random

    import wtq.operators.dedup as D

    vocab = (
        "data table query row scan filter join merge sort hash batch stream "
        "window partition shuffle spark vector key value group order line "
        "part agg small big fast slow index column record field block page "
        "cache disk memory node cluster the of and to in is was for"
    ).split()
    rng = random.Random(3)
    base = [rng.choice(vocab) for _ in range(120)]
    rows = []
    for i in range(60):
        w = list(base)
        r2 = random.Random(100 + i)
        for _ in range(i // 3):  # 0..19 mutations: a similarity gradient
            w[r2.randrange(len(w))] = r2.choice(vocab) + str(i)
        w.append(f"tail{i}")
        rows.append((i, " ".join(w)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = {
        (r.doc1, r.doc2) for r in D.simhash_near_pairs(df, "doc_id", "text").collect()
    }
    with monkeypatch.context() as m:
        m.setattr(D, "LSH_BUCKET_CAP", 10)
        capped = {
            (r.doc1, r.doc2) for r in D.simhash_near_pairs(df, "doc_id", "text").collect()
        }
    assert capped <= uncapped  # the star never invents pairs
    pair_recall = len(capped) / len(uncapped)
    # deterministic construction → deterministic loss: exactly the
    # star edges whose member sits > HAMMING_MAX from its bucket min
    assert pair_recall >= 0.8, (len(capped), len(uncapped))
    assert pair_recall < 1.0, "construction must exercise the lossy path"

    def comps(pairs):
        return sorted(
            map(
                tuple,
                D.connected_components(
                    spark.createDataFrame(list(pairs), "doc1 long, doc2 long")
                ).collect(),
            )
        )

    # cluster-level recall measured at 1.0 on this chain: the rejected
    # star edge's endpoints remain connected through adjacent links
    assert comps(capped) == comps(uncapped)


def test_bucket_cap_mirrored_in_oracles(spark, monkeypatch):
    """The bucket-cap drop must be part of BOTH engines' semantics:
    on a near-identical flood (distinct fingerprints, shared band
    buckets — the input exact-dedup-first can NOT collapse), Spark and
    DuckDB with the same tiny cap produce identical pair sets, and the
    cap demonstrably fired (uncapped pairs ≫ capped pairs)."""
    import duckdb
    import pandas as pd

    import wtq.operators.dedup as D

    base = ("boilerplate navigation header about cookies privacy terms "
            "contact careers press blog community help center status page").split()
    rows = []
    for i in range(12):  # 12 near-identical docs: one word swapped each
        w = list(base)
        w[i] = f"variant{i}"
        rows.append((i, " ".join(w)))
    rows += [
        (100, "a genuinely different document about distributed query engines and shuffles"),
        (101, "a genuinely different document about distributed query engines and exchanges"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    df = spark.createDataFrame(pdf)

    con = duckdb.connect()
    con.register("documents", pdf)

    def spark_pairs(cap):
        with monkeypatch.context() as m:
            m.setattr(D, "LSH_BUCKET_CAP", cap)
            return sorted(
                (r.doc1, r.doc2, r.n_shared_bands)
                for r in D.minhash_lsh_pairs(df, "doc_id", "text").collect()
            )

    def duck_pairs(cap):
        with monkeypatch.context() as m:
            m.setattr(D, "LSH_BUCKET_CAP", cap)
            sql = D.sql_minhash_lsh_pairs("documents", "doc_id", "text")
        return sorted((int(a), int(b), int(n)) for a, b, n in con.execute(sql).fetchall())

    capped_s, capped_d = spark_pairs(4), duck_pairs(4)
    uncapped_s, uncapped_d = spark_pairs(D.LSH_BUCKET_CAP), duck_pairs(D.LSH_BUCKET_CAP)
    assert capped_s == capped_d
    assert uncapped_s == uncapped_d
    assert len(capped_s) < len(uncapped_s)  # the cap actually fired

    # simhash path: identical contract
    def spark_sim(cap):
        with monkeypatch.context() as m:
            m.setattr(D, "LSH_BUCKET_CAP", cap)
            return sorted(
                (r.doc1, r.doc2, r.hamming)
                for r in D.simhash_near_pairs(df, "doc_id", "text").collect()
            )

    def duck_sim(cap):
        with monkeypatch.context() as m:
            m.setattr(D, "LSH_BUCKET_CAP", cap)
            sql = D.sql_simhash_near_pairs("documents", "doc_id", "text")
        return sorted((int(a), int(b), int(h)) for a, b, h in con.execute(sql).fetchall())

    assert spark_sim(4) == duck_sim(4)
    assert spark_sim(D.LSH_BUCKET_CAP) == duck_sim(D.LSH_BUCKET_CAP)
    con.close()


def test_ivf_kmeans_recall_vs_bruteforce(spark):
    """The k-means coarse quantizer must be a real quantizer: cells are
    learned (not 'first 8 vectors'), every vector lands in a cell, and
    probing one cell retains most true neighbors.  Recall@ANN_K vs the
    exact brute-force top-ANN_K over the ANN_QUERIES registry queries."""
    from wtq.operators.similarity import (
        ANN_K,
        ANN_QUERIES,
        IVF_CELLS,
        brute_force_topk,
        ivf_topk,
        kmeans_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = kmeans_centroids(emb).collect()
    assert len(cents) == IVF_CELLS
    assert all(len(c.c_vec) == 64 for c in cents)
    # learned centroids are means, not input vectors: no centroid may
    # equal any input embedding exactly (prob ~0 for a true mean)
    vecs = {tuple(round(x, 6) for x in r.embedding) for r in emb.collect()}
    assert all(tuple(round(x, 6) for x in c.c_vec) not in vecs for c in cents)

    q = emb.filter(F.col("vec_id") < ANN_QUERIES)
    truth = {(r.q_id, r.n_id) for r in brute_force_topk(emb, q).collect()}
    got = {(r.q_id, r.n_id) for r in ivf_topk(emb, q).collect()}
    recall = len(truth & got) / len(truth)
    # single-probe IVF on near-uniform synthetic vectors: recall is
    # limited by cell boundaries; require a floor that a broken
    # quantizer (empty/degenerate cells) cannot reach
    assert recall >= 0.4, (recall, sorted(truth), sorted(got))
    # and every query got a full k result (its own cell is non-trivial)
    from collections import Counter
    per_q = Counter(r[0] for r in got)
    assert all(per_q[qid] == ANN_K for qid in range(ANN_QUERIES)), per_q
