"""Corpus-curation operators a training-data pipeline runs between
filtering and training: benchmark decontamination, incremental
crawl-vs-corpus dedup, per-host token-budget sampling, and
domain-level quality gating.

Reference lineage: each of these is a composition of patterns the
reference already exercises — the anti-join "already reported" filter
(proccess_data.sql:422-423,482-488 — SURVEY.md §2.3 J7), the
having-count duplicate detector (:204-213 — A6/J8), and the
aggregate-then-join-back role lookup (:180-195 joined at :459-461 —
J5/A5).  The payloads here are the web-text curation equivalents.

Determinism contract: every priority / fingerprint / shingle key is
md5-derived (identical lowercase-hex semantics in Spark and DuckDB),
never engine-native hash() or rand() — results are bit-identical
cross-engine, cross-run, and cluster-size-independent.

Scale notes (100 TB):
  * decontaminate: the benchmark side is tiny by construction (a
    benchmark suite is KBs–MBs) → broadcast; the corpus side explodes
    to one row per 13-gram but carries only (id, 16-byte digest) into
    the join, and the broadcast semi-join filters before any shuffle.
    With AQE runtime filters the digest stream short-circuits at scan.
  * incremental_corpus_dedup: the existing-corpus side is a
    fingerprint TABLE (16-byte digests), bucketed by fingerprint at
    rest → the anti join becomes storage-partitioned (shuffle-free on
    the big side).  Never ship text into the join.
  * token_budget_sample: the running sum is windowed PER HOST — the
    natural unit of curation quotas — so no global single-partition
    sort exists anywhere (contrast the decile trap VERDICT r2 flagged).
  * source_quality_gate: per-host aggregates are |hosts| rows
    (millions, not billions) → broadcast back against the doc stream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from wtq.operators.text import STOP_WORDS, n_in, sql_n_in, sql_words, words

# ---- shared constants (Spark AND oracle SQL are generated from these) ----
DECONTAM_K = 13          # n-gram size, the C4/GPT-3 decontamination convention
TOKEN_BUDGET = 600       # per-host token budget (non-vacuous at test SFs:
                         # hosts carry ~1.1-1.7k tokens, so roughly half are cut)
GATE_MIN_DOCS = 3        # hosts with fewer docs than this are kept (no evidence)
GATE_STOPWORD_MIN = 0.0575  # host-level stopword fraction below this → drop
                            # host (fires on 1/20 hosts at sf0.001, 3/20 at
                            # sf0.01).  The fraction is Σn_stop / Σn_words —
                            # ONE division of exact integer sums, so the value
                            # is bit-identical across engines, partition
                            # orders, and cluster sizes (a mean of per-doc
                            # doubles would depend on reduction order)
# train/val/test split (98/1/1): buckets of SPLIT_MOD below TRAIN_BELOW
# are train, below VAL_BELOW val, the rest test
SPLIT_MOD = 1000
TRAIN_BELOW = 980
VAL_BELOW = 990


def hash_bucket(col: str, mod: int) -> Column:
    """The first 60 bits of md5(`col` as a string), mod `mod` — DuckDB's
    ``CAST(('0x' || substr(md5(CAST(col AS VARCHAR)), 1, 15)) AS BIGINT)
    % mod``, bit for bit."""
    digest = F.md5(F.col(col).cast("string"))
    return F.conv(F.substring(digest, 1, 15), 16, 10).cast("long") % mod


def split_of(col: str) -> Column:
    """'train' / 'val' / 'test' by `hash_bucket(col, SPLIT_MOD)`: stable
    across reruns, engines and cluster sizes, unlike a rand() split."""
    bucket = hash_bucket(col, SPLIT_MOD)
    return (
        F.when(bucket < TRAIN_BELOW, "train")
        .when(bucket < VAL_BELOW, "val")
        .otherwise("test")
    )


def _gram_digests(ws: Column) -> Column:
    """md5 of every 13-word window of the word array `ws`, in order —
    the one gram digest both the benchmark side and the corpus side
    of `decontaminate` use (`ws` must hold ≥ DECONTAM_K words)."""
    return F.transform(
        F.sequence(F.lit(1), F.size(ws) - (DECONTAM_K - 1)),
        lambda i: F.md5(F.array_join(F.slice(ws, i, DECONTAM_K), " ")),
    )


def benchmark_grams(bench_df: DataFrame, text_col: str = "text") -> DataFrame:
    """All 13-gram md5 digests of a benchmark corpus — the side input
    `decontaminate` joins against.  Column: g (md5 hex)."""
    ws = bench_df.select(words(F.col(text_col)).alias("ws")).filter(
        F.size("ws") >= DECONTAM_K
    )
    return ws.select(F.explode(_gram_digests(F.col("ws"))).alias("g")).distinct()


def decontaminate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    benchmark: DataFrame,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    13-gram with the benchmark set (the C4/GPT-3 n-gram-overlap
    protocol).

    `benchmark` is a 1-column DataFrame of gram digests (build one
    from benchmark texts with `benchmark_grams`).

    Returns (doc_id, n_hits): contaminated docs and how many distinct
    benchmark grams they contain.

    Join key is md5(gram), not the gram string: the shuffle/broadcast
    payload is 16 bytes instead of a 13-word string, and md5 is
    bit-identical in both engines.
    """
    if len(benchmark.columns) != 1:
        raise ValueError(
            "decontaminate: `benchmark` must be a 1-column DataFrame of "
            f"gram digests (got columns {benchmark.columns}); build one "
            "with benchmark_grams(), or select the digest column first"
        )
    ws = df.select(
        F.col(id_col).alias("doc"), words(F.col(text_col)).alias("ws")
    ).filter(F.size("ws") >= DECONTAM_K)
    grams = ws.select("doc", F.explode(_gram_digests(F.col("ws"))).alias("g"))
    return (
        grams.join(F.broadcast(benchmark.toDF("g")), "g")
        .groupBy(F.col("doc").alias(id_col))
        .agg(F.count_distinct("g").alias("n_hits"))
    )


def incremental_corpus_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    corpus_fingerprints: DataFrame,
) -> DataFrame:
    """Incremental crawl-vs-corpus dedup: the batch every recurring
    crawl runs — drop new documents whose content fingerprint already
    exists in the accumulated corpus, and dedup within the new batch
    itself.

    `corpus_fingerprints` is a 1-column DataFrame of md5 fingerprints
    (in production: the persisted fingerprint table of all prior
    snapshots, bucketed by fingerprint so this anti join is
    storage-partitioned).

    Returns (fingerprint, doc_id): one surviving representative per
    novel fingerprint — min(id) under the id column's NATURAL
    ordering, i.e. numeric for integer ids but LEXICOGRAPHIC for
    string ids ('u10' < 'u2'; zero-pad or pre-rank upstream if you
    need numeric order on string keys).  Deterministic either way.
    Left-anti is the J7 pattern (proccess_data.sql:422-423 "already
    reported" filter).
    """
    d = df.select(F.col(id_col).alias("doc"), F.md5(F.col(text_col)).alias("fingerprint"))
    return (
        d.join(corpus_fingerprints.toDF("fingerprint"), "fingerprint", "left_anti")
        .groupBy("fingerprint")
        .agg(F.min("doc").alias(id_col))
    )


def token_budget_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    host_col: str = "source",
) -> DataFrame:
    """Per-host token-budget sampling: order each host's documents by
    a deterministic content-hash priority and keep documents while the
    host's running token total stays within TOKEN_BUDGET — the curation step
    that caps how much any one domain contributes to a training mix.

    The running sum is a window with an explicit ROWS UNBOUNDED
    PRECEDING frame, partitioned by host — the lag/running-aggregate
    family SURVEY.md §2.5 lists as absent from the reference, here in
    its scale-safe (partitioned) form.

    Returns (doc_id, host, n_tokens, cum_tokens) for kept docs.
    Ordering within a host is md5(id-as-string) with the raw id as
    tie-break — the tie-break uses the id column's NATURAL ordering
    (lexicographic for string ids), though ties require an md5
    collision, so in practice the hash alone decides.
    """
    d = df.select(
        F.col(id_col).alias("doc"),
        F.col(host_col).alias("host"),
        F.size(words(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("host")
        .orderBy(F.md5(F.col("doc").cast("string")), "doc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET)
        .select(
            F.col("doc").alias(id_col),
            F.col("host").alias(host_col),
            "n_tokens",
            "cum_tokens",
        )
    )


SQL_TOKEN_BUDGET_SAMPLE = f"""
SELECT doc_id, source, n_tokens, cum_tokens FROM (
  SELECT doc_id, source,
         CAST(len({sql_words('text')}) AS BIGINT) AS n_tokens,
         CAST(sum(CAST(len({sql_words('text')}) AS BIGINT)) OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_tokens
  FROM documents
) WHERE cum_tokens <= {TOKEN_BUDGET}
"""


def source_quality_gate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    host_col: str = "source",
) -> DataFrame:
    """Domain-level quality gating: aggregate per-document signals to
    host level and drop WHOLE hosts whose aggregate quality fails —
    the spam-domain blocklist step that document-level rules cannot
    express (a spam farm's individual pages can each pass).

    Two-level shape: doc stats → host aggregate (A5 role-histogram
    analog, proccess_data.sql:180-195).  The returned verdict table is
    |hosts| rows — broadcast-sized at any corpus scale — and applying
    it is a broadcast join against the doc stream (J11 :837 / the
    dedup_apply pattern).  Hosts with < GATE_MIN_DOCS docs are kept
    (no evidence).

    The host signal is the doc-weighted fraction Σn_stop / Σn_words:
    integer sums → one division → bit-identical across engines and
    partition orders (the determinism contract above), where a mean of
    per-doc doubles would be reduction-order-dependent.

    Returns (host, n_docs, stopword_frac, gate) — gate in
    ('keep','drop') — one row per host.
    """
    d = df.select(
        F.col(host_col).alias("host"),
        words(F.col(text_col)).alias("ws"),
    ).select(
        "host",
        F.size("ws").alias("n_words"),
        n_in(F.col("ws"), STOP_WORDS).alias("n_stop"),
    )
    agg = d.groupBy("host").agg(
        F.count("*").alias("n_docs"),
        (
            F.sum("n_stop").cast("double")
            / F.greatest(F.sum("n_words"), F.lit(1)).cast("double")
        ).alias("stopword_frac"),
    )
    return agg.select(
        F.col("host").alias(host_col),
        "n_docs",
        F.round("stopword_frac", 9).alias("stopword_frac"),
        F.when(
            (F.col("n_docs") >= GATE_MIN_DOCS)
            & (F.col("stopword_frac") < GATE_STOPWORD_MIN),
            F.lit("drop"),
        )
        .otherwise(F.lit("keep"))
        .alias("gate"),
    )


BOILERPLATE_DF_CAP = 3   # lines appearing in more docs than this are boilerplate
LINE_SEP = "\n"          # the line separator strip_boilerplate_lines splits on


def strip_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Corpus-wide boilerplate removal (the C4/CCNet line-dedup pass):
    LINE_SEP-separated lines appearing in more than BOILERPLATE_DF_CAP
    DISTINCT documents
    (navigation chrome, cookie banners, legal footers) are stripped
    from every document, and the text is rebuilt in original line
    order.  Unlike the keep/drop operators this REWRITES content from
    corpus-level statistics — the reference's tag-cleaning analog
    (water.lua:84-221) at corpus scope instead of per-record scope.

    Precondition: `id_col` is unique per row.  The doc frequency counts
    rows and the hot-line sets are grouped by id, so two rows sharing
    an id count a shared line twice and strip each other's hot lines
    (dedup or re-key the input first — the pipeline runs this after
    the re-crawl dedup, which leaves one row per url).

    Returns (doc_id, clean_text, n_removed, *carry_cols) for every
    input document (clean_text = '' when every line was boilerplate);
    `carry_cols` are per-doc-constant metadata columns (timestamps,
    labels) that ride through the aggregation so callers need no
    re-join against the input.  Empty lines
    (paragraph breaks, trailing newlines) are never counted as
    boilerplate and are preserved in place, so a document with no hot
    lines round-trips byte-identically.

    Scale shape: lines explode narrowly; the doc-frequency aggregate
    shuffles 16-byte md5(line) digests, never line text; the anti join
    against the hot set is left un-hinted — at test scale AQE converts
    it to a broadcast join at runtime, while at corpus scale the hot
    set grows with the corpus (every line in > BOILERPLATE_DF_CAP docs)
    and a forced broadcast would collect an unbounded set to the driver;
    a production run raises BOILERPLATE_DF_CAP toward a corpus-share threshold
    and/or lets the join shuffle digests.  All shuffles are keyed on
    digests or doc ids, no self-joins.

    Batch-scope operator: the hot set is a CORPUS-level statistic, so
    this pass belongs to batch (or per-large-microbatch) builds — the
    per-record streaming pipeline cannot compute it incrementally
    without a stateful doc-frequency store.
    """
    # LINE_SEP is a LITERAL separator: F.split takes a Java regex, so
    # quote it (\Q…\E) — an unescaped '.' or '|' would split on every
    # character and shred the text
    split_expr = F.split(F.coalesce(F.col(text_col), F.lit("")), "\\Q" + LINE_SEP + "\\E")
    # Round-6 shape (the guide-§8 discipline — decide on digests, never
    # move the text): line TEXT never enters any shuffle.  The round-4
    # form exploded every line, broadcast-joined the hot set, then
    # re-shuffled ALL line text by doc for a collect_list/array_sort
    # rebuild — the rebuild now happens as a narrow higher-order
    # filter over the original text column, so the only shuffles left
    # are (doc, 16-byte digest) aggregations:
    #   1. per-digest doc-frequency → hot digest set (as before);
    #   2. per-doc array of hot digests PRESENT in that doc — rows
    #      only for affected docs, digest-sized, usually broadcast by
    #      AQE into the rebuild join (at boilerplate-saturated corpus
    #      scale it degrades to an equi-join on the id, still strictly
    #      smaller than the old exploded-line shuffle);
    #   3. rebuild = base ⟕ hot-digest-lists, then
    #      filter(split(text), line empty ∨ md5(line) ∉ doc's hot set)
    #      — order-preserving, so clean_text/n_removed are value-
    #      identical to the explode/regroup form (oracle + planted
    #      tests unchanged).
    # per-doc DISTINCT digests built narrowly (array_distinct before
    # the explode) — the doc-frequency count then needs no (doc, k)
    # distinct() exchange: one map-side-partial aggregation on k is the
    # only shuffle (empties are structure, never boilerplate)
    per_doc_ks = F.array_distinct(
        F.transform(
            F.filter(split_expr, lambda l: l != ""), lambda l: F.md5(l)
        )
    )
    digests = df.select(
        F.col(id_col).alias("doc"), F.explode(per_doc_ks).alias("k")
    )
    hot = (
        digests.groupBy("k")
        .agg(F.count("*").alias("doc_df"))
        .filter(F.col("doc_df") > BOILERPLATE_DF_CAP)
        .select("k")
    )
    doc_hot = (
        digests.join(hot, "k")
        .groupBy("doc")
        .agg(F.collect_set("k").alias("__hot_ks"))
    )
    base = df.select(
        F.col(id_col).alias("doc"), F.col(text_col), *[F.col(c) for c in carry_cols]
    )
    joined = base.join(doc_hot, "doc", "left").withColumn(
        "__hot_ks", F.coalesce(F.col("__hot_ks"), F.array())
    )
    parts = split_expr
    kept = F.filter(
        parts, lambda l: (l == "") | ~F.array_contains(F.col("__hot_ks"), F.md5(l))
    )
    return joined.select(
        F.col("doc").alias(id_col),
        F.array_join(kept, LINE_SEP).alias("clean_text"),
        (F.size(parts) - F.size(kept)).cast("int").alias("n_removed"),
        *carry_cols,
    )


# The documents fixture has single-line texts, so the registry demo
# chunks each text into 10-word pseudo-lines first (both engines use
# the identical derivation); the operator itself runs on real '\n'
# lines (pages corpus — see tests/test_curation.py planted cases).
BOILERPLATE_CHUNK_WORDS = 10

SQL_STRIP_BOILERPLATE = f"""
WITH w AS (
  SELECT doc_id, {sql_words('text')} AS ws
  FROM documents
), chunks AS (
  SELECT doc_id, i AS pos,
         array_to_string(ws[i*{BOILERPLATE_CHUNK_WORDS}+1 : i*{BOILERPLATE_CHUNK_WORDS}+{BOILERPLATE_CHUNK_WORDS}], ' ') AS line
  FROM w, LATERAL (
    SELECT unnest(generate_series(0, CAST(ceil(len(ws)/{BOILERPLATE_CHUNK_WORDS}.0) AS INT) - 1)) AS i
  ) s
  WHERE len(ws) > 0
), hot AS (
  SELECT line FROM chunks GROUP BY line HAVING count(DISTINCT doc_id) > {BOILERPLATE_DF_CAP}
), kept AS (
  SELECT c.* FROM chunks c WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.line = c.line)
), rebuilt AS (
  SELECT doc_id, string_agg(line, '\n' ORDER BY pos) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
), totals AS (
  SELECT doc_id, count(*) AS n_lines FROM chunks GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(r.clean_text, '') AS clean_text,
       CAST(coalesce(t.n_lines, 0) - coalesce(r.n_kept, 0) AS INT) AS n_removed
FROM documents d
LEFT JOIN totals t USING (doc_id)
LEFT JOIN rebuilt r USING (doc_id)
"""


SQL_SOURCE_QUALITY_GATE = f"""
WITH d AS (
  SELECT source,
         len({sql_words('text')}) AS n_words,
         {sql_n_in(sql_words('text'), STOP_WORDS)} AS n_stop
  FROM documents
), agg AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(n_stop) AS DOUBLE) / greatest(sum(n_words), 1) AS stopword_frac
  FROM d GROUP BY source
)
SELECT source, n_docs, round(stopword_frac, 9) AS stopword_frac,
       CASE WHEN n_docs >= {GATE_MIN_DOCS} AND stopword_frac < {GATE_STOPWORD_MIN}
            THEN 'drop' ELSE 'keep' END AS gate
FROM agg
"""
