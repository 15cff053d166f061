"""Seed-trained quality classifier (model-based filtering).

The reference's quality decisions are hand-written predicate ladders
(proccess_data.sql:244-420 CASE batteries); modern webtext curation
layers a MODEL-based scorer trained on seed corpora on top of the
heuristics — CCNet's fastText scorer, the GPT-3/Pile
logistic-regression-over-features filter.  Rebuilt Spark-first as
closed-form multinomial Naive Bayes log-odds:

* **training** is nothing but aggregations over the labeled seed
  (per-token class counts, class token totals, vocabulary size, class
  priors) — no iterative optimizer, so the whole fit is one
  class-count aggregate (a one-class seed is rejected there) and two
  shuffles over a seed that is tiny relative to the corpus being
  scored;
* **scoring** is a ZERO-SHUFFLE map-side pass: the vocab-sized weight
  table is folded into a one-row map column, broadcast onto the
  document stream, and each document's score is a higher-order
  `aggregate` over its token array — all JVM expressions, no Python,
  no exchange on the 100-TB side of the plan (plan-gated in
  tests/test_classifier.py).

Cross-engine exactness (the tfidf trick, extended): every per-token
weight is `ln((c+1)/(T+V))` — single ``ln`` calls on ratios of exact
integers, bit-identical across JVM and DuckDB — quantized to integer
MICRO-units (×1e6, half-away-from-zero round, both engines agree).  A
document score is then a BIGINT sum of those integers plus an
integral-ratio prior, so it is exactly order-independent: no
float-summation nondeterminism at any partitioning or parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wtq.operators.text import sql_words, words

MICRO = 1_000_000


def train_nb_weights(labeled: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Fit NB log-odds weights on a labeled seed.

    ``labeled`` needs a boolean ``y`` (True = quality seed, e.g. a
    curated reference corpus; False = raw-crawl negatives) and a
    ``text``.  Returns ``(weights, consts)``:

    * ``weights``: (t, w_micro) — one row per seed-vocabulary token,
      w_micro = round(1e6 · [ln((c_pos+1)/(T_pos+V)) −
      ln((c_neg+1)/(T_neg+V))]) as BIGINT (add-one smoothing);
    * ``consts``: one row, (w0_micro, prior_micro) — the unseen-token
      weight (same formula at c=0) and the class prior
      round(1e6 · ln(N_pos/N_neg)).

    Both classes must be non-empty (ln of a zero ratio is undefined —
    a seed with one class is not a training set): the class document
    counts are read with one aggregate before anything else is built,
    and a seed missing a class raises ``ValueError`` naming it.
    """
    label = F.col("y").cast("boolean")
    n_pos, n_neg = labeled.agg(
        F.count(F.when(label, True)), F.count(F.when(~label, True))
    ).first()
    for n, cls, value in ((n_pos, "positive", "true"), (n_neg, "negative", "false")):
        if n == 0:
            raise ValueError(
                f"train_nb_weights: the seed has no {cls} documents "
                f"(y = {value}); both classes are required "
                f"(got {n_pos} positive, {n_neg} negative)"
            )
    y = F.col("y")
    tok = labeled.select(
        label.alias("y"),
        F.explode(words(F.coalesce(F.col("text"), F.lit("")))).alias("t"),
    )
    counts = tok.groupBy("t").agg(
        F.count(F.when(y, True)).alias("c_pos"),
        F.count(F.when(~y, True)).alias("c_neg"),
    )
    totals = tok.agg(
        F.count(F.when(y, True)).alias("t_pos"),
        F.count(F.when(~y, True)).alias("t_neg"),
        F.countDistinct("t").alias("v"),
    )

    def _w(c_pos, c_neg):
        # each ln argument is an exact-integer ratio → bit-identical
        # doubles in JVM and DuckDB; ×1e6 + round → identical BIGINTs
        return F.round(
            (
                F.log((c_pos + F.lit(1)) / (F.col("t_pos") + F.col("v")))
                - F.log((c_neg + F.lit(1)) / (F.col("t_neg") + F.col("v")))
            )
            * MICRO
        ).cast("long")

    weights = counts.crossJoin(F.broadcast(totals)).select(
        "t", _w(F.col("c_pos"), F.col("c_neg")).alias("w_micro")
    )
    consts = totals.select(
        _w(F.lit(0), F.lit(0)).alias("w0_micro"),
        F.round(F.log(F.lit(n_pos) / F.lit(n_neg)) * MICRO).cast("long").alias("prior_micro"),
    )
    return weights, consts


def nb_score(docs: DataFrame, weights: DataFrame, consts: DataFrame) -> DataFrame:
    """Score (doc_id, text) documents under trained weights: zero-shuffle
    map-side pass.

    The weight table folds to a single map value (seed-vocab-sized —
    broadcastable at any corpus scale, the scored side never
    exchanges), and each document reduces its token array with a
    higher-order ``aggregate``: acc + coalesce(map[t], w0).  Output per
    doc: n_toks, score_micro (BIGINT micro-log-odds, exact), keep_pred
    (score > 0 ⇔ the seed class is more likely).
    """
    wmap_row = weights.agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("t", "w_micro")))
        ).alias("wmap")
    )
    toks = words(F.coalesce(F.col("text"), F.lit("")))
    score = F.col("prior_micro") + F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc
        + F.coalesce(F.element_at(F.col("wmap"), t), F.col("w0_micro")),
    )
    return (
        docs.join(F.broadcast(wmap_row))
        .join(F.broadcast(consts))
        .select(
            "doc_id",
            F.size(toks).alias("n_toks"),
            score.alias("score_micro"),
            (score > 0).alias("keep_pred"),
        )
    )


def nb_quality_scores(docs: DataFrame, seed_pred, pos_pred) -> DataFrame:
    """End-to-end convenience: train on ``docs[seed_pred]`` labeled by
    ``pos_pred``, score the held-out complement (train/apply split —
    the scorer is never graded on its own seed)."""
    labeled = docs.filter(seed_pred).withColumn("y", pos_pred)
    weights, consts = train_nb_weights(labeled)
    return nb_score(docs.filter(~seed_pred), weights, consts)


def sql_nb_quality_scores(
    table: str,
    id_col: str,
    text_col: str,
    seed_sql: str,
    pos_sql: str,
) -> str:
    """DuckDB oracle: the identical closed-form fit + integer-sum
    scoring in pure SQL (``seed_sql``/``pos_sql`` are boolean SQL
    expressions over ``table`` selecting the seed slice and the
    positive label)."""
    toks = sql_words(f"coalesce({text_col}, '')")
    return f"""
WITH labeled AS (
  SELECT ({pos_sql}) AS y, {text_col} FROM {table} WHERE ({seed_sql})
), tok AS (
  SELECT y, unnest({toks}) AS t FROM labeled
), counts AS (
  SELECT t,
         count(*) FILTER (y) AS c_pos,
         count(*) FILTER (NOT y) AS c_neg
  FROM tok GROUP BY 1
), totals AS (
  SELECT count(*) FILTER (y) AS t_pos,
         count(*) FILTER (NOT y) AS t_neg,
         count(DISTINCT t) AS v
  FROM tok
), doc_totals AS (
  SELECT count(*) FILTER (y) AS n_pos, count(*) FILTER (NOT y) AS n_neg
  FROM labeled
), w AS (
  SELECT t,
         CAST(round((ln((c_pos + 1) / (t_pos + v))
                   - ln((c_neg + 1) / (t_neg + v))) * {MICRO}) AS BIGINT) AS w_micro
  FROM counts, totals
), consts AS (
  SELECT CAST(round((ln((0 + 1) / (t_pos + v))
                   - ln((0 + 1) / (t_neg + v))) * {MICRO}) AS BIGINT) AS w0_micro,
         CAST(round(ln(n_pos / n_neg) * {MICRO}) AS BIGINT) AS prior_micro
  FROM totals, doc_totals
), apply AS (
  SELECT {id_col}, {toks} AS ws FROM {table} WHERE NOT ({seed_sql})
), apply_tok AS (
  SELECT {id_col}, unnest(ws) AS t FROM apply
), tok_sums AS (
  SELECT {id_col},
         CAST(sum(coalesce(w.w_micro, (SELECT w0_micro FROM consts))) AS BIGINT) AS s
  FROM apply_tok LEFT JOIN w USING (t) GROUP BY 1
)
SELECT a.{id_col},
       CAST(len(a.ws) AS INT) AS n_toks,
       CAST((SELECT prior_micro FROM consts) + coalesce(ts.s, 0) AS BIGINT)
         AS score_micro,
       ((SELECT prior_micro FROM consts) + coalesce(ts.s, 0)) > 0 AS keep_pred
FROM apply a LEFT JOIN tok_sums ts USING ({id_col})
"""
