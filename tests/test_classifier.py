"""Model-based quality classifier (wtq/operators/classifier.py).

Semantics on planted seeds, exact-integer determinism across
partitionings, and the zero-shuffle scoring-plan contract.  The
Spark-vs-DuckDB differential for the registered query runs in
tests/test_queries_oracle.py (nb_quality_scores).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wtq.operators.classifier import nb_score, nb_quality_scores, train_nb_weights
from plan_audit import plan_string

CLEAN = [
    "the quick brown fox jumps over the lazy dog near the river bank",
    "a clear morning with coffee and a good book is the best start",
    "she walked along the shore and watched the boats come home",
    "the committee agreed to publish the annual report next week",
]
NOISE = [
    "zxq vrb plk qqj xxw zzv mmk rrt yyp wwl qqa zzb",
    "jjx kkq vvz ppw qqr LLt zzy xxo mml rrw nnq ssv",
    "qzk wxv jpl rqt zzm vvk xxy ppo wwn llr qqs bbz",
    "xvw zqk plj tqr mzz kvv yxx opp nww rll sqq zbb",
]


def _labeled(spark):
    rows = [(i, t, True) for i, t in enumerate(CLEAN)] + [
        (100 + i, t, False) for i, t in enumerate(NOISE)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, y boolean")


def _held_out(spark):
    rows = [
        (0, "the fox and the dog watched the boats on the river"),
        (1, "zzv qqj xxw plk vrb zxq mml rrt"),
        (2, ""),
        (3, None),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_planted_separation(spark):
    w, c = train_nb_weights(_labeled(spark))
    got = {
        r["doc_id"]: r for r in nb_score(_held_out(spark), w, c).collect()
    }
    assert got[0]["score_micro"] > 0 and got[0]["keep_pred"]
    assert got[1]["score_micro"] < 0 and not got[1]["keep_pred"]
    assert got[0]["score_micro"] > got[1]["score_micro"]
    # empty / NULL text docs still get a row: score = prior alone
    prior = c.collect()[0]["prior_micro"]
    assert got[2]["score_micro"] == prior and got[2]["n_toks"] == 0
    assert got[3]["score_micro"] == prior and got[3]["n_toks"] == 0


def test_unseen_tokens_get_constant_weight(spark):
    w, c = train_nb_weights(_labeled(spark))
    consts = c.collect()[0]
    docs = spark.createDataFrame(
        [(7, "unseenword anotherunseen thirdunseen")], "doc_id long, text string"
    )
    (row,) = nb_score(docs, w, c).collect()
    assert row["score_micro"] == consts["prior_micro"] + 3 * consts["w0_micro"]


def test_score_partition_invariance(spark):
    """The BIGINT micro-unit sum is exactly order-independent: any
    repartitioning of the scored side yields identical scores (the
    float-summation nondeterminism a double-sum design would have)."""
    w, c = train_nb_weights(_labeled(spark))
    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.lit("the quick fox"),
            F.lit("zxq vrb"),
            (F.col("id") % 7).cast("string"),
        ).alias("text"),
    )
    a = sorted(map(tuple, nb_score(docs.repartition(1), w, c).collect()))
    b = sorted(map(tuple, nb_score(docs.repartition(13), w, c).collect()))
    assert a == b


def test_scoring_plan_zero_exchange_zero_python(spark):
    """The scoring pass over the (at scale: 100-TB) document stream
    must not exchange and must stay JVM-side: with materialized
    weights/consts the whole plan is scan → two broadcast joins →
    project."""
    w = spark.createDataFrame(
        [("the", 5), ("fox", 3), ("zxq", -9)], "t string, w_micro long"
    )
    c = spark.createDataFrame([(-2, 1)], "w0_micro long, prior_micro long")
    docs = spark.createDataFrame([(1, "the fox zxq")], "doc_id long, text string")
    scored = nb_score(docs, w, c)
    plan = plan_string(scored)
    # the doc stream itself never shuffles: the only exchanges allowed
    # are broadcasts plus the single-partition fold of the vocab-sized
    # weight table into its map value (tiny side, constant cost)
    assert "Exchange hashpartitioning" not in plan, plan[:4000]
    assert "Exchange rangepartitioning" not in plan, plan[:4000]
    assert plan.count("Exchange SinglePartition") <= 1, plan[:4000]
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan[:4000]
    assert "BroadcastNestedLoopJoin" in plan, plan[:4000]


def test_single_class_seed_rejected(spark):
    """A one-class seed has no log-odds (ln of a ratio with an empty
    class): the fit itself raises a ValueError naming the empty class,
    instead of returning frames that fail later with a Spark
    arithmetic error."""
    with pytest.raises(ValueError, match="no negative documents"):
        train_nb_weights(_labeled(spark).filter("y"))
    with pytest.raises(ValueError, match="no positive documents"):
        train_nb_weights(_labeled(spark).filter("not y"))


def test_end_to_end_wrapper_matches_manual_composition(spark):
    docs = _labeled(spark).drop("y").unionByName(
        spark.createDataFrame(
            [(200, "the river fox"), (201, "qqj zzv plk")],
            "doc_id long, text string",
        )
    )
    seed = F.col("doc_id") < 150
    pos = F.col("doc_id") < 50
    auto = sorted(
        map(tuple, nb_quality_scores(docs, seed_pred=seed, pos_pred=pos).collect())
    )
    w, c = train_nb_weights(docs.filter(seed).withColumn("y", pos))
    manual = sorted(map(tuple, nb_score(docs.filter(~seed), w, c).collect()))
    assert auto == manual
    by_id = {t[0]: t for t in auto}
    assert by_id[200][3] and not by_id[201][3]  # keep_pred separates held-out docs
