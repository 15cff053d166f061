"""Structured Streaming tests: an AvailableNow drain equals the batch
result, a second drain over new files reads only them, and
stream-static scoring equals batch scoring."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from wtq.streaming.ingest import windowed_event_counts

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.parametrize("uri", [False, True], ids=["path", "file_uri"])
def test_windowed_counts_equal_batch(spark, tmp_path, uri):
    """Equal on a plain path and on a Hadoop ``file://`` URI checkpoint
    (the sink's output is found through the FileSystem API)."""
    ckpt = str(tmp_path / "ck1")
    got = windowed_event_counts(spark, SF_DIR, f"file://{ckpt}" if uri else ckpt).toPandas()
    batch = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy(F.window(F.col("ts").cast("timestamp"), "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.unix_millis("w.start").alias("window_ms"), "event_type", "n")
        .toPandas()
    )
    g = got[["window_ms", "event_type", "n"]].sort_values(["window_ms", "event_type"]).reset_index(drop=True)
    b = batch.sort_values(["window_ms", "event_type"]).reset_index(drop=True)
    assert g.equals(b)


def test_streaming_pipeline_is_incremental(spark, tmp_path):
    """New files landing in the input directory are processed by the
    next run WITHOUT reprocessing the old ones — the checkpoint carries
    the file-source state and the window aggregates forward (the
    incremental property itself, not just batch parity).  A reprocessed
    first file would double its windows' counts."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    events = pq.read_table(f"{SF_DIR}/events.parquet").sort_by("ts")
    # split in event time so no row of the second file is late
    half = events.num_rows // 2
    first, second = events.slice(0, half), events.slice(half)
    assert pc.max(first["ts"]).as_py() <= pc.min(second["ts"]).as_py()

    def counts(df):
        return df.groupBy("window_ms", "event_type").agg(F.sum("n").alias("n")).toPandas()

    def batch(paths):
        b = (
            spark.read.parquet(*paths)
            .groupBy(F.window(F.col("ts").cast("timestamp"), "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n"))
            .select(F.unix_millis("w.start").alias("window_ms"), "event_type", "n")
        )
        return counts(b)

    def same(got, exp):
        key = ["window_ms", "event_type"]
        g = got.sort_values(key).reset_index(drop=True)
        e = exp.sort_values(key).reset_index(drop=True)
        return g.equals(e)

    src, ckpt = tmp_path / "incoming", str(tmp_path / "ckpt")
    (src / "batch=1").mkdir(parents=True)
    pq.write_table(first, str(src / "batch=1" / "events.parquet"))
    got1 = counts(windowed_event_counts(spark, str(src), ckpt))
    assert same(got1, batch([str(src / "batch=1" / "events.parquet")]))

    (src / "batch=2").mkdir()
    pq.write_table(second, str(src / "batch=2" / "events.parquet"))
    got2 = counts(windowed_event_counts(spark, str(src), ckpt))
    assert int(got2.n.sum()) == events.num_rows  # first file NOT reprocessed
    assert same(got2, batch([f"{SF_DIR}/events.parquet"]))

    # the file-source log: the second run's micro-batch read only the new
    # file (a run that ignored the checkpoint would re-list both)
    read = {}
    for log in sorted((tmp_path / "ckpt" / "sources" / "0").glob("[0-9]*")):
        for line in log.read_text().splitlines()[1:]:
            entry = json.loads(line)
            read.setdefault(entry["batchId"], []).append(entry["path"].rsplit("/", 2)[-2])
    assert read == {0: ["batch=1"], 1: ["batch=2"]}


def test_streaming_classifier_scores_match_batch(spark, tmp_path):
    """Model-based quality scoring on an incremental crawl: nb_score is
    a stateless stream-static broadcast pass, so the same call works
    unchanged on a readStream source and must score doc-for-doc
    identically to batch (exact BIGINT scores — equality, no
    tolerance)."""
    from wtq.operators.classifier import nb_score, train_nb_weights

    seed = spark.createDataFrame(
        [
            ("the quick brown fox jumps over the lazy dog", True),
            ("a clear morning with coffee and a good book", True),
            ("zxq vrb plk qqj xxw zzv mmk rrt yyp wwl", False),
            ("jjx kkq vvz ppw qqr llt zzy xxo mml rrw", False),
        ],
        "text string, y boolean",
    )
    w, c = train_nb_weights(seed)
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    )
    src = str(tmp_path / "docs_src")
    docs.write.parquet(src)

    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        nb_score(stream, w, c)
        .writeStream.format("memory")
        .queryName("nb_stream_scores")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select * from nb_stream_scores").toPandas()
    exp = nb_score(spark.read.parquet(src), w, c).toPandas()
    key = ["doc_id", "n_toks", "score_micro", "keep_pred"]
    g = got[key].sort_values("doc_id").reset_index(drop=True)
    e = exp[key].sort_values("doc_id").reset_index(drop=True)
    assert g.equals(e) and len(g) == docs.count()
