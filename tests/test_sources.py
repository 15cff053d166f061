"""Binary-payload source plumbing: a documents table carried as a
``binary`` column with a metadata struct, streamed through
``mapInPandas`` feature extraction."""

from __future__ import annotations

from pyspark.sql import functions as F

from wtq.operators.multimodal import extract_features, with_blob

SF_DIR = "/root/testdata/sf0.001"


def test_multimodal_stub_and_batching(spark):
    """mapInPandas plumbing over a binary column: schema honored,
    batches stream, one feature row per document."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    feats = extract_features(with_blob(docs, "doc_id", "text"))
    row = feats.filter(F.col("doc_id") == 0).collect()[0]
    assert row.byte_len > 0 and len(row.embedding) == 4
    assert feats.count() == docs.count()
