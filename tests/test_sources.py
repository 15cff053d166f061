"""Binary-payload source plumbing: a documents table carried as a
``binary`` column, streamed through ``mapInPandas`` feature
extraction."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from wtq.operators.multimodal import multimodal_features

SF_DIR = "/root/testdata/sf0.001"


def test_multimodal_stub_and_batching(spark):
    """mapInPandas plumbing over a binary column: schema honored,
    batches stream, one feature row per document, and f0 is the
    payload digest's first 4 bytes as a fraction of 2^32."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    feats = multimodal_features(docs)
    row = feats.filter(F.col("doc_id") == 0).collect()[0]
    text = docs.filter(F.col("doc_id") == 0).first().text
    digest = hashlib.sha256(text.encode("utf-8")).digest()
    assert row.byte_len > 0
    assert row.f0 == round(int.from_bytes(digest[:4], "big") / 2**32, 6)
    assert feats.count() == docs.count()
