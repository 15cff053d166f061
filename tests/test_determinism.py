"""Partition-count invariance: results must be IDENTICAL under
different shuffle widths.

At 100 TB the same query runs at thousands of partitions and AQE
re-plans mid-flight; any result that depends on partition count or
intra-partition order (unparenthesized double sums, first()-style
picks, non-tie-broken windows) is silently wrong at scale.  The repo's
discipline (decimal-domain money sums, explicit tie-breaks, integer
hash arithmetic) exists precisely so these assertions hold — this
gates it.
"""

from __future__ import annotations

import pytest

QUERIES_TO_CHECK = [
    "pricing_summary",       # decimal-domain sums
    "sessionize_events",     # window + running sum + money rollup
    "dedup_minhash_lsh",     # within-bucket pair generation
    "simhash_near_pairs",    # banding + distinct
    "top_customer_per_nation",  # window top-1 with tie-break
    "tfidf_top_terms",       # broadcast IDF + window top-k
    "order_value_deciles",   # distributed rank-selected deciles
    "stratified_sample",     # hash-ordered per-group top-k
    "event_json_stats",      # double avg over JSON-extracted values
    "props_keys",            # merged set-ops/map-ops facets (round 4)
    "strip_boilerplate",     # corpus-statistic rewrite (round 4 single-agg form)
    "priority_case_ladder",  # decimal-domain mean
    "media_features",        # mapInPandas feature extraction
]

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", QUERIES_TO_CHECK)
def test_result_invariant_under_shuffle_width(spark, name):
    from wtq.queries import QUERIES

    old = spark.conf.get("spark.sql.shuffle.partitions")
    def run():
        df = QUERIES[name](spark, SF_DIR)
        cols = df.columns
        return sorted(tuple(str(v) for v in r) for r in df.collect()), cols
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        r7, c7 = run()
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        r32, c32 = run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert c7 == c32
    assert r7 == r32, f"{name} results vary with shuffle width"
