"""The quality-filter pipeline: scrub → score → rules → decision.

Structure mirrors the reference's lifecycle (SURVEY.md §3/E2): a
single filter-classify-route pass per record (water.lua callbacks) —
here ONE Arrow-batched Python stage (scrub + langid + perplexity +
repetition stats, one serialization round-trip) followed by pure
JVM-side expression rules and the err_all-style rollup
(proccess_data.sql:814-841).

Scale design (100 TB / 10^12 docs):
  * the only wide operations are (1) the per-url re-crawl dedup window
    and (2) the salted repartition; everything else is narrow and
    whole-stage-codegen or Arrow-batched.
  * re-crawl dedup shuffles by url — at cluster scale the input
    Iceberg table is bucketed by murmur3(url) so this exchange is
    avoided entirely (storage-partitioned join/agg); see
    tests/test_bucket_contract.py.
  * per-doc Python work is capped (langid 200 words, ppl 2000 chars) —
    the cost-bounding analog of the reference's st_subdivide
    (SURVEY.md §4).
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wtq.rules import heuristics as H
from wtq.rules.batch import score_batch
from wtq.rules.heuristics import STAT_FIELDS

SCORE_SCHEMA = T.StructType(
    [
        T.StructField("scrubbed", T.StringType()),
        T.StructField("n_email", T.IntegerType()),
        T.StructField("n_phone", T.IntegerType()),
        T.StructField("n_ip", T.IntegerType()),
        T.StructField("n_profanity", T.IntegerType()),
        T.StructField("pred_lang", T.StringType()),
        T.StructField("lang_margin", T.DoubleType()),
        T.StructField("ppl", T.DoubleType()),
    ]
    + [
        T.StructField(
            f, T.IntegerType() if f in ("n_words", "n_lines") else T.DoubleType()
        )
        for f in STAT_FIELDS
    ]
)


@F.pandas_udf(SCORE_SCHEMA)
def score_udf(texts: pd.Series) -> pd.DataFrame:
    """Arrow-batched scrub + langid + perplexity + stats — the whole
    per-document computation in ONE Python pass per Arrow batch (one
    round-trip, zero per-row dispatch), computed column-at-a-time by
    wtq.rules.batch.score_batch.  The text is already in Python for the
    regex scrub, so the stats are computed here too rather than as JVM
    expressions; the rules over them are one JVM-side SQL expression
    rendered from the rule table (wtq.rules.heuristics.fired_rules_expr).
    `scrubbed` is NULL when scrubbing changed nothing: decide()
    coalesces it back from the input column, so unchanged text never
    crosses the Arrow boundary twice."""
    return score_batch(texts)


def dedup_recrawls(pages: DataFrame) -> DataFrame:
    """Keep the latest crawl per url (deterministic tie-break on text,
    NULL text last as in the oracle's sort, so a same-instant crawl
    with text wins over one without).

    The reference's DISTINCT ON best-row-per-group pattern
    (proccess_data.sql:372-381) as a window top-1."""
    w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc(), F.col("text").asc_nulls_last())
    return (
        pages.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def salted_repartition(df: DataFrame, num_partitions: int) -> DataFrame:
    """Explicit murmur3(url) repartition (north-rule requirement):
    Spark's hash partitioning IS murmur3 of the key, and unique urls
    hash uniformly regardless of their (Zipf-skewed) host, so this one
    exchange both breaks host-level skew and establishes
    ClusteredDistribution(url) — the downstream re-crawl-dedup window
    reuses it instead of shuffling a second time."""
    return df.repartition(num_partitions, F.col("url"))


def _deduped(pages: DataFrame, num_partitions: int | None) -> DataFrame:
    """The scored input: (url, warc_ts, text, lang), optionally
    murmur3(url)-repartitioned, latest crawl per url."""
    pages = pages.select("url", "warc_ts", "text", "lang")
    if num_partitions:
        pages = salted_repartition(pages, num_partitions)
    return dedup_recrawls(pages)


def _scored(pages: DataFrame, carry_cols: tuple[str, ...] = ()) -> DataFrame:
    """The decision columns over already-deduped pages; `carry_cols`
    ride through unchanged into the output projection."""
    pages = pages.select("url", "warc_ts", "text", "lang", *carry_cols)
    scored = pages.withColumn("__s", score_udf(F.col("text")))
    s = F.col("__s")
    # NULL scrubbed = "no edits" sentinel from score_udf — the
    # original text column is still in scope here, so the coalesce
    # reconstructs the identical value without the Arrow round-trip
    scrubbed = F.coalesce(s["scrubbed"], F.col("text"))
    return (
        scored.select(
            "url",
            "warc_ts",
            "lang",
            scrubbed.alias("text"),
            s["n_words"].alias("n_words"),
            s["pred_lang"].alias("pred_lang"),
            F.round(s["ppl"], 4).alias("ppl"),
            s["n_email"].alias("n_email"),
            s["n_phone"].alias("n_phone"),
            s["n_ip"].alias("n_ip"),
            s["n_profanity"].alias("n_profanity"),
            (s["n_email"] + s["n_phone"] + s["n_ip"] + s["n_profanity"]).alias("n_scrub_edits"),
            F.spark_partition_id().alias("partition_id"),
            H.fired_rules_expr("__s.").alias("fired_rules"),
            *[F.col(c) for c in carry_cols],
        )
        .withColumn("keep", F.size("fired_rules") == 0)
    )


def decide(pages: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Full per-document decision DF.

    Columns: url, warc_ts, lang, text (scrubbed), n_words, pred_lang,
    ppl, scrub-edit counts, partition_id, fired_rules array<string>
    (sorted), keep boolean.

    Plan shape (one wide exchange total): parquet scan pruned to
    (url, warc_ts, text, lang) — the html payload never enters a
    shuffle — → salted murmur3(url) repartition → window dedup (reuses
    the exchange: ClusteredDistribution(url) already satisfied) →
    Arrow score pass → threshold expressions (codegen).
    """
    return _scored(_deduped(pages, num_partitions))


def decisions_view(decided: DataFrame) -> DataFrame:
    """The err_all analog: one row per record with its fired codes."""
    return decided.select("url", "keep", "fired_rules")


def scrubbed_view(decided: DataFrame) -> DataFrame:
    """Kept documents with byte-exact scrubbed text + sha256."""
    return decided.filter("keep").select(
        "url",
        "text",
        F.sha2(F.encode(F.col("text"), "UTF-8"), 256).alias("text_sha256"),
    )


def metrics_view(decided: DataFrame) -> DataFrame:
    """Per-partition lineage rows — the role-histogram/conditional-count
    pattern (proccess_data.sql:180-195, SURVEY.md §2.4 A5).

    Conservation invariant: n_input = n_keep + n_drop always; with the
    host gate enabled n_drop further splits as n_drop = rule-dropped +
    n_host_gated.  Curation-lineage columns appear only when the
    corresponding pipeline flag added them."""
    aggs = [
        F.count("*").alias("n_input"),
        F.count(F.when(F.col("keep"), 1)).alias("n_keep"),
        F.count(F.when(~F.col("keep"), 1)).alias("n_drop"),
        F.sum("n_scrub_edits").alias("n_scrub_edits"),
    ]
    if "n_boiler_removed" in decided.columns:
        aggs.append(F.sum("n_boiler_removed").alias("n_boiler_lines_removed"))
    if "host_gated" in decided.columns:
        aggs.append(F.count(F.when(F.col("host_gated"), 1)).alias("n_host_gated"))
    return decided.groupBy("partition_id").agg(*aggs)


def rule_fire_counts(decided: DataFrame, registry: DataFrame) -> DataFrame:
    """Per-rule firing counts joined to the registry dim — the
    err_codes broadcast-join analog (proccess_data.sql:837, J11)."""
    fired = decided.select(F.explode("fired_rules").alias("code"))
    counts = fired.groupBy("code").count()
    return counts.join(F.broadcast(registry), "code", "left").orderBy("code")


@dataclass
class PipelineResult:
    decided: DataFrame

    def write(self, out_dir: str) -> None:
        """Write the filter's four outputs under `out_dir` (any Hadoop
        path): `decided` once, then `decisions`, `scrubbed` and
        `metrics` derived from the written parquet, so the pipeline
        runs once — the reference's CTAS at the fan-out (SURVEY.md
        §3/E1)."""
        self.decided.write.mode("overwrite").parquet(f"{out_dir}/decided")
        decided = self.decided.sparkSession.read.parquet(f"{out_dir}/decided")
        for name, view in (
            ("decisions", decisions_view),
            ("scrubbed", scrubbed_view),
            ("metrics", metrics_view),
        ):
            view(decided).write.mode("overwrite").parquet(f"{out_dir}/{name}")


def _host() -> Column:
    """The url's authority component (scheme://host) — the curation
    grouping key for domain-level passes."""
    return F.substring_index(F.col("url"), "/", 3)


def run_pipeline(
    spark,
    pages_path: str,
    num_partitions: int | None = None,
    strip_boilerplate: bool = False,
    host_gate: bool = False,
) -> PipelineResult:
    """The quality-filter pipeline, with the corpus-curation passes as
    optional pre/post stages behind flags (default OFF — the default
    plan and outputs are byte-identical to the flagless pipeline, and
    the north-rule scrub/keep-drop differential gates that path):

    * ``strip_boilerplate``: corpus-wide C4/CCNet boilerplate-line
      removal BEFORE scoring — re-crawl dedup first (line statistics
      must not double-count re-crawls), then
      ``strip_boilerplate_lines`` rewrites each text and the per-doc
      removed-line count rides into the output (`n_boiler_removed`)
      and metrics (`n_boiler_lines_removed`).
    * ``host_gate``: domain-level quality gate AFTER scoring — host
      verdicts are aggregated from the raw corpus (a second pruned
      scan of the url/text columns: cheaper than checkpointing the
      Arrow-scored stream just to reuse it, and the domain signal is
      defined on the crawl, not on scrubbed survivors), the
      broadcast-sized drop list is joined back, and `host_gated`
      marks rule-keepers whose host failed: keep := keep ∧ ¬gated, so
      n_input = n_keep + rule-dropped + n_host_gated exactly.
    """
    pages = spark.read.parquet(pages_path)
    if strip_boilerplate:
        from wtq.operators.curation import strip_boilerplate_lines

        # two strip consumers (digest pass + rebuild) would otherwise
        # re-execute the scan + window-dedup subtree; materialize once
        # (round-6: measured 18.5s → 13.9s on strip+decide at sf1.0).
        # localCheckpoint, not persist: blocks are freed by the
        # ContextCleaner when the frame is dropped (cf. the
        # order_value_deciles note in wtq/queries.py)
        base = _deduped(pages, num_partitions).localCheckpoint(eager=True)
        # warc_ts/lang ride through the rebuild aggregation as carry
        # columns — no re-join of the page stream against itself
        base = (
            strip_boilerplate_lines(
                base, "url", "text", carry_cols=("warc_ts", "lang")
            )
            .withColumnRenamed("clean_text", "text")
            .withColumnRenamed("n_removed", "n_boiler_removed")
        )
        decided = _scored(base, carry_cols=("n_boiler_removed",))
    else:
        decided = decide(pages, num_partitions=num_partitions)

    if host_gate:
        from wtq.operators.curation import source_quality_gate

        raw = pages.select("url", "text").withColumn("host", _host())
        gate_table = source_quality_gate(raw, "url", "text", "host")
        drop_hosts = (
            gate_table.filter(F.col("gate") == "drop")
            .select("host")
            .withColumn("__gated", F.lit(True))
        )
        decided = (
            decided.withColumn("host", _host())
            .join(F.broadcast(drop_hosts), "host", "left")
            .withColumn(
                "host_gated",
                F.coalesce(F.col("__gated"), F.lit(False)) & F.col("keep"),
            )
            .drop("__gated", "host")
            .withColumn("keep", F.col("keep") & ~F.col("host_gated"))
        )
    return PipelineResult(decided)
