"""Query registry: every implemented operator from SURVEY.md §2 as a
(spark, sf_dir) → DataFrame callable, with a matching ANSI-SQL oracle
for DuckDB.  The driver compares row counts + schema + value hashes,
sorting columns by name — every computed column is aliased identically
on both sides, all doubles are explicitly rounded, arrays are emitted
as delimiter-joined strings, and timestamps as epoch seconds.

Each entry cites the reference operator it proves parity with
(SURVEY.md §2 row ids: P*, J*, A*, W*, U*, O*).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wtq.operators import classifier as CL
from wtq.operators import curation as C
from wtq.operators import dedup as D
from wtq.operators import multimodal as MM
from wtq.operators import similarity as S
from wtq.operators import spatial as G
from wtq.operators import text as X
from wtq.operators.asof import asof_join_backward
from wtq.rules import registry as R
from wtq.streaming import ingest as ST


def _t(spark: SparkSession, sf_dir: str, name: str, rebalance: bool = True) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if not rebalance:
        # Join-heavy consumers pass rebalance=False: their first shuffle
        # (join exchange / broadcast collect) redistributes anyway, so a
        # round-robin pre-repartition is a pure extra pass over the
        # table (round-6: region_revenue measured 2.8× faster without
        # it + a SHUFFLE_HASH hint; see q_region_revenue).
        return df
    # The driver-provided parquet files are written as a SINGLE row
    # group, which Spark cannot split — every scan would run as one
    # task and serialize the whole query.  Rebalance undersized reads;
    # Catalyst still pushes filters and column pruning through
    # Repartition to the scan (asserted in tests/test_plan_shapes.py).
    # At cluster scale the source tables are properly partitioned and
    # this is a no-op.
    p = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p // 2:
        df = df.repartition(p)
    return df


def _t_keyed(spark: SparkSession, sf_dir: str, name: str, *keys: str) -> DataFrame:
    """Read + repartition by the downstream window/aggregation key
    (round-6, guide §2.4): the single-row-group driver files still need
    one exchange for scan parallelism, but a KEY exchange doubles as
    the ClusteredDistribution the downstream window/groupBy requires —
    one exchange total, where the round-robin rebalance paid its own
    exchange (plus the mandatory sort-before-repartition) and then the
    operator's hash exchange on top (measured on latest_event_per_user
    at sf1.0: 1.80s round-robin → 0.64s keyed).  Pinning the partition
    count also keeps AQE from coalescing the small exchange into too
    few partitions for the compute-heavy operator above it."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    p = spark.sparkContext.defaultParallelism
    return df.repartition(p, *[F.col(k) for k in keys])


# ---------------------------------------------------------------------------
# Relational capability parity (TPC-H-ish tables)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """A1 multi-key agg + P1 projections (proccess_data.sql:72-76 analog)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)") * (1 - F.col("l_discount").cast("decimal(18,4)"))).cast("double"), 2).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_base_price,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_region_revenue(spark, sf_dir):
    """J5 multi-way join with broadcast dims (proccess_data.sql:459-461).

    Join strategy picked deliberately (guide §3.1, round-6): the
    lineitem⋈orders join is hinted SHUFFLE_HASH — orders is the one
    fact-sized side (1.5M rows at sf1.0) and building its whole
    HashedRelation as a broadcast was the query's dominant cost
    (measured 2.84s auto-broadcast → 1.04s SHJ at sf1.0); per-
    partition hash builds scale with shuffle partitions.  The three
    small dims stay broadcast.  Tables are read without the _t
    round-robin rebalance: the join exchange redistributes anyway."""
    c = _t(spark, sf_dir, "customer", rebalance=False)
    o = _t(spark, sf_dir, "orders", rebalance=False)
    li = _t(spark, sf_dir, "lineitem", rebalance=False)
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o.hint("SHUFFLE_HASH"), li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)") * (1 - F.col("l_discount").cast("decimal(18,4)"))).cast("double"), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


SQL_REGION_REVENUE = """
SELECT r_name, n_name,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q_rollup_acctbal(spark, sf_dir):
    """Grouping-sets capability (SURVEY.md §2.4 'absent' row): ROLLUP."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(F.round(F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double"), 2).alias("total_bal"), F.count("*").alias("n_cust"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "total_bal",
            "n_cust",
        )
    )


SQL_ROLLUP_ACCTBAL = """
SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
       round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE), 2) AS total_bal, count(*) AS n_cust
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q_top_customer_per_nation(spark, sf_dir):
    """W1 DISTINCT ON / best-row-per-group (proccess_data.sql:372-381)."""
    c = _t_keyed(spark, sf_dir, "customer", "c_nationkey")
    n = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("n_name", "c_custkey", F.round("c_acctbal", 2).alias("best_bal"))
    )


SQL_TOP_CUSTOMER_PER_NATION = """
SELECT n_name, c_custkey, round(c_acctbal, 2) AS best_bal
FROM (
  SELECT *, row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn
  FROM customer
) c JOIN nation ON c_nationkey = n_nationkey
WHERE rn = 1
"""


def q_customers_without_orders(spark, sf_dir):
    """J7 left-anti (proccess_data.sql:482-488).  Anti-joined against
    the URGENT-priority subset: every customer in the fixture has SOME
    order, so the unfiltered anti-join was vacuously empty — this form
    returns real rows while exercising the same plan (LeftAnti,
    asserted in tests/test_plan_shapes.py)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


SQL_CUSTOMERS_WITHOUT_ORDERS = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


def q_duplicate_part_supp(spark, sf_dir):
    """A6/J8 duplicate detection via having count>1 (proccess_data.sql:204-213)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.count("*").alias("n_lines"))
        .filter(F.col("n_lines") > 1)
    )


SQL_DUPLICATE_PART_SUPP = """
SELECT l_partkey, l_suppkey, count(*) AS n_lines
FROM lineitem GROUP BY 1, 2 HAVING count(*) > 1
"""


def q_supplier_pairs_per_nation(spark, sf_dir):
    """J4 theta self-join with canonical id1<id2 (proccess_data.sql:243-248)."""
    s = _t(spark, sf_dir, "supplier")
    s1 = s.select(F.col("s_suppkey").alias("k1"), F.col("s_nationkey").alias("nk"))
    s2 = s.select(F.col("s_suppkey").alias("k2"), F.col("s_nationkey").alias("nk"))
    return (
        s1.join(s2, "nk")
        .filter(F.col("k1") < F.col("k2"))
        .groupBy(F.col("nk").alias("nationkey"))
        .agg(F.count("*").alias("n_pairs"))
    )


SQL_SUPPLIER_PAIRS_PER_NATION = """
SELECT s1.s_nationkey AS nationkey, count(*) AS n_pairs
FROM supplier s1 JOIN supplier s2
  ON s1.s_nationkey = s2.s_nationkey AND s1.s_suppkey < s2.s_suppkey
GROUP BY 1
"""


def q_orders_array_membership(spark, sf_dir):
    """J1 array-membership join: build per-customer order arrays, join
    via array_contains (reference `= any(list)` proccess_data.sql:69-71),
    realized scale-safely as explode + equi-join."""
    o = _t_keyed(spark, sf_dir, "orders", "o_custkey")
    arrs = o.groupBy("o_custkey").agg(F.collect_list("o_orderkey").alias("order_keys"))
    # non-equi array_contains join against a probe set of orders
    probe = o.filter(F.col("o_orderkey") % 1000 == 0).select(F.col("o_orderkey").alias("probe_key"))
    exploded = arrs.select("o_custkey", F.explode("order_keys").alias("k"))
    return (
        exploded.join(F.broadcast(probe), exploded.k == probe.probe_key)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_probe_hits"))
    )


SQL_ORDERS_ARRAY_MEMBERSHIP = """
WITH arrs AS (SELECT o_custkey, list(o_orderkey) AS order_keys FROM orders GROUP BY 1),
probe AS (SELECT o_orderkey AS probe_key FROM orders WHERE o_orderkey % 1000 = 0)
SELECT o_custkey, count(*) AS n_probe_hits
FROM arrs JOIN probe ON list_contains(order_keys, probe_key)
GROUP BY o_custkey
"""


def q_event_pivot(spark, sf_dir):
    """A5 conditional-count pivot (proccess_data.sql:184-189)."""
    e = _t_keyed(spark, sf_dir, "events", "user_id")
    types = ["click", "error", "purchase", "signup", "view"]
    return e.groupBy("user_id").agg(
        *[F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}") for t in types],
        F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4).alias("total_value"),
    )


SQL_EVENT_PIVOT = """
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'click') AS n_click,
       count(*) FILTER (WHERE event_type = 'error') AS n_error,
       count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
       count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
       count(*) FILTER (WHERE event_type = 'view') AS n_view,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_value
FROM events GROUP BY user_id
"""


def q_latest_event_per_user(spark, sf_dir):
    """W1/W2 window top-1 with deterministic tie-break; timestamps as
    epoch seconds for engine-neutral hashing."""
    e = _t_keyed(spark, sf_dir, "events", "user_id")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        )
    )


SQL_LATEST_EVENT_PER_USER = """
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
       epoch_ms(ts) AS ts_ms
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def q_event_json_stats(spark, sf_dir):
    """P6-analog semi-structured access (`->>`): JSON prop extraction."""
    e = _t(spark, sf_dir, "events")
    # mean = exact decimal sum / count (partition-order independent)
    return (
        e.withColumn("k", F.get_json_object("props", "$.k").cast("decimal(18,6)"))
        .groupBy("event_type")
        .agg(
            F.round(F.sum("k").cast("double") / F.count("k"), 4).alias("avg_k"),
            F.count("*").alias("n"),
        )
    )


SQL_EVENT_JSON_STATS = """
SELECT event_type,
       round(CAST(sum(CAST(json_extract_string(props, '$.k') AS DECIMAL(18,6))) AS DOUBLE)
             / count(json_extract_string(props, '$.k')), 4) AS avg_k,
       count(*) AS n
FROM events GROUP BY event_type
"""


def q_sessionize_events(spark, sf_dir):
    """Window lag + running session assignment (gap > 30 min ⇒ new
    session) — ranking/lag capability (SURVEY.md §2.5 'absent' row)."""
    e = _t_keyed(spark, sf_dir, "events", "user_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_millis(F.col("ts").cast("timestamp")) - F.unix_millis(F.lag("ts").over(w).cast("timestamp"))
    sess = F.sum(F.when(gap.isNull() | (gap > 1800_000), 1).otherwise(0)).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        e.withColumn("session_id", sess)
        .groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4).alias("session_value"))
    )


SQL_SESSIONIZE_EVENTS = """
WITH gaps AS (
  SELECT user_id, value, ts, event_id,
         epoch_ms(ts) - epoch_ms(lag(ts) OVER w) AS gap
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  -- CAST(... AS BIGINT): DuckDB window-sums BIGINT into HUGEINT, which
  -- reaches the comparison frame as float64 and hash-mismatches the
  -- Spark bigint (round-1 verdict bug #2)
  SELECT user_id, value,
         CAST(sum(CASE WHEN gap IS NULL OR gap > 1800000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM gaps
)
SELECT user_id, session_id, count(*) AS n_events, round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS session_value
FROM sess GROUP BY user_id, session_id
"""


def _deciles_base(spark, sf_dir):
    """Distributed total order + local ids, PRE-checkpoint: the plan
    here is what runs against the data (range repartition + in-task
    sort, never a global single-task sort) — plan-shape-tested
    directly since q_order_value_deciles truncates it behind a
    localCheckpoint."""
    o = _t(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    parts = spark.sparkContext.defaultParallelism
    return (
        o.repartitionByRange(parts, "o_totalprice", "o_orderkey")
        .sortWithinPartitions("o_totalprice", "o_orderkey")
        .withColumn("mid", F.monotonically_increasing_id())
        .withColumn("pid", F.shiftright(F.col("mid"), 33))
        .withColumn("lidx", F.col("mid").bitwiseAND(F.lit((1 << 33) - 1)))
    )


def q_order_value_deciles(spark, sf_dir):
    """Global decile assignment + per-decile bounds and percent_rank
    extremes — the DISTRIBUTED form.  Round 2 shipped the direct
    `ntile(10) OVER (ORDER BY …)` window, which is a single-task global
    sort (flagged `weak` — dies at 100×); this is the documented
    scale-safe alternative, proven equivalent by the unchanged
    ntile/percent_rank oracle:

      1. range-repartition + sortWithinPartitions on the total order
         (value, unique key) — a distributed sort, every task bounded;
      2. local index from monotonically_increasing_id (narrow: pid in
         the high bits, in-partition row number in the low 33);
      3. global rank = local index + broadcast per-partition offsets
         (prefix sums over one ≤`defaultParallelism`-row aggregate —
         the only single-partition window runs on that tiny agg, never
         on the data);
      4. decile/percent_rank from (rank, n) in exact integer arithmetic
         reproducing ntile's fill semantics: the first n%10 tiles get
         one extra row."""
    base = _deciles_base(spark, sf_dir)
    # three consumers (ranks, per-partition counts, total) —
    # localCheckpoint so the distributed sort + id assignment
    # materializes ONCE and every consumer reads the same ids.  NOT
    # persist(): a registry query can't own unpersist(), and CacheManager
    # entries are never GC-reclaimed — repeated calls in a long session
    # (bench best-of-3, the test suite) would accumulate full cached
    # copies; localCheckpoint blocks are freed by the ContextCleaner
    # when the RDD is collected
    base = base.localCheckpoint(eager=True)
    counts = base.groupBy("pid").agg(F.count("*").alias("cnt"))
    w_ofs = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "pid", F.coalesce(F.sum("cnt").over(w_ofs), F.lit(0)).alias("offset")
    )
    total = counts.agg(F.sum("cnt").alias("n"))
    ranked = (
        base.join(F.broadcast(offsets), "pid")
        .crossJoin(F.broadcast(total))
        .withColumn("rank", F.col("offset") + F.col("lidx") + 1)
    )
    # ntile(10): q = n div 10 rows per tile, first r = n % 10 tiles get
    # one extra; ceil-division in exact integers (cf. percentile fix)
    decile = F.expr(
        "CASE WHEN rank <= ((n div 10) + 1) * (n % 10) "
        "THEN (rank + (n div 10)) div ((n div 10) + 1) "
        "ELSE (n % 10) + (rank - ((n div 10) + 1) * (n % 10) + (n div 10) - 1) div (n div 10) END"
    )
    pr = F.when(F.col("n") > 1, (F.col("rank") - 1).cast("double") / (F.col("n") - 1)).otherwise(0.0)
    return (
        ranked.select("o_totalprice", decile.cast("int").alias("decile"), pr.alias("pr"))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
            F.round(F.max("pr"), 6).alias("max_pr"),
        )
    )


SQL_ORDER_VALUE_DECILES = """
WITH ranked AS (
  SELECT o_totalprice,
         ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile,
         percent_rank() OVER (ORDER BY o_totalprice, o_orderkey) AS pr
  FROM orders
)
SELECT decile, count(*) AS n, round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi, round(max(pr), 6) AS max_pr
FROM ranked GROUP BY decile
"""


def q_order_rule_rollup(spark, sf_dir):
    """U3/U4 + A8: per-record fired-rule rollup, the err_all pattern
    (proccess_data.sql:814-841) on orders."""
    o = _t(spark, sf_dir, "orders")
    r_a = o.filter(F.col("o_totalprice") > 300000).select("o_orderkey", F.lit("R-A").alias("code"))
    r_b = o.filter(F.col("o_orderstatus") == "F").select("o_orderkey", F.lit("R-B").alias("code"))
    r_c = o.filter(F.col("o_orderpriority").startswith("1")).select("o_orderkey", F.lit("R-C").alias("code"))
    fired = r_a.unionByName(r_b).unionByName(r_c)
    return fired.groupBy("o_orderkey").agg(
        F.array_join(F.array_sort(F.collect_list("code")), ",").alias("codes")
    )


SQL_ORDER_RULE_ROLLUP = """
SELECT o_orderkey, array_to_string(list_sort(list(code)), ',') AS codes
FROM (
  SELECT o_orderkey, 'R-A' AS code FROM orders WHERE o_totalprice > 300000
  UNION ALL
  SELECT o_orderkey, 'R-B' FROM orders WHERE o_orderstatus = 'F'
  UNION ALL
  SELECT o_orderkey, 'R-C' FROM orders WHERE o_orderpriority LIKE '1%'
) GROUP BY o_orderkey
"""


def q_priority_case_ladder(spark, sf_dir):
    """P10 CASE→code ladder (proccess_data.sql:532-535 style), plus
    the P2/P3/P4/P5 normalization chain folded in as a second group
    key (the tmp_wikidata stage analog, proccess_data.sql:13-27 —
    consolidated from the retired `normalize_parts` registry slot):
    replace → empty → nullif → NULL → coalesce actually FIRES on the
    '4-NOT SPECIFIED' rows, and the split/element_at/coalesce chain
    fires its NULL branch on the synthesized 'UNSPECIFIED' label."""
    o = _t(spark, sf_dir, "orders")
    cls = (
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "hot")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "warm")
        .otherwise("cold")
    )
    label = F.coalesce(
        F.nullif(
            F.replace(F.col("o_orderpriority"), F.lit("4-NOT SPECIFIED"), F.lit("")),
            F.lit(""),
        ),
        F.lit("UNSPECIFIED"),
    )
    # try_element_at: the 'UNSPECIFIED' label has no '-', and ANSI
    # element_at throws on out-of-bounds instead of returning NULL
    word = F.coalesce(F.try_element_at(F.split(label, "-"), F.lit(2)), F.lit("NONE"))
    # mean as exact decimal sum / count (order-independent), divided
    # once in doubles on both engines
    return o.groupBy(cls.alias("priority_class"), word.alias("prio_word")).agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double") / F.count("*"),
            2,
        ).alias("avg_price"),
    )


SQL_PRIORITY_CASE_LADDER = """
SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'hot'
            WHEN o_orderpriority = '3-MEDIUM' THEN 'warm'
            ELSE 'cold' END AS priority_class,
       coalesce(string_split(
           coalesce(nullif(replace(o_orderpriority, '4-NOT SPECIFIED', ''), ''), 'UNSPECIFIED'),
           '-')[2], 'NONE') AS prio_word,
       count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / count(*), 2) AS avg_price
FROM orders GROUP BY 1, 2
"""


def q_nation_segments(spark, sf_dir):
    """A9/A11 collect_set + ordered concat (GROUP_CONCAT analog,
    wikidata_watercources.rq:4), plus the A3 ordered-collect-with-
    computed-sort-key pattern (array_agg(x ORDER BY f(x)),
    proccess_data.sql:53-61 — consolidated from the retired
    `orders_concat_sorted` registry slot): the five lowest-balance
    customer keys per nation via collect_list(struct) + array_sort +
    transform + slice."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    by_bal = F.array_sort(F.collect_list(F.struct("c_acctbal", "c_custkey")))
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(F.array_sort(F.collect_set("c_mktsegment")), ";").alias("segments"),
            F.countDistinct("c_mktsegment").alias("n_segments"),
            F.array_join(
                F.slice(F.transform(by_bal, lambda s: s["c_custkey"].cast("string")), 1, 5),
                ",",
            ).alias("poorest5"),
        )
    )


SQL_NATION_SEGMENTS = """
SELECT n_name, string_agg(DISTINCT c_mktsegment, ';' ORDER BY c_mktsegment) AS segments,
       count(DISTINCT c_mktsegment) AS n_segments,
       array_to_string((list(c_custkey ORDER BY c_acctbal, c_custkey))[1:5], ',') AS poorest5
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_top_words(spark, sf_dir):
    """P4/J12 split + explode (unnest analog, proccess_data.sql:821)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "word")
        .limit(20)
    )


SQL_TOP_WORDS = """
SELECT word, count(*) AS cnt
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
WHERE word <> ''
GROUP BY word ORDER BY cnt DESC, word LIMIT 20
"""


# ---------------------------------------------------------------------------
# Quality-filter rules on the documents table (SQL-differential variants
# of the pipeline's rule battery)
# ---------------------------------------------------------------------------

_WORD_STATS = ("n_words", "stopword_frac", "mean_word_len")


def _rule_stats(spark, sf_dir):
    """(doc_id, n_words, stopword_frac, mean_word_len) of
    `documents.text` — the stats of the word-level rules, under their
    stat names so the rendered rule SQL reads them on both engines.
    NULL text is the empty document, as in the pipeline's scorer."""
    s = X.word_stats(F.coalesce(F.col("text"), F.lit("")))
    return _t(spark, sf_dir, "documents").select("doc_id", *[s[k].alias(k) for k in _WORD_STATS])


_SQL_WORDS = X.sql_words("coalesce(text, '')")
_SQL_RULE_STATS = f"""
WITH s AS (
  SELECT doc_id,
         len({_SQL_WORDS}) AS n_words,
         CAST({X.sql_n_in(_SQL_WORDS, X.STOP_WORDS)} AS DOUBLE)
           / greatest(len({_SQL_WORDS}), 1) AS stopword_frac,
         CAST(coalesce(list_sum(list_transform({_SQL_WORDS},
                                               x -> length(x))), 0) AS DOUBLE)
           / greatest(len({_SQL_WORDS}), 1) AS mean_word_len
  FROM documents
)
"""


# the err_all rollup of the word-level rules: codes joined as one string
_DOC_CODES = f"concat_ws(',', {', '.join(R.rule_sql(r) for r in R.rules_over(*_WORD_STATS))}) AS codes"


def q_doc_decisions(spark, sf_dir):
    """Single-pass rule battery + err_all rollup on documents (U3 note:
    all CASEs evaluated in one scan, codes joined as one string)."""
    return _rule_stats(spark, sf_dir).selectExpr("doc_id", _DOC_CODES).selectExpr(
        "doc_id", "codes", "codes = '' AS keep"
    )


SQL_DOC_DECISIONS = _SQL_RULE_STATS + f"""
SELECT doc_id, codes, codes = '' AS keep
FROM (SELECT doc_id, {_DOC_CODES} FROM s)
"""


# ---------------------------------------------------------------------------
# Text analysis / dedup / similarity operators
# ---------------------------------------------------------------------------

def q_text_metrics(spark, sf_dir):
    """Token counts (whitespace + BPE-ish regex) + composite quality
    score + md5 content fingerprint in one scan — consolidates the
    former token_counts / quality_score / fingerprints driver rows."""
    return X.text_metrics(_t(spark, sf_dir, "documents"), "doc_id", "text")


def q_lang_markers(spark, sf_dir):
    return X.lang_markers(_t(spark, sf_dir, "documents"), "doc_id", "text")


def q_dedup_exact(spark, sf_dir):
    return D.exact_duplicates(_t(spark, sf_dir, "documents"), "doc_id", "text")


def q_dedup_minhash_lsh(spark, sf_dir):
    return D.minhash_lsh_pairs(_t(spark, sf_dir, "documents"), "doc_id", "text")


def q_dedup_ngram_jaccard(spark, sf_dir):
    return D.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), "doc_id", "text")


def q_simhash(spark, sf_dir):
    return D.simhash(_t(spark, sf_dir, "documents"), "doc_id", "text").select(
        F.col("doc_id").alias("doc"), "simhash"
    )


def q_ann_bruteforce(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, emb.filter(F.col("vec_id") < S.ANN_QUERIES))


def q_ann_lsh_top1(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return S.lsh_top1(emb, emb.filter(F.col("vec_id") < S.ANN_QUERIES))


def q_cust_supp_nation_matrix(spark, sf_dir):
    """J6 double join of the same dim (role lookup for two sides,
    proccess_data.sql:282-286): nation joined once for the customer
    side and once for the supplier side of each lineitem."""
    # same deliberate strategy as q_region_revenue (guide §3.1,
    # round-6): SHUFFLE_HASH for the one fact-sized join side, no
    # round-robin pre-repartition ahead of the join exchanges
    li = _t(spark, sf_dir, "lineitem", rebalance=False)
    o = _t(spark, sf_dir, "orders", rebalance=False)
    c = _t(spark, sf_dir, "customer", rebalance=False)
    su = _t(spark, sf_dir, "supplier", rebalance=False)
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation"))
    n2 = n.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation"))
    return (
        li.join(o.hint("SHUFFLE_HASH"), li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(su, li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("cnk"))
        .join(F.broadcast(n2), su.s_nationkey == F.col("snk"))
        .groupBy("cust_nation", "supp_nation")
        .agg(F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)") * (1 - F.col("l_discount").cast("decimal(18,4)"))).cast("double"), 2).alias("revenue"))
    )


SQL_CUST_SUPP_NATION_MATRIX = """
SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
GROUP BY 1, 2
"""


def q_asof_view_before_purchase(spark, sf_dir):
    """As-of backward join (SURVEY.md §2.3 'absent' row): latest
    view-event value at or before each purchase, per user — union +
    running last_value, one shuffle (wtq/operators/asof.py)."""
    e = _t_keyed(spark, sf_dir, "events", "user_id")
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("v"))
    )
    out = asof_join_backward(purchases, views, key="user_id", ts="ts", value_col="v", out_col="last_view_value")
    return out.select(
        "event_id",
        "user_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        F.round("last_view_value", 4).alias("last_view_value"),
    )


SQL_ASOF_VIEW_BEFORE_PURCHASE = """
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
views AS (
  SELECT user_id, ts, max_by(value, event_id) AS v
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
)
SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS ts_ms, round(v.v, 4) AS last_view_value
FROM purchases p ASOF LEFT JOIN views v ON p.user_id = v.user_id AND p.ts >= v.ts
"""


def q_props_keys(spark, sf_dir):
    """J12/P7 map-key surface + §2.7 set ops in ONE registry slot
    (consolidated from the retired `intersect_except` entry):

    * facet='key'      — JSON props → map, explode keys
      (jsonb_object_keys analog, proccess_data.sql:635), count per key;
    * facet='intersect'/'except' — the user_id sets of 'view' vs
      'purchase' events (restricted by map_contains_key, the `?`
      operator P7) compared with Spark intersect / exceptAll+distinct
      vs the SQL INTERSECT / EXCEPT — non-vacuous on the fixture
      (users overlap but neither set contains the other)."""
    e = _t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,string>")
    keyed = e.select("user_id", "event_type", m.alias("pm"))
    per_key = (
        keyed.select(F.explode(F.map_keys("pm")).alias("key"))
        .groupBy("key")
        .agg(F.count("*").alias("n"))
        .select(F.lit("key").alias("facet"), "key", "n")
    )
    viewers = (
        keyed.filter((F.col("event_type") == "view") & F.map_contains_key("pm", "k"))
        .select("user_id")
        .distinct()
    )
    buyers = (
        keyed.filter((F.col("event_type") == "purchase") & F.map_contains_key("pm", "k"))
        .select("user_id")
        .distinct()
    )
    # global agg (not groupBy) so an empty set still yields its 0-count
    # row, matching the SQL scalar counts
    inter = viewers.intersect(buyers).agg(F.count("*").alias("n")).select(
        F.lit("intersect").alias("facet"), F.lit(None).cast("string").alias("key"), "n"
    )
    exc = viewers.exceptAll(buyers).distinct().agg(F.count("*").alias("n")).select(
        F.lit("except").alias("facet"), F.lit(None).cast("string").alias("key"), "n"
    )
    return per_key.unionByName(inter).unionByName(exc)


SQL_PROPS_KEYS = """
WITH viewers AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type = 'view' AND list_contains(json_keys(props), 'k')
), buyers AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type = 'purchase' AND list_contains(json_keys(props), 'k')
)
SELECT 'key' AS facet, key, count(*) AS n
FROM (SELECT unnest(json_keys(props)) AS key FROM events)
GROUP BY key
UNION ALL
SELECT 'intersect', NULL, count(*) FROM (SELECT * FROM viewers INTERSECT SELECT * FROM buyers)
UNION ALL
SELECT 'except', NULL, count(*) FROM (SELECT * FROM viewers EXCEPT SELECT * FROM buyers)
"""


def q_embedding_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-dup: SRP-bucketed candidates + exact
    cosine threshold.  Runs over the fixture augmented with planted
    clones (the raw fixture has no cosine ≥ 0.8 pair, which made the
    round-1 row vacuous); the oracle plants identically."""
    return S.embedding_dup_pairs(S.with_planted_dups(_t(spark, sf_dir, "embeddings")))


def q_ann_ivf_topk(spark, sf_dir):
    """IVF-style ANN: coarse-quantizer cell assignment (broadcast) +
    within-cell top-k."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.ivf_topk(emb, emb.filter(F.col("vec_id") < S.ANN_QUERIES))


def q_simhash_near_pairs(spark, sf_dir):
    """Banded Hamming join over SimHash signatures: candidates share a
    15-bit chunk (equi-join), exact distance via bit_count(xor)."""
    return D.simhash_near_pairs(_t(spark, sf_dir, "documents"), "doc_id", "text")


def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTER resolution (pairs under-delete transitive
    duplicates): connected components over the MinHash-LSH pair graph
    via iterative min-label propagation; oracle is a recursive-CTE
    transitive closure — an independent derivation."""
    return D.dedup_clusters(_t(spark, sf_dir, "documents"), "doc_id", "text")


_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]


def q_profile_orders(spark, sf_dir):
    """Data-profiling pass (quality telemetry a curation pipeline runs
    before training): per-column null and exact distinct counts in ONE
    aggregate over one scan, unpivoted to long form with stack()."""
    o = _t(spark, sf_dir, "orders")
    aggs = []
    for c in _PROFILE_COLS:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
        aggs.append(F.countDistinct(c).alias(f"{c}__distinct"))
    wide = o.agg(*aggs)
    stack = "stack({}, {}) as (column, n_nulls, n_distinct)".format(
        len(_PROFILE_COLS),
        ", ".join(f"'{c}', {c}__nulls, {c}__distinct" for c in _PROFILE_COLS),
    )
    return wide.selectExpr(stack)


SQL_PROFILE_ORDERS = "\nUNION ALL\n".join(
    f"SELECT '{c}' AS column, count(*) - count({c}) AS n_nulls, "
    f"count(DISTINCT {c}) AS n_distinct FROM orders"
    for c in _PROFILE_COLS
)


def q_dedup_apply(spark, sf_dir):
    """The deletion step that closes the dedup loop: resolve near-dup
    clusters (MinHash-LSH pairs → connected components), keep ONE
    representative per cluster (the min id), drop the rest, and report
    the corpus accounting — D.drop_near_duplicates, the keep-one step
    the training-set build runs."""
    kept, _ = D.drop_near_duplicates(_t(spark, sf_dir, "documents"), "doc_id", "text")
    return kept.agg(
        F.count("*").alias("n_kept"),
        F.countDistinct("lang").alias("n_langs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


def sql_dedup_apply(table: str, id_col: str, text_col: str) -> str:
    return f"""
    WITH RECURSIVE {D._sql_dedup_labels(table, id_col, text_col)},
    dropped AS (SELECT node AS {id_col} FROM labels WHERE node <> cluster)
    SELECT count(*) AS n_kept, count(DISTINCT lang) AS n_langs,
           min({id_col}) AS min_doc, max({id_col}) AS max_doc
    FROM {table} WHERE {id_col} NOT IN (SELECT {id_col} FROM dropped)
    """


def q_dataset_split_counts(spark, sf_dir):
    """Deterministic train/val/test assignment (98/1/1) by content
    hash: C.split_of, the split the training-set build writes, on
    doc_id.  The oracle reproduces its md5 bucket bit-for-bit."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy(C.split_of("doc_id").alias("split")).agg(
        F.count("*").alias("n"),
        F.countDistinct("lang").alias("n_langs"),
    )


SQL_DATASET_SPLIT_COUNTS = f"""
WITH b AS (
  SELECT lang,
         (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % {C.SPLIT_MOD}) AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < {C.TRAIN_BELOW} THEN 'train'
            WHEN bucket < {C.VAL_BELOW} THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n, count(DISTINCT lang) AS n_langs
FROM b GROUP BY 1
"""


def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling (training-data subsetting):
    top-5 docs per lang ordered by md5(doc_id) — a content-hash
    pseudo-random order both engines reproduce exactly, unlike
    rand()/SAMPLE which never cross-engine-match."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "doc_id", F.col("rn").cast("int").alias("rank"))
    )


SQL_STRATIFIED_SAMPLE = """
SELECT lang, doc_id, CAST(rn AS INT) AS rank FROM (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
) WHERE rn <= 5
"""


def q_tfidf_top_terms(spark, sf_dir):
    """TF-IDF top-3 terms per document (top 50 docs for output size):
    explode → per-doc TF → per-term DF → window top-k.  Classic
    corpus-statistics join shape: the doc-frequency side is a
    broadcast-sized aggregate at any corpus size relative to the token
    stream.  ln() domain kept integral-ratio so both engines emit
    bit-identical doubles."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    tok = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # corpus size as a broadcast one-row aggregate, NOT a driver-side
    # d.count(): an eager action here would run a full scan job at
    # plan-construction time for every caller that only wants the plan
    n_docs = d.agg(F.count("*").cast("double").alias("n_docs"))
    df_ = tok.select("doc_id", "term").distinct().groupBy("term").agg(
        F.count("*").alias("df")
    )
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf", F.col("rn").cast("int").alias("rank"))
    )


SQL_TFIDF_TOP_TERMS = f"""
WITH d AS (SELECT * FROM documents WHERE doc_id < 50),
tok AS (
  SELECT doc_id, unnest({X.sql_words('text')}) AS term
  FROM d
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM d),
scored AS (
  SELECT doc_id, term,
         round(tf * ln(CAST((SELECT n_docs FROM n) AS DOUBLE) / df), 6) AS tfidf
  FROM tf JOIN df USING (term)
)
SELECT doc_id, term, tfidf, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
  FROM scored
) WHERE rank <= 3
"""


def q_nb_quality_scores(spark, sf_dir):
    """Model-based quality filter (the CCNet/GPT-3 classifier layer the
    reference's CASE-ladder rules lack, proccess_data.sql:244-420):
    closed-form Naive-Bayes log-odds trained on a seed slice (40% of
    docs, label = lang='en' as the curated-reference proxy), scored on
    the held-out complement.  Training is two aggregations over the
    seed; scoring is a zero-shuffle broadcast-map pass with an exact
    integer micro-unit score (order-independent — no float-summation
    nondeterminism; see wtq/operators/classifier.py)."""
    d = _t(spark, sf_dir, "documents")
    return CL.nb_quality_scores(
        d,
        seed_pred=F.col("doc_id") % 5 < 2,
        pos_pred=F.col("lang") == "en",
    )


SQL_NB_QUALITY_SCORES = CL.sql_nb_quality_scores(
    "documents",
    "doc_id",
    "text",
    seed_sql="doc_id % 5 < 2",
    pos_sql="lang = 'en'",
)


# (table, key, x multiplier, y multiplier) of the two point sets
# spatial_radius_join pairs; the Spark query and its oracle read both
RADIUS_SIDES = (("customer", "c_custkey", 37, 91), ("supplier", "s_suppkey", 53, 17))


def q_spatial_radius_join(spark, sf_dir):
    """Spatial-predicate join (st_dwithin/st_intersects analog,
    proccess_data.sql:148-172, KNN `<->` :424-436): grid-cell bucketed
    candidate equi-join + exact distance filter.  The oracle is the
    NAIVE quadratic distance join, so the differential gate proves the
    grid join's recall is exact — not merely mirrored."""
    a, b = (
        G.synth_points(_t(spark, sf_dir, table), key, mx, my)
        for table, key, mx, my in RADIUS_SIDES
    )
    return G.grid_radius_join(a, b)


def q_multimodal_features(spark, sf_dir):
    """Binary-payload plumbing: each document's text crosses the Arrow
    boundary as a binary column and is hashed once in mapInPandas —
    byte length, sha256 and a digest-derived feature, no decode
    (wtq/operators/multimodal.py)."""
    return MM.multimodal_features(_t(spark, sf_dir, "documents"))


def q_media_features(spark, sf_dir):
    """ALL THREE real decode paths in one mapInPandas pass — image
    (binary P6 PPM byte-level decode + block-mean resize + channel
    stats), audio (RIFF/PCM16 chunk-walk decode + RMS/zero-crossings),
    and video (multi-frame PPM stream walk, every-3rd-frame sampling).
    The oracle re-derives every feature in closed form from the
    synthetic formulas and joins the three modalities on doc_id, so a
    decoder bug in any path cannot self-confirm.  Consolidates the
    former image_features / audio_features / video_features rows."""
    return MM.media_features(_t(spark, sf_dir, "documents"))


def q_stream_windowed_counts(spark, sf_dir):
    """Structured Streaming (Trigger.AvailableNow) windowed rollup with
    watermark — equals the batch time_bucket rollup on a static input."""
    import tempfile

    return ST.windowed_event_counts(spark, sf_dir, tempfile.mkdtemp(prefix="wtq_stream_ckpt_"))


def q_stream_dedup_join_counts(spark, sf_dir):
    """Streaming dedup (replayed-×2 input, dropDuplicates within a
    watermark) + stream-static broadcast join + rollup — the batch
    oracle counts each event once, so a dedup regression doubles n."""
    import tempfile

    return ST.stream_dedup_join_counts(spark, sf_dir, tempfile.mkdtemp(prefix="wtq_sdedup_ckpt_"))


# ---------------------------------------------------------------------------
# Corpus-curation extras (wtq/operators/curation.py)
# ---------------------------------------------------------------------------

# The fixture has no separate benchmark or prior corpus, so the two
# side-input demos split `documents` by id.  7, not 97: with the
# fixture's 500-doc tables a sparser split made decontaminate VACUOUS
# at sf0.01, and a 0-row driver correctness row proves nothing.
BENCH_MOD = 7


def q_decontaminate(spark, sf_dir):
    """Benchmark 13-gram decontamination (C4/GPT-3 protocol), broadcast
    semi-join on md5(gram) digests — J7/J11 shapes.  EVERY 13-gram of
    each doc with id % BENCH_MOD == 0 is held-out eval material (the
    GPT-3 appendix's full-document protocol), and those docs are left
    out of the corpus side.  All-grams membership keeps the query
    non-vacuous: near-duplicate pages share mid-document windows,
    which a first-gram-only benchmark missed entirely at sf0.01."""
    d = _t(spark, sf_dir, "documents")
    in_bench = F.col("doc_id") % BENCH_MOD == 0
    return C.decontaminate(d.filter(~in_bench), benchmark=C.benchmark_grams(d.filter(in_bench)))


SQL_DECONTAMINATE = f"""
WITH w AS (
  SELECT doc_id, {X.sql_words('text')} AS ws
  FROM documents
), w13 AS (
  SELECT * FROM w WHERE len(ws) >= {C.DECONTAM_K}
), bench AS (
  SELECT DISTINCT md5(array_to_string(ws[i:i+{C.DECONTAM_K - 1}], ' ')) AS g
  FROM w13, LATERAL (
    SELECT unnest(generate_series(1, len(ws) - {C.DECONTAM_K - 1})) AS i
  ) b
  WHERE doc_id % {BENCH_MOD} = 0
), grams AS (
  SELECT doc_id, md5(array_to_string(ws[i:i+{C.DECONTAM_K - 1}], ' ')) AS g
  FROM w13, LATERAL (
    SELECT unnest(generate_series(1, len(ws) - {C.DECONTAM_K - 1})) AS i
  ) s
  WHERE doc_id % {BENCH_MOD} <> 0
)
SELECT doc_id, count(DISTINCT g) AS n_hits
FROM grams JOIN bench USING (g)
GROUP BY doc_id
"""


def q_incremental_corpus_dedup(spark, sf_dir):
    """Crawl-vs-corpus incremental dedup: left-anti on content
    fingerprints (the J7 'already reported' filter) + min-id
    representative per novel fingerprint within the new batch.  Id
    parity splits `documents` into "existing corpus" (even) and "new
    crawl" (odd)."""
    d = _t(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 2 == 0).select(F.md5("text"))
    return C.incremental_corpus_dedup(
        d.filter(F.col("doc_id") % 2 == 1), corpus_fingerprints=corpus
    )


SQL_INCREMENTAL_CORPUS_DEDUP = """
WITH d AS (SELECT doc_id, md5(text) AS fingerprint FROM documents),
corpus AS (SELECT DISTINCT fingerprint FROM d WHERE doc_id % 2 = 0),
new AS (SELECT * FROM d WHERE doc_id % 2 = 1)
SELECT fingerprint, min(doc_id) AS doc_id
FROM new
WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fingerprint = new.fingerprint)
GROUP BY fingerprint
"""


def q_token_budget_sample(spark, sf_dir):
    """Per-host token-budget sampling: hash-priority running sum
    (partitioned ROWS-frame window — never a global sort) cut at the
    budget.  The domain-quota step of a training-mix build."""
    return C.token_budget_sample(_t(spark, sf_dir, "documents"))


def q_source_quality_gate(spark, sf_dir):
    """Domain-level quality gate: per-host aggregate signals →
    keep/drop verdict per host (broadcast-sized output)."""
    return C.source_quality_gate(_t(spark, sf_dir, "documents"))


def q_strip_boilerplate(spark, sf_dir):
    """Corpus-wide boilerplate line removal (C4/CCNet pass): lines in
    more than BOILERPLATE_DF_CAP distinct docs are stripped and texts
    rebuilt in order.  The documents fixture is single-line, so both
    engines first chunk each text into 10-word pseudo-lines with the
    identical derivation; the operator itself runs on real newline
    lines (planted-case tests use the pages corpus shape)."""
    d = _t(spark, sf_dir, "documents")
    n = C.BOILERPLATE_CHUNK_WORDS
    ws = X.words(F.col("text"))  # the shared tokenization the oracle mirrors
    chunked = F.when(
        F.size(ws) > 0,
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.ceil(F.size(ws) / F.lit(float(n))).cast("int") - 1),
                lambda i: F.array_join(F.slice(ws, i * n + 1, n), " "),
            ),
            "\n",
        ),
    ).otherwise("")
    return C.strip_boilerplate_lines(
        d.select("doc_id", chunked.alias("text")), "doc_id", "text"
    )


# ---------------------------------------------------------------------------
# html→text extraction.  The query synthesizes its messy input IN-QUERY
# from the `documents` table with byte-identical expressions on each
# engine — the driver's DuckDB side only has the ten pre-registered
# views, so the pages table's html column cannot be the demo input; the
# operator itself is input-agnostic (wtq/operators/text.py).
# ---------------------------------------------------------------------------

def q_html_to_text(spark, sf_dir):
    """Visible-text extraction from an HTML payload (the reference's
    per-record tag cleaning, water.lua:84-221, as a corpus operator):
    script/style/comment blocks dropped, tags counted + stripped,
    entities decoded, whitespace collapsed.  The synthesized wrapper
    plants every strip class: a script with quotes, a style block, a
    comment, double-encoded entities, and attribute-bearing tags."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><head><title>Doc "), did,
        F.lit('</title><script type="text/javascript">var t = track("'), did,
        F.lit('");</script><style>.m{color:#fff}</style></head><body>'
              "<!-- crawl artifact --><h1>R&amp;D &lt;notes&gt;</h1><p>"),
        F.col("text"),
        F.lit('</p><div class="footer">&quot;fin&quot;&nbsp;&#39;ok&#39;</div></body></html>'),
    )
    return X.html_to_text(
        d.select("doc_id", html.alias("html")), "doc_id", "html"
    )


_SQL_HTML_WRAP = (
    "'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || "
    "'</title><script type=\"text/javascript\">var t = track(\"' || CAST(doc_id AS VARCHAR) || "
    "'\");</script><style>.m{color:#fff}</style></head><body>"
    "<!-- crawl artifact --><h1>R&amp;D &lt;notes&gt;</h1><p>' || text || "
    "'</p><div class=\"footer\">&quot;fin&quot;&nbsp;&#39;ok&#39;</div></body></html>'"
)

SQL_HTML_TO_TEXT = f"""
WITH h AS (SELECT doc_id, {_SQL_HTML_WRAP} AS html FROM documents)
{X.sql_html_to_text('h', 'doc_id', 'html')}
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "pricing_summary": q_pricing_summary,
    "region_revenue": q_region_revenue,
    "rollup_acctbal": q_rollup_acctbal,
    "top_customer_per_nation": q_top_customer_per_nation,
    "customers_without_orders": q_customers_without_orders,
    "duplicate_part_supp": q_duplicate_part_supp,
    "supplier_pairs_per_nation": q_supplier_pairs_per_nation,
    "orders_array_membership": q_orders_array_membership,
    "event_pivot": q_event_pivot,
    "latest_event_per_user": q_latest_event_per_user,
    "event_json_stats": q_event_json_stats,
    "sessionize_events": q_sessionize_events,
    "order_rule_rollup": q_order_rule_rollup,
    "priority_case_ladder": q_priority_case_ladder,
    "nation_segments": q_nation_segments,
    "top_words": q_top_words,
    "nb_quality_scores": q_nb_quality_scores,
    "html_to_text": q_html_to_text,
    "doc_decisions": q_doc_decisions,
    "text_metrics": q_text_metrics,
    "lang_markers": q_lang_markers,
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "simhash": q_simhash,
    "ann_bruteforce": q_ann_bruteforce,
    "ann_lsh_top1": q_ann_lsh_top1,
    "multimodal_features": q_multimodal_features,
    "stream_windowed_counts": q_stream_windowed_counts,
    "stream_dedup_join_counts": q_stream_dedup_join_counts,
    "order_value_deciles": q_order_value_deciles,
    "cust_supp_nation_matrix": q_cust_supp_nation_matrix,
    "asof_view_before_purchase": q_asof_view_before_purchase,
    "props_keys": q_props_keys,
    "simhash_near_pairs": q_simhash_near_pairs,
    "embedding_dup_pairs": q_embedding_dup_pairs,
    "ann_ivf_topk": q_ann_ivf_topk,
    "spatial_radius_join": q_spatial_radius_join,
    "dedup_clusters": q_dedup_clusters,
    "dedup_apply": q_dedup_apply,
    "stratified_sample": q_stratified_sample,
    "dataset_split_counts": q_dataset_split_counts,
    "profile_orders": q_profile_orders,
    "tfidf_top_terms": q_tfidf_top_terms,
    "media_features": q_media_features,
    "decontaminate": q_decontaminate,
    "incremental_corpus_dedup": q_incremental_corpus_dedup,
    "token_budget_sample": q_token_budget_sample,
    "source_quality_gate": q_source_quality_gate,
    "strip_boilerplate": q_strip_boilerplate,
}

ORACLE_SQL: dict[str, str] = {
    "pricing_summary": SQL_PRICING_SUMMARY,
    "region_revenue": SQL_REGION_REVENUE,
    "rollup_acctbal": SQL_ROLLUP_ACCTBAL,
    "top_customer_per_nation": SQL_TOP_CUSTOMER_PER_NATION,
    "customers_without_orders": SQL_CUSTOMERS_WITHOUT_ORDERS,
    "duplicate_part_supp": SQL_DUPLICATE_PART_SUPP,
    "supplier_pairs_per_nation": SQL_SUPPLIER_PAIRS_PER_NATION,
    "orders_array_membership": SQL_ORDERS_ARRAY_MEMBERSHIP,
    "event_pivot": SQL_EVENT_PIVOT,
    "latest_event_per_user": SQL_LATEST_EVENT_PER_USER,
    "event_json_stats": SQL_EVENT_JSON_STATS,
    "sessionize_events": SQL_SESSIONIZE_EVENTS,
    "order_rule_rollup": SQL_ORDER_RULE_ROLLUP,
    "priority_case_ladder": SQL_PRIORITY_CASE_LADDER,
    "nation_segments": SQL_NATION_SEGMENTS,
    "top_words": SQL_TOP_WORDS,
    "nb_quality_scores": SQL_NB_QUALITY_SCORES,
    "html_to_text": SQL_HTML_TO_TEXT,
    "doc_decisions": SQL_DOC_DECISIONS,
    "text_metrics": X.sql_text_metrics("documents", "doc_id", "text"),
    "lang_markers": X.sql_lang_markers("documents", "doc_id", "text"),
    "dedup_exact": D.sql_exact_duplicates("documents", "doc_id", "text"),
    "dedup_minhash_lsh": D.sql_minhash_lsh_pairs("documents", "doc_id", "text"),
    "dedup_ngram_jaccard": D.sql_ngram_jaccard_pairs("documents", "doc_id", "text"),
    "simhash": D.sql_simhash("documents", "doc_id", "text"),
    "ann_bruteforce": S.sql_brute_force_topk("embeddings"),
    "ann_lsh_top1": S.sql_lsh_top1("embeddings"),
    "cust_supp_nation_matrix": SQL_CUST_SUPP_NATION_MATRIX,
    "asof_view_before_purchase": SQL_ASOF_VIEW_BEFORE_PURCHASE,
    "props_keys": SQL_PROPS_KEYS,
    "simhash_near_pairs": D.sql_simhash_near_pairs("documents", "doc_id", "text"),
    "embedding_dup_pairs": S.sql_embedding_dup_pairs("embeddings"),
    "ann_ivf_topk": S.sql_ivf_topk("embeddings"),
    "spatial_radius_join": G.sql_grid_radius_join(*RADIUS_SIDES[0], *RADIUS_SIDES[1]),
    "dedup_clusters": D.sql_dedup_clusters("documents", "doc_id", "text"),
    "dedup_apply": sql_dedup_apply("documents", "doc_id", "text"),
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "dataset_split_counts": SQL_DATASET_SPLIT_COUNTS,
    "profile_orders": SQL_PROFILE_ORDERS,
    "tfidf_top_terms": SQL_TFIDF_TOP_TERMS,
    "order_value_deciles": SQL_ORDER_VALUE_DECILES,
    "multimodal_features": MM.sql_multimodal_features("documents", "doc_id", "text"),
    "media_features": MM.sql_media_features("documents"),
    "stream_windowed_counts": ST.SQL_WINDOWED_EVENT_COUNTS,
    "stream_dedup_join_counts": ST.SQL_STREAM_DEDUP_JOIN_COUNTS,
    "decontaminate": SQL_DECONTAMINATE,
    "incremental_corpus_dedup": SQL_INCREMENTAL_CORPUS_DEDUP,
    "token_budget_sample": C.SQL_TOKEN_BUDGET_SAMPLE,
    "source_quality_gate": C.SQL_SOURCE_QUALITY_GATE,
    "strip_boilerplate": C.SQL_STRIP_BOILERPLATE,
}

# the external driver records correctness rows for at most 50 queries()
# entries, so the registry is the whole catalogue at exactly 50
assert len(QUERIES) == 50, f"driver registry must stay at 50, got {len(QUERIES)}"
assert set(QUERIES) == set(ORACLE_SQL)
