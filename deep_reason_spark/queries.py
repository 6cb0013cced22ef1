"""Driver-contract query registry — one entry per implemented operator from
SURVEY.md §2, each with a DuckDB-equivalent oracle SQL string.

Design rules for Spark↔DuckDB value parity (the driver hashes values after
sorting columns by name):
- every aggregate over doubles is computed on DECIMAL(18,4) casts so both
  engines do exact arithmetic (double summation order differs between
  engines; decimals don't care), then cast back to double;
- every computed column is aliased identically on both sides;
- no timestamps in outputs (rendered via date_format/strftime as strings);
- deterministic ordering keys everywhere a top-k/window is involved.

Each query function takes ``(spark, sf_dir)`` and returns a DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from deep_reason_spark.operators.canonicalize import connected_components

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_rebalanced(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan + scale-adaptive round-robin rebalance (optimization guide §2.5
    "input skew" / §6): a parquet input whose ROW-GROUP layout yields fewer
    scan partitions than the session's cores single-threads every downstream
    per-row map — ``maxPartitionBytes`` cannot split inside a row group, so
    a one-row-group file is a one-task scan no matter the config (the
    sf-dir ``documents`` table is exactly that: one file, one row group).
    The repartition fires ONLY when the scan underfills the cluster
    (partitions < defaultParallelism); at real scale — many files / many
    row groups — the scan already has enough splits and this is a no-op,
    so the extra shuffle is never paid where it cannot win."""
    df = load(spark, sf_dir, name)
    p = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        df = df.repartition(p)
    return df


def _dec(col: str) -> F.Column:
    return F.col(col).cast("decimal(18,4)")


# ---------------------------------------------------------------------------
# A7 — pricing summary (partial+final hash aggregation; TPC-H Q1 shape)
# ---------------------------------------------------------------------------

def q_a7_pricing_summary(spark, sf_dir):
    # rebalanced scan: the decimal partial aggregation is the dominant cost
    # and the row-group-bound lineitem scan caps it at 6 tasks; the small
    # shuffle buys a cluster-wide map side (measured 1.45 → 1.0 s at sf1.0).
    # NOT applied to window queries (w3): their first window exchange
    # already redistributes, so a pre-shuffle there is pure added cost.
    li = load_rebalanced(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                (_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount")))
                .cast("decimal(28,8)")
            ).cast("double").alias("sum_disc_price"),
            # sum / count, not avg: avg(decimal) already rounds HALF_UP to
            # 8 places, so rounding again to 6 can carry (25.695851495566 →
            # 25.69585150 → 25.695852; the exact quotient gives 25.695851)
            F.round(F.sum(_dec("l_quantity")) / F.count("*"), 6)
            .cast("double").alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


ORACLE_A7 = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) *
            (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(28,8)))
            AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(AVG(CAST(l_quantity AS DECIMAL(18,4))), 6) AS DOUBLE) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# J1 — broadcast dimension lookup chain (customer ⋈ nation ⋈ region)
# ---------------------------------------------------------------------------

def q_j1_region_stats(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.avg(_dec("c_acctbal")), 4).cast("double").alias("avg_acctbal"),
        )
    )


ORACLE_J1 = """
SELECT r_name, COUNT(*) AS n_customers,
       CAST(ROUND(AVG(CAST(c_acctbal AS DECIMAL(18,4))), 4) AS DOUBLE) AS avg_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


# ---------------------------------------------------------------------------
# W6 — top-k by sort (rerank top docs, rag/pipeline.py:389-397 analogue)
# ---------------------------------------------------------------------------

def q_w6_topk_orders(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    )


ORACLE_W6 = """
SELECT o_orderkey, o_totalprice, o_orderpriority
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
"""


# ---------------------------------------------------------------------------
# W2 — neighbor context window (lag/lead, kg_agent/chains.py:345-356)
# ---------------------------------------------------------------------------

def q_w2_event_context(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id", "user_id", "value",
        F.lag("value", 1).over(w).alias("prev_value"),
        F.lead("value", 1).over(w).alias("next_value"),
    )


ORACLE_W2 = """
SELECT event_id, user_id, value,
       LAG(value) OVER w AS prev_value,
       LEAD(value) OVER w AS next_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# ---------------------------------------------------------------------------
# W3/A2 — token-budget batching via cumulative sum (kg_agent/utils.py:49-81)
# ---------------------------------------------------------------------------

def q_w3_cumsum_batches(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        e.withColumn("running", F.sum(_dec("value")).over(w))
        .withColumn("batch_id", F.floor(F.col("running") / F.lit(500)).cast("bigint"))
        .groupBy("user_id", "batch_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("batch_value"),
        )
    )


ORACLE_W3 = """
WITH r AS (
  SELECT user_id, value,
         SUM(CAST(value AS DECIMAL(18,4)))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
  FROM events
)
SELECT user_id, CAST(FLOOR(running / 500) AS BIGINT) AS batch_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS batch_value
FROM r GROUP BY user_id, CAST(FLOOR(running / 500) AS BIGINT)
"""


# ---------------------------------------------------------------------------
# J2 — edge lookup with reverse-direction fallback
# (gen_agent/sampling.py:225-335: try forward, then swapped, else missing)
# ---------------------------------------------------------------------------

def q_j2_reverse_fallback(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    edges = (
        li.where(F.col("l_linenumber") == 1)
        .select(F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst"))
        .union(
            li.where(F.col("l_linenumber") == 3)
            .select(F.col("l_partkey").alias("src"), F.col("l_suppkey").alias("dst"))
        )
        .distinct()
    )
    lookups = (
        li.where(F.col("l_linenumber") == 2)
        .select(F.col("l_partkey").alias("x"), F.col("l_suppkey").alias("y"))
        .distinct()
    )
    fwd = edges.select(F.col("src").alias("x"), F.col("dst").alias("y"),
                       F.lit(1).alias("_f"))
    rev = edges.select(F.col("dst").alias("x"), F.col("src").alias("y"),
                       F.lit(1).alias("_r"))
    out = (
        lookups.join(fwd, ["x", "y"], "left").join(rev, ["x", "y"], "left")
        .select(
            "x", "y",
            F.when(F.col("_f").isNotNull(), F.lit("forward"))
            .when(F.col("_r").isNotNull(), F.lit("reversed"))
            .otherwise(F.lit("missing")).alias("direction"),
        )
    )
    return out.groupBy("direction").agg(F.count("*").alias("n"))


ORACLE_J2 = """
WITH edges AS (
  SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem WHERE l_linenumber = 1
  UNION
  SELECT DISTINCT l_partkey AS src, l_suppkey AS dst FROM lineitem WHERE l_linenumber = 3
),
lookups AS (
  SELECT DISTINCT l_partkey AS x, l_suppkey AS y FROM lineitem WHERE l_linenumber = 2
),
labeled AS (
  SELECT l.x, l.y,
         CASE WHEN f.src IS NOT NULL THEN 'forward'
              WHEN r.src IS NOT NULL THEN 'reversed'
              ELSE 'missing' END AS direction
  FROM lookups l
  LEFT JOIN edges f ON f.src = l.x AND f.dst = l.y
  LEFT JOIN edges r ON r.dst = l.x AND r.src = l.y
)
SELECT direction, COUNT(*) AS n FROM labeled GROUP BY direction
"""


# ---------------------------------------------------------------------------
# A9 — degree / combined_degree metrics on a bipartite part-supplier graph
# ---------------------------------------------------------------------------

def q_a9_degree_metrics(spark, sf_dir):
    """Same result as the original three-subplan formulation (distinct +
    two groupBy degree tables + joins back), restructured per guide §2.4:
    the r5 plan ran the 6M-row distinct aggregation THREE times (edges /
    pdeg / sdeg each re-aggregate above one reused exchange) and shuffled
    the edge set three ways. Here the distinct is keyed by ``l_partkey`` up
    front, so distinct → part-degree window share ONE exchange, and the
    supplier degree is a second window over one more exchange: 2 exchanges,
    one distinct pass, no joins."""
    li = load(spark, sf_dir, "lineitem")
    edges = (
        li.select("l_partkey", "l_suppkey")
        .repartition("l_partkey")
        .distinct()  # partitioning by l_partkey satisfies the agg — no 2nd exchange
    )
    wp = Window.partitionBy("l_partkey")
    ws = Window.partitionBy("l_suppkey")
    return (
        edges.withColumn("_pd", F.count("*").over(wp))
        .withColumn("_sd", F.count("*").over(ws))
        .select(
            "l_partkey", "l_suppkey",
            (F.col("_pd") + F.col("_sd")).alias("combined_degree"),
        )
    )


ORACLE_A9 = """
WITH edges AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
pdeg AS (SELECT l_partkey, COUNT(*) AS pd FROM edges GROUP BY l_partkey),
sdeg AS (SELECT l_suppkey, COUNT(*) AS sd FROM edges GROUP BY l_suppkey)
SELECT e.l_partkey, e.l_suppkey, pd + sd AS combined_degree
FROM edges e JOIN pdeg USING (l_partkey) JOIN sdeg USING (l_suppkey)
"""


# ---------------------------------------------------------------------------
# A11 — hot-predicate counts via explicit salted two-phase aggregation
# (north rule; result must equal a plain GROUP BY)
# ---------------------------------------------------------------------------

def q_a11_salted_hot_agg(spark, sf_dir):
    # rebalanced scan, same rationale as a7: the salted partial aggregation
    # is map-side work capped at the row-group count without it
    li = load_rebalanced(spark, sf_dir, "lineitem")
    nsalt = 16
    partial = (
        li.withColumn("_salt", F.pmod(F.xxhash64("l_orderkey"), F.lit(nsalt)))
        .groupBy("l_returnflag", "_salt")
        .agg(F.count("*").alias("_n"), F.sum(_dec("l_quantity")).alias("_q"))
    )
    return (
        partial.groupBy("l_returnflag")
        .agg(
            F.sum("_n").alias("n_rows"),
            F.sum("_q").cast("double").alias("total_qty"),
        )
    )


ORACLE_A11 = """
SELECT l_returnflag, COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# G5 — connected components (the engine's CC operator on a real graph)
# ---------------------------------------------------------------------------

def q_g5_connected_components(spark, sf_dir):
    n = load(spark, sf_dir, "nation")
    edges = n.select(
        F.concat(F.lit("n"), F.lpad(F.col("n_nationkey").cast("string"), 2, "0")).alias("src"),
        F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("dst"),
    )
    return connected_components(edges).select("node", "component")


ORACLE_G5 = """
WITH nedge AS (
  SELECT 'n' || lpad(CAST(n_nationkey AS VARCHAR), 2, '0') AS node,
         n_regionkey AS rk
  FROM nation
),
mins AS (SELECT rk, MIN(node) AS m FROM nedge GROUP BY rk)
SELECT node, m AS component FROM nedge JOIN mins USING (rk)
UNION ALL
SELECT 'r' || CAST(r_regionkey AS VARCHAR) AS node, m AS component
FROM region JOIN mins ON rk = r_regionkey
"""


# ---------------------------------------------------------------------------
# J6 — 2-hop cypher-style match: suppliers sharing a part
# (baseline/langchain_baseline_graph.py:82-111 MATCH (a)-[]->(b)<-[]-(c))
# ---------------------------------------------------------------------------

def q_j6_two_hop_match(spark, sf_dir):
    """Same result as the original distinct + self-join formulation,
    restructured per guide §2.4/§3: the r5 plan computed the 6M-row
    distinct TWICE (broadcast build side blocked exchange reuse), broadcast
    6M rows, and probed out ~87M joined rows. A 2-hop match through a
    shared hub is a per-hub pair enumeration: collect the distinct sorted
    supplier set per part (ONE shuffle, map-side partial collect_set), then
    explode the ordered pairs (arr[i] < arr[j] for i < j replicates the
    a.l_suppkey < b.l_suppkey predicate exactly) and count per pair. No
    join, no broadcast, one distinct pass; the per-hub set is bounded by
    suppliers-per-part (~30-55 here), never corpus-scale."""
    li = load(spark, sf_dir, "lineitem")
    grouped = (
        li.select("l_partkey", "l_suppkey")
        # keyed up front: the collect_set aggregate then runs ONCE, complete,
        # 32-way post-shuffle — the row-group-bound 6-task scan otherwise
        # hosts the whole partial aggregation (guide §2.2 map-task count)
        .repartition("l_partkey")
        .groupBy("l_partkey")
        .agg(F.sort_array(F.collect_set("l_suppkey")).alias("_ss"))
    )
    # one (s1, tail-array) row per set position crosses the exchange — the
    # ~87M individual pairs would pay 14× the per-row shuffle overhead for
    # the same bytes; s2 explodes only AFTER the shuffle (guide §2.3
    # "shuffle keys and metadata instead of payloads")
    e1 = grouped.select(
        F.posexplode("_ss").alias("_i", "s1"),
        F.expr("slice(_ss, _i + 2, size(_ss))").alias("_tail"),
    )
    # repartition on s1 THEN aggregate: hash-partitioning by s1 satisfies the
    # (s1, s2) clustering, so the planner emits one complete aggregate with
    # no map-side partial pass — at ~50M distinct pairs out of ~87M exploded
    # rows the partial hash aggregate cannot reduce and is pure overhead
    # (measured: 8.5 s with partial agg, 6.5 s without, identical result).
    # Partition count: 8× cores rather than the 2×-cores shuffle default —
    # this aggregate holds ~1 hash-table entry per input row, so per-task
    # GROUP count (not bytes) sizes the working set; 64 partitions put
    # ~780k groups in each task's table and thrashed it (5.7-6.8 s at
    # sf1.0), 256 keeps ~200k per task (2.3-2.4 s, same result; no penalty
    # at sf0.1). Derived from defaultParallelism, never a constant
    # (guide §2.2/§5).
    n_agg = 8 * spark.sparkContext.defaultParallelism
    return (
        e1.where(F.size("_tail") > 0)
        .repartition(n_agg, "s1")
        .select("s1", F.explode("_tail").alias("s2"))
        .groupBy("s1", "s2").agg(F.count("*").alias("shared_parts"))
    )


ORACLE_J6 = """
WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT a.l_suppkey AS s1, b.l_suppkey AS s2, COUNT(*) AS shared_parts
FROM ps a JOIN ps b ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
GROUP BY a.l_suppkey, b.l_suppkey
"""


# ---------------------------------------------------------------------------
# U4 — anti-join resume (process only uncached items, rag/pipeline.py:536-545)
# ---------------------------------------------------------------------------

def q_u4_anti_join_resume(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    cache = e.where(F.pmod(F.col("event_id"), F.lit(7)) == 0).select("event_id")
    return (
        e.join(cache, "event_id", "left_anti")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_pending"))
    )


ORACLE_U4 = """
SELECT event_type, COUNT(*) AS n_pending
FROM events e
WHERE NOT EXISTS (
  SELECT 1 FROM events c WHERE c.event_id % 7 = 0 AND c.event_id = e.event_id
)
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# U1/A6 — union of retrieval branches + dedup by content
# (rag/pipeline.py:336-347; rag/utils.py:128-130)
# ---------------------------------------------------------------------------

def q_u1_union_dedup(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    branch_a = d.where(F.col("lang") == "en").select("doc_id", "text")
    branch_b = d.where(F.col("n_chars") > 200).select("doc_id", "text")
    return (
        branch_a.unionByName(branch_b)
        .groupBy("doc_id", "text").agg(F.lit(1).alias("_one")).drop("_one")
        .select("doc_id", F.length("text").alias("text_len"))
    )


ORACLE_U1 = """
WITH unioned AS (
  SELECT doc_id, text FROM documents WHERE lang = 'en'
  UNION
  SELECT doc_id, text FROM documents WHERE n_chars > 200
)
SELECT doc_id, LENGTH(text) AS text_len FROM unioned
"""


# ---------------------------------------------------------------------------
# Registry (extended by queries_text.py / queries_vector.py)
# ---------------------------------------------------------------------------

QUERIES = {
    "a7_pricing_summary": q_a7_pricing_summary,
    "j1_region_stats": q_j1_region_stats,
    "w6_topk_orders": q_w6_topk_orders,
    "w2_event_context": q_w2_event_context,
    "w3_cumsum_batches": q_w3_cumsum_batches,
    "j2_reverse_fallback": q_j2_reverse_fallback,
    "a9_degree_metrics": q_a9_degree_metrics,
    "a11_salted_hot_agg": q_a11_salted_hot_agg,
    "g5_connected_components": q_g5_connected_components,
    "j6_two_hop_match": q_j6_two_hop_match,
    "u4_anti_join_resume": q_u4_anti_join_resume,
    "u1_union_dedup": q_u1_union_dedup,
}

ORACLES = {
    "a7_pricing_summary": ORACLE_A7,
    "j1_region_stats": ORACLE_J1,
    "w6_topk_orders": ORACLE_W6,
    "w2_event_context": ORACLE_W2,
    "w3_cumsum_batches": ORACLE_W3,
    "j2_reverse_fallback": ORACLE_J2,
    "a9_degree_metrics": ORACLE_A9,
    "a11_salted_hot_agg": ORACLE_A11,
    "g5_connected_components": ORACLE_G5,
    "j6_two_hop_match": ORACLE_J6,
    "u4_anti_join_resume": ORACLE_U4,
    "u1_union_dedup": ORACLE_U1,
}

# Batches 2-6 register themselves here; imports at the bottom so they can
# use helpers defined above without a circular failure.
#
# REGISTRATION ORDER IS THE DRIVER'S SWEEP ORDER: the r2 driver recorded
# exactly the first 50 registered queries and dropped the 3 registered last
# (t6/t7/t8 — see VERDICT r2), so newest/never-yet-driver-green entries go
# EARLY and long-stable twice-green entries go last; if the sweep is capped
# again, only rows with prior driver-green evidence fall off the end.
from deep_reason_spark.queries_topics import TOPIC_ORACLES, TOPIC_QUERIES  # noqa: E402

QUERIES.update(TOPIC_QUERIES)
ORACLES.update(TOPIC_ORACLES)

from deep_reason_spark.queries_graph import GRAPH_ORACLES, GRAPH_QUERIES  # noqa: E402

QUERIES.update(GRAPH_QUERIES)
ORACLES.update(GRAPH_ORACLES)

from deep_reason_spark.queries_text import TEXT_ORACLES, TEXT_QUERIES  # noqa: E402
from deep_reason_spark.queries_vector import VECTOR_ORACLES, VECTOR_QUERIES  # noqa: E402

QUERIES.update(TEXT_QUERIES)
ORACLES.update(TEXT_ORACLES)
QUERIES.update(VECTOR_QUERIES)
ORACLES.update(VECTOR_ORACLES)

from deep_reason_spark.queries_extra import EXTRA_QUERIES, extra_oracles  # noqa: E402

QUERIES.update(EXTRA_QUERIES)
ORACLES.update(extra_oracles())

# ---------------------------------------------------------------------------
# Driver sweep order — MECHANICAL rotation (VERDICT r4 task 1). The driver
# records only a ~50-row PREFIX of queries() (r2/r3/r4 all cut at exactly
# 50), so ordering is derived from the committed CORRECTNESS_r*.json
# artifacts themselves, never hand-maintained:
#   1. queries with NO driver-green row for their current plan go first —
#      brand-new queries (no history) and queries listed in
#      _PLAN_CHANGED_THIS_ROUND (history exists but predates the plan);
#   2. then ascending by newest-green round (stalest evidence first);
#   3. then ascending by green-row count (shallowest history first);
#   4. name as the deterministic tie-break.
# With >50 registered queries this rotates the prefix automatically every
# round: whatever fell off the previous sweep has the oldest newest-green
# row and returns to the front. Keep _PLAN_CHANGED_THIS_ROUND in sync with
# the round's engine edits (test_registry_consistency pins the expected
# front so the rotation is reviewed, not accidental).
# ---------------------------------------------------------------------------

# Registered queries whose Spark plan or oracle changed since their newest
# driver row (r6, the optimization round: hoisted-split text rewrites,
# scale-adaptive scan rebalance, the pair-enumeration j6, the window-based
# a9, single-pass d3/d4 — results oracle-identical, plans restructured; see
# OPTIMIZATION_r06.md). RESET each round after the driver records fresh rows.
_PLAN_CHANGED_THIS_ROUND = {
    "a7_pricing_summary",
    "a11_salted_hot_agg",
    "v1_cosine_topk",
    "j6_two_hop_match",
    "a9_degree_metrics",
    "s1_chunk_documents",
    "w2_doc_context",
    "p3_trigram_triples",
    "kg_predicate_counts",
    "t1_token_stats",
    "t2_quality_score",
    "t3_lang_guess",
    "d1_exact_dedup",
    "d2_ngram_jaccard",
    "d7_neardup_clusters",
    "d3_minhash_signatures",
    "d4_lsh_buckets",
    "d5_simhash",
    "s10_fulltext_topk",
    "m1_binary_meta",
}


def _driver_green_history() -> dict[str, list[int]]:
    """query → sorted rounds with a driver-green CORRECTNESS row. A row is
    green when it has no error, matching row counts, and neither schema nor
    value hash mismatched (rows-only checks leave hash_match null)."""
    import glob as _glob
    import json as _json
    import os
    import re as _re
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    hist: dict[str, list[int]] = {}
    for path in sorted(_glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                data = _json.load(fh)
        except Exception:  # unreadable artifact: skip, never fail import
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            green = (
                isinstance(row, dict)
                and row.get("err") is None
                and row.get("rows_match") is True
                and row.get("schema_match") is not False
                and row.get("hash_match") is not False
            )
            if green:
                hist.setdefault(name, []).append(rnd)
    return {k: sorted(v) for k, v in hist.items()}


def _sweep_order(names, history: dict[str, list[int]]) -> list[str]:
    def key(name: str):
        rounds = history.get(name, [])
        if name in _PLAN_CHANGED_THIS_ROUND or not rounds:
            return (0, 0, name)
        return (rounds[-1], len(rounds), name)
    return sorted(names, key=key)


_SWEEP_ORDER = _sweep_order(QUERIES, _driver_green_history())
# kept for introspection/tests; mechanical derivation can't leave a query
# unplaced, so this is always empty now
SWEEP_UNLISTED = sorted(set(QUERIES) - set(_SWEEP_ORDER))
QUERIES = {k: QUERIES[k] for k in _SWEEP_ORDER}
ORACLES = {k: ORACLES[k] for k in _SWEEP_ORDER if k in ORACLES}
