"""Query registry: one entry per implemented operator (SURVEY.md §2),
each as a (PySpark DataFrame builder, DuckDB oracle SQL) pair.

The round driver executes every Spark query at sf=0.01 and compares
row-count + schema + order-insensitive value hash against the oracle SQL run
by DuckDB over the same parquet tables. Conventions that keep the two sides
hash-identical:

* every computed column is aliased to the SAME name on both sides;
* post-aggregation doubles are ``floor((x) * 100 + 0.5) / 100`` for money-scale sums and
  ``floor((x) * 1000000 + 0.5) / 1000000`` for means/ratios, so partial-aggregation order can't leak
  into the hash;
* counts/ranks are BIGINT on both sides (Spark ``cast("long")``);
* window orderings always carry a unique tie-break key (event_id, doc_id...)
  so results are deterministic under any partitioning.

Rows-only entries (EWMA, Elo, MinHash-LSH, SimHash) have no SQL oracle —
the recursion/hash choices aren't ANSI-SQL-expressible — and are covered by
the pandas-referee pytest suite instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nfl_feature_store_spark.sources.tables import load_table

# ---------------------------------------------------------------- helpers


def _events_window():
    return Window.partitionBy("user_id").orderBy("ts", "event_id")


def _r(col, digits: int):
    """Portable deterministic rounding: floor(x * 10^d + 0.5) / 10^d.

    Spark's round() (BigDecimal HALF_UP on the double's exact binary value)
    and DuckDB's round() disagree at exact half-boundaries, which the
    synthetic data's terminating decimals hit often. Expressing the rounding
    as identical double arithmetic on both sides makes the discrete function
    engine-independent; oracle SQL uses the same floor formula.
    """
    scale = float(10 ** digits)
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * scale + F.lit(0.5)) / scale


def _cents(col):
    """Exact integer recovery of a 2-decimal double (value * 100 as BIGINT).

    Sums/means over these are integer-exact and therefore bit-identical
    across engines regardless of summation order — the fix for 1-ulp
    disagreements between Spark's and DuckDB's window-mean accumulation at
    half-boundary values (events.value has 2 decimals)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * 100.0 + F.lit(0.5)).cast("long")



# ---------------------------------------------------------------- queries


def q01_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """A1/A8: hash group-agg with conditional sums (reference
    src/pumps/player_game.py:133-150 lane pattern) — TPC-H Q1 shape."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _r(F.sum("l_quantity"), 2).alias("sum_qty"),
            _r(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            _r(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            _r(F.avg("l_quantity"), 6).alias("avg_qty"),
            _r(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
            F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0)).cast("long").alias("deep_disc_items"),
        )
    )


Q01_SQL = """
SELECT l_returnflag, l_linestatus,
       floor((sum(l_quantity)) * 100 + 0.5) / 100                          AS sum_qty,
       floor((sum(l_extendedprice)) * 100 + 0.5) / 100                     AS sum_base_price,
       floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100  AS sum_disc_price,
       floor((avg(l_quantity)) * 1000000 + 0.5) / 1000000                          AS avg_qty,
       floor((avg(l_discount)) * 1000000 + 0.5) / 1000000                          AS avg_disc,
       count(*)                                           AS count_order,
       sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END)::BIGINT AS deep_disc_items
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q02_filter_project(spark: SparkSession, sf: str) -> DataFrame:
    """P1-P3: predicate filter + projection, pushed to the parquet scan."""
    li = load_table(spark, sf, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1995-06-01").cast("timestamp"))
        & (F.col("l_discount") > 0.05)
        & F.col("l_returnflag").isin("A", "R")
    ).select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_extendedprice")


Q02_SQL = """
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-06-01' AND l_discount > 0.05
  AND l_returnflag IN ('A', 'R')
"""


def q03_revenue_by_nation(spark: SparkSession, sf: str) -> DataFrame:
    """J7: dimension-enrichment joins, small sides broadcast."""
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            _r(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


Q03_SQL = """
SELECT n_name, floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS revenue, count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q04_full_outer_lanes(spark: SparkSession, sf: str) -> DataFrame:
    """J1: full-outer merge of two aggregation lanes (reference
    src/pumps/player_game.py:184-188 pass ⟗ 2pt-pass)."""
    orders = load_table(spark, sf, "orders")
    lane_o = (
        orders.filter(F.col("o_orderstatus") == "O")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("open_orders"))
    )
    lane_f = (
        orders.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("filled_orders"))
    )
    return (
        lane_o.join(lane_f, "o_custkey", "full_outer")
        .select(
            "o_custkey",
            F.coalesce("open_orders", F.lit(0)).alias("open_orders"),
            F.coalesce("filled_orders", F.lit(0)).alias("filled_orders"),
        )
    )


Q04_SQL = """
SELECT coalesce(a.o_custkey, b.o_custkey) AS o_custkey,
       coalesce(a.open_orders, 0)  AS open_orders,
       coalesce(b.filled_orders, 0) AS filled_orders
FROM (SELECT o_custkey, count(*) AS open_orders  FROM orders WHERE o_orderstatus = 'O' GROUP BY 1) a
FULL OUTER JOIN
     (SELECT o_custkey, count(*) AS filled_orders FROM orders WHERE o_orderstatus = 'F' GROUP BY 1) b
USING (o_custkey)
"""


def q05_semi_join(spark: SparkSession, sf: str) -> DataFrame:
    """J9 done right: tuple-wise left-semi join (the reference's isin matched
    key columns independently — src/pumps/player_game.py:242-246)."""
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    big = orders.filter(F.col("o_totalprice") > 200000).select("o_custkey")
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


Q05_SQL = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 200000)
"""


def q06_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    """Anti-join (complement of P4's predicate-based inference filter)."""
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    return cust.join(
        orders.select("o_custkey"), cust.c_custkey == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name")


Q06_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q07_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """P6/A9: dedup-project (reference drop_duplicates on season/week/type)."""
    orders = load_table(spark, sf, "orders")
    return orders.select("o_orderpriority", "o_orderstatus").distinct()


Q07_SQL = "SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders"


def q08_mode(spark: SparkSession, sf: str) -> DataFrame:
    """A5: deterministic mode UDAF analog (reference custom_mode,
    src/pumps/player_game.py:33-46; tie-break = lexicographically first)."""
    ev = load_table(spark, sf, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("user_id").orderBy(F.col("cnt").desc(), F.col("event_type").asc())
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_event_type"), F.col("cnt").alias("mode_count"))
    )


Q08_SQL = """
WITH counts AS (
  SELECT user_id, event_type, count(*) AS cnt FROM events GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, event_type ASC) AS rn
  FROM counts
)
SELECT user_id, event_type AS mode_event_type, cnt AS mode_count FROM ranked WHERE rn = 1
"""


def q09_lag(spark: SparkSession, sf: str) -> DataFrame:
    """W1: lag-1 shift feature over the entity's full ordered history."""
    ev = load_table(spark, sf, "events")
    return ev.select(
        "event_id", "user_id", F.lag("value", 1).over(_events_window()).alias("last_value")
    )


Q09_SQL = """
SELECT event_id, user_id,
       lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS last_value
FROM events
"""


def _exact_windowed_mean(ev: DataFrame, lo, alias: str) -> DataFrame:
    """Strictly-past windowed mean of ``value`` computed over exact
    scale-100 integers (engine-portable bit-for-bit; see _cents)."""
    ev = ev.withColumn("v2", _cents("value"))
    frame = _events_window().rowsBetween(lo, -1)
    mean = F.sum("v2").over(frame).cast("double") / F.count("v2").over(frame) / 100.0
    return ev.select("event_id", _r(mean, 6).alias(alias))


def _exact_mean_sql(frame_sql: str, alias: str) -> str:
    return f"""
WITH s AS (SELECT event_id, user_id, ts, floor(value * 100 + 0.5)::BIGINT AS v2 FROM events)
SELECT event_id,
       floor((sum(v2) OVER f)::DOUBLE / (count(v2) OVER f) / 100.0 * 1000000 + 0.5) / 1000000 AS {alias}
FROM s WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id {frame_sql})
"""


def q10_form3(spark: SparkSession, sf: str) -> DataFrame:
    """W2: rolling mean of the previous <=3 rows (verified window 3)."""
    return _exact_windowed_mean(load_table(spark, sf, "events"), -3, "form_value")


Q10_SQL = _exact_mean_sql("ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING", "form_value")


def q11_expanding(spark: SparkSession, sf: str) -> DataFrame:
    """W4: strict expanding mean — the north rule's
    rowsBetween(unboundedPreceding, -1) frame, literally."""
    return _exact_windowed_mean(
        load_table(spark, sf, "events"), Window.unboundedPreceding, "expanding_value"
    )


Q11_SQL = _exact_mean_sql("ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING", "expanding_value")


def q12_roll10(spark: SparkSession, sf: str) -> DataFrame:
    """W6: rolling-10 strictly-past mean (reference rolling_spread_cover)."""
    return _exact_windowed_mean(load_table(spark, sf, "events"), -10, "roll10_value")


Q12_SQL = _exact_mean_sql("ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING", "roll10_value")


def q13_rank_max(spark: SparkSession, sf: str) -> DataFrame:
    """W7: pandas method='max' descending rank (tied group takes the worst
    position; verified five-way-tie behavior) as a RANGE-frame count."""
    ev = load_table(spark, sf, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("value").desc())
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    return ev.select("event_id", "event_type", F.count("value").over(w).alias("value_rank"))


Q13_SQL = """
SELECT event_id, event_type,
       count(value) OVER (PARTITION BY event_type ORDER BY value DESC
                          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_rank
FROM events
"""


def q14_gap_secs(spark: SparkSession, sf: str) -> DataFrame:
    """W8: seconds since the entity's previous event, 0 at the first
    (reference 'rest' — week-1 rows default)."""
    ev = load_table(spark, sf, "events")
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch, 1).over(_events_window())
    return ev.select("event_id", F.coalesce(gap, F.lit(0)).alias("gap_secs"))


Q14_SQL = """
SELECT event_id,
       coalesce(date_diff('second', lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts), 0) AS gap_secs
FROM events
"""


def q15_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """§2.9: gap-based sessionizer (gap > 1 day ⇒ new session)."""
    from nfl_feature_store_spark.operators.sessionize import sessionize

    ev = load_table(spark, sf, "events")
    out = sessionize(
        ev, entity_col="user_id", ts_col="ts", order_cols=("ts", "event_id"), gap_s=86400
    )
    return out.select("event_id", F.col("gap_secs").alias("gap_s"), F.col("session_id").cast("long").alias("session_id"))


Q15_SQL = """
WITH g AS (
  SELECT event_id, user_id, ts,
         coalesce(date_diff('second', lag(ts,1) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts), 0) AS gap_s
  FROM events
)
SELECT event_id, gap_s,
       (sum(CASE WHEN gap_s > 86400 THEN 1 ELSE 0 END)
         OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING))::BIGINT AS session_id
FROM g
"""


def q16_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """J6 generalized: sort-merge as-of backfill join — every click gets the
    user's latest purchase value as of its timestamp (union +
    last(ignorenulls) window, no join; see operators/asof.py)."""
    from nfl_feature_store_spark.operators.asof import asof_join

    ev = load_table(spark, sf, "events")
    feats = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    probes = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("probe_ts"), "event_id"
    )
    out = asof_join(
        feats, probes, entity_col="user_id", ts_col="ts", probe_ts_col="probe_ts",
        feature_cols=["purchase_value"], inclusive=True,
    )
    return out.select("event_id", "user_id", _r("purchase_value", 6).alias("asof_purchase_value"))


Q16_SQL = """
WITH feats AS (
  SELECT user_id, ts, max(value) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
), probes AS (
  SELECT user_id, ts AS probe_ts, event_id FROM events WHERE event_type = 'click'
)
SELECT p.event_id, p.user_id, floor((f.purchase_value) * 1000000 + 0.5) / 1000000 AS asof_purchase_value
FROM probes p ASOF LEFT JOIN feats f
  ON p.user_id = f.user_id AND p.probe_ts >= f.ts
"""


def q17_latest_snapshot(spark: SparkSession, sf: str) -> DataFrame:
    """A10/O2: latest row per entity (reference groupby('team').nth(-1))."""
    from nfl_feature_store_spark.operators.asof import latest_snapshot

    ev = load_table(spark, sf, "events")
    out = latest_snapshot(ev, entity_col="user_id", order_cols=("ts", "event_id"))
    return out.select(
        "user_id", "event_id", F.col("ts").cast("timestamp").cast("long").alias("ts_epoch"), "value"
    )


Q17_SQL = """
WITH r AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS ts_epoch, value FROM r WHERE rn = 1
"""


def q18_union(spark: SparkSession, sf: str) -> DataFrame:
    """U1/U2: union-all of heterogeneous subsets by name."""
    ev = load_table(spark, sf, "events")
    a = ev.filter(F.col("event_type") == "click").select("event_id", F.lit("c").alias("src"))
    b = ev.filter(F.col("event_type") == "error").select("event_id", F.lit("e").alias("src"))
    return a.unionByName(b)


Q18_SQL = """
SELECT event_id, 'c' AS src FROM events WHERE event_type = 'click'
UNION ALL
SELECT event_id, 'e' AS src FROM events WHERE event_type = 'error'
"""


def q19_ratio_guards(spark: SparkSession, sf: str) -> DataFrame:
    """F3/F4: guarded ratios + linear score (reference pacr/racr guards and
    fantasy-points form, src/pumps/player_game.py:152-157,538-548)."""
    li = load_table(spark, sf, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        _r(
            F.when(F.col("l_quantity") > 0, disc_price / F.col("l_quantity")).otherwise(F.lit(None)),
            6,
        ).alias("unit_net_price"),
        _r(1.5 * F.col("l_discount") + 0.7 * F.col("l_tax"), 6).alias("combo_score"),
    )


Q19_SQL = """
SELECT l_orderkey, l_linenumber,
       floor((CASE WHEN l_quantity > 0
                  THEN l_extendedprice * (1 - l_discount) / l_quantity END) * 1000000 + 0.5) / 1000000 AS unit_net_price,
       floor((1.5 * l_discount + 0.7 * l_tax) * 1000000 + 0.5) / 1000000 AS combo_score
FROM lineitem
"""


def q20_double_role_join(spark: SparkSession, sf: str) -> DataFrame:
    """J5: the same dimension joined under two roles with prefixed columns
    (reference home/away double self-join,
    event_regular_season_game.py:23-40) — supplier-nation vs customer-nation."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    supp = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    n_supp = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n_cust = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_key"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            _r(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


Q20_SQL = """
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
GROUP BY 1, 2
"""


def q21_exact_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup by normalized-text fingerprint: keep min doc_id per
    md5(ws-normalized lowercase text)."""
    from nfl_feature_store_spark.functions.text import doc_fingerprint

    docs = load_table(spark, sf, "documents")
    fp = docs.select("doc_id", doc_fingerprint("text").alias("fingerprint"))
    return fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies")
    )


Q21_SQL = """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
       min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


def q22_text_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Text quality scoring: token count, char-class ratios, stopword ratio."""
    from nfl_feature_store_spark.plans.layout import spread

    docs = spread(load_table(spark, sf, "documents").select("doc_id", "text"), "doc_id")
    t = F.coalesce(F.col("text"), F.lit(""))
    n = F.length(t).cast("double")
    tokens = (
        F.when(F.length(F.trim(t)) == 0, F.lit(0))
        .otherwise(F.size(F.split(F.trim(t), r"\s+")))
        .cast("long")
    )
    alpha = (n - F.length(F.regexp_replace(t, "[a-zA-Z]", ""))).cast("double")
    stop = F.size(F.regexp_extract_all(F.lower(t), F.lit(r"\b(the|and|of|is|that)\b"), 0)).cast("double")
    return docs.select(
        "doc_id",
        tokens.alias("n_tokens"),
        _r(F.when(n > 0, alpha / n).otherwise(0.0), 6).alias("alpha_ratio"),
        _r(F.when(tokens > 0, stop / tokens).otherwise(0.0), 6).alias("stopword_ratio"),
    )


Q22_SQL = """
SELECT doc_id,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END::BIGINT AS n_tokens,
       floor((CASE WHEN length(text) > 0
             THEN (length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')))::DOUBLE / length(text)
             ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS alpha_ratio,
       floor((CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
                             ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) > 0
             THEN len(regexp_extract_all(lower(text), '\\b(the|and|of|is|that)\\b'))::DOUBLE
                  / (CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)
             ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS stopword_ratio
FROM documents
"""


def q23_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    """Heuristic language ID (stopword-marker argmax, tie → lang asc)."""
    from nfl_feature_store_spark.functions.text import lang_id_expr
    from nfl_feature_store_spark.plans.layout import spread

    docs = spread(load_table(spark, sf, "documents").select("doc_id", "text"), "doc_id")
    return docs.select("doc_id", lang_id_expr("text").alias("lang_pred"))


Q23_SQL = """
WITH c AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '\\b(der|die|und|ist|nicht)\\b')) AS de,
         len(regexp_extract_all(lower(text), '\\b(the|and|of|is|that)\\b'))    AS en,
         len(regexp_extract_all(lower(text), '\\b(el|la|los|que|y)\\b'))       AS es,
         len(regexp_extract_all(lower(text), '\\b(le|les|des|est|une)\\b'))    AS fr
  FROM documents
)
SELECT doc_id,
       CASE WHEN greatest(de, en, es, fr) = 0 THEN 'und'
            WHEN de >= en AND de >= es AND de >= fr THEN 'de'
            WHEN en >= es AND en >= fr THEN 'en'
            WHEN es >= fr THEN 'es'
            ELSE 'fr' END AS lang_pred
FROM c
"""


def q24_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup detection: 3-gram character-shingle Jaccard over candidate
    pairs that share >=1 shingle (bounded to doc_id < 300 so the pairwise
    stage is scale-independent)."""
    from nfl_feature_store_spark.plans.layout import spread

    docs = spread(
        load_table(spark, sf, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", F.lower(F.col("text")).alias("t")),
        "doc_id",
    )
    shingles = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr("transform(sequence(1, greatest(length(t) - 2, 1)), i -> substring(t, i, 3))")
            )
        ).alias("g"),
    )
    counts = shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = shingles.alias("a")
    b = shingles.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.join(F.broadcast(ca), "doc_a")
        .join(F.broadcast(cb), "doc_b")
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", _r(jac, 6).alias("jaccard"))
    )


Q24_SQL = """
WITH d AS (SELECT doc_id, lower(text) AS t FROM documents WHERE doc_id < 300),
sh AS (SELECT DISTINCT doc_id, substr(t, i, 3) AS g
       FROM d, unnest(generate_series(1, greatest(length(t) - 2, 1))) AS u(i)),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
          FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT doc_a, doc_b,
       floor((inter::DOUBLE / (ca.n + cb.n - inter)) * 1000000 + 0.5) / 1000000 AS jaccard
FROM pairs JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
WHERE inter::DOUBLE / (ca.n + cb.n - inter) >= 0.5
"""


def q25_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-k neighbor search over the embedding column —
    the exact ANN baseline (query set broadcast against the corpus)."""
    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> cast(x AS double))").alias("v")
    )
    norm = F.sqrt(F.expr("aggregate(zip_with(v, v, (a, b) -> a * b), 0D, (acc, x) -> acc + x)"))
    emb = emb.withColumn("nrm", norm)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    joined = emb.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("qid"))
    dot = F.expr("aggregate(zip_with(qv, v, (a, b) -> a * b), 0D, (acc, x) -> acc + x)")
    sim = _r(dot / (F.col("qn") * F.col("nrm")), 6)
    scored = joined.select("qid", F.col("vec_id").alias("neighbor_id"), sim.alias("cosine"))
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("qid", "neighbor_id", "rnk", "cosine")
    )


Q25_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
s AS (SELECT q.qid, c.vec_id AS neighbor_id,
             floor((list_dot_product(q.qv, c.v) / (q.qn * c.nrm)) * 1000000 + 0.5) / 1000000 AS cosine
      FROM q, n c WHERE c.vec_id != q.qid),
r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, neighbor_id ASC) AS rnk
      FROM s)
SELECT qid, neighbor_id, rnk, cosine FROM r WHERE rnk <= 3
"""


def q26_null_preserving_sum(spark: SparkSession, sf: str) -> DataFrame:
    """A6: min_count=1 analog — all-NULL groups stay NULL, not 0."""
    ev = load_table(spark, sf, "events")
    return ev.groupBy("user_id", "event_type").agg(
        _r(F.sum(F.when(F.col("value") > 95, F.col("value"))), 6).alias("big_value_sum")
    )


Q26_SQL = """
SELECT user_id, event_type,
       floor((sum(CASE WHEN value > 95 THEN value END)) * 1000000 + 0.5) / 1000000 AS big_value_sum
FROM events GROUP BY 1, 2
"""


def q27_session_avg_two_anchor(spark: SparkSession, sf: str) -> DataFrame:
    """W3: period-anchored expanding mean with the verified two-anchor rule
    (first turn of period k anchors at period k-1's start) — the hardest
    verified reference semantic, on the events stream."""
    from nfl_feature_store_spark.operators.sessionize import sessionize

    ev = load_table(spark, sf, "events")
    df = sessionize(ev, entity_col="user_id", ts_col="ts", order_cols=("ts", "event_id"), gap_s=86400)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    ws = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    wsrun = ws.rowsBetween(Window.unboundedPreceding, 0)
    df = df.withColumn("x2", F.lag(_cents("value"), 1).over(w))
    df = df.withColumns(
        {
            "s_incl": F.coalesce(F.sum("x2").over(wrun), F.lit(0)),
            "c_incl": F.count("x2").over(wrun),
            "is_first": (F.row_number().over(ws) == 1),
        }
    )
    df = df.withColumns(
        {
            "s_excl": F.col("s_incl") - F.coalesce(F.col("x2"), F.lit(0)),
            "c_excl": F.col("c_incl") - F.col("x2").isNotNull().cast("long"),
        }
    )
    base_s_cur = F.first("s_excl").over(wsrun)
    base_c_cur = F.first("c_excl").over(wsrun)
    base_s = F.when(F.col("is_first"), F.lag(base_s_cur, 1).over(w)).otherwise(base_s_cur)
    base_c = F.when(F.col("is_first"), F.lag(base_c_cur, 1).over(w)).otherwise(base_c_cur)
    num = (F.col("s_incl") - F.coalesce(base_s, F.lit(0))).cast("double")
    den = F.col("c_incl") - F.coalesce(base_c, F.lit(0))
    return df.select(
        "event_id", _r(F.when(den > 0, num / den / 100.0), 6).alias("session_avg_value")
    )


Q27_SQL = """
WITH g AS (
  SELECT event_id, user_id, ts,
         coalesce(date_diff('second', lag(ts,1) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts), 0) AS gap_s,
         lag(floor(value * 100 + 0.5)::BIGINT, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x2
  FROM events
), s AS (
  SELECT *, sum(CASE WHEN gap_s > 86400 THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
), r AS (
  SELECT *,
         coalesce(sum(x2) OVER we, 0) AS s_incl,
         count(x2) OVER we AS c_incl,
         row_number() OVER (PARTITION BY user_id, session_id ORDER BY ts, event_id) = 1 AS is_first
  FROM s WINDOW we AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
), e AS (
  SELECT *, s_incl - coalesce(x2, 0) AS s_excl,
         c_incl - CASE WHEN x2 IS NOT NULL THEN 1 ELSE 0 END AS c_excl
  FROM r
), b AS (
  SELECT *,
         first_value(s_excl) OVER ws AS base_s_cur,
         first_value(c_excl) OVER ws AS base_c_cur
  FROM e WINDOW ws AS (PARTITION BY user_id, session_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
), f AS (
  SELECT event_id, s_incl, c_incl,
         CASE WHEN is_first THEN lag(base_s_cur, 1) OVER wo ELSE base_s_cur END AS base_s,
         CASE WHEN is_first THEN lag(base_c_cur, 1) OVER wo ELSE base_c_cur END AS base_c
  FROM b WINDOW wo AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id,
       CASE WHEN c_incl - coalesce(base_c, 0) > 0 THEN
         floor(((s_incl - coalesce(base_s, 0))::DOUBLE / (c_incl - coalesce(base_c, 0)) / 100.0) * 1000000 + 0.5) / 1000000
       END AS session_avg_value
FROM f
"""


def q32_calendar_rolling(spark: SparkSession, sf: str) -> DataFrame:
    """W4 (corrected): mean of the last (period-1) rows, k_max at period 1 —
    the event store's verified calendar-anchored rolling rule
    (operators/calendar_window.py), period := day-of-month of the event."""
    from nfl_feature_store_spark.operators.calendar_window import calendar_rolling_mean

    ev = load_table(spark, sf, "events").withColumns(
        {"period": F.dayofmonth("ts"), "v2": _cents("value").cast("double")}
    )
    out = calendar_rolling_mean(
        ev, "v2", period_col="period", entity_col="user_id",
        order_cols=("ts", "event_id"), k_max=8,
    )
    return out.select("event_id", _r(F.col("cal_avg_v2") / 100.0, 6).alias("cal_avg_value"))


def _q32_sql() -> str:
    lag_s = " ".join(
        f"WHEN {k} THEN coalesce(lag(s_excl, {k}) OVER w, 0)" for k in range(1, 9)
    )
    lag_c = " ".join(
        f"WHEN {k} THEN coalesce(lag(c_excl, {k}) OVER w, 0)" for k in range(1, 9)
    )
    return f"""
WITH s AS (
  SELECT event_id, user_id, ts,
         day(ts) AS period,
         floor(value * 100 + 0.5) AS v2
  FROM events
), r AS (
  SELECT *, coalesce(sum(v2) OVER wp, 0) AS s_excl, count(v2) OVER wp AS c_excl
  FROM s WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), k AS (
  SELECT *, CASE WHEN period = 1 THEN 8 ELSE least(period - 1, 8) END AS kk FROM r
), b AS (
  SELECT event_id, s_excl, c_excl,
         CASE kk {lag_s} END AS base_s,
         CASE kk {lag_c} END AS base_c
  FROM k WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id,
       CASE WHEN c_excl - base_c > 0 THEN
         floor(((s_excl - base_s) / (c_excl - base_c) / 100.0) * 1000000 + 0.5) / 1000000
       END AS cal_avg_value
FROM b
"""


Q32_SQL = _q32_sql()


def q33_session_aggregates(spark: SparkSession, sf: str) -> DataFrame:
    """Per-session aggregates after gap-sessionization (the north rule's
    sessionize → per-session rollup; streaming form in streaming/sessions.py)."""
    from nfl_feature_store_spark.operators.sessionize import sessionize

    ev = load_table(spark, sf, "events")
    s = sessionize(ev, entity_col="user_id", ts_col="ts", order_cols=("ts", "event_id"), gap_s=86400)
    return s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        _r(F.sum(_cents("value")).cast("double") / 100.0, 2).alias("session_value"),
        F.min("ts").cast("timestamp").cast("long").alias("session_start_epoch"),
        F.max("ts").cast("timestamp").cast("long").alias("session_end_epoch"),
    ).withColumn("session_id", F.col("session_id").cast("long"))


Q33_SQL = """
WITH g AS (
  SELECT event_id, user_id, ts, value,
         coalesce(date_diff('second', lag(ts,1) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts), 0) AS gap_s
  FROM events
), s AS (
  SELECT *, sum(CASE WHEN gap_s > 86400 THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
)
SELECT user_id, session_id::BIGINT AS session_id,
       count(*) AS n_events,
       floor((sum(floor(value * 100 + 0.5))::DOUBLE / 100.0) * 100 + 0.5) / 100 AS session_value,
       floor(epoch(min(ts)))::BIGINT AS session_start_epoch,
       floor(epoch(max(ts)))::BIGINT AS session_end_epoch
FROM s GROUP BY 1, 2
"""


# -------------------------------------------- recursion + rows-only queries
# q28/q29/q38 (EWMA / Elo / salted-EWM recursions) ARE oracled: a DuckDB
# WITH RECURSIVE CTE replays the per-entity recursion exactly (depth = max
# rows per entity, 86 at sf0.01). The EWM oracle replicates pandas' Cython
# adjust=False fp arithmetic bit-for-bit — ((1-a)*e + a*x) / ((1-a) + a),
# NOT the algebraically-equal e + a*(x-e) — so the 6-decimal hash matches
# (verified 10000/10000 exact at sf0.01). All numeric literals are cast to
# DOUBLE: DuckDB parses bare `1500.0` as DECIMAL(5,1) and would otherwise
# run the whole recursion in scale-1 decimal arithmetic.
# q30/q31/q40/q44 (MinHash-LSH / SimHash / winnowing) run the engine's
# PORTABLE md5 hash family here (operators/dedup.py module docstring:
# md5 hex strings min lexicographically == unsigned numerically;
# md5_number_lower == conv(reversed-hex, 16, 10) — byte-order verified) so
# the driver gets full rows+schema+hash oracles; the xxhash64 production
# default keeps its pytest referees. q39/q47 (round-5): fully oracled via
# frozen ANN constants (functions/ann_constants.py) — the data-independent
# hyperplane family and the pretrained IVF quantizer embed as DOUBLE[]
# literals on both engines.


def q28_ewma(spark: SparkSession, sf: str) -> DataFrame:
    """W5: span-10 adjust=False EWM of the lag-1 series per entity
    (mapInArrow kernel — unbounded recursion, no ANSI window FRAME; oracled
    via a DuckDB recursive CTE that replays pandas' exact fp update)."""
    from nfl_feature_store_spark.operators.ewma import with_ewma

    ev = load_table(spark, sf, "events").select("event_id", "user_id", "ts", "value")
    out = with_ewma(
        ev, metrics=("value",), span=10, entity_col="user_id", order_cols=("ts", "event_id")
    )
    return out.select("event_id", _r("ewma_value", 6).alias("ewma_value"))


Q28_SQL = """
WITH RECURSIVE base AS (
  SELECT event_id, user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x
  FROM events
),
rec AS (
  SELECT user_id, rn, CAST(NULL AS DOUBLE) AS e FROM base WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.rn,
         CASE WHEN r.e IS NULL THEN b.x
              ELSE ((CAST(1.0 AS DOUBLE) - CAST(2.0 AS DOUBLE) / CAST(11.0 AS DOUBLE)) * r.e
                    + (CAST(2.0 AS DOUBLE) / CAST(11.0 AS DOUBLE)) * b.x)
                   / ((CAST(1.0 AS DOUBLE) - CAST(2.0 AS DOUBLE) / CAST(11.0 AS DOUBLE))
                      + (CAST(2.0 AS DOUBLE) / CAST(11.0 AS DOUBLE))) END AS e
  FROM rec r JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1
)
SELECT b.event_id, floor(r.e * 1000000 + 0.5) / 1000000 AS ewma_value
FROM base b JOIN rec r ON b.user_id = r.user_id AND b.rn = r.rn
"""


def q29_elo(spark: SparkSession, sf: str) -> DataFrame:
    """W9: Elo-style cumulative rating per entity (K=20, init 1500); outcome =
    event value beats the entity's previous value. Oracled via a DuckDB
    recursive CTE replaying the logistic update per entity."""
    from nfl_feature_store_spark.operators.elo import elo_per_entity

    ev = load_table(spark, sf, "events").select("event_id", "user_id", "ts", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = ev.withColumn(
        "outcome",
        F.when(F.lag("value", 1).over(w).isNull(), F.lit(None))
        .when(F.col("value") > F.lag("value", 1).over(w), 1.0)
        .otherwise(0.0),
    )
    out = elo_per_entity(ev, outcome_col="outcome", entity_col="user_id", order_cols=("ts", "event_id"))
    return out.select("event_id", _r("elo_pre", 6).alias("elo_pre"))


Q29_SQL = """
WITH RECURSIVE base AS (
  SELECT event_id, user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         CASE WHEN lag(value,1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN NULL
              WHEN value > lag(value,1) OVER (PARTITION BY user_id ORDER BY ts, event_id) THEN CAST(1.0 AS DOUBLE)
              ELSE CAST(0.0 AS DOUBLE) END AS outcome
  FROM events
),
rec AS (
  SELECT user_id, rn, CAST(1500.0 AS DOUBLE) AS pre,
         CASE WHEN outcome IS NULL THEN CAST(1500.0 AS DOUBLE)
              ELSE CAST(1500.0 AS DOUBLE) + CAST(20.0 AS DOUBLE)
                   * (outcome - CAST(1.0 AS DOUBLE)
                      / (CAST(1.0 AS DOUBLE)
                         + pow(CAST(10.0 AS DOUBLE),
                               -(CAST(1500.0 AS DOUBLE) - CAST(1500.0 AS DOUBLE)) / CAST(400.0 AS DOUBLE)))) END AS post
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.rn, r.post AS pre,
         CASE WHEN b.outcome IS NULL THEN r.post
              ELSE r.post + CAST(20.0 AS DOUBLE)
                   * (b.outcome - CAST(1.0 AS DOUBLE)
                      / (CAST(1.0 AS DOUBLE)
                         + pow(CAST(10.0 AS DOUBLE),
                               -(r.post - CAST(1500.0 AS DOUBLE)) / CAST(400.0 AS DOUBLE)))) END AS post
  FROM rec r JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1
)
SELECT b.event_id, floor(r.pre * 1000000 + 0.5) / 1000000 AS elo_pre
FROM base b JOIN rec r ON b.user_id = r.user_id AND b.rn = r.rn
"""


def q30_minhash_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH near-dup candidates (shingle → 16 minhashes → 4 bands →
    bucket join), portable-md5 family => fully oracled: DuckDB replays the
    identical shingle/minhash/band/bucket pipeline with list functions."""
    from nfl_feature_store_spark.operators.dedup import minhash_lsh_candidates

    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") < 1000)
    return minhash_lsh_candidates(docs, id_col="doc_id", text_col="text", hash_fn="md5")


Q30_SQL = """
WITH d AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents WHERE doc_id < 1000
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(length(t) - 4, 1) + 1),
                                      i -> substring(t, i, 5))) AS s
  FROM d
), sig AS (
  SELECT doc_id,
         list_transform(range(0, 16),
                        j -> list_min(list_transform(s, x -> md5(x || '#' || j::VARCHAR)))) AS sig
  FROM sh
), bnd AS (
  SELECT doc_id, sig, r.b AS band,
         md5(array_to_string(sig[r.b * 4 + 1 : r.b * 4 + 4], '|')) AS bucket
  FROM sig, range(0, 4) r(b)
), p AS (
  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b, a.sig AS sa, c.sig AS sc
  FROM bnd a JOIN bnd c ON a.band = c.band AND a.bucket = c.bucket AND a.doc_id < c.doc_id
)
SELECT id_a, id_b,
       coalesce(list_sum(list_transform(range(1, 17),
                                        i -> CASE WHEN sa[i] = sc[i] THEN 1 ELSE 0 END)), 0) / 16.0
         AS est_jaccard
FROM p
"""


def q31_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash 64-bit fingerprint per document (token-hash bit voting),
    portable-md5 family => fully oracled: DuckDB votes with
    md5_number_lower, whose bit pattern equals the engine's
    conv(reversed-hex)-folded signed bigint."""
    from nfl_feature_store_spark.operators.dedup import simhash

    docs = load_table(spark, sf, "documents")
    return simhash(docs, id_col="doc_id", text_col="text", hash_fn="md5")


# fingerprint construction: per-bit votes over token hashes, then the
# two's-complement fold HUGEINT -> BIGINT to match Spark's signed simhash64
Q31_SQL = """
WITH d AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\\s+'),
                     t -> t != '') AS toks
  FROM documents
), h AS (
  SELECT doc_id, toks, list_transform(toks, t -> md5_number_lower(t)) AS hs FROM d
), v AS (
  SELECT doc_id, toks,
         list_transform(range(0, 64), i ->
            coalesce(list_sum(list_transform(hs,
                x -> CASE WHEN (x >> i) & 1 = 1 THEN 1 ELSE -1 END)), 0)) AS votes
  FROM h
), f AS (
  SELECT doc_id, toks,
         coalesce(list_sum(list_transform(range(0, 64), i ->
            CASE WHEN votes[i + 1] > 0 THEN (1::HUGEINT << i) ELSE 0::HUGEINT END)),
            0::HUGEINT) AS fp
  FROM v
)
SELECT doc_id,
       CAST(fp - CASE WHEN fp >= 9223372036854775808::HUGEINT
                      THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END
            AS BIGINT) AS simhash64,
       len(toks)::INTEGER AS n_tokens
FROM f
"""


def q34_career_agg(spark: SparkSession, sf: str) -> DataFrame:
    """A7: whole-history re-aggregation with ratio metrics recomputed from
    sums (reference src/pumps/player_game.py:625-682 weekly=False path,
    implementing the INTENDED per-group semantics, not its whole-frame
    lambda bug — SURVEY §2.5 A7 note)."""
    ev = load_table(spark, sf, "events")
    agg = ev.groupBy("user_id").agg(
        F.sum(_cents("value")).alias("v_all"),
        F.sum(F.when(F.col("event_type") == "purchase", _cents("value"))).alias("v_purchase"),
        F.count("*").alias("n_events"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("n_purchase"),
    )
    return agg.select(
        "user_id",
        "n_events",
        "n_purchase",
        _r(F.col("v_all").cast("double") / 100.0, 2).alias("total_value"),
        _r(
            F.when(F.col("v_all") > 0, F.col("v_purchase").cast("double") / F.col("v_all")),
            6,
        ).alias("purchase_value_share"),
        _r(F.col("n_purchase").cast("double") / F.col("n_events"), 6).alias("purchase_rate"),
    )


Q34_SQL = """
WITH a AS (
  SELECT user_id,
         sum(floor(value * 100 + 0.5)::BIGINT) AS v_all,
         sum(CASE WHEN event_type = 'purchase' THEN floor(value * 100 + 0.5)::BIGINT END) AS v_purchase,
         count(*) AS n_events,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchase
  FROM events GROUP BY 1
)
SELECT user_id, n_events, n_purchase,
       floor((v_all::DOUBLE / 100.0) * 100 + 0.5) / 100 AS total_value,
       CASE WHEN v_all > 0 THEN floor((v_purchase::DOUBLE / v_all) * 1000000 + 0.5) / 1000000 END AS purchase_value_share,
       floor((n_purchase::DOUBLE / n_events) * 1000000 + 0.5) / 1000000 AS purchase_rate
FROM a
"""


def q35_elo_pairwise(spark: SparkSession, sf: str) -> DataFrame:
    """W9 two-sided variant: globally-sequential Elo via the driver-
    coordinated time-bucket loop (operators/elo.py elo_pairwise). Matches
    are synthesized so each entity appears at most once per daily bucket
    (home = user < 75, away = home + 75, first event of the day). Oracled:
    this instance's interaction graph decomposes per pair, so a recursive
    CTE replays the bucket loop exactly (see Q35_SQL note)."""
    from nfl_feature_store_spark.operators.elo import elo_pairwise

    ev = load_table(spark, sf, "events").filter(F.col("user_id") < 75)
    day = F.date_trunc("day", F.col("ts").cast("timestamp"))
    first = (
        ev.withColumn("d", day)
        .withColumn("rn", F.row_number().over(Window.partitionBy("user_id", "d").orderBy("ts", "event_id")))
        .filter(F.col("rn") == 1)
    )
    matches = first.select(
        F.col("user_id").alias("home"),
        (F.col("user_id") + 75).alias("away"),
        F.when(F.col("value") > 50, 1.0).otherwise(0.0).alias("outcome"),
        F.col("d").cast("date").cast("string").alias("bucket"),
        "event_id",
    )
    out = elo_pairwise(matches, "home", "away", "outcome", "bucket", k=20.0)
    return out.select(
        "event_id",
        _r(F.col("elo_pre_home"), 6).alias("elo_pre_home"),
        _r(F.col("elo_prob_home"), 6).alias("elo_prob_home"),
    )


# q35's match synthesis pairs home u with away u+75 exclusively, so every
# (u, u+75) pair is an isolated 2-entity league and the globally-sequential
# bucket loop decomposes into independent per-pair recursions — which a
# recursive CTE replays exactly (both ratings tracked separately to mirror
# the engine's fp: pre_h + delta and pre_a - delta round independently).
# The GENERAL pairwise case (arbitrary interaction graph) remains
# non-ANSI-expressible; this oracle checks the engine on a decomposable
# instance of it.
Q35_SQL = """
WITH RECURSIVE firsts AS (
  SELECT user_id AS home, event_id,
         CASE WHEN value > 50 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS outcome,
         CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS bucket,
         row_number() OVER (PARTITION BY user_id, date_trunc('day', ts) ORDER BY ts, event_id) AS rn_day
  FROM events WHERE user_id < 75
),
base AS (
  SELECT home, event_id, outcome, bucket,
         row_number() OVER (PARTITION BY home ORDER BY bucket) AS rn
  FROM firsts WHERE rn_day = 1
),
rec AS (
  SELECT home, rn, CAST(1500.0 AS DOUBLE) AS pre_h, CAST(1500.0 AS DOUBLE) AS pre_a
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.home, b.rn,
         r.pre_h + CAST(20.0 AS DOUBLE) * (b2.outcome - CAST(1.0 AS DOUBLE)
           / (CAST(1.0 AS DOUBLE) + pow(CAST(10.0 AS DOUBLE), -(r.pre_h - r.pre_a) / CAST(400.0 AS DOUBLE)))) AS pre_h,
         r.pre_a - CAST(20.0 AS DOUBLE) * (b2.outcome - CAST(1.0 AS DOUBLE)
           / (CAST(1.0 AS DOUBLE) + pow(CAST(10.0 AS DOUBLE), -(r.pre_h - r.pre_a) / CAST(400.0 AS DOUBLE)))) AS pre_a
  FROM rec r
  JOIN base b2 ON b2.home = r.home AND b2.rn = r.rn
  JOIN base b ON b.home = r.home AND b.rn = r.rn + 1
)
SELECT b.event_id,
       floor(r.pre_h * 1000000 + 0.5) / 1000000 AS elo_pre_home,
       floor((CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
         + pow(CAST(10.0 AS DOUBLE), -(r.pre_h - r.pre_a) / CAST(400.0 AS DOUBLE)))) * 1000000 + 0.5) / 1000000 AS elo_prob_home
FROM base b JOIN rec r ON b.home = r.home AND b.rn = r.rn
"""


def q36_salted_expanding(spark: SparkSession, sf: str) -> DataFrame:
    """Skew path (SURVEY.md §4.2.2): expanding mean under (entity, salt)
    parallelism — quantile-derived range salt, per-chunk partials, broadcast
    carry merge. Oracled against the PLAIN SQL expanding mean: the salted
    decomposition must be invisible in the result. Integer-valued metric
    (props length) keeps partial sums float-exact across engines."""
    from nfl_feature_store_spark.operators.salted import salted_expanding_mean
    from nfl_feature_store_spark.plans.layout import spread

    ev = spread(
        load_table(spark, sf, "events").select(
            "event_id", "user_id", "ts", F.length(F.coalesce(F.col("props"), F.lit(""))).alias("plen")
        ),
        "user_id",
    )
    out = salted_expanding_mean(ev, "plen", entity_col="user_id", order_cols=("ts", "event_id"), n_salt=8)
    return out.select("event_id", _r("salted_expanding_plen", 6).alias("salted_expanding_plen"))


Q36_SQL = """
SELECT event_id,
       floor((avg(length(coalesce(props, ''))) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) * 1000000 + 0.5) / 1000000
       AS salted_expanding_plen
FROM events
"""


def q37_salted_rolling(spark: SparkSession, sf: str) -> DataFrame:
    """Skew path, rolling-k family: last-k-rows-of-previous-chunk carry.
    n_salt=2 keeps every non-final chunk >= k rows for arbitrary per-user
    event counts (the operator's contract; hot entities in production pick
    n_salt <= n_rows/k)."""
    from nfl_feature_store_spark.operators.salted import salted_rolling_mean
    from nfl_feature_store_spark.plans.layout import spread

    ev = spread(
        load_table(spark, sf, "events").select(
            "event_id", "user_id", "ts", F.length(F.coalesce(F.col("props"), F.lit(""))).alias("plen")
        ),
        "user_id",
    )
    out = salted_rolling_mean(
        ev, "plen", k=10, entity_col="user_id", order_cols=("ts", "event_id"), n_salt=2
    )
    return out.select("event_id", _r("salted_roll10_plen", 6).alias("salted_roll10_plen"))


Q37_SQL = """
SELECT event_id,
       floor((avg(length(coalesce(props, ''))) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)) * 1000000 + 0.5) / 1000000
       AS salted_roll10_plen
FROM events
"""


def q38_salted_ewm(spark: SparkSession, sf: str) -> DataFrame:
    """Skew path, EWM family: zero-seeded per-chunk partials + closed-form
    carry merge (the ewma.py merge identity). Oracled against the PLAIN EWM
    recursive CTE (Q28): the salted path must reproduce the unsalted
    definition, and its carry merge is exact enough to hash-match at 6
    decimals; bit-near parity is also pytest-pinned
    (tests/test_salted_multimodal.py)."""
    from nfl_feature_store_spark.operators.salted import salted_ewm
    from nfl_feature_store_spark.plans.layout import spread

    ev = spread(
        load_table(spark, sf, "events").select(
            "event_id", F.col("user_id").cast("string").alias("uid"), "ts", "value"
        ),
        "uid",
    )
    out = salted_ewm(ev, "value", span=10, entity_col="uid", order_cols=("ts", "event_id"), n_salt=4)
    return out.select("event_id", _r("salted_ewma_value", 6).alias("salted_ewma_value"))


# same recursion as Q28 — the salted execution path must agree with the
# plain EWM definition; its closed-form carry merge is exact enough that the
# 6-decimal rounding matches the unsalted oracle 10000/10000 at sf0.01
Q38_SQL = Q28_SQL.replace("AS ewma_value", "AS salted_ewma_value")


def q39_lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Sign-LSH approximate top-k (bucketed equi-join replaces the q25 cross
    join). Fully oracled (round-4 VERDICT item 2): the hyperplane family is
    data-independent — h[p][d] = pmod(xxhash64(p,d), 2000001)/1e6 - 1 — so
    the exact doubles are frozen in functions/ann_constants.py (pytest-pinned
    against the live derivation) and the oracle replays bucket signs and the
    bucketed rerank in DuckDB list algebra. Recall vs the q25 brute force is
    additionally pytest-pinned (tests/test_similarity_retrieval.py)."""
    from nfl_feature_store_spark.operators.similarity import lsh_topk

    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("qid"), "embedding")
    out = lsh_topk(emb, q, k=3, bits=4)
    return out.select("qid", "neighbor_id", F.col("rnk").cast("long").alias("rnk"), _r("cosine", 6).alias("cosine"))


def _sql_double_array(vals) -> str:
    return "[" + ", ".join(repr(float(x)) for x in vals) + "]::DOUBLE[]"


def _q39_sql() -> str:
    from nfl_feature_store_spark.functions.ann_constants import (
        LSH_HYPERPLANES_BITS4_DIM64 as HP,
    )

    bits = len(HP)
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(v, {_sql_double_array(HP[p])}) > 0 "
        f"THEN {1 << (bits - 1 - p)} ELSE 0 END)"
        for p in range(bits)
    )
    # mirrors lsh_topk: bucket equi-join, rank by UNROUNDED cosine then
    # neighbor_id (the engine ranks before rounding), round for output
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm, {bucket} AS b FROM e),
q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, b AS qb FROM n WHERE vec_id < 10),
s AS (SELECT q.qid, c.vec_id AS neighbor_id,
             list_dot_product(q.qv, c.v) / (q.qn * c.nrm) AS cos_raw
      FROM q JOIN n c ON c.b = q.qb AND c.vec_id != q.qid),
r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_raw DESC, neighbor_id ASC) AS rnk
      FROM s)
SELECT qid, neighbor_id, rnk,
       floor(cos_raw * 1000000 + 0.5) / 1000000 AS cosine
FROM r WHERE rnk <= 3
"""


def q40_simhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup candidate pairs: 4-table rotated-prefix-bucketed
    Hamming filter, portable-md5 family => fully oracled (DuckDB rotates on
    UBIGINT via mod/multiply — same bit pattern as the engine's signed
    shiftleft|shiftrightunsigned). Planted-near-dup recovery additionally
    pytest-pinned (tests/test_similarity_retrieval.py)."""
    from nfl_feature_store_spark.operators.dedup import simhash, simhash_near_pairs

    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") < 1000)
    fps = simhash(docs, id_col="doc_id", text_col="text", hash_fn="md5").select(
        "doc_id", "simhash64"
    )
    return simhash_near_pairs(fps, id_col="doc_id", max_hamming=16, prefix_bits=8)


# same fingerprints as Q31 (restricted to doc_id < 1000) kept UNSIGNED;
# rotation by s: (fp % 2^(64-s)) * 2^s + (fp >> (64-s)) == Spark's
# shiftleft|shiftrightunsigned bit pattern; bucket = rot >> 56 (top 8 bits)
Q40_SQL = """
WITH d AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\\s+'),
                     t -> t != '') AS toks
  FROM documents WHERE doc_id < 1000
), h AS (
  SELECT doc_id, list_transform(toks, t -> md5_number_lower(t)) AS hs FROM d
), v AS (
  SELECT doc_id,
         list_transform(range(0, 64), i ->
            coalesce(list_sum(list_transform(hs,
                x -> CASE WHEN (x >> i) & 1 = 1 THEN 1 ELSE -1 END)), 0)) AS votes
  FROM h
), f AS (
  SELECT doc_id,
         CAST(coalesce(list_sum(list_transform(range(0, 64), i ->
            CASE WHEN votes[i + 1] > 0 THEN (1::HUGEINT << i) ELSE 0::HUGEINT END)),
            0::HUGEINT) AS UBIGINT) AS fp
  FROM v
), pr AS (
  SELECT doc_id, fp, r.t AS tbl,
         CASE WHEN r.t = 0 THEN fp >> 56
              ELSE (((fp % (1::UBIGINT << (64 - r.t * 16))) * (1::UBIGINT << (r.t * 16)))
                    + (fp >> (64 - r.t * 16))) >> 56
         END AS bkt
  FROM f, range(0, 4) r(t)
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.fp, b.fp))::INTEGER AS hamming
FROM pr a JOIN pr b ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= 16
"""


def q41_composite_rank(spark: SparkSession, sf: str) -> DataFrame:
    """W7 composite: per-period weighted mean of max-method sub-ranks, then
    the ascending max-rank of the mean (reference make_rank_cols
    offensive/defensive composite, event_regular_season_game.py:74-77) —
    computed in place, no copy-and-re-join (J8 deliberately not copied)."""
    from nfl_feature_store_spark.operators.rank import composite_rank

    ev = load_table(spark, sf, "events")
    daily = ev.groupBy("user_id", F.substring("ts", 1, 10).alias("d")).agg(
        F.sum(_cents("value")).alias("v_cents"),
        F.count("*").cast("long").alias("n_events"),
    )
    out = composite_rank(daily, ["v_cents", "n_events"], ["d"], descending=True)
    return out.select(
        "user_id", "d", "v_cents", "n_events", F.col("composite_rank").cast("long").alias("composite_rank")
    )


Q41_SQL = """
WITH daily AS (
  SELECT user_id, substring(ts::VARCHAR, 1, 10) AS d,
         sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS v_cents,
         count(*)::BIGINT AS n_events
  FROM events GROUP BY 1, 2
), sub AS (
  SELECT *,
         count(v_cents) OVER (PARTITION BY d ORDER BY v_cents DESC
                              RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r_v,
         count(n_events) OVER (PARTITION BY d ORDER BY n_events DESC
                               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r_n
  FROM daily
), m AS (
  SELECT *, r_v * 0.5 + r_n * 0.5 AS mean_rank FROM sub
)
SELECT user_id, d, v_cents, n_events,
       count(mean_rank) OVER (PARTITION BY d ORDER BY mean_rank ASC
                              RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS composite_rank
FROM m
"""


def q42_multiway_outer(spark: SparkSession, sf: str) -> DataFrame:
    """J4 literal form: >=3-way full-outer cascade of aggregation lanes with
    key coalescing at each step (reference src/pumps/player_game.py:472-475
    pass ⟗ rush ⟗ rec ⟗ st_tds). The flagship pipeline replaces this shape
    with union+groupBy (one shuffle instead of a join cascade — SURVEY §2.3);
    this query keeps the literal cascade on the surface for parity."""
    ev = load_table(spark, sf, "events")

    def lane(event_type: str, alias: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == event_type)
            .groupBy("user_id")
            .agg(F.count("*").cast("long").alias(alias))
        )

    a, b, c = lane("view", "n_view"), lane("purchase", "n_purchase"), lane("error", "n_error")
    ab = a.join(b, "user_id", "full_outer")
    abc = ab.join(c, "user_id", "full_outer")
    return abc.select(
        "user_id",
        F.coalesce("n_view", F.lit(0)).alias("n_view"),
        F.coalesce("n_purchase", F.lit(0)).alias("n_purchase"),
        F.coalesce("n_error", F.lit(0)).alias("n_error"),
    )


Q42_SQL = """
WITH a AS (SELECT user_id, count(*)::BIGINT AS n_view     FROM events WHERE event_type = 'view'     GROUP BY 1),
     b AS (SELECT user_id, count(*)::BIGINT AS n_purchase FROM events WHERE event_type = 'purchase' GROUP BY 1),
     c AS (SELECT user_id, count(*)::BIGINT AS n_error    FROM events WHERE event_type = 'error'    GROUP BY 1)
SELECT coalesce(a.user_id, b.user_id, c.user_id) AS user_id,
       coalesce(n_view, 0) AS n_view,
       coalesce(n_purchase, 0) AS n_purchase,
       coalesce(n_error, 0) AS n_error
FROM a FULL OUTER JOIN b USING (user_id) FULL OUTER JOIN c USING (user_id)
"""


def q43_bpe_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting, BPE-ish tier: GPT-2 pretokenizer alternation counted
    via regexp_count — engine-portable, so the oracle runs the SAME pattern
    through DuckDB's RE2. Whitespace tier alongside for comparison."""
    from nfl_feature_store_spark.functions.text import bpe_token_count_expr, token_count_expr
    from nfl_feature_store_spark.plans.layout import spread

    docs = spread(load_table(spark, sf, "documents").select("doc_id", "text"), "doc_id")
    return docs.select(
        "doc_id",
        bpe_token_count_expr("text").cast("long").alias("bpe_tokens"),
        token_count_expr("text").cast("long").alias("ws_tokens"),
    )


Q43_SQL = r"""
SELECT doc_id,
       length(regexp_extract_all(coalesce(text, ''), '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^ \t\n\r\f\x0B\p{L}\p{N}]+|[ \t\n\r\f\x0B]+'))::BIGINT AS bpe_tokens,
       CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
            ELSE length(regexp_split_to_array(trim(coalesce(text, '')), '\s+')) END::BIGINT AS ws_tokens
FROM documents
"""


def q44_winnow_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling-hash document fingerprinting (winnowing): min-hash of each
    window of k-gram hashes, deduped — portable-md5 family => fully oracled
    (count AND an order-insensitive digest of the fingerprint set). The
    shared-substring guarantee stays pytest-pinned on the xxhash64 default."""
    from nfl_feature_store_spark.functions.text import winnow_fingerprints_table

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    fps = winnow_fingerprints_table(docs, "doc_id", "text", k=8, w=4, hash_fn="md5")
    return fps.select(
        "doc_id",
        F.size("fps").cast("long").alias("n_fingerprints"),
        F.md5(F.array_join(F.array_sort("fps"), ",")).alias("fp_digest"),
    )


Q44_SQL = """
WITH d AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
), g AS (
  SELECT doc_id,
         list_transform(range(1, greatest(length(t) - 7, 1) + 1),
                        i -> md5(substring(t, i, 8))) AS hs
  FROM d
), m AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(hs) - 3, 1) + 1),
                                      i -> list_min(hs[i : i + 3]))) AS fps
  FROM g
)
SELECT doc_id, len(fps)::BIGINT AS n_fingerprints,
       md5(array_to_string(list_sort(fps), ',')) AS fp_digest
FROM m
"""


def q45_cosine_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, brute-force tier (the exact
    baseline; the LSH-bucketed scale path is q39/lsh_topk). Oracled via
    DuckDB list_dot_product on the same vectors."""
    emb = load_table(spark, sf, "embeddings").filter(F.col("vec_id") < 300).select(
        "vec_id", F.expr("transform(embedding, x -> cast(x AS double))").alias("v")
    )
    norm = F.sqrt(F.expr("aggregate(zip_with(v, v, (a, b) -> a * b), 0D, (acc, x) -> acc + x)"))
    emb = emb.withColumn("nrm", norm)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    dot = F.expr("aggregate(zip_with(va, vb, (a, b) -> a * b), 0D, (acc, x) -> acc + x)")
    pairs = (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _r(dot / (F.col("na") * F.col("nb")), 6).alias("cosine"))
        .filter(F.col("cosine") > 0.3)
    )
    return pairs


Q45_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 300),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       floor((list_dot_product(a.v, b.v) / (a.nrm * b.nrm)) * 1000000 + 0.5) / 1000000 AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE floor((list_dot_product(a.v, b.v) / (a.nrm * b.nrm)) * 1000000 + 0.5) / 1000000 > 0.3
"""


def q46_salted_asof(spark: SparkSession, sf: str) -> DataFrame:
    """J6 under skew: the q16 as-of backfill routed through the salted
    decomposition (quantile range-salt over the unioned stream, within-chunk
    carry-forward, broadcast prior-chunk snapshot fallback). Same ANSI ASOF
    oracle as q16 — the salting must be invisible in the result."""
    from nfl_feature_store_spark.operators.asof import salted_asof_join
    from nfl_feature_store_spark.plans.layout import spread

    ev = spread(
        load_table(spark, sf, "events").select("event_id", "user_id", "ts", "event_type", "value"),
        "user_id",
    )
    feats = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    probes = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("probe_ts"), "event_id"
    )
    out = salted_asof_join(
        feats, probes, entity_col="user_id", ts_col="ts", probe_ts_col="probe_ts",
        feature_cols=["purchase_value"], inclusive=True, n_salt=8,
    )
    return out.select("event_id", "user_id", _r("purchase_value", 6).alias("asof_purchase_value"))


def q47_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF approximate top-k with a PRETRAINED coarse quantizer
    (functions/ann_constants.py: the seeded sf0.01 KMeans fit, frozen —
    the production shape: train once, version the centroids, reuse).
    Assignment and probe selection are pure column algebra over the literal
    centroids, so the whole pipeline is fully oracled in DuckDB (round-4
    VERDICT item 2); the runtime-fit path keeps its own recall pytest
    (tests/test_similarity_retrieval.py)."""
    from nfl_feature_store_spark.functions.ann_constants import IVF_CENTROIDS_K16_DIM64
    from nfl_feature_store_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("qid"), "embedding")
    out = ivf_topk(emb, q, k=3, n_probe=4, centroids=IVF_CENTROIDS_K16_DIM64)
    return out.select("qid", "neighbor_id", F.col("rnk").cast("long").alias("rnk"), _r("cosine", 6).alias("cosine"))


def _q47_sql() -> str:
    from nfl_feature_store_spark.functions.ann_constants import (
        IVF_CENTROID_SELFDOTS as CC,
        IVF_CENTROIDS_K16_DIM64 as CENTS,
    )

    values = ",\n  ".join(
        f"({i}, {_sql_double_array(c)}, {CC[i]!r})" for i, c in enumerate(CENTS)
    )
    # mirrors ivf_topk's pretrained branch: d2 = <v,v> - 2<v,c> + cc with the
    # same operand order; assignment = first minimum (rank by d2, centroid);
    # probes = per-query 4 nearest centroids; rerank ranks unrounded cosine
    return f"""
WITH cents(centroid, cvec, cc) AS (VALUES
  {values}
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
             list_dot_product(v, v) AS vv FROM e),
ad AS (SELECT n.vec_id, n.v, n.nrm, c.centroid,
              n.vv - 2 * list_dot_product(n.v, c.cvec) + c.cc AS d2
       FROM n CROSS JOIN cents c),
assign AS (SELECT vec_id, v, nrm, centroid
           FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, centroid ASC) AS ar
                 FROM ad)
           WHERE ar = 1),
q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, vv AS qvv FROM n WHERE vec_id < 10),
qp AS (SELECT qid, qv, qn, centroid
       FROM (SELECT q.qid, q.qv, q.qn, c.centroid,
                    row_number() OVER (PARTITION BY q.qid
                                       ORDER BY q.qvv - 2 * list_dot_product(q.qv, c.cvec) + c.cc ASC,
                                                c.centroid ASC) AS pr
             FROM q CROSS JOIN cents c)
       WHERE pr <= 4),
s AS (SELECT qp.qid, a.vec_id AS neighbor_id,
             list_dot_product(qp.qv, a.v) / (qp.qn * a.nrm) AS cos_raw
      FROM qp JOIN assign a ON a.centroid = qp.centroid AND a.vec_id != qp.qid),
r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_raw DESC, neighbor_id ASC) AS rnk
      FROM s)
SELECT qid, neighbor_id, rnk,
       floor(cos_raw * 1000000 + 0.5) / 1000000 AS cosine
FROM r WHERE rnk <= 3
"""


def q48_time_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Hypertable-style multi-grain rollup: one scan, GROUPING SETS over
    hour/day/week buckets per entity — each input row aggregated once per
    grain, single shuffle (operators/rollup.py)."""
    from nfl_feature_store_spark.operators.rollup import time_rollup

    ev = load_table(spark, sf, "events")
    out = time_rollup(
        ev,
        {"n_events": F.count("*").cast("long"), "v_cents": F.sum(_cents("value")).cast("long")},
        entity_col="user_id",
        ts_col="ts",
        grains=("hour", "day", "week"),
    )
    return out


Q48_SQL = """
WITH t AS (
  SELECT user_id, date_trunc('hour', ts) AS gh, date_trunc('day', ts) AS gd,
         date_trunc('week', ts) AS gw, floor(value * 100 + 0.5)::BIGINT AS vc
  FROM events
)
SELECT user_id,
       CASE WHEN GROUPING(gh) = 0 THEN 'hour' WHEN GROUPING(gd) = 0 THEN 'day' ELSE 'week' END AS grain,
       coalesce(gh, gd, gw) AS bucket_start,
       count(*)::BIGINT AS n_events, sum(vc)::BIGINT AS v_cents
FROM t GROUP BY GROUPING SETS ((user_id, gh), (user_id, gd), (user_id, gw))
"""


def q49_asof_tolerance(spark: SparkSession, sf: str) -> DataFrame:
    """J6 + freshness window: the q16 as-of backfill with a 3-day staleness
    bound — probes whose latest purchase snapshot is older than the
    tolerance get NULL instead of arbitrarily stale features
    (operators/asof.py ``tolerance_s``; same union + last(ignorenulls) pass
    carries the snapshot-row ts)."""
    from nfl_feature_store_spark.operators.asof import asof_join

    ev = load_table(spark, sf, "events")
    feats = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    probes = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("probe_ts"), "event_id"
    )
    out = asof_join(
        feats, probes, entity_col="user_id", ts_col="ts", probe_ts_col="probe_ts",
        feature_cols=["purchase_value"], inclusive=True, tolerance_s=259_200,
    )
    return out.select(
        "event_id", "user_id", _r("purchase_value", 6).alias("asof_purchase_value")
    )


Q49_SQL = """
WITH feats AS (
  SELECT user_id, ts, max(value) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
), probes AS (
  SELECT user_id, ts AS probe_ts, event_id FROM events WHERE event_type = 'click'
)
SELECT p.event_id, p.user_id,
       CASE WHEN date_diff('second', f.ts, p.probe_ts) <= 259200
            THEN floor((f.purchase_value) * 1000000 + 0.5) / 1000000 END AS asof_purchase_value
FROM probes p ASOF LEFT JOIN feats f
  ON p.user_id = f.user_id AND p.probe_ts >= f.ts
"""


def q50_interval_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed interval-overlap (range) join via the binned equi-join
    pattern (operators/rangejoin.py): fine-grained sessions (1h gap) matched
    to coarse sessions (1d gap) of the same user wherever they overlap.
    Spark has no native range join — the naive formulation is a nested-loop
    product; binning shuffles like an ordinary equi-join."""
    from nfl_feature_store_spark.operators.rangejoin import interval_overlap_join
    from nfl_feature_store_spark.operators.sessionize import sessionize

    ev = load_table(spark, sf, "events").select("user_id", "ts", "event_id")

    def intervals(gap_s: int) -> DataFrame:
        s = sessionize(ev, entity_col="user_id", ts_col="ts", order_cols=("ts", "event_id"), gap_s=gap_s)
        return s.groupBy("user_id", "session_id").agg(
            F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts")
        )

    out = interval_overlap_join(
        intervals(3600), intervals(86400), entity_col="user_id",
        left_keys=["session_id"], right_keys=["session_id"], bin_width_s=86400,
    )
    return out.select(
        "user_id",
        F.col("l_session_id").cast("long").alias("fine_session"),
        F.col("r_session_id").cast("long").alias("coarse_session"),
        F.col("overlap_secs").cast("long").alias("overlap_secs"),
    )


Q50_SQL = """
WITH g1 AS (
  SELECT user_id, ts, event_id,
         coalesce(date_diff('second', lag(ts,1) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts), 0) AS gap_s
  FROM events
), s1 AS (
  SELECT user_id, ts,
         sum(CASE WHEN gap_s > 3600 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g1
), fine AS (
  SELECT user_id, session_id::BIGINT AS fine_session, min(ts) AS fs, max(ts) AS fe
  FROM s1 GROUP BY 1, 2
), s2 AS (
  SELECT user_id, ts,
         sum(CASE WHEN gap_s > 86400 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g1
), coarse AS (
  SELECT user_id, session_id::BIGINT AS coarse_session, min(ts) AS cs, max(ts) AS ce
  FROM s2 GROUP BY 1, 2
)
SELECT f.user_id, f.fine_session, c.coarse_session,
       (floor(epoch(least(f.fe, c.ce)))::BIGINT - floor(epoch(greatest(f.fs, c.cs)))::BIGINT) AS overlap_secs
FROM fine f JOIN coarse c ON f.user_id = c.user_id AND f.fs <= c.ce AND c.cs <= f.fe
"""


#: DuckDB fragment == operators/sampling.py _bucket1000 / shard hash:
#: md5_number_lower(key || '#seed') is bit-identical to the engine's
#: conv(reversed-hex) unsigned decimal (tests/test_portable_hash.py).
#: Parenthesised so a trailing ``::BIGINT`` casts the bucket, not ``mod``:
#: ``x % 1000::BIGINT`` types HUGEINT, which pandas reads as DOUBLE
def _duck_bucket(key_sql: str, seed: int, mod: int) -> str:
    return f"(md5_number_lower({key_sql} || '#' || '{seed}') % {mod})"


def q51_deterministic_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Dataset-assembly tier: deterministic portable-hash sample — the
    re-derivable, engine-portable replacement for rand()-based sampling
    (operators/sampling.py). 25% of documents by doc_id hash, seed 7."""
    from nfl_feature_store_spark.operators.sampling import deterministic_sample

    docs = load_table(spark, sf, "documents")
    return deterministic_sample(docs, key_col="doc_id", permille=250, seed=7).select(
        "doc_id", F.col("bucket").cast("long").alias("bucket")
    )


Q51_SQL = f"""
SELECT doc_id, {_duck_bucket("doc_id::VARCHAR", 7, 1000)}::BIGINT AS bucket
FROM documents WHERE {_duck_bucket("doc_id::VARCHAR", 7, 1000)} < 250
"""


def q52_entity_split(spark: SparkSession, sf: str) -> DataFrame:
    """Entity-level train/val/test split (80/10/10 by entity hash): every
    row of an entity lands in the same split — the grouping-leakage guard
    for conversation data (operators/sampling.py entity_split)."""
    from nfl_feature_store_spark.operators.sampling import entity_split
    from nfl_feature_store_spark.plans.layout import spread

    # the portable md5 bucket is per-row compute on the scan side; spread a
    # single-row-group scan so it parallelizes (the groupBy exchanges anyway)
    ev = spread(load_table(spark, sf, "events").select("user_id"), "user_id")
    out = entity_split(ev, entity_col="user_id", seed=7)
    return out.groupBy("split").agg(
        F.countDistinct("user_id").cast("long").alias("n_entities"),
        F.count("*").cast("long").alias("n_rows"),
    )


Q52_SQL = f"""
WITH b AS (
  SELECT user_id, {_duck_bucket("user_id::VARCHAR", 7, 1000)} AS bucket FROM events
), s AS (
  SELECT user_id,
         CASE WHEN bucket < 800 THEN 'train' WHEN bucket < 900 THEN 'val' ELSE 'test' END AS split
  FROM b
)
SELECT split, count(DISTINCT user_id)::BIGINT AS n_entities, count(*)::BIGINT AS n_rows
FROM s GROUP BY 1
"""


def q53_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Train/eval contamination check: eval documents (doc_id >= 250)
    near-duplicating any training document (doc_id < 250) via the banded
    MinHash-LSH candidate join restricted across the split boundary
    (operators/sampling.py contamination_report; portable md5 family)."""
    from nfl_feature_store_spark.operators.sampling import contamination_report

    docs = load_table(spark, sf, "documents")
    return contamination_report(
        docs.filter(F.col("doc_id") < 250),
        docs.filter(F.col("doc_id") >= 250),
        id_col="doc_id",
        text_col="text",
        min_est_jaccard=0.5,
    )


Q53_SQL = """
WITH d AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(length(t) - 4, 1) + 1),
                                      i -> substring(t, i, 5))) AS s
  FROM d
), sig AS (
  SELECT doc_id,
         list_transform(range(0, 16),
                        j -> list_min(list_transform(s, x -> md5(x || '#' || j::VARCHAR)))) AS sig
  FROM sh
), bnd AS (
  SELECT doc_id, sig, r.b AS band,
         md5(array_to_string(sig[r.b * 4 + 1 : r.b * 4 + 4], '|')) AS bucket
  FROM sig, range(0, 4) r(b)
), p AS (
  SELECT DISTINCT e.doc_id AS eval_id, t.doc_id AS train_id, e.sig AS se, t.sig AS st
  FROM bnd e JOIN bnd t ON e.band = t.band AND e.bucket = t.bucket
  WHERE e.doc_id >= 250 AND t.doc_id < 250
), j AS (
  SELECT eval_id, train_id,
         coalesce(list_sum(list_transform(range(1, 17),
                                          i -> CASE WHEN se[i] = st[i] THEN 1 ELSE 0 END)), 0) / 16.0
           AS est_jaccard
  FROM p
)
SELECT eval_id, count(*)::BIGINT AS n_train_collisions, max(est_jaccard) AS max_est_jaccard
FROM j WHERE est_jaccard >= 0.5 GROUP BY 1
"""


def q54_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence packing: documents sharded by hash, packed into 2000-token
    contiguous-offset budgets within each shard (operators/sampling.py
    pack_sequences; whitespace token counts, portable)."""
    from nfl_feature_store_spark.operators.sampling import pack_sequences

    docs = load_table(spark, sf, "documents").select(
        "doc_id",
        F.expr(
            "size(filter(split(lower(coalesce(text, '')), '\\\\s+'), t -> t != ''))"
        ).cast("long").alias("n_tokens"),
    )
    out = pack_sequences(docs, id_col="doc_id", token_col="n_tokens", budget=2000, n_shards=8, seed=7)
    return out.select(
        "doc_id", "n_tokens", F.col("shard").cast("long").alias("shard"), "pack_id", "pack_offset"
    )


Q54_SQL = f"""
WITH d AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\\s+'),
                         t -> t != ''))::BIGINT AS n_tokens,
         {_duck_bucket("doc_id::VARCHAR", 7, 8)}::BIGINT AS shard
  FROM documents
), c AS (
  SELECT doc_id, n_tokens, shard,
         coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM d
)
SELECT doc_id, n_tokens, shard,
       floor(start / 2000)::BIGINT AS pack_id,
       (start - floor(start / 2000)::BIGINT * 2000)::BIGINT AS pack_offset
FROM c
"""


def q55_grouped_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact grouped quantiles (p50/p95/p99 of event value per event_type) —
    the latency-rollup shape. `percentile` is Spark's EXACT linear-
    interpolation aggregate (bit-matches DuckDB quantile_cont); it buffers
    each group's values, so at 10^12 rows the scale path is
    `approx_percentile` (t-digest, one pass, partial-aggregatable) with
    this exact form kept for verification runs — same pattern as the
    md5-vs-xxhash64 hash family split."""
    from nfl_feature_store_spark.operators.quantiles import grouped_quantiles

    ev = load_table(spark, sf, "events")
    out = grouped_quantiles(ev, ["event_type"], "value", (0.5, 0.95, 0.99), mode="exact")
    return out.select(
        "event_type", "n", *[_r(p, 6).alias(p) for p in ("p50", "p95", "p99")]
    )


Q55_SQL = """
SELECT event_type, count(value)::BIGINT AS n,
       floor(quantile_cont(value, 0.5)  * 1000000 + 0.5) / 1000000 AS p50,
       floor(quantile_cont(value, 0.95) * 1000000 + 0.5) / 1000000 AS p95,
       floor(quantile_cont(value, 0.99) * 1000000 + 0.5) / 1000000 AS p99
FROM events GROUP BY 1
"""


def q56_dedup_components(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup CLUSTERING: LSH candidate pairs (portable-md5 family, the
    q30 pipeline) thresholded at est_jaccard >= 0.5, closed transitively via
    alternating large-star/small-star connected components, every document
    labeled (component = min reachable doc_id, is_canonical = keep flag).
    The step the pair-emitting dedup tier was missing: if A~B and B~C, one
    of {A,B,C} survives, not two. Oracle: DuckDB recursive-CTE label
    propagation over the identical pair set."""
    from nfl_feature_store_spark.operators.components import near_dup_components

    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") < 1000)
    return near_dup_components(
        docs, id_col="doc_id", text_col="text", min_jaccard=0.5, hash_fn="md5"
    )


# pair pipeline identical to Q30_SQL; then: symmetrize -> recursive label
# propagation (UNION dedups => fixpoint) -> min reachable id per doc
Q56_SQL = """
WITH RECURSIVE d AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents WHERE doc_id < 1000
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(length(t) - 4, 1) + 1),
                                      i -> substring(t, i, 5))) AS s
  FROM d
), sig AS (
  SELECT doc_id,
         list_transform(range(0, 16),
                        j -> list_min(list_transform(s, x -> md5(x || '#' || j::VARCHAR)))) AS sig
  FROM sh
), bnd AS (
  SELECT doc_id, sig, r.b AS band,
         md5(array_to_string(sig[r.b * 4 + 1 : r.b * 4 + 4], '|')) AS bucket
  FROM sig, range(0, 4) r(b)
), p AS (
  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b, a.sig AS sa, c.sig AS sc
  FROM bnd a JOIN bnd c ON a.band = c.band AND a.bucket = c.bucket AND a.doc_id < c.doc_id
), pe AS (
  SELECT id_a, id_b FROM p
  WHERE coalesce(list_sum(list_transform(range(1, 17),
                                         i -> CASE WHEN sa[i] = sc[i] THEN 1 ELSE 0 END)), 0) / 16.0
        >= 0.5
), e AS (
  SELECT id_a AS s, id_b AS t2 FROM pe UNION SELECT id_b, id_a FROM pe
), r AS (
  SELECT doc_id AS id, doc_id AS lbl FROM d
  UNION
  SELECT e.t2, r.lbl FROM r JOIN e ON e.s = r.id
)
SELECT id AS doc_id, min(lbl) AS component, min(lbl) = id AS is_canonical
FROM r GROUP BY id
"""


def q57_tfidf_topterms(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (tf * ln(N/df), q31's tokenizer).
    Corpus statistics shape: explode -> two partial-aggregatable counts ->
    broadcast the tiny (term, df) side back -> per-doc window. Rank runs on
    the ROUNDED score with a term-asc tie-break so ordering is engine-
    deterministic (no raw-double comparisons in ORDER BY)."""
    from nfl_feature_store_spark.plans.layout import spread

    docs = load_table(spark, sf, "documents")
    d = spread(
        docs.select("doc_id", F.lower(F.coalesce("text", F.lit(""))).alias("t")), "doc_id"
    )
    toks = d.select(
        "doc_id",
        F.explode(F.filter(F.split("t", r"\s+"), lambda x: x != "")).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n"))
    s = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            _r(F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 6).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        s.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
    )


Q57_SQL = """
WITH d AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
), tok AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(t, '\\s+'), x -> x != '')) AS term
  FROM d
), tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2
), dfreq AS (
  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1
), n AS (
  SELECT count(*)::BIGINT AS n FROM d
), s AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         floor(tf.tf * ln(n.n::DOUBLE / dfreq.df) * 1000000 + 0.5) / 1000000 AS tfidf
  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
)
SELECT doc_id, term, tf, df, tfidf, rnk FROM (
  SELECT s.*, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf DESC, term ASC)::BIGINT AS rnk
  FROM s
) WHERE rnk <= 3
"""


def q58_token_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus token-length distribution in power-of-2 buckets — the
    pretraining-corpus length profile (doc length governs packing yield and
    truncation loss). Bucket = floor(log2(n_tokens)) computed EXACTLY via
    binary-string length (length(bin(n)) - 1) on both engines — no float
    log2 whose ULP disagreements at powers of two would flip floor()."""
    docs = load_table(spark, sf, "documents")
    toks = F.filter(F.split(F.lower(F.coalesce("text", F.lit(""))), r"\s+"), lambda x: x != "")
    d = docs.select(F.size(toks).alias("n_tok"))
    bucket = (F.length(F.bin(F.greatest(F.col("n_tok"), F.lit(1)))) - 1).cast("long")
    return (
        d.groupBy(bucket.alias("log2_bucket"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("n_tok").cast("long").alias("min_tok"),
            F.max("n_tok").cast("long").alias("max_tok"),
            _r(F.avg("n_tok"), 6).alias("avg_tok"),
        )
    )


Q58_SQL = """
WITH d AS (
  SELECT len(list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\\s+'),
                         x -> x != ''))::BIGINT AS n_tok
  FROM documents
)
SELECT (length(bin(greatest(n_tok, 1))) - 1)::BIGINT AS log2_bucket,
       count(*)::BIGINT AS n_docs,
       min(n_tok)::BIGINT AS min_tok,
       max(n_tok)::BIGINT AS max_tok,
       floor(avg(n_tok) * 1000000 + 0.5) / 1000000 AS avg_tok
FROM d GROUP BY 1
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q01_pricing_summary": q01_pricing_summary,
    "q02_filter_project": q02_filter_project,
    "q03_revenue_by_nation": q03_revenue_by_nation,
    "q04_full_outer_lanes": q04_full_outer_lanes,
    "q05_semi_join": q05_semi_join,
    "q06_anti_join": q06_anti_join,
    "q07_distinct": q07_distinct,
    "q08_mode": q08_mode,
    "q09_lag": q09_lag,
    "q10_form3": q10_form3,
    "q11_expanding": q11_expanding,
    "q12_roll10": q12_roll10,
    "q13_rank_max": q13_rank_max,
    "q14_gap_secs": q14_gap_secs,
    "q15_sessionize": q15_sessionize,
    "q16_asof_join": q16_asof_join,
    "q17_latest_snapshot": q17_latest_snapshot,
    "q18_union": q18_union,
    "q19_ratio_guards": q19_ratio_guards,
    "q20_double_role_join": q20_double_role_join,
    "q21_exact_dedup": q21_exact_dedup,
    "q22_text_quality": q22_text_quality,
    "q23_lang_id": q23_lang_id,
    "q24_ngram_jaccard": q24_ngram_jaccard,
    "q25_cosine_topk": q25_cosine_topk,
    "q26_null_preserving_sum": q26_null_preserving_sum,
    "q27_session_avg_two_anchor": q27_session_avg_two_anchor,
    "q28_ewma": q28_ewma,
    "q29_elo": q29_elo,
    "q30_minhash_dedup": q30_minhash_dedup,
    "q31_simhash": q31_simhash,
    "q32_calendar_rolling": q32_calendar_rolling,
    "q33_session_aggregates": q33_session_aggregates,
    "q34_career_agg": q34_career_agg,
    "q35_elo_pairwise": q35_elo_pairwise,
    "q36_salted_expanding": q36_salted_expanding,
    "q37_salted_rolling": q37_salted_rolling,
    "q38_salted_ewm": q38_salted_ewm,
    "q39_lsh_topk": q39_lsh_topk,
    "q40_simhash_pairs": q40_simhash_pairs,
    "q41_composite_rank": q41_composite_rank,
    "q42_multiway_outer": q42_multiway_outer,
    "q43_bpe_tokens": q43_bpe_tokens,
    "q44_winnow_fingerprints": q44_winnow_fingerprints,
    "q45_cosine_near_dup": q45_cosine_near_dup,
    "q46_salted_asof": q46_salted_asof,
    "q47_ivf_topk": q47_ivf_topk,
    "q48_time_rollup": q48_time_rollup,
    "q49_asof_tolerance": q49_asof_tolerance,
    "q50_interval_overlap": q50_interval_overlap,
    "q51_deterministic_sample": q51_deterministic_sample,
    "q52_entity_split": q52_entity_split,
    "q53_contamination": q53_contamination,
    "q54_pack_sequences": q54_pack_sequences,
    "q55_grouped_quantiles": q55_grouped_quantiles,
    "q56_dedup_components": q56_dedup_components,
    "q57_tfidf_topterms": q57_tfidf_topterms,
    "q58_token_histogram": q58_token_histogram,
}

ORACLES: dict[str, str] = {
    "q01_pricing_summary": Q01_SQL,
    "q02_filter_project": Q02_SQL,
    "q03_revenue_by_nation": Q03_SQL,
    "q04_full_outer_lanes": Q04_SQL,
    "q05_semi_join": Q05_SQL,
    "q06_anti_join": Q06_SQL,
    "q07_distinct": Q07_SQL,
    "q08_mode": Q08_SQL,
    "q09_lag": Q09_SQL,
    "q10_form3": Q10_SQL,
    "q11_expanding": Q11_SQL,
    "q12_roll10": Q12_SQL,
    "q13_rank_max": Q13_SQL,
    "q14_gap_secs": Q14_SQL,
    "q15_sessionize": Q15_SQL,
    "q16_asof_join": Q16_SQL,
    "q17_latest_snapshot": Q17_SQL,
    "q18_union": Q18_SQL,
    "q19_ratio_guards": Q19_SQL,
    "q20_double_role_join": Q20_SQL,
    "q21_exact_dedup": Q21_SQL,
    "q22_text_quality": Q22_SQL,
    "q23_lang_id": Q23_SQL,
    "q24_ngram_jaccard": Q24_SQL,
    "q25_cosine_topk": Q25_SQL,
    "q26_null_preserving_sum": Q26_SQL,
    "q27_session_avg_two_anchor": Q27_SQL,
    "q32_calendar_rolling": Q32_SQL,
    "q33_session_aggregates": Q33_SQL,
    "q34_career_agg": Q34_SQL,
    "q36_salted_expanding": Q36_SQL,
    "q37_salted_rolling": Q37_SQL,
    "q28_ewma": Q28_SQL,
    "q29_elo": Q29_SQL,
    "q35_elo_pairwise": Q35_SQL,
    "q38_salted_ewm": Q38_SQL,
    "q41_composite_rank": Q41_SQL,
    "q42_multiway_outer": Q42_SQL,
    "q43_bpe_tokens": Q43_SQL,
    "q45_cosine_near_dup": Q45_SQL,
    "q46_salted_asof": Q16_SQL,  # identical scenario+oracle; salted execution
    "q48_time_rollup": Q48_SQL,
    "q49_asof_tolerance": Q49_SQL,
    "q50_interval_overlap": Q50_SQL,
    "q30_minhash_dedup": Q30_SQL,
    "q31_simhash": Q31_SQL,
    "q40_simhash_pairs": Q40_SQL,
    "q44_winnow_fingerprints": Q44_SQL,
    # q39/q47 (round-5): fully oracled via frozen ANN constants — the
    # data-independent hyperplane family and the pretrained IVF quantizer
    # are embedded as DOUBLE[] literals on both engines
    # (functions/ann_constants.py); recall floors stay pytest-refereed
    "q39_lsh_topk": _q39_sql(),
    "q47_ivf_topk": _q47_sql(),
    # q51-q54 (round-5 dataset-assembly tier): portable md5 bucket hash
    "q51_deterministic_sample": Q51_SQL,
    "q52_entity_split": Q52_SQL,
    "q53_contamination": Q53_SQL,
    "q54_pack_sequences": Q54_SQL,
    "q55_grouped_quantiles": Q55_SQL,
    "q56_dedup_components": Q56_SQL,
    "q57_tfidf_topterms": Q57_SQL,
    "q58_token_histogram": Q58_SQL,
}
