"""DWS layer — windowed aggregates (SURVEY.md §2.4, §2.8-2.9).

Reference parity (paths under /root/reference):
- A1 visitor stats window agg:  RT/app/dws2/VisitorStatsApp.java:190-240
- A2 product stats w/ exact distinct sets: RT/app/dws2/ProductStatsApp.java:280-335
- A3 province stats SQL tumble + count(distinct): RT/app/dws2/ProvinceStatsSqlApp.java:65-80
- A4 keyword window count:      RT/app/dws2/KeywordStatspp.java:64-70
- U1 ik_analyze UDTF:           RT/app/func/KeywordUDTF.java:12-22
- U2 column-to-row unpivot:     RT/app/func/KeywordProductC2RUDTF.java:11-35
- ST5 tumbling windows:         RT/app/dws2/VisitorStatsApp.java:213

The reference's 10 s tumbling windows become F.window(ts, ...) — width
here is 10 minutes because the testdata event stream is sparser than an
app log; the plan shape (event-time tumble + groupBy dims + exact
countDistinct) is identical. Java Set-based distinct accumulation (A2)
maps to a two-level aggregate over one shuffle: rows hash-partitioned by
sku, grouped per (sku, order), then per sku, so each distinct order
counts once (no driver-side set, and no Expand copy of the rows that
two countDistincts over different expressions would plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dec, tokenize
from ..io import load_table, load_table_spread

WINDOW = "10 minutes"


def visitor_stats_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/ST5: union-of-streams visitor stats. The reference unions 4
    streams keyed by (ar,ch,vc,is_new) into 10 s tumbles; here the dim
    key is event_type and pv/uv/value_sum are the measures. One shuffle:
    groupBy(window, event_type) with partial aggregation map-side."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
        .agg(
            F.count("*").alias("pv_ct"),
            F.countDistinct("user_id").alias("uv_ct"),
            F.sum(dec("value")).alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("stt"),
            F.col("w.end").alias("edt"),
            "event_type", "pv_ct", "uv_ct", "value_sum",
        )
    )


def province_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: province-level order rollup — `count(distinct order_id)`,
    `sum(split_total_amount)` grouped by province dims
    (RT/app/dws2/ProvinceStatsSqlApp.java:65-80). Nation plays province.
    Dims broadcast; the only shuffle is the final groupBy, and
    countDistinct(o_orderkey) keeps exact Set semantics (A2)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "left")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey, "left")
        .groupBy(
            F.col("n_nationkey").alias("province_id"),
            F.col("n_name").alias("province_name"),
        )
        .agg(
            F.countDistinct("o_orderkey").alias("order_count"),
            F.sum(dec("o_totalprice")).alias("order_amount"),
        )
    )


def product_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2+J4: product stats with exact distinct order counts. The
    reference reduces 7 streams into per-sku windows, accumulating
    order-id Sets for exact distinct (RT/app/bean2/ProductStats.java:77-87)
    then enriches 4 dims. Here: lineitem rolled up per (part, order)
    after one repartition by part, then per part, so order_ct and
    refund_order_ct are plain counts over distinct orders (two
    countDistincts over different expressions would plan an Expand
    that triples the rows before the shuffle). The result is then
    joined to part dims — aggregate FIRST, enrich AFTER, so the dim
    join runs on the small aggregated side exactly like the reference
    (RT/app/dws2/ProductStatsApp.java:337-411). The part dim scales
    with the corpus, so its broadcast is Catalyst/AQE's call (VERDICT
    r8 #5): sub-threshold it broadcasts as before; at 100 TB both
    sides are part-catalog-sized and a shuffled join on sku_id is the
    right shape."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    per_order = (
        li.repartition("l_partkey")
        .groupBy("l_partkey", "l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("qty"),
            F.sum(dec("l_extendedprice")).alias("amount"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", dec("l_extendedprice"))
                .otherwise(F.lit(0).cast("decimal(18,4)"))
            ).alias("refund"),
            F.max(F.col("l_returnflag") == "R").alias("has_r"),
        )
    )
    agg = per_order.groupBy(F.col("l_partkey").alias("sku_id")).agg(
        F.sum("qty").alias("order_sku_num"),
        F.sum("amount").cast("decimal(28,4)").alias("order_amount"),
        F.count("l_orderkey").alias("order_ct"),
        F.sum("refund").cast("decimal(28,4)").alias("refund_amount"),
        F.count(F.when(F.col("has_r"), F.col("l_orderkey"))).alias("refund_order_ct"),
    )
    return (
        agg.join(part, agg.sku_id == part.p_partkey, "left")
        .select(
            "sku_id",
            F.col("p_name").alias("sku_name"),
            F.col("p_brand").alias("tm_name"),
            dec("p_retailprice").alias("sku_price"),
            "order_sku_num", "order_amount", "order_ct",
            "refund_amount", "refund_order_ct",
        )
    )


def keyword_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1+A4: tokenize → explode → count per keyword, the lateral-UDTF
    keyword pipeline (RT/app/dws2/KeywordStatspp.java:52-70) on the
    documents table. tokenize is regexp_extract_all (codegen'd), not a
    Python UDF; `source` is the doc source, mirroring the constant
    source='SEARCH' column."""
    docs = load_table_spread(spark, sf_dir, "documents")
    return (
        docs.select("source", F.explode(tokenize("text")).alias("keyword"))
        .filter(F.length("keyword") >= 2)
        .groupBy("keyword", "source")
        .agg(F.count("*").alias("ct"))
    )


def keyword_stats_cjk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1, on its native data domain: the reference's keyword pipeline
    segments CHINESE search terms with IK (RT/utils/KeywordUtil.java:
    15-34 via RT/app/func/KeywordUDTF.java); this is the same pipeline
    shape as keyword_stats but through the dictionary-based CJK
    segmenter (functions/cjk.py, Arrow pandas_udf — one Python
    round-trip per batch). Driver testdata documents are latin, so the
    input is the bundled reference-domain phrase fixture; the oracle
    replays the identical greedy longest-match as a recursive CTE.

    Scale: segmentation is embarrassingly parallel map work; the only
    shuffle is the final keyword groupBy, same as keyword_stats."""
    from ..functions.cjk import CJK_FIXTURE_PHRASES

    phrases = spark.createDataFrame(
        list(enumerate(CJK_FIXTURE_PHRASES)), "phrase_id long, phrase string"
    )
    return (
        phrases.select("phrase_id", F.explode(tokenize("phrase", cjk=True)).alias("keyword"))
        .groupBy("keyword")
        .agg(F.count("*").alias("ct"), F.min("phrase_id").alias("first_phrase"))
    )


LANG_CJK_CONTROLS = (
    "the cat and the dog is here",
    "der hund und die katze ist da",
    "le chat et les oiseaux est la",
)


def lang_id_cjk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The zh branch of the language-ID heuristic, exercised on data
    that actually contains CJK (operators.text.lang_id runs the same
    CASE over the latin documents table, so its CJK-presence arm never
    fires there): the bundled phrase fixture plus a few latin controls,
    classified by the identical rule — CJK char present → zh, else
    stopword vote."""
    from ..functions.cjk import CJK_FIXTURE_PHRASES

    phrases = spark.createDataFrame(
        [(i, p) for i, p in enumerate(tuple(CJK_FIXTURE_PHRASES) + LANG_CJK_CONTROLS)],
        "phrase_id long, phrase string",
    )
    toks = tokenize("phrase")

    def vote(words):
        return F.size(F.filter(toks, lambda t: t.isin(*words)))

    has_cjk = F.regexp_count(F.col("phrase"), F.lit("[\\x{4e00}-\\x{9fff}]")) > 0
    en, de, fr = (vote(w) for w in (("the", "and", "of", "is"), ("der", "und", "die", "ist"), ("le", "et", "les", "est")))
    pred = (
        F.when(has_cjk, "zh")
        .when((de > en) & (de >= fr), "de")
        .when(fr > en, "fr")
        .otherwise("en")
    )
    return phrases.select("phrase_id", pred.alias("predicted_lang"))


def keyword_c2r_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: column-to-row unpivot. The reference's KeywordProductC2RUDTF
    turns (click_ct, cart_ct, order_ct) into rows tagged CLICK/CART/ORDER,
    emitting only positive counts (RT/app/func/KeywordProductC2RUDTF.java:20-34).
    Pure built-in: conditional counts per day, then stack() + filter>0."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("dt")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("click_ct"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("cart_ct"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("order_ct"),
    )
    return (
        daily.select(
            "dt",
            F.expr("stack(3, 'CLICK', click_ct, 'CART', cart_ct, 'ORDER', order_ct) AS (source, ct)"),
        )
        .filter(F.col("ct") > 0)
    )


def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-to-column pivot (the inverse of the U2 unpivot): daily event
    counts pivoted into one column per event type. Explicit pivot values
    keep the plan single-pass (no distinct-values pre-query)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.to_date("ts").alias("dt"))
        .pivot("event_type", ["view", "click", "purchase", "signup", "error"])
        .count()
        .na.fill(0)
    )


def visitor_stats_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP1's complete DAG (SURVEY §3): the reference unions FOUR
    differently-shaped streams — page views (pv + dwell), unique
    visitors (uv), session entries (sv), jumps (uj) — into one
    VisitorStats schema, then windows and sums
    (RT/app/dws2/VisitorStatsApp.java:91-240). Here each source is a
    projection of one cached events scan (uv/sv/uj derive from window
    functions over user,ts), zero-filled to the common schema,
    unionByName'd, and aggregated per 10-minute tumble. Two shuffles
    total: the user_id window partition and the final window groupBy."""
    from pyspark.sql import Window

    from .dwm import JUMP_TIMEOUT_S

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value", F.to_date("ts").alias("dt")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wday = Window.partitionBy("user_id", "dt").orderBy("ts", "event_id")
    marked = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn("next_ts", F.lead("ts").over(w))
        .withColumn("rn_day", F.row_number().over(wday))
    )

    def z(pv, uv, sv, uj, dur):
        return [
            F.lit(pv).alias("pv_ct") if isinstance(pv, int) else pv.alias("pv_ct"),
            F.lit(uv).alias("uv_ct") if isinstance(uv, int) else uv.alias("uv_ct"),
            F.lit(sv).alias("sv_ct") if isinstance(sv, int) else sv.alias("sv_ct"),
            F.lit(uj).alias("uj_ct") if isinstance(uj, int) else uj.alias("uj_ct"),
            F.lit(dur).alias("dur_sum") if isinstance(dur, int) else dur.alias("dur_sum"),
        ]

    pv = marked.select("ts", *z(1, 0, 0, 0, dec("value")))
    uv = marked.filter(F.col("rn_day") == 1).select("ts", *z(0, 1, 0, 0, F.lit(0).cast(
        "decimal(18,4)")))
    sv = marked.filter(
        F.col("prev_ts").isNull()
        | (F.unix_micros("ts") - F.unix_micros("prev_ts") > JUMP_TIMEOUT_S * 1_000_000)
    ).select("ts", *z(0, 0, 1, 0, F.lit(0).cast("decimal(18,4)")))
    uj = marked.filter(
        F.col("next_ts").isNull()
        | (F.unix_micros("next_ts") - F.unix_micros("ts") > JUMP_TIMEOUT_S * 1_000_000)
    ).select("ts", *z(0, 0, 0, 1, F.lit(0).cast("decimal(18,4)")))

    union = pv.unionByName(uv).unionByName(sv).unionByName(uj)
    return (
        union.groupBy(F.window("ts", WINDOW).alias("w"))
        .agg(
            F.sum("pv_ct").alias("pv_ct"),
            F.sum("uv_ct").alias("uv_ct"),
            F.sum("sv_ct").alias("sv_ct"),
            F.sum("uj_ct").alias("uj_ct"),
            F.sum("dur_sum").alias("dur_sum"),
        )
        .select(
            F.col("w.start").alias("stt"),
            F.col("w.end").alias("edt"),
            "pv_ct", "uv_ct", "sv_ct", "uj_ct", "dur_sum",
        )
    )


def keyword_product_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1×U2 composition — the keyword-4-product pipeline
    (RT/app/dws2/KeywordStats4ProductApp.java:51-62): per-product
    measures are unpivoted into (source, ct) rows (the C2R UDTF), the
    product NAME is tokenized and exploded (the ik_analyze UDTF), and
    the double lateral yields per-(keyword, source) totals. Aggregate
    runs BEFORE the explode so the generators operate on the small
    per-part aggregate, not raw lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    per_part = li.groupBy("l_partkey").agg(
        F.countDistinct("l_orderkey").alias("order_ct"),
        F.countDistinct(F.when(F.col("l_returnflag") == "R", F.col("l_orderkey"))).alias("refund_ct"),
        F.sum(F.col("l_quantity").cast("long")).alias("qty_ct"),
    )
    named = per_part.join(F.broadcast(part), per_part.l_partkey == part.p_partkey, "inner")
    stacked = named.select(
        "p_name",
        F.expr("stack(3, 'ORDER', order_ct, 'REFUND', refund_ct, 'QTY', qty_ct) AS (source, ct)"),
    ).filter(F.col("ct") > 0)
    exploded = stacked.select(F.explode(tokenize("p_name")).alias("keyword"), "source", "ct")
    return exploded.groupBy("keyword", "source").agg(F.sum("ct").alias("ct"))


def province_stats_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP3's SQL entry path: the reference's province stats is literally
    Flink SQL (RT/app/dws2/ProvinceStatsSqlApp.java:65-80); here the
    same statement runs through spark.sql over registered views —
    Catalyst produces the identical plan to the DataFrame form
    (province_stats), demonstrating the dual API surface."""
    from ..io import register_views

    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT n.n_nationkey AS province_id,
               n.n_name AS province_name,
               COUNT(DISTINCT o.o_orderkey) AS order_count,
               SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS order_amount
        FROM orders o
        LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_nationkey, n.n_name
    """)


def visitor_stats_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (10-minute width, 5-minute slide) —
    the window type the reference never uses (SURVEY ST5: tumbling
    only), provided as engine capability. Each event lands in exactly
    two overlapping windows; the oracle reproduces that as the union of
    two phase-shifted tumbling families."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("pv_ct"),
            F.sum(dec("value")).alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("stt"),
            F.col("w.end").alias("edt"),
            "event_type", "pv_ct", "value_sum",
        )
    )


def visitor_stats_rollup_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical rollup: the fine-grained 10-minute
    gold windows re-aggregate into hourly buckets — the continuous-
    aggregate coarsening a serving layer runs on a windowed store.
    Additive measures (pv, value_sum) roll up exactly; distinct counts
    intentionally do NOT (uv is re-derived, matching the reference
    re-querying ClickHouse per granularity)."""
    fine = visitor_stats_window(spark, sf_dir)
    return (
        fine.groupBy(
            F.date_trunc("hour", F.col("stt")).alias("hr"),
            "event_type",
        )
        .agg(
            F.sum("pv_ct").alias("pv_ct"),
            F.sum("value_sum").alias("value_sum"),
            F.count("*").alias("window_ct"),
        )
    )


QUERIES = {
    "visitor_stats_window": visitor_stats_window,
    "visitor_stats_sliding": visitor_stats_sliding,
    "visitor_stats_rollup_hour": visitor_stats_rollup_hour,
    "province_stats_sql": province_stats_sql,
    "province_stats": province_stats,
    "product_stats": product_stats,
    "keyword_stats": keyword_stats,
    "keyword_stats_cjk": keyword_stats_cjk,
    "lang_id_cjk": lang_id_cjk,
    "keyword_c2r_stack": keyword_c2r_stack,
    "event_type_pivot": event_type_pivot,
    "visitor_stats_full": visitor_stats_full,
    "keyword_product_stats": keyword_product_stats,
}

ORACLES = {
    "visitor_stats_window": """
        SELECT time_bucket(INTERVAL '10 minutes', ts) AS stt,
               time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' AS edt,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS pv_ct,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS uv_ct,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS value_sum
        FROM events GROUP BY 1, 2, 3
    """,
    "visitor_stats_sliding": """
        WITH phased AS (
            SELECT time_bucket(INTERVAL '10 minutes', ts) AS stt, event_type, value FROM events
            UNION ALL
            SELECT time_bucket(INTERVAL '10 minutes', ts, INTERVAL '5 minutes') AS stt,
                   event_type, value
            FROM events
        )
        SELECT stt, stt + INTERVAL '10 minutes' AS edt, event_type,
               CAST(COUNT(*) AS BIGINT) AS pv_ct,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS value_sum
        FROM phased GROUP BY 1, 2, 3
    """,
    "visitor_stats_rollup_hour": """
        WITH fine AS (
            SELECT time_bucket(INTERVAL '10 minutes', ts) AS stt,
                   event_type,
                   CAST(COUNT(*) AS BIGINT) AS pv_ct,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS value_sum
            FROM events GROUP BY 1, 2
        )
        SELECT date_trunc('hour', stt) AS hr, event_type,
               CAST(SUM(pv_ct) AS BIGINT) AS pv_ct,
               CAST(SUM(value_sum) AS DECIMAL(18,4)) AS value_sum,
               CAST(COUNT(*) AS BIGINT) AS window_ct
        FROM fine GROUP BY 1, 2
    """,
    "province_stats_sql": """
        SELECT n.n_nationkey AS province_id,
               n.n_name AS province_name,
               CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS order_count,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS order_amount
        FROM orders o
        LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    """,
    "province_stats": """
        SELECT n.n_nationkey AS province_id,
               n.n_name AS province_name,
               CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS order_count,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS order_amount
        FROM orders o
        LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    """,
    "product_stats": """
        WITH agg AS (
            SELECT l_partkey AS sku_id,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS order_sku_num,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS order_amount,
                   CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS order_ct,
                   CAST(COALESCE(SUM(CASE WHEN l_returnflag = 'R'
                        THEN CAST(l_extendedprice AS DECIMAL(18,4))
                        ELSE CAST(0 AS DECIMAL(18,4)) END), 0) AS DECIMAL(18,4)) AS refund_amount,
                   CAST(COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_orderkey END) AS BIGINT) AS refund_order_ct
            FROM lineitem GROUP BY 1
        )
        SELECT a.sku_id, p.p_name AS sku_name, p.p_brand AS tm_name,
               CAST(p.p_retailprice AS DECIMAL(18,4)) AS sku_price,
               a.order_sku_num, a.order_amount, a.order_ct,
               a.refund_amount, a.refund_order_ct
        FROM agg a LEFT JOIN part p ON a.sku_id = p.p_partkey
    """,
    "keyword_stats": """
        SELECT keyword, source, CAST(COUNT(*) AS BIGINT) AS ct
        FROM (
            SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS keyword
            FROM documents
        )
        WHERE length(keyword) >= 2
        GROUP BY keyword, source
    """,
    "keyword_stats_cjk": None,  # built below (needs the recursive segmentation CTE)
    "visitor_stats_full": """
        WITH marked AS (
            SELECT user_id, event_id, ts, value, CAST(ts AS DATE) AS dt,
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
                   LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts,
                   ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                      ORDER BY ts, event_id) AS rn_day
            FROM events
        ), unioned AS (
            SELECT ts, 1 AS pv_ct, 0 AS uv_ct, 0 AS sv_ct, 0 AS uj_ct,
                   CAST(value AS DECIMAL(18,4)) AS dur_sum
            FROM marked
            UNION ALL
            SELECT ts, 0, 1, 0, 0, CAST(0 AS DECIMAL(18,4)) FROM marked WHERE rn_day = 1
            UNION ALL
            SELECT ts, 0, 0, 1, 0, CAST(0 AS DECIMAL(18,4)) FROM marked
            WHERE prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 600 * 1000000
            UNION ALL
            SELECT ts, 0, 0, 0, 1, CAST(0 AS DECIMAL(18,4)) FROM marked
            WHERE next_ts IS NULL OR epoch_us(next_ts) - epoch_us(ts) > 600 * 1000000
        )
        SELECT time_bucket(INTERVAL '10 minutes', ts) AS stt,
               time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' AS edt,
               CAST(SUM(pv_ct) AS BIGINT) AS pv_ct,
               CAST(SUM(uv_ct) AS BIGINT) AS uv_ct,
               CAST(SUM(sv_ct) AS BIGINT) AS sv_ct,
               CAST(SUM(uj_ct) AS BIGINT) AS uj_ct,
               CAST(SUM(dur_sum) AS DECIMAL(18,4)) AS dur_sum
        FROM unioned GROUP BY 1, 2
    """,
    "keyword_product_stats": """
        WITH per_part AS (
            SELECT l_partkey,
                   CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS order_ct,
                   CAST(COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_orderkey END) AS BIGINT) AS refund_ct,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_ct
            FROM lineitem GROUP BY 1
        ), named AS (
            SELECT p.p_name, a.order_ct, a.refund_ct, a.qty_ct
            FROM per_part a JOIN part p ON a.l_partkey = p.p_partkey
        ), stacked AS (
            SELECT p_name, 'ORDER' AS source, order_ct AS ct FROM named
            UNION ALL SELECT p_name, 'REFUND', refund_ct FROM named
            UNION ALL SELECT p_name, 'QTY', qty_ct FROM named
        ), exploded AS (
            SELECT unnest(list_filter(string_split_regex(lower(p_name), '[^a-z0-9]+'), t -> t <> '')) AS keyword,
                   source, ct
            FROM stacked WHERE ct > 0
        )
        SELECT keyword, source, CAST(SUM(ct) AS BIGINT) AS ct
        FROM exploded GROUP BY 1, 2
    """,
    "event_type_pivot": """
        SELECT CAST(ts AS DATE) AS dt,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
               CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
        FROM events GROUP BY 1
    """,
    "keyword_c2r_stack": """
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS dt,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click_ct,
                   CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS cart_ct,
                   CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS order_ct
            FROM events GROUP BY 1
        ), stacked AS (
            SELECT dt, 'CLICK' AS source, click_ct AS ct FROM daily
            UNION ALL SELECT dt, 'CART', cart_ct FROM daily
            UNION ALL SELECT dt, 'ORDER', order_ct FROM daily
        )
        SELECT dt, source, ct FROM stacked WHERE ct > 0
    """,
}

# The CJK oracle replays the greedy longest-match segmentation as a
# recursive CTE over the same inline phrase fixture and lexicon the
# Spark query uses (functions/cjk.py).
def _cjk_oracle() -> str:
    from ..functions.cjk import CJK_FIXTURE_PHRASES, duck_segment_cte

    values = ", ".join(f"({i}, lower('{p}'))" for i, p in enumerate(CJK_FIXTURE_PHRASES))
    return duck_segment_cte(f"inp(id, s) AS (VALUES {values})") + """
    SELECT tok AS keyword,
           CAST(COUNT(*) AS BIGINT) AS ct,
           CAST(MIN(id) AS BIGINT) AS first_phrase
    FROM toks GROUP BY tok
    """


ORACLES["keyword_stats_cjk"] = _cjk_oracle()


def _lang_id_cjk_oracle() -> str:
    from ..functions.cjk import CJK_FIXTURE_PHRASES

    values = ", ".join(
        f"({i}, '{p}')"
        for i, p in enumerate(tuple(CJK_FIXTURE_PHRASES) + LANG_CJK_CONTROLS)
    )
    return (
        "WITH inp(phrase_id, phrase) AS (VALUES " + values + "),\n"
        "t AS (SELECT phrase_id, phrase, regexp_extract_all(lower(phrase), '[a-z0-9]+') AS toks FROM inp),\n"
        "v AS (SELECT phrase_id,\n"
        "        regexp_matches(phrase, '[\\x{4e00}-\\x{9fff}]') AS has_cjk,\n"
        "        len(list_filter(toks, x -> list_contains(['the','and','of','is'], x))) AS en,\n"
        "        len(list_filter(toks, x -> list_contains(['der','und','die','ist'], x))) AS de,\n"
        "        len(list_filter(toks, x -> list_contains(['le','et','les','est'], x))) AS fr\n"
        "      FROM t)\n"
        "SELECT CAST(phrase_id AS BIGINT) AS phrase_id,\n"
        "       CASE WHEN has_cjk THEN 'zh'\n"
        "            WHEN de > en AND de >= fr THEN 'de'\n"
        "            WHEN fr > en THEN 'fr'\n"
        "            ELSE 'en' END AS predicted_lang\n"
        "FROM v"
    )


ORACLES["lang_id_cjk"] = _lang_id_cjk_oracle()
