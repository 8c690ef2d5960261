package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{GraftQuery, Tables}

/** The reference's relational operator surface (SURVEY.md §2) re-expressed
  * as declarative Spark queries over the harness tables.
  *
  * Design notes for 100 TB scale:
  *  - every query is a single lazy plan: filters/projections sit directly
  *    on the parquet scan so Catalyst pushes them into the reader;
  *  - aggregates are plain hash-aggregates (partial + final, map-side
  *    combine free), pivots carry explicit label lists so no eager
  *    distinct-value job runs (SURVEY.md §4 "Pivot planning");
  *  - dimension joins mark the small side with `broadcast(...)` so the
  *    plan stays shuffle-free on the fact table where possible;
  *  - no `collect()` anywhere — results stream to the caller's sink.
  */
object CoreQueries {

  private val eventLabels = Seq("click", "error", "purchase", "signup", "view")
  private val dowLabels   = Seq("Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun")

  /** Per-topic positivity rate + counts — reference A1/A2/P8/P9
    * (spark_app/functions/functions.py:100-107): avg of a CASE
    * indicator plus group row count. The rate ships RAW (r7 audit):
    * an indicator avg is an exact-integer ratio — partial sums of
    * 0.0/1.0 doubles are exact at any order, and the terminal
    * division is one IEEE op both engines share; a round(…, 2) was
    * the only remaining op with an engine-specific tie convention. */
  val positivity: GraftQuery = GraftQuery(
    "q01_positivity",
    """SELECT event_type,
      |       avg(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS positivity_rate,
      |       CAST(count(*) AS BIGINT) AS counts
      |FROM events GROUP BY event_type""".stripMargin) { (spark, sf) =>
    Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(
        avg(when(col("value") > 100, 1).otherwise(0)).as("positivity_rate"),
        count(lit(1)).as("counts"))
  }

  /** Pivot long→wide with an explicit label list — reference A3/R1/P14
    * (functions.py:109-111). Explicit values keep the output schema
    * static and skip the eager distinct job. */
  val pivotCounts: GraftQuery = GraftQuery(
    "q02_pivot_counts",
    s"""SELECT user_id % 10 AS bucket,
       |${eventLabels.map(l => s"       CAST(count(CASE WHEN event_type = '$l' THEN 1 END) AS BIGINT) AS $l").mkString(",\n")}
       |FROM events GROUP BY user_id % 10""".stripMargin) { (spark, sf) =>
    Tables.events(spark, sf)
      .withColumn("bucket", col("user_id") % 10)
      .groupBy(col("bucket"))
      .pivot("event_type", eventLabels)
      .count()
      .na.fill(0)
  }

  /** Inner equi-join of two small aggregates, both key columns retained —
    * reference J1 (functions.py:113-115). Both sides are tiny relative
    * to the fact table, so Catalyst broadcast-joins them. */
  val joinAggregates: GraftQuery = GraftQuery(
    "q03_join_agg",
    s"""SELECT * FROM
       |  (SELECT event_type AS topic_agg,
       |          avg(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS positivity_rate,
       |          count(*) AS counts
       |   FROM events GROUP BY event_type) a
       |JOIN
       |  (SELECT event_type AS topic,
       |${dowLabels.map(l => s"          count(CASE WHEN strftime(ts, '%a') = '$l' THEN 1 END) AS $l").mkString(",\n")}
       |   FROM events GROUP BY event_type) b
       |ON a.topic_agg = b.topic""".stripMargin) { (spark, sf) =>
    val ev = Tables.events(spark, sf)
    val bySentiment = ev
      .groupBy(col("event_type").as("topic_agg"))
      .agg(
        avg(when(col("value") > 100, 1).otherwise(0)).as("positivity_rate"),
        count(lit(1)).as("counts"))
    val byDow = ev
      .withColumn("dow", date_format(col("ts"), "EEE"))
      .groupBy(col("event_type").as("topic"))
      .pivot("dow", dowLabels)
      .count()
      .na.fill(0)
    bySentiment.join(byDow, bySentiment("topic_agg") === byDow("topic"), "inner")
  }

  /** TPC-H Q1-shaped pricing summary: the headline wide aggregate.
    * Filter reaches the parquet scan (PushedFilters), aggregate is a
    * two-phase hash aggregate over 6 groups.
    *
    * Float discipline (r7 audit): quantity is integer-valued and the
    * money/discount columns are exact 2dp, so every sum runs over
    * exact longs (prices scaled ×100; the discounted price is the
    * exact ×10000 integer e100·(100−d100)) with ONE terminal division
    * each — order-independent and convention-free, replacing the
    * former order-dependent round(sum(double)) surfaces. */
  val pricingSummary: GraftQuery = GraftQuery(
    "q04_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
      |       CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sum_qty,
      |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
      |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |                * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS sum_disc_price,
      |       CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*) AS avg_qty,
      |       CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / (count(*) * 100.0) AS avg_disc,
      |       CAST(count(*) AS BIGINT) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin) { (spark, sf) =>
    val e100 = round(col("l_extendedprice") * 100, 0).cast("long")
    val d100 = round(col("l_discount") * 100, 0).cast("long")
    Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("long")).cast("double").as("sum_qty"),
        (sum(e100).cast("double") / lit(100.0)).as("sum_base_price"),
        (sum(e100 * (lit(100L) - d100)).cast("double") / lit(10000.0)).as("sum_disc_price"),
        (sum(col("l_quantity").cast("long")).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(d100).cast("double") / (count(lit(1)) * lit(100.0))).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  /** Star join: fact (orders) against broadcast dims (customer is the
    * mid-size side, nation/region tiny). Grouped revenue per region ×
    * nation. At 100 TB the orders⋈customer join shuffles on the key;
    * nation/region stay broadcast. */
  val revenueByNation: GraftQuery = GraftQuery(
    "q05_revenue_by_nation",
    """SELECT r_name, n_name,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
      |       CAST(count(*) AS BIGINT) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name""".stripMargin) { (spark, sf) =>
    val o = Tables.orders(spark, sf)
    val c = Tables.customer(spark, sf)
    val n = Tables.nation(spark, sf)
    val r = Tables.region(spark, sf)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        (sum(round(col("o_totalprice") * 100, 0).cast("long")).cast("double") / lit(100.0))
          .as("revenue"),
        count(lit(1)).as("n_orders"))
  }

  /** Per-group share via windowed sum — reference A7/A10
    * (streamlit/charts/charts.py:28-29): counts normalized within each
    * day. The window runs over the already-aggregated (tiny) relation,
    * not the fact table. */
  val windowShare: GraftQuery = GraftQuery(
    "q06_window_share",
    """SELECT day, event_type, counts,
      |       CAST(counts AS DOUBLE) / sum(counts) OVER (PARTITION BY day) AS share
      |FROM (SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, count(*) AS counts
      |      FROM events GROUP BY 1, 2) t""".stripMargin) { (spark, sf) =>
    Tables.events(spark, sf)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(count(lit(1)).as("counts"))
      .withColumn("share",
        col("counts") / sum(col("counts")).over(Window.partitionBy(col("day"))))
  }

  /** Grand-total percent — reference A6 (charts.py:91): share of the
    * overall total via an empty-frame window over the aggregate. */
  val shareOfTotal: GraftQuery = GraftQuery(
    "q07_share_of_total",
    """SELECT event_type, counts,
      |       CAST(counts AS DOUBLE) * 100.0 / sum(counts) OVER () AS pct
      |FROM (SELECT event_type, count(*) AS counts FROM events GROUP BY 1) t""".stripMargin) { (spark, sf) =>
    val counts = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("counts"))
    graft.functions.Relational.withGlobal(counts, sum(col("counts")).as("__total"))
      .withColumn("pct", col("counts") * lit(100.0) / col("__total"))
      .drop("__total")
  }

  /** Global mean reference line — reference A5/A8 (charts.py:141,149):
    * per-topic mean plus the all-topic mean appended to every row.
    * The per-topic rate is a raw exact-integer ratio (q01 contract);
    * the mean-of-rates across topics sums arbitrary doubles, so it
    * goes through the dyadic snap ([[graft.functions.VectorFunctions
    * .snapLong]]) — order-independent exact longs, one division. */
  val globalMean: GraftQuery = GraftQuery(
    "q08_global_mean",
    s"""SELECT event_type, positivity_rate,
      |       CAST(sum(CAST(floor(positivity_rate * ${graft.functions.VectorFunctions.SnapScaleSql} + 0.5) AS BIGINT)) OVER () AS DOUBLE)
      |         / (count(*) OVER () * ${graft.functions.VectorFunctions.SnapScaleSql}) AS global_rate
      |FROM (SELECT event_type,
      |             avg(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS positivity_rate
      |      FROM events GROUP BY event_type) t""".stripMargin) { (spark, sf) =>
    import graft.functions.VectorFunctions.{snapLong, SnapScale}
    val rates = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(avg(when(col("value") > 100, 1).otherwise(0)).as("positivity_rate"))
    graft.functions.Relational.withGlobal(rates,
      (sum(snapLong(col("positivity_rate"))).cast("double")
        / (count(lit(1)) * lit(SnapScale))).as("global_rate"))
  }

  /** Boxplot statistics — reference A9 (charts.py:173-199): exact
    * interpolated quartiles + min/max per group, computed through
    * [[QuantileKernel]]'s distinct-value histogram rather than the
    * `percentile` aggregate (whose buffer holds every distinct value
    * of a group in ONE task — the r4-flagged scale defect). Memory
    * bound: aggregation state and shuffle are the distinct (type,
    * value) domain (2dp values in a bounded range ⇒ bounded, corpus-
    * independent); the only sort is over that histogram.
    *
    * Float discipline (r7 audit): the kernel runs over the ×100
    * INTEGER image of the 2dp domain, so order statistics and the
    * quartile interpolation (positions p·(n−1) with p ∈ {¼,½,¾} are
    * exact dyadic products; weights ∈ {0,¼,½,¾} exact) are exact
    * integer-arithmetic throughout, divided by 100 ONCE at emission.
    * The oracle spells the identical rank selection + interpolation
    * instead of `quantile_cont`, whose convention is DuckDB-version-
    * sensitive (the q35 lesson). `q24_approx_quantiles` remains the
    * sketch for continuous domains. */
  val quantiles: GraftQuery = GraftQuery(
    "q09_quantiles",
    s"""WITH h AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS q100, count(*) AS cnt
      |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      |ch AS (
      |  SELECT event_type, q100,
      |         sum(cnt) OVER (PARTITION BY event_type ORDER BY q100) AS cum,
      |         sum(cnt) OVER (PARTITION BY event_type) AS n
      |  FROM h),
      |b AS (
      |  SELECT event_type, max(n) AS n,
      |         ${QuantileKernel.contSelectSql("0.25", "q100")._1} AS lo1,
      |         ${QuantileKernel.contSelectSql("0.25", "q100")._2} AS hi1,
      |         ${QuantileKernel.contSelectSql("0.5", "q100")._1} AS lo2,
      |         ${QuantileKernel.contSelectSql("0.5", "q100")._2} AS hi2,
      |         ${QuantileKernel.contSelectSql("0.75", "q100")._1} AS lo3,
      |         ${QuantileKernel.contSelectSql("0.75", "q100")._2} AS hi3,
      |         min(q100) AS qmin, max(q100) AS qmax
      |  FROM ch GROUP BY 1),
      |s AS (
      |  SELECT event_type, lo1, hi1, lo2, hi2, lo3, hi3, qmin, qmax,
      |         0.25 * (n - 1) AS p1, 0.5 * (n - 1) AS p2, 0.75 * (n - 1) AS p3
      |  FROM b)
      |SELECT d.event_type,
      |       (CASE WHEN floor(p1) = ceil(p1) THEN CAST(lo1 AS DOUBLE)
      |             ELSE lo1 * (ceil(p1) - p1) + hi1 * (p1 - floor(p1)) END) / 100.0 AS q1,
      |       (CASE WHEN floor(p2) = ceil(p2) THEN CAST(lo2 AS DOUBLE)
      |             ELSE lo2 * (ceil(p2) - p2) + hi2 * (p2 - floor(p2)) END) / 100.0 AS median,
      |       (CASE WHEN floor(p3) = ceil(p3) THEN CAST(lo3 AS DOUBLE)
      |             ELSE lo3 * (ceil(p3) - p3) + hi3 * (p3 - floor(p3)) END) / 100.0 AS q3,
      |       CAST(qmin AS DOUBLE) / 100.0 AS lo,
      |       CAST(qmax AS DOUBLE) / 100.0 AS hi
      |FROM (SELECT DISTINCT event_type FROM events) d LEFT JOIN s USING (event_type)""".stripMargin) {
    (spark, sf) =>
    val ev = Tables.events(spark, sf)
    val scaled = ev.select(col("event_type"),
      round(col("value") * 100, 0).cast("long").as("q100"))
    val hist = QuantileKernel.cumulativeHistogram(scaled, "event_type", "q100")
    val q = QuantileKernel.contQuantiles(hist, "event_type", "q100",
      Seq("__q1" -> 0.25, "__median" -> 0.50, "__q3" -> 0.75))
    // left-join from the distinct keys: a group whose values are ALL
    // null has no histogram rows but must still emit its row (with
    // NULL stats) exactly as GROUP BY does in both engines
    ev.select(col("event_type")).distinct()
      .join(q, Seq("event_type"), "left")
      .select(col("event_type"),
        (col("__q1") / lit(100.0)).as("q1"),
        (col("__median") / lit(100.0)).as("median"),
        (col("__q3") / lit(100.0)).as("q3"),
        (col("__min").cast("double") / lit(100.0)).as("lo"),
        (col("__max").cast("double") / lit(100.0)).as("hi"))
  }

  /** Unpivot wide→long — reference R2 (charts.py:24-27, pandas melt).
    * Uses Dataset.unpivot (Spark ≥3.4) over the pivoted relation. */
  val unpivotCounts: GraftQuery = GraftQuery(
    "q10_unpivot",
    s"""WITH wide AS (
       |  SELECT user_id % 10 AS bucket,
       |${eventLabels.map(l => s"         count(CASE WHEN event_type = '$l' THEN 1 END) AS $l").mkString(",\n")}
       |  FROM events GROUP BY user_id % 10)
       |${eventLabels.map(l => s"SELECT bucket, '$l' AS event_type, $l AS counts FROM wide").mkString("\nUNION ALL\n")}""".stripMargin) { (spark, sf) =>
    val wide = Tables.events(spark, sf)
      .withColumn("bucket", col("user_id") % 10)
      .groupBy(col("bucket"))
      .pivot("event_type", eventLabels)
      .count()
      .na.fill(0)
    wide.unpivot(Array(col("bucket")), eventLabels.map(col).toArray, "event_type", "counts")
  }

  /** Latest-N — reference L1 (streamlit/main.py:100-102): last 25 rows
    * in insertion order; event_id is the arrival sequence. Plans as
    * TakeOrderedAndProject (no global sort materialization). */
  val latestInputs: GraftQuery = GraftQuery(
    "q11_latest",
    """SELECT event_id,
      |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
      |       event_type, value
      |FROM events ORDER BY event_id DESC LIMIT 25""".stripMargin) { (spark, sf) =>
    Tables.events(spark, sf)
      .orderBy(col("event_id").desc)
      .limit(25)
      .select(
        col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"),
        col("event_type"), col("value"))
  }

  /** Deterministic dedup-keep-first — reference F3 (utilities.py:27)
    * with the nondeterminism fixed: keep the lowest event_id (arrival
    * order) per (user_id, event_type). row_number over a hash-
    * partitioned window — shuffles once on the dedup key. */
  val dedupFirst: GraftQuery = GraftQuery(
    "q12_dedup_first",
    """SELECT event_id, user_id, event_type, value FROM (
      |  SELECT event_id, user_id, event_type, value,
      |         row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS rn
      |  FROM events) t
      |WHERE rn = 1""".stripMargin) { (spark, sf) =>
    val w = Window.partitionBy(col("user_id"), col("event_type")).orderBy(col("event_id"))
    Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** JSON parse with explicit schema — reference P2/P3 (functions.py:
    * 37-40), parsed ONCE into a struct then field-extracted (the
    * reference parses twice; Catalyst would CSE it, we don't rely on
    * that). */
  val jsonExtract: GraftQuery = GraftQuery(
    "q13_json_extract",
    """SELECT event_id,
      |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |FROM events""".stripMargin) { (spark, sf) =>
    Tables.events(spark, sf)
      // k LONG: the parse domain must match the oracle's BIGINT cast —
      // an INT schema would null out values beyond 32 bits that DuckDB
      // still parses (latent divergence current data happens to avoid)
      .withColumn("parsed", from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k LONG")))
      .select(col("event_id"), col("parsed.k").as("k"))
  }

  /** Event-time bucket derivation — reference P5/P13 (functions.py:
    * 42-43, utilities.py:17-24): partition-key strings + hour component
    * + hour truncation. */
  val timeBuckets: GraftQuery = GraftQuery(
    "q14_time_buckets",
    """SELECT event_id,
      |       strftime(ts, '%Y-%m-%d') AS day,
      |       CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr,
      |       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS date_hour
      |FROM events""".stripMargin) { (spark, sf) =>
    Tables.events(spark, sf).select(
      col("event_id"),
      date_format(col("ts"), "yyyy-MM-dd").as("day"),
      hour(col("ts")).cast("long").as("hr"),
      date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("date_hour"))
  }

  /** Message-key synthesis — reference P12 (tweepy functions.py:46):
    * upper 2-char prefix of the topic + the id. */
  val stringKey: GraftQuery = GraftQuery(
    "q15_string_key",
    """SELECT event_id,
      |       upper(substring(event_type, 1, 2)) || CAST(event_id AS VARCHAR) AS msg_key
      |FROM events""".stripMargin) { (spark, sf) =>
    Tables.events(spark, sf).select(
      col("event_id"),
      concat(upper(substring(col("event_type"), 1, 2)),
        col("event_id").cast("string")).as("msg_key"))
  }

  /** Inequality + range filter — reference F2 (utilities.py:28). Both
    * predicates push down into the parquet scan. */
  val filterTopic: GraftQuery = GraftQuery(
    "q16_filter",
    """SELECT event_id, event_type, value
      |FROM events WHERE event_type <> 'view' AND value >= 50""".stripMargin) { (spark, sf) =>
    Tables.events(spark, sf)
      .filter(col("event_type") =!= "view" && col("value") >= 50)
      .select(col("event_id"), col("event_type"), col("value"))
  }

  /** TPC-H Q3-shaped top-k revenue: fact⋈fact shuffle join + grouped
    * sum + TakeOrderedAndProject. Ties broken by key for determinism. */
  val topOrders: GraftQuery = GraftQuery(
    "q17_top_orders",
    """SELECT l_orderkey, orderdate, revenue FROM (
      |  SELECT l_orderkey,
      |         strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
      |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |                  * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE)
      |           / 10000.0 AS revenue
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderstatus = 'O'
      |  GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d')) t
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin) { (spark, sf) =>
    val li = Tables.lineitem(spark, sf)
    val o  = Tables.orders(spark, sf).filter(col("o_orderstatus") === "O")
    // exact x10000 integer sum (the q04 disc-price device): the former
    // round(sum(raw double), 2) was order-dependent pre-round AND the
    // ORDER BY key of the LIMIT, so a knife-edge could change the rows
    val e100 = round(col("l_extendedprice") * 100, 0).cast("long")
    val d100 = round(col("l_discount") * 100, 0).cast("long")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("l_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
      .agg((sum(e100 * (lit(100L) - d100)).cast("double") / lit(10000.0)).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Left-semi join (EXISTS): customers having at least one big order. */
  val semiJoin: GraftQuery = GraftQuery(
    "q18_semi_join",
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 450000)""".stripMargin) { (spark, sf) =>
    val c = Tables.customer(spark, sf)
    val big = Tables.orders(spark, sf)
      .filter(col("o_totalprice") > 450000)
      .select(col("o_custkey"))
    c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
  }

  /** Left-anti join (NOT EXISTS): customers with no large order. */
  val antiJoin: GraftQuery = GraftQuery(
    "q19_anti_join",
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 100000)""".stripMargin) { (spark, sf) =>
    val c = Tables.customer(spark, sf)
    val o = Tables.orders(spark, sf)
      .filter(col("o_totalprice") > 100000)
      .select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
  }

  /** Rollup (beyond-reference extension): subtotal lattice over
    * (event_type, day) in one pass — Spark expands grouping sets
    * map-side, single shuffle.
    *
    * Float discipline: the 2dp value domain is summed as exact scaled
    * longs and divided ONCE — the r7 raw-emit audit (a round(sum(raw
    * double), 2) is order-dependent BEFORE the round; grand-total rows
    * here sum the whole table, the widest such exposure in the
    * registry). */
  val rollupCounts: GraftQuery = GraftQuery(
    "q20_rollup",
    """SELECT event_type, day, CAST(count(*) AS BIGINT) AS counts,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
      |FROM (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, value FROM events) t
      |GROUP BY ROLLUP (event_type, day)""".stripMargin) { (spark, sf) =>
    Tables.events(spark, sf)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"), col("value"))
      .rollup(col("event_type"), col("day"))
      .agg(count(lit(1)).as("counts"),
        (sum(round(col("value") * 100, 0).cast("long")).cast("double") / lit(100.0))
          .as("total_value"))
  }

  /** Cube: the full subtotal lattice over (event_type, day) — all four
    * grouping sets in one pass, with `grouping()` flags distinguishing
    * a real NULL key from a subtotal row (the standard disambiguation;
    * without it rollup/cube outputs are unjoinable downstream). Same
    * single-shuffle expansion as q20's rollup. */
  val cubeCounts: GraftQuery = GraftQuery(
    "q25_cube",
    """SELECT event_type, day,
      |       CAST(grouping(event_type) AS BIGINT) AS g_type,
      |       CAST(grouping(day) AS BIGINT) AS g_day,
      |       CAST(count(*) AS BIGINT) AS counts,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
      |FROM (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, value FROM events) t
      |GROUP BY CUBE (event_type, day)""".stripMargin) { (spark, sf) =>
    Tables.events(spark, sf)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"), col("value"))
      .cube(col("event_type"), col("day"))
      .agg(
        grouping(col("event_type")).cast("long").as("g_type"),
        grouping(col("day")).cast("long").as("g_day"),
        count(lit(1)).as("counts"),
        (sum(round(col("value") * 100, 0).cast("long")).cast("double") / lit(100.0))
          .as("total_value"))
      .select(col("event_type"), col("day"), col("g_type"), col("g_day"),
        col("counts"), col("total_value"))
  }

  /** Exact distinct-count aggregate (north-star extension; the
    * reference has no distinct aggregates, SURVEY.md §2.5). Expands to
    * a two-phase aggregate on (event_type, user_id). */
  val distinctCounts: GraftQuery = GraftQuery(
    "q21_distinct_counts",
    """SELECT event_type,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |       CAST(count(*) AS BIGINT) AS n_events
      |FROM events GROUP BY event_type""".stripMargin) { (spark, sf) =>
    Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
  }

  /** HLL approximate distinct (north-star): sketch-based, single pass,
    * O(1) state per group — the 100 TB path where exact distinct would
    * shuffle every key. Sketch INTERNALS differ per engine, so the
    * approx value itself can never hash-match; instead (r7, verdict
    * item 6) the row emits the sketch's CONTRACT as data: the engine
    * checks |approx − exact| ≤ 6·rsd·exact against its own exact
    * count and emits the verdict boolean, while the oracle emits the
    * exact count and a literal `true` — the driver's hash then goes
    * green iff the sketch actually met its error bound. (The exact
    * count rides the same single aggregation pass here; at 100 TB the
    * sketch runs alone and this row is the audit.) The margin is 6σ,
    * not 3σ (r8 ADVICE): unlike q24's deterministic GK rank
    * guarantee, the HLL bound is probabilistic — at 3σ a legitimately
    * regenerated corpus flips the gate red with ~0.3% probability per
    * group with no code defect, while a genuinely broken sketch is
    * off by far more than 6σ, so the audit keeps its teeth. */
  val approxDistinct: GraftQuery = GraftQuery(
    "q22_approx_distinct",
    """SELECT event_type,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
      |       CAST(0.02 AS DOUBLE) AS rsd,
      |       true AS within_bound
      |FROM events GROUP BY event_type""".stripMargin) { (spark, sf) =>
    Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), 0.02).as("__approx"),
        countDistinct(col("user_id")).as("n_users_exact"))
      .select(col("event_type"), col("n_users_exact"),
        lit(0.02).as("rsd"),
        (abs(col("__approx") - col("n_users_exact")).cast("double")
          <= lit(6 * 0.02) * col("n_users_exact")).as("within_bound"))
  }

  /** Event-time session windows per user (10-minute inactivity gap) via
    * the native `session_window` — the same operator the streaming tier
    * uses for stateful sessionization, here batch-planned. The oracle
    * recomputes sessions with classic gaps-and-islands SQL (lag + cum
    * sum): a new session starts when the gap is >= the duration,
    * matching Spark's merge-iff-overlap (gap < duration) semantics.
    * Session bounds are emitted as formatted strings (events.ts is
    * TIMESTAMP(NANOS) in parquet; second-level formatting sidesteps the
    * nanos-vs-micros physical type, as q14 does). */
  val sessions: GraftQuery = GraftQuery(
    "q23_sessions",
    """WITH e AS (
      |  -- truncate to microseconds first: the engine reads ts via the
      |  -- nanosAsLong conf and compares micros-truncated gaps, so a
      |  -- nano-precision gap straddling the exact 10-min boundary must
      |  -- classify identically in both engines
      |  SELECT user_id,
      |         make_timestamp(CAST(epoch_ns(ts) // 1000 AS BIGINT)) AS ts
      |  FROM events),
      |d AS (
      |  SELECT user_id, ts,
      |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |                   >= INTERVAL 10 MINUTE
      |              THEN 1 ELSE 0 END AS new_s
      |  FROM e),
      |s AS (
      |  SELECT user_id, ts,
      |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |                          ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM d)
      |SELECT user_id,
      |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
      |       CAST(count(*) AS BIGINT) AS n_events
      |FROM s GROUP BY user_id, sid""".stripMargin) { (spark, sf) =>
    Tables.events(spark, sf)
      .groupBy(col("user_id"), session_window(col("ts"), "10 minutes"))
      .agg(
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
  }

  /** Approximate grouped quantiles via `percentile_approx`
    * (Greenwald-Khanna sketch, accuracy 10000): O(sketch) state per
    * group and mergeable partials, vs exact percentile's
    * collect-all-values-per-group — at 100 TB the exact operator
    * (q09) is the oracle-parity baseline and THIS is the tool.
    *
    * Sketch internals are engine-specific, so (r7, verdict item 6)
    * the row emits the GK CONTRACT as data: with rank error
    * ε = 1/accuracy, each approx quartile must lie between the exact
    * order statistics at ranks ⌊(p−ε)n⌋−1 and ⌈(p+ε)n⌉+1 (one rank
    * of slack each side, clamped to [1, n]; windows from the same
    * exact histogram kernel q09 uses). The engine emits the three
    * verdict booleans + exact min/max; the oracle emits exact min/max
    * and literal `true`s — hash-green iff the sketch held its bound.
    * An all-NULL group vacuously passes (decide-before-compare). */
  val approxQuantiles: GraftQuery = GraftQuery(
    "q24_approx_quantiles",
    """SELECT event_type,
      |       min(value) AS lo, max(value) AS hi,
      |       true AS q1_within, true AS median_within, true AS q3_within
      |FROM events GROUP BY event_type""".stripMargin) { (spark, sf) =>
    val eps = 1.0 / 10000
    val ev = Tables.events(spark, sf)
    val ap = ev.groupBy(col("event_type"))
      .agg(
        expr("percentile_approx(value, array(0.25, 0.5, 0.75), 10000)").as("__ap"),
        min(col("value")).as("lo"), max(col("value")).as("hi"),
        count(col("value")).as("__nv"))
    val hist = QuantileKernel.cumulativeHistogram(ev, "event_type", "value")
    def rankLo(p: Double) =
      min(when(col("cum") >= greatest(
        floor((lit(p) - eps) * col("n")) - 1, lit(1L)), col("value")))
    def rankHi(p: Double) =
      min(when(col("cum") >= least(
        ceil((lit(p) + eps) * col("n")) + 1, col("n")), col("value")))
    val windows = hist.groupBy(col("event_type")).agg(
      rankLo(0.25).as("__b1l"), rankHi(0.25).as("__b1h"),
      rankLo(0.50).as("__b2l"), rankHi(0.50).as("__b2h"),
      rankLo(0.75).as("__b3l"), rankHi(0.75).as("__b3h"))
    def within(i: Int, loC: String, hiC: String) =
      when(col("__nv") === 0, lit(true))
        .otherwise(element_at(col("__ap"), i).between(col(loC), col(hiC)))
    ap.join(broadcast(windows), Seq("event_type"), "left")
      .select(col("event_type"), col("lo"), col("hi"),
        within(1, "__b1l", "__b1h").as("q1_within"),
        within(2, "__b2l", "__b2h").as("median_within"),
        within(3, "__b3l", "__b3h").as("q3_within"))
  }

  /** Arbitrary aggregation-lattice subset via GROUPING SETS — the
    * member of the q20/q25 family rollup and cube cannot express:
    * (type, day), (type, hour), and the grand total, with nothing in
    * between. Spark plans one Expand (each input row replicated once
    * per set) into a single hash aggregation — one shuffle for all
    * three groupings; grouping flags disambiguate real nulls from
    * subtotal rows, as in q20/q25. */
  val groupingSets: GraftQuery = GraftQuery(
    "q31_grouping_sets",
    """SELECT event_type, day, hour,
      |       CAST(grouping(event_type) AS BIGINT) AS g_type,
      |       CAST(grouping(day) AS BIGINT) AS g_day,
      |       CAST(grouping(hour) AS BIGINT) AS g_hour,
      |       CAST(count(*) AS BIGINT) AS counts,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
      |FROM (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
      |        strftime(ts, '%H') AS hour, value FROM events) t
      |GROUP BY GROUPING SETS ((event_type, day), (event_type, hour), ())""".stripMargin) {
    (spark, sf) =>
      Tables.events(spark, sf)
        .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
          date_format(col("ts"), "HH").as("hour"), col("value"))
        .groupingSets(
          Seq(Seq(col("event_type"), col("day")),
            Seq(col("event_type"), col("hour")), Seq()),
          col("event_type"), col("day"), col("hour"))
        .agg(
          grouping(col("event_type")).cast("long").as("g_type"),
          grouping(col("day")).cast("long").as("g_day"),
          grouping(col("hour")).cast("long").as("g_hour"),
          count(lit(1)).as("counts"),
          (sum(round(col("value") * 100, 0).cast("long")).cast("double") / lit(100.0))
            .as("total_value"))
        .select(col("event_type"), col("day"), col("hour"),
          col("g_type"), col("g_day"), col("g_hour"),
          col("counts"), col("total_value"))
  }

  /** Fixed-width value histogram per event type: 20 global bins over
    * [min, max] — the distribution-profiling pass a pipeline runs
    * before choosing quality thresholds. The bin formula is plain IEEE
    * arithmetic (sub, div, floor) on identical doubles, so bin
    * assignment is bit-identical across engines (width_bucket's edge
    * semantics differ between engines — the explicit formula doesn't).
    * Scale: min/max is one map-combined agg broadcast everywhere; the
    * corpus pass is row-local into a (types×20)-key aggregation. */
  val valueHistogram: GraftQuery = GraftQuery(
    "q29_value_histogram",
    """WITH mm AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
      |b AS (SELECT event_type,
      |        CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
      |             ELSE CAST(least(19, floor((value - lo) / ((hi - lo) / 20))) AS BIGINT)
      |        END AS bin,
      |        lo, hi
      |      FROM events CROSS JOIN mm)
      |SELECT event_type, bin, CAST(count(*) AS BIGINT) AS n,
      |       min(lo + bin * ((hi - lo) / 20)) AS bin_lo
      |FROM b GROUP BY event_type, bin""".stripMargin) { (spark, sf) =>
    val ev = Tables.events(spark, sf)
    val mm = ev.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    // Degenerate corpus guard (hi = lo ⇒ width 0): Spark's non-ANSI x/0
    // is NULL; DuckDB 1.0 also returns NULL but newer versions default
    // to IEEE ±Inf — deciding the bin BEFORE the division in both
    // engine texts makes parity oracle-version-independent.
    ev.crossJoin(broadcast(mm))
      .select(col("event_type"),
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(least(lit(19L),
            floor((col("value") - col("lo")) / ((col("hi") - col("lo")) / 20))))
          .as("bin"),
        col("lo"), col("hi"))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n"),
        min(col("lo") + col("bin") * ((col("hi") - col("lo")) / 20)).as("bin_lo"))
  }

  /** Statistical moments per event type: sample stddev/variance of
    * value plus its Pearson correlation with event time — the
    * distribution-profiling aggregates (drift detection, threshold
    * sizing) beyond plain avg/min/max. Sample (n−1) definitions in
    * both engines.
    *
    * Float discipline (r7 audit, completed r8 per ADVICE): sd/
    * variance come from exact ×100 integer first/second moments of
    * the 2dp domain (the v03 device) — order-independent longs, every
    * later factor one shared IEEE op — and ship RAW. `time_corr` no
    * longer calls `corr` at all (whose Welford co-moment accumulation
    * over raw µs was the file's last order-dependent sum, protected
    * only by a round(…,4) knife-edge): both texts now compute the
    * Pearson co-moment from exact integer sums of PER-GROUP-MIN-
    * RELATIVE µs deltas — corr is shift-invariant, so subtracting
    * min(t) per group changes nothing semantically while bounding
    * dt ≤ the group's time span, and every product sum (q², q·dt,
    * dt, dt²) accumulates in DECIMAL(38,0) (Spark) / HUGEINT
    * (DuckDB) — never a bare Long, which q² would silently wrap at
    * ~3.7e9 rows/group: at a 30-day span,
    * n·Σdt² ≈ n²·(2.6e12)² ⇒ 38 digits supports ~3e6 rows/group; the
    * 100 TB path truncates dt to seconds (same shape, 6 fewer digits
    * per factor ⇒ ~6e12 rows/group). The final value is
    * num/(sqrt(dq)·sqrt(dt)) over the exact integers — cast-to-double
    * (correctly rounded), sqrt (correctly rounded), one multiply, one
    * divide — the same IEEE sequence in both engines, decide-before-
    * divide NULL on degenerate groups (nv<2 or zero variance).
    * Two aggregations + one broadcast join of the 5-row min table —
    * still O(1) state per group at any scale. */
  val moments: GraftQuery = GraftQuery(
    "q32_moments",
    """WITH t0 AS (
      |  SELECT event_type, min(epoch_ns(ts) // 1000) AS t0
      |  FROM events GROUP BY 1),
      |b AS (
      |  SELECT e.event_type,
      |         CAST(round(e.value * 100) AS BIGINT) AS q,
      |         CASE WHEN e.value IS NOT NULL
      |              THEN epoch_ns(e.ts) // 1000 - t.t0 END AS dt
      |  FROM events e JOIN t0 t USING (event_type)),
      |s0 AS (
      |  SELECT event_type,
      |         CAST(sum(q) AS BIGINT) AS sq,
      |         CAST(sum(CAST(q AS HUGEINT) * CAST(q AS HUGEINT)) AS HUGEINT) AS sq2,
      |         count(q) AS nv,
      |         CAST(sum(CAST(q AS HUGEINT) * CAST(dt AS HUGEINT)) AS HUGEINT) AS sqt,
      |         CAST(sum(CAST(dt AS HUGEINT)) AS HUGEINT) AS st,
      |         CAST(sum(CAST(dt AS HUGEINT) * CAST(dt AS HUGEINT)) AS HUGEINT) AS st2,
      |         count(*) AS n
      |  FROM b GROUP BY event_type),
      |s1 AS (SELECT event_type, sq, sq2, nv, n,
      |         CAST(sq AS DOUBLE) / (nv * 100.0) AS mu,
      |         CAST(nv AS HUGEINT) * sqt - CAST(sq AS HUGEINT) * st AS cnum,
      |         CAST(nv AS HUGEINT) * sq2
      |           - CAST(sq AS HUGEINT) * CAST(sq AS HUGEINT) AS cdq,
      |         CAST(nv AS HUGEINT) * st2 - st * st AS cdt
      |  FROM s0)
      |SELECT event_type,
      |       CASE WHEN nv > 1 THEN sqrt(greatest(0.0,
      |         (CAST(sq2 AS DOUBLE) / 10000.0 - nv * (mu * mu)) / (nv - 1))) END AS sd,
      |       CASE WHEN nv > 1 THEN
      |         (CAST(sq2 AS DOUBLE) / 10000.0 - nv * (mu * mu)) / (nv - 1) END AS variance,
      |       CASE WHEN nv > 1 AND cdq > 0 AND cdt > 0
      |            THEN CAST(cnum AS DOUBLE)
      |              / (sqrt(CAST(cdq AS DOUBLE)) * sqrt(CAST(cdt AS DOUBLE))) END
      |         AS time_corr,
      |       n
      |FROM s1""".stripMargin) { (spark, sf) =>
    val dec = "decimal(38,0)"
    val q100 = round(col("value") * 100, 0).cast("long")
    val ev = Tables.events(spark, sf)
    val t0 = ev.groupBy(col("event_type"))
      .agg(min(unix_micros(col("ts"))).as("__t0"))
    ev.join(broadcast(t0), Seq("event_type"))
      .select(col("event_type"), q100.as("__q"),
        when(col("value").isNotNull, unix_micros(col("ts")) - col("__t0"))
          .as("__dt"))
      .groupBy(col("event_type"))
      .agg(
        sum(col("__q")).as("__sq"),
        // decimal, like __sqt/__st2: a raw Long sum of q² (≤2.5e9 per
        // row) would silently wrap at ~3.7e9 rows/group in non-ANSI
        // Spark while the oracle's HUGEINT stays exact
        sum(col("__q").cast(dec) * col("__q").cast(dec)).as("__sq2"),
        count(col("__q")).as("__nv"),
        sum(col("__q").cast(dec) * col("__dt").cast(dec)).as("__sqt"),
        sum(col("__dt").cast(dec)).as("__st"),
        sum(col("__dt").cast(dec) * col("__dt").cast(dec)).as("__st2"),
        count(lit(1)).as("n"))
      .withColumn("mu", col("__sq").cast("double") / (col("__nv") * lit(100.0)))
      .withColumn("__cnum", col("__nv").cast(dec) * col("__sqt")
        - col("__sq").cast(dec) * col("__st"))
      .withColumn("__cdq", col("__nv").cast(dec) * col("__sq2").cast(dec)
        - col("__sq").cast(dec) * col("__sq").cast(dec))
      .withColumn("__cdt", col("__nv").cast(dec) * col("__st2")
        - col("__st") * col("__st"))
      .withColumn("variance", when(col("__nv") > 1,
        (col("__sq2").cast("double") / lit(10000.0)
          - col("__nv") * (col("mu") * col("mu"))) / (col("__nv") - 1)))
      .withColumn("sd", when(col("__nv") > 1,
        sqrt(greatest(lit(0.0), col("variance")))))
      .withColumn("time_corr",
        when(col("__nv") > 1 && col("__cdq") > 0 && col("__cdt") > 0,
          col("__cnum").cast("double")
            / (sqrt(col("__cdq").cast("double")) * sqrt(col("__cdt").cast("double")))))
      .select(col("event_type"), col("sd"), col("variance"), col("time_corr"), col("n"))
  }

  /** q41 — shuffle-key skew audit: per event type, how concentrated
    * the (user_id) key distribution is — row count, distinct keys,
    * and the share of rows owned by the hottest key / hottest 10 keys.
    * This is the report an operator reads BEFORE a 100 TB groupBy or
    * join on the key, to decide whether it needs salting
    * ([[graft.functions.Relational.saltedJoin]]) or can rely on AQE's
    * skew split; every share is one IEEE division over exact longs.
    *
    * Scale shape: the key-count aggregation is map-side combined (a
    * hot key arrives pre-reduced); the rank window then runs over the
    * POST-AGGREGATE (type, key, count) table — distinct keys, not
    * rows. At extreme key cardinality that window sort is the audit's
    * real cost; the documented cheap path is TakeOrdered per type for
    * the top-N lines (exact n_keys/top-shares in one pass is what the
    * full window buys here). */
  val keySkew: GraftQuery = GraftQuery(
    "q41_key_skew",
    """WITH kc AS (SELECT event_type, user_id, count(*) AS c
      |           FROM events GROUP BY 1, 2),
      |r AS (SELECT event_type, user_id, c,
      |        row_number() OVER (PARTITION BY event_type
      |                           ORDER BY c DESC, user_id) AS rk
      |      FROM kc)
      |SELECT event_type,
      |       CAST(sum(c) AS BIGINT) AS n_rows,
      |       CAST(count(*) AS BIGINT) AS n_keys,
      |       CAST(max(CASE WHEN rk = 1 THEN c END) AS BIGINT) AS max_key_rows,
      |       CAST(sum(CASE WHEN rk <= 10 THEN c ELSE 0 END) AS BIGINT) AS top10_rows,
      |       CAST(max(CASE WHEN rk = 1 THEN c END) AS DOUBLE) / sum(c) AS max_share,
      |       CAST(sum(CASE WHEN rk <= 10 THEN c ELSE 0 END) AS DOUBLE) / sum(c) AS top10_share
      |FROM r GROUP BY event_type""".stripMargin) { (spark, sf) =>
    keySkewReport(Tables.events(spark, sf))
  }

  /** q41 over (event_type, user_id) rows. */
  def keySkewReport(events: DataFrame): DataFrame = {
    val kc = events
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("c").desc, col("user_id"))
    kc.withColumn("rk", row_number().over(w))
      .groupBy(col("event_type"))
      .agg(
        sum(col("c")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        max(when(col("rk") === 1, col("c"))).as("max_key_rows"),
        sum(when(col("rk") <= 10, col("c")).otherwise(0L)).as("top10_rows"))
      .select(col("event_type"), col("n_rows"), col("n_keys"),
        col("max_key_rows"), col("top10_rows"),
        (col("max_key_rows").cast("double") / col("n_rows")).as("max_share"),
        (col("top10_rows").cast("double") / col("n_rows")).as("top10_share"))
  }

  /** q42 — hour-of-week seasonality profile: per event type, the
    * (day-of-week × hour) volume grid with each cell's share of the
    * type's total and a peak flag — the load-shape report that sizes
    * batch windows and autoscaling schedules. Shares are exact-integer
    * ratios (raw IEEE divisions); the peak flag is integer equality
    * against the windowed max. The dow label rides the q03-proven
    * strftime('%a')/date_format("EEE") pairing.
    *
    * Scale shape: one map-combined aggregation to the bounded
    * |types|×7×24 grid; both windows run on that post-aggregate
    * table, never the corpus. */
  val seasonality: GraftQuery = GraftQuery(
    "q42_seasonality",
    """WITH h AS (SELECT event_type, strftime(ts, '%a') AS dow,
      |             CAST(strftime(ts, '%H') AS INT) AS hour, count(*) AS n
      |           FROM events GROUP BY 1, 2, 3)
      |SELECT event_type, dow, hour, CAST(n AS BIGINT) AS n,
      |       CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY event_type) AS share,
      |       n = max(n) OVER (PARTITION BY event_type) AS is_peak
      |FROM h""".stripMargin) { (spark, sf) =>
    val w = Window.partitionBy(col("event_type"))
    Tables.events(spark, sf)
      .groupBy(col("event_type"), date_format(col("ts"), "EEE").as("dow"),
        hour(col("ts")).cast("int").as("hour"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share", col("n") / sum(col("n")).over(w))
      .withColumn("is_peak", col("n") === max(col("n")).over(w))
  }

  /** q55 — multi-format source parity: the engine's CSV/JSON batch
    * source ([[graft.sources.MultiFormat]] — explicit schema, never
    * inference; microsecond timestamp pattern) proven ROW-EXACT
    * against the parquet lake by a full write→read round trip of the
    * events table through each text format: longs, doubles, micros
    * timestamps and the JSON-in-string `props` column must all
    * survive, both directions of the multiset difference empty. The
    * oracle replays the row count per format and expects the parity
    * boolean TRUE — a lossy option (second-precision timestamps,
    * unquoted CSV) flips it red. The per-format loop is bounded by
    * |Formats| = 2; the exports land in the row's warehouse scratch
    * directory, overwritten per run (idempotent under bench reps). */
  val sourceFormats: GraftQuery = GraftQuery(
    "q55_source_formats",
    """SELECT 'csv' AS format, CAST(count(*) AS BIGINT) AS n_rows,
      |       TRUE AS roundtrip_exact
      |FROM events
      |UNION ALL
      |SELECT 'json', CAST(count(*) AS BIGINT), TRUE FROM events""".stripMargin) {
    (spark, sf) =>
      import graft.sources.MultiFormat
      val base = Tables.events(spark, sf)
      val dir = graft.sources.SignatureLake.scratchPath(spark, sf, "fmt")
      val rows = MultiFormat.Formats.map { fmt =>
        MultiFormat.write(base, s"$dir/$fmt", fmt)
        val back = MultiFormat.read(spark, s"$dir/$fmt", fmt, base.schema)
        // one-pass multiset parity + read-back count (r16: replaces
        // two exceptAll plans + a count — 3 actions/format → 1); see
        // MultiFormat.roundTripStats
        val (nBack, exact) = MultiFormat.roundTripStats(base, back)
        (fmt, nBack, exact)
      }
      import spark.implicits._
      rows.toDF("format", "n_rows", "roundtrip_exact")
  }

  /** q62 — schema-evolution read across lake generations: a parquet
    * lake whose writer gained a column mid-stream (gen1 writes
    * (event_id, user_id, value); gen2 adds event_type) read back as
    * ONE relation via mergeSchema, pre-evolution rows surfacing NULL
    * in the added column — the reader-tolerance contract every
    * long-lived lake needs, proven end-to-end through a real
    * two-generation write + merged read + aggregate, not a schema
    * assertion. The oracle rebuilds the merged relation from the
    * events table (even ids lose their event_type), so a merged read
    * that drops the added column, nulls the wrong generation, or
    * loses rows splits the hash. All aggregates are order-independent
    * (counts, exact integer id sum, min/max) — no float-summation
    * parity surface.
    *
    * Scale shape: mergeSchema's cost is footer reads across
    * generations (at 100 TB the schema lives in a catalog and the
    * merged read pays nothing extra); the query itself is one
    * map-combined aggregation to ≤|types|+1 rows. The generations
    * land in the row's warehouse scratch directory, overwritten per
    * run. */
  val schemaEvolution: GraftQuery = GraftQuery(
    "q62_schema_evolution",
    """WITH m AS (
      |  SELECT event_id, user_id, value,
      |         CASE WHEN event_id % 2 = 0 THEN NULL ELSE event_type END AS event_type
      |  FROM events)
      |SELECT coalesce(event_type, '__pre_evolution__') AS event_type,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(event_id) AS BIGINT) AS id_sum,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |       min(value) AS min_value, max(value) AS max_value
      |FROM m GROUP BY 1""".stripMargin) { (spark, sf) =>
    val ev = Tables.events(spark, sf)
    val dir = graft.sources.SignatureLake.scratchPath(spark, sf, "evo")
    ev.filter(col("event_id") % 2 === 0)
      .select("event_id", "user_id", "value")
      .write.mode("overwrite").parquet(s"$dir/gen1")
    ev.filter(col("event_id") % 2 =!= 0)
      .select("event_id", "user_id", "value", "event_type")
      .write.mode("overwrite").parquet(s"$dir/gen2")
    spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/gen1", s"$dir/gen2")
      .groupBy(coalesce(col("event_type"), lit("__pre_evolution__"))
        .as("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("event_id")).as("id_sum"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
  }

  /** q58 — salted skew join, result-invariance gate: the orders fact
    * joined to the customer dim THROUGH
    * [[graft.functions.Relational.saltedJoin]] (salt factor 8 — the
    * fact side gets a rand-derived salt, the dim replicates 8×, and
    * the join key becomes (custkey, salt) so a hot key's rows spread
    * over 8 shuffle partitions), then aggregated per market segment.
    * The oracle is the PLAIN join: salting is load-bearing for
    * partition balance and INVISIBLE in the result, and this row pins
    * that invariant on the real tables the same way RelationalSpec
    * pins it on planted skew — which salt a row draws can never reach
    * the output, only the balance (each fact row matches exactly the
    * one replica carrying its salt). q41's skew report is the decision
    * input; this row is the mitigation it recommends, gate-checked.
    *
    * Revenue rides the q04/q05 exact-cents device (2dp money summed as
    * longs, one terminal division). Scale shape: one shuffle on
    * (key, salt) at |dim|·8 extra build rows — the trade a 1000-
    * executor job takes when the dim exceeds broadcast reach and AQE
    * cannot re-plan the downstream consumer. */
  val saltedJoinSegments: GraftQuery = GraftQuery(
    "q58_salted_join",
    """SELECT c_mktsegment,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
      |       CAST(sum(cents) AS DOUBLE) / 100.0 AS revenue
      |FROM (SELECT o_custkey, c_mktsegment,
      |        CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |      FROM orders JOIN customer ON o_custkey = c_custkey) t
      |GROUP BY c_mktsegment""".stripMargin) { (spark, sf) =>
    val dim = Tables.customer(spark, sf)
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    graft.functions.Relational.saltedJoin(
        Tables.orders(spark, sf), dim, Seq("o_custkey"), saltFactor = 8)
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        (sum(round(col("o_totalprice") * 100, 0).cast("long")).cast("double")
          / lit(100.0)).as("revenue"))
  }

  /** Sign lanes of the q59 AMS sketch (declared above its only
    * consumer — same-object init-order discipline). 64 lanes put the
    * tug-of-war estimator's relative error near sqrt(2/64) ≈ 18%;
    * the row replays the estimate bit-exactly either way. */
  val F2Lanes = 64

  /** Lane sign for the q59 sketch: bit `lane` of ONE md5 per key
    * (hex digit lane/4, bit lane%4 — 64 lanes use half the 128-bit
    * digest), emitted as engine-native SQL for Spark and DuckDB. One
    * hash per key instead of one per (key, lane): the first cut paid
    * 64 md5s per row and was the bench's most expensive row (6.6 s);
    * this one is integer bit-plumbing after a single hash. */
  private def f2SignSql(engine: String, hcol: String): String = {
    val hexv = engine match {
      case "spark" =>
        s"(instr('0123456789abcdef', substring($hcol, 1 + (lane div 4), 1)) - 1)"
      case _ =>
        s"(position(substring($hcol, 1 + (lane // 4), 1) IN '0123456789abcdef') - 1)"
    }
    val pw = "(CASE (lane % 4) WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END)"
    val dv = if (engine == "spark") "div" else "//"
    s"(1 - 2 * (($hexv $dv $pw) % 2))"
  }

  /** The q59 sketch's PRODUCTION shape: lane sums in ONE
    * map-side-combined pass over raw events, no per-key table —
    * Σ_u sign_l(u)·c_u telescopes to Σ_events sign_l(user), so a
    * stream or a 100 TB scan folds straight into |types|·[[F2Lanes]]
    * integer cells. Integer-EQUAL to the key-table formulation the
    * audit row uses (QueryInvariantsSpec asserts the equality — it is
    * algebra, not approximation). */
  def f2LaneSums(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        md5(concat(lit("f2:"), col("user_id").cast("string"))).as("__h"))
      .withColumn("lane", explode(sequence(lit(0), lit(F2Lanes - 1))))
      .groupBy(col("event_type"), col("lane"))
      .agg(sum(expr(f2SignSql("spark", "__h")).cast("long")).as("s"))

  /** q59 — second frequency moment (self-join size) by AMS tug-of-war
    * sketch (Alon–Matias–Szegedy, STOC'96): per event type, the exact
    * F2 = Σ_u c_u² — the quantity that prices every equi-join and
    * groupBy on the key, and what q41's max-share only glimpses —
    * next to the sketch estimate mean(S_l²) over [[F2Lanes]] lanes.
    * The audit row derives both sides from ONE per-key count table
    * (the truth side needs it anyway — one scan, one shuffle); the
    * production sketch path is [[f2LaneSums]], which never builds
    * that table and is spec-asserted integer-equal.
    *
    * Signs are md5-derived bits ([[f2SignSql]]), so unlike every
    * contract sketch row the DuckDB oracle replays the ESTIMATE
    * itself bit-for-bit — integer sums and squares end to end
    * (|S_l| ≤ rows/type, squares ≪ 2^63), one IEEE division for the
    * mean, the d24/d25 replayable-sketch pattern. */
  val f2Sketch: GraftQuery = GraftQuery(
    "q59_f2_sketch",
    s"""WITH kc AS (SELECT event_type, user_id, count(*) AS c,
       |             md5('f2:' || CAST(user_id AS VARCHAR)) AS h
       |           FROM events GROUP BY 1, 2),
       |ex AS (SELECT event_type,
       |         CAST(sum(c) AS BIGINT) AS n_rows,
       |         CAST(count(*) AS BIGINT) AS n_keys,
       |         CAST(sum(c * c) AS BIGINT) AS f2_exact
       |       FROM kc GROUP BY event_type),
       |ln AS (SELECT range AS lane FROM range(0, $F2Lanes)),
       |sg AS (SELECT kc.event_type, l.lane,
       |         CAST(sum(${f2SignSql("duckdb", "kc.h")} * kc.c) AS BIGINT) AS s
       |       FROM kc CROSS JOIN ln l
       |       GROUP BY kc.event_type, l.lane),
       |es AS (SELECT event_type, CAST(sum(s * s) AS BIGINT) AS ss
       |       FROM sg GROUP BY event_type)
       |SELECT ex.event_type, ex.n_rows, ex.n_keys, ex.f2_exact,
       |       CAST(es.ss AS DOUBLE) / $F2Lanes.0 AS f2_est,
       |       CAST(es.ss AS DOUBLE) / $F2Lanes.0 / ex.f2_exact - 1.0 AS rel_err
       |FROM ex JOIN es ON es.event_type = ex.event_type""".stripMargin) {
    (spark, sf) => f2Report(Tables.events(spark, sf))
  }

  /** q59 over any (event_type, user_id) stream of rows. */
  def f2Report(events: DataFrame): DataFrame = {
    val kc = events.groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("c"))
      .withColumn("__h",
        md5(concat(lit("f2:"), col("user_id").cast("string"))))
    val sketch = kc
      .withColumn("lane", explode(sequence(lit(0), lit(F2Lanes - 1))))
      .groupBy(col("event_type"), col("lane"))
      .agg(sum(expr(f2SignSql("spark", "__h")).cast("long") * col("c")).as("s"))
      .groupBy(col("event_type"))
      .agg(sum(col("s") * col("s")).as("ss"))
    val exact = kc.groupBy(col("event_type"))
      .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_keys"),
        sum(col("c") * col("c")).as("f2_exact"))
    exact.join(sketch, Seq("event_type"))
      .select(col("event_type"), col("n_rows"), col("n_keys"), col("f2_exact"),
        (col("ss").cast("double") / lit(F2Lanes.toDouble)).as("f2_est"),
        (col("ss").cast("double") / lit(F2Lanes.toDouble) / col("f2_exact")
          - lit(1.0)).as("rel_err"))
  }

  /** Salt when a key's F2-implied skew ratio exceeds this multiple of
    * uniform: F2·K/N² = 1 for perfectly uniform keys, and equals the
    * factor by which the self-join/shuffle size exceeds the uniform
    * plan. 4× is the point where AQE's skew split starts paying and a
    * pre-salted join ([[graft.functions.Relational.saltedJoin]], q58)
    * beats rebalancing after the fact. */
  val SkewSaltThreshold = 4.0

  /** q60 — the q59 sketch put to WORK: a per-key-column shuffle-skew
    * ADVISORY that flags join/groupBy keys whose second moment
    * predicts a skewed exchange, cross-checked three ways — the
    * replayable sketch estimate (what a 100 TB pipeline consults: one
    * map-combined pass, no key table), the exact F2 (the audit tier),
    * and q41's hottest-key share (the report the salt decision used
    * before this row existed). skew = F2·K/N² is the ratio of the
    * actual self-join volume to the uniform-keys volume (≥ 1, = 1 iff
    * uniform); `needs_salt_*` fires at [[SkewSaltThreshold]] and
    * `advisory_agrees` pins that the sketch reaches the same decision
    * as the exact moment — the property that lets the cheap pass
    * replace the expensive one. q58 is the mitigation this advisory
    * recommends; RelationalSpec's planted-skew test shows the flag
    * fire on a hot key and stay quiet on uniform keys.
    *
    * Every emitted double is exact-integer arithmetic with terminal
    * IEEE divisions in the same textual order in both engines, and
    * the sketch is the d24/d25-style md5 bit-replay — the booleans
    * therefore hash-match even AT a threshold knife-edge. */
  val skewAdvisory: GraftQuery = GraftQuery(
    "q60_skew_advisory",
    s"""WITH kc AS (SELECT event_type, user_id, count(*) AS c,
       |             md5('f2:' || CAST(user_id AS VARCHAR)) AS h
       |           FROM events GROUP BY 1, 2),
       |ex AS (SELECT event_type,
       |         CAST(sum(c) AS BIGINT) AS n_rows,
       |         CAST(count(*) AS BIGINT) AS n_keys,
       |         CAST(sum(c * c) AS BIGINT) AS f2_exact,
       |         CAST(max(c) AS BIGINT) AS max_key_rows
       |       FROM kc GROUP BY event_type),
       |ln AS (SELECT range AS lane FROM range(0, $F2Lanes)),
       |sg AS (SELECT kc.event_type, l.lane,
       |         CAST(sum(${f2SignSql("duckdb", "kc.h")} * kc.c) AS BIGINT) AS s
       |       FROM kc CROSS JOIN ln l
       |       GROUP BY kc.event_type, l.lane),
       |es AS (SELECT event_type, CAST(sum(s * s) AS BIGINT) AS ss
       |       FROM sg GROUP BY event_type)
       |SELECT ex.event_type, ex.n_rows, ex.n_keys,
       |       CAST(ex.max_key_rows AS DOUBLE) / ex.n_rows AS max_share,
       |       CAST(ex.f2_exact AS DOUBLE) * ex.n_keys / (ex.n_rows * ex.n_rows) AS skew_exact,
       |       CAST(es.ss AS DOUBLE) / $F2Lanes.0 * ex.n_keys / (ex.n_rows * ex.n_rows) AS skew_est,
       |       CAST(ex.f2_exact AS DOUBLE) * ex.n_keys / (ex.n_rows * ex.n_rows) >= $SkewSaltThreshold AS needs_salt_exact,
       |       CAST(es.ss AS DOUBLE) / $F2Lanes.0 * ex.n_keys / (ex.n_rows * ex.n_rows) >= $SkewSaltThreshold AS needs_salt_est,
       |       (CAST(ex.f2_exact AS DOUBLE) * ex.n_keys / (ex.n_rows * ex.n_rows) >= $SkewSaltThreshold)
       |         = (CAST(es.ss AS DOUBLE) / $F2Lanes.0 * ex.n_keys / (ex.n_rows * ex.n_rows) >= $SkewSaltThreshold) AS advisory_agrees
       |FROM ex JOIN es ON es.event_type = ex.event_type""".stripMargin) {
    (spark, sf) => skewAdvisoryReport(Tables.events(spark, sf))
  }

  /** q60 over any (event_type, user_id) stream of rows. */
  def skewAdvisoryReport(events: DataFrame,
      threshold: Double = SkewSaltThreshold): DataFrame =
    skewAdvisoryFor(events, col("event_type"), col("user_id"), threshold)
      .withColumnRenamed("group", "event_type")

  /** q60's decision core over an arbitrary (group, key) pair —
    * [[skewAdvisoryReport]] instantiates it at (event_type, user_id);
    * [[advisedJoin]] at (constant, join key). Output column `group`
    * carries the group expression's value. */
  def skewAdvisoryFor(df: DataFrame, group: Column, key: Column,
      threshold: Double = SkewSaltThreshold): DataFrame = {
    val kc = df.groupBy(group.as("group"), key.as("__k"))
      .agg(count(lit(1)).as("c"))
      .withColumn("__h",
        md5(concat(lit("f2:"), col("__k").cast("string"))))
    val exact = kc.groupBy(col("group"))
      .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_keys"),
        sum(col("c") * col("c")).as("f2_exact"),
        max(col("c")).as("max_key_rows"))
    val sketch = kc
      .withColumn("lane", explode(sequence(lit(0), lit(F2Lanes - 1))))
      .groupBy(col("group"), col("lane"))
      .agg(sum(expr(f2SignSql("spark", "__h")).cast("long") * col("c")).as("s"))
      .groupBy(col("group"))
      .agg(sum(col("s") * col("s")).as("ss"))
    val skewExact = col("f2_exact").cast("double") * col("n_keys") /
      (col("n_rows") * col("n_rows"))
    val skewEst = col("ss").cast("double") / lit(F2Lanes.toDouble) *
      col("n_keys") / (col("n_rows") * col("n_rows"))
    exact.join(sketch, Seq("group"))
      .select(col("group"), col("n_rows"), col("n_keys"),
        (col("max_key_rows").cast("double") / col("n_rows")).as("max_share"),
        skewExact.as("skew_exact"), skewEst.as("skew_est"),
        (skewExact >= threshold).as("needs_salt_exact"),
        (skewEst >= threshold).as("needs_salt_est"),
        ((skewExact >= threshold) === (skewEst >= threshold))
          .as("advisory_agrees"))
  }

  /** q58's mitigation wired to q60's decision — the advisory ACTED ON:
    * consult the F2 skew report on the probe side's join key and salt
    * exactly when the SKETCH tier flags it (`needs_salt_est` — the
    * pass a 100 TB pipeline can afford per candidate join;
    * `advisory_agrees` is the q60 gate pinning that the sketch reaches
    * the exact moment's decision). The one-row report is a bounded
    * driver read — a plan decision is driver state by nature, the
    * same tier as AQE's runtime statistics. Returns the joined frame
    * plus the decision for observability; the join RESULT is
    * decision-invariant (q58's gate), only the shuffle balance moves.
    * RelationalSpec's planted corpus pins flag ⇔ salting actually
    * shrinks the max per-key reducer load ≥ [[SkewSaltThreshold]]×. */
  def advisedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
      saltFactor: Int = 8, threshold: Double = SkewSaltThreshold,
      seed: Long = 42L): (DataFrame, Boolean) = {
    val key = concat_ws("\u0001", keys.map(k => col(k).cast("string")): _*)
    // an empty probe side yields an empty advisory relation: no rows is
    // no skew evidence, so the decision defaults to a plain join rather
    // than throwing. (The .head here is a deliberate eager driver
    // action — the advisory is plan-TIME state, consulted once per
    // candidate join, same tier as AQE's runtime statistics.)
    val salt = skewAdvisoryFor(big, lit("join"), key, threshold)
      .select(col("needs_salt_est")).head(1).headOption.exists(_.getBoolean(0))
    val joined =
      if (salt) graft.functions.Relational.saltedJoin(big, small, keys, saltFactor, seed)
      else big.join(small, keys)
    (joined, salt)
  }

  /** q61 — [[advisedJoin]] DRIVER-GATED on both decisions: the
    * fixture's uniform user_id key (skew ≈ 1.07 — the advisory must
    * stay quiet and the join run plain) and a deterministically
    * planted hot key (2/3 of rows mapped onto key 0 — skew ≈ 23, the
    * advisory must fire and the join run salted). The `salted` column
    * is what advisedJoin ACTUALLY DID, while the oracle derives it
    * from the replayable sketch formula (q60's md5 lane arithmetic) —
    * a decision that drifts from the advisory, or a salted join that
    * perturbs the result (row count, key count, id sum), splits the
    * hash. Decision margins are enormous on both sides (1.07 and ~23
    * against the 4.0 threshold), so the 64-lane estimator's ~18%
    * error can never flip a boolean. */
  val advisedJoinQ: GraftQuery = GraftQuery(
    "q61_advised_join",
    s"""WITH u AS (SELECT user_id FROM events),
      |s2 AS (SELECT CASE WHEN user_id % 3 <> 0 THEN 0 ELSE user_id END AS user_id
      |       FROM u),
      |ln AS (SELECT range AS lane FROM range(0, $F2Lanes)),
      |kc1 AS (SELECT user_id, count(*) AS c,
      |          md5('f2:' || CAST(user_id AS VARCHAR)) AS h
      |        FROM u GROUP BY 1),
      |kc2 AS (SELECT user_id, count(*) AS c,
      |          md5('f2:' || CAST(user_id AS VARCHAR)) AS h
      |        FROM s2 GROUP BY 1),
      |es1 AS (SELECT CAST(sum(s * s) AS BIGINT) AS ss FROM (
      |          SELECT l.lane, CAST(sum(${f2SignSql("duckdb", "kc1.h")} * kc1.c)
      |            AS BIGINT) AS s
      |          FROM kc1 CROSS JOIN ln l GROUP BY l.lane) t),
      |es2 AS (SELECT CAST(sum(s * s) AS BIGINT) AS ss FROM (
      |          SELECT l.lane, CAST(sum(${f2SignSql("duckdb", "kc2.h")} * kc2.c)
      |            AS BIGINT) AS s
      |          FROM kc2 CROSS JOIN ln l GROUP BY l.lane) t),
      |t1 AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |         CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys,
      |         CAST(sum(user_id) AS BIGINT) AS id_sum FROM u),
      |t2 AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |         CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys,
      |         CAST(sum(user_id) AS BIGINT) AS id_sum FROM s2)
      |SELECT 'uniform' AS scenario, t1.n_rows, t1.n_keys, t1.id_sum,
      |       CAST(es1.ss AS DOUBLE) / $F2Lanes.0 * t1.n_keys
      |         / (t1.n_rows * t1.n_rows) >= $SkewSaltThreshold AS salted
      |FROM t1, es1
      |UNION ALL
      |SELECT 'skewed', t2.n_rows, t2.n_keys, t2.id_sum,
      |       CAST(es2.ss AS DOUBLE) / $F2Lanes.0 * t2.n_keys
      |         / (t2.n_rows * t2.n_rows) >= $SkewSaltThreshold AS salted
      |FROM t2, es2""".stripMargin) { (spark, sf) =>
    val ev = Tables.events(spark, sf).select(col("user_id"))
    def scenario(name: String, fact: DataFrame): DataFrame = {
      val dim = fact.distinct()
        .withColumn("dim_tag", concat(lit("u"), col("user_id")))
      val (joined, salted) = advisedJoin(fact, dim, Seq("user_id"))
      joined.agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_keys"),
          sum(col("user_id")).as("id_sum"))
        .select(lit(name).as("scenario"), col("n_rows"), col("n_keys"),
          col("id_sum"), lit(salted).as("salted"))
    }
    scenario("uniform", ev).unionByName(
      scenario("skewed", ev.select(
        when(col("user_id") % 3 =!= 0, lit(0L))
          .otherwise(col("user_id")).as("user_id"))))
  }

  /** q63 build-side row threshold: broadcast iff the KMV-estimated
    * key count of the dim side is ≤ this (rows as the replayable
    * proxy for `autoBroadcastJoinThreshold` bytes). Fixture margins:
    * the small scenario's dim is ≤ 64 keys and the large scenario's
    * is ≥ 1000 at every sf — ≥ 3.9× on both sides of 256, far beyond
    * the 2048-lane KMV's ~2% error, so the estimator can never flip
    * the boolean. */
  val BroadcastRowThreshold = 256

  private val Kmv2p60 = 1152921504606846976.0

  /** Join-STRATEGY advisory acted on — q61's sibling for the other
    * plan-time decision a 100 TB join planner makes: q60/q61 decide
    * "salt or not" from a skew sketch; this decides "broadcast or
    * shuffle" from a cardinality sketch. The build side's key count
    * is estimated by the d24 KMV bottom-k device (O(k) driver state,
    * one map-side-combinable aggregation over the dim side — never a
    * corpus count on the probe side), and the decision is ACTED on:
    * under the threshold the dim broadcasts (replication cost
    * n_dim × executors, zero probe-side shuffle); over it both sides
    * hint SHUFFLE_MERGE (a broadcast of a too-big build side is the
    * classic driver-OOM). The eager .head is plan-time state, same
    * tier as AQE statistics — consulted once per candidate join. */
  def advisedStrategyJoin(big: DataFrame, dim: DataFrame, keys: Seq[String],
      rowThreshold: Int = BroadcastRowThreshold,
      k: Int = DedupOps.KmvK): (DataFrame, Boolean) = {
    val key = concat_ws("", keys.map(c => col(c).cast("string")): _*)
    val kth = get(col("sk"), lit(k - 1))
    val est = dim
      .agg(call_function("graft_kmv", md5(key), lit(k)).as("sk"))
      .select(size(col("sk")).as("ns"),
        conv(substring(kth, 1, 15), 16, 10).cast("long").as("h60"))
      .select(when(col("ns") < k, col("ns").cast("double"))
        .otherwise(lit((k - 1).toDouble) * Kmv2p60 / col("h60").cast("double"))
        .as("est"))
      .head(1).headOption.map(_.getDouble(0)).getOrElse(0.0)
    val broadcasted = est <= rowThreshold
    val joined =
      if (broadcasted) big.join(broadcast(dim), keys)
      else big.hint("SHUFFLE_MERGE").join(dim.hint("SHUFFLE_MERGE"), keys)
    (joined, broadcasted)
  }

  /** One q63 scenario's oracle legs: KMV estimate of the distinct
    * `keyExpr` population (replaying graft_kmv's md5 ranking + the
    * 60-bit threshold estimator verbatim) and the joined aggregates. */
  private def strategyScenarioSql(name: String, keyExpr: String): String = {
    val k = DedupOps.KmvK
    s"""SELECT '$name' AS scenario, t.n_rows, t.n_keys, t.key_sum,
       |  (CASE WHEN e.nd < $k THEN CAST(e.nd AS DOUBLE)
       |        ELSE CAST(${k - 1} AS DOUBLE) * $Kmv2p60 /
       |          CAST(list_sum(list_transform(range(15), i ->
       |            (strpos('0123456789abcdef', substr(e.kth, CAST(i + 1 AS INT), 1)) - 1)
       |            * CAST(power(16, 14 - i) AS BIGINT))) AS BIGINT) END)
       |    <= $BroadcastRowThreshold AS broadcasted
       |FROM
       |  (SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |          CAST(count(DISTINCT $keyExpr) AS BIGINT) AS n_keys,
       |          CAST(sum($keyExpr) AS BIGINT) AS key_sum
       |   FROM events WHERE $keyExpr IS NOT NULL) t,
       |  (SELECT (SELECT count(DISTINCT md5(CAST($keyExpr AS VARCHAR)))
       |           FROM events WHERE $keyExpr IS NOT NULL) AS nd,
       |          (SELECT hh
       |           FROM (SELECT DISTINCT md5(CAST($keyExpr AS VARCHAR)) AS hh
       |                 FROM events WHERE $keyExpr IS NOT NULL) z
       |           ORDER BY hh LIMIT 1 OFFSET ${k - 1}) AS kth) e""".stripMargin
  }

  /** q63 — [[advisedStrategyJoin]] driver-gated on BOTH decisions:
    * a ≤ 64-key dim (user bucket — broadcast) and a ≥ 1000-key dim
    * (event_id — shuffle-merge). `broadcasted` is what the engine
    * actually DID; the oracle re-derives it from the replayable KMV
    * formula. The joined aggregates pin that neither strategy
    * perturbs the relation. PlanInvariantsSpec pins the physical
    * plans (BroadcastHashJoin vs SortMergeJoin). */
  val advisedStrategyQ: GraftQuery = GraftQuery(
    "q63_advised_strategy",
    s"""${strategyScenarioSql("dim_small", "user_id % 64")}
      |UNION ALL
      |${strategyScenarioSql("dim_large", "event_id")}""".stripMargin) {
    (spark, sf) =>
      val ev = Tables.events(spark, sf)
      // keys-not-null stated EXPLICITLY on both legs (the oracle's
      // subqueries carry the same WHERE): an inner join would drop
      // null-key rows from n_rows silently while the oracle's bare
      // count(*) kept them — the populations must match by
      // construction, not by fixture luck.
      def scenario(name: String, keyed0: DataFrame): DataFrame = {
        val keyed = keyed0.filter(col("k").isNotNull)
        val dim = keyed.select(col("k")).distinct()
          .withColumn("dim_tag", concat(lit("t"), col("k")))
        val (joined, bc) = advisedStrategyJoin(keyed, dim, Seq("k"))
        joined.agg(count(lit(1)).as("n_rows"),
            countDistinct(col("k")).as("n_keys"),
            sum(col("k")).as("key_sum"))
          .select(lit(name).as("scenario"), col("n_rows"), col("n_keys"),
            col("key_sum"), lit(bc).as("broadcasted"))
      }
      scenario("dim_small", ev.select((col("user_id") % 64).as("k")))
        .unionByName(scenario("dim_large", ev.select(col("event_id").as("k"))))
  }

  val all: Seq[GraftQuery] = Seq(
    positivity, pivotCounts, joinAggregates, pricingSummary, revenueByNation,
    windowShare, shareOfTotal, globalMean, quantiles, unpivotCounts,
    latestInputs, dedupFirst, jsonExtract, timeBuckets, stringKey,
    filterTopic, topOrders, semiJoin, antiJoin, rollupCounts, sessions,
    distinctCounts, approxDistinct, approxQuantiles, cubeCounts,
    valueHistogram, groupingSets, moments, keySkew, seasonality,
    sourceFormats, saltedJoinSegments, f2Sketch, skewAdvisory,
    advisedJoinQ, schemaEvolution, advisedStrategyQ)
}
