package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftQuery, GraftSession, Tables}
import graft.pipeline.{KeywordEmotionClassifier, LexiconSentimentClassifier}
import graft.serving.ChartQueries

/** The dashboard's ~10 chart computations as oracle-gated registry
  * queries over the REAL aggregate-table path (reference
  * streamlit/charts/charts.py:15-199 + utilities.py:13-33), not the
  * events-table analogues in CoreQueries.
  *
  * A deterministic aggregate-table fixture stands in for the hourly
  * sink read-back: documents are enriched with both classifiers,
  * stamped with an event-time derived from doc_id (72 hourly batches,
  * [[HourBuckets]]), aggregated per (topic, hour) exactly like
  * HourlyAggregate, and —
  * crucially — re-appended for every 6th hour with a later stamp and a
  * perturbed count, so the serving layer's keep-first dedup (F3) is
  * load-bearing in every oracle below, mirroring the at-least-once
  * Mongo appends the reference dashboard has to repair.
  *
  * Every chart query is ChartQueries.<fn> over that fixture, with the
  * DuckDB oracle generated from the same classifier constants (the
  * pattern proven by p01/p02).
  */
object ChartRegistry {

  private val labels = KeywordEmotionClassifier.labels
  private val labelCols = labels.map(col)

  val Epoch = "2022-03-01 00:00:00"
  val HourBuckets = 72 // three days of hourly batches -> real date-level groups
  val ReplayEveryHours = 6

  // ---------------------------------------------------------------- Spark side

  /** One materialization per (session, sf): every chart query reads
    * the same fixture, and recomputing it would re-run classifier
    * enrichment over the whole documents table per chart. The fixture
    * is a BOUNDED serving relation (≤ topics × HourBuckets × 7/6 rows
    * regardless of corpus size — it is the output of the hourly
    * aggregation, exactly what the reference dashboard reads back from
    * its store), so collect + local relation is the honest analogue of
    * that store read: no persistent RDD blocks to leak (scheduler
    * specs assert none), no recomputation, and downstream chart plans
    * see a local relation just like a sink read-back. */
  private val fixtures = new GraftSession.Memo[String, DataFrame]

  def aggregates(spark: SparkSession, sf: String): DataFrame =
    fixtures(spark, sf) {
      val plan = aggregatesPlan(spark, sf)
      graft.functions.Relational.localize(spark, plan.collect(), plan.schema)
    }

  /** Deterministic aggregate-table fixture (see object doc) — the
    * unmaterialized plan. */
  def aggregatesPlan(spark: SparkSession, sf: String): DataFrame =
    aggregatesPlanFrom(Tables.documents(spark, sf))

  /** [[aggregatesPlan]] over an explicit (doc_id, source, text) frame —
    * c23 builds per-generation stores from document SUBSETS, and the
    * hourly-batch semantics must be the one definition. */
  def aggregatesPlanFrom(docsIn: DataFrame): DataFrame = {
    val docs = docsIn
      .select(col("doc_id"), col("source").as("topic"), col("text"))
    val enriched = KeywordEmotionClassifier.annotate(
        LexiconSentimentClassifier.annotate(docs, "text"), "text")
      .withColumn("created_at",
        expr(s"timestampadd(HOUR, CAST(doc_id % $HourBuckets AS INT), TIMESTAMP'$Epoch')"))
    val aggExprs =
      // 4dp, not the reference's 2dp: k/n ratios can land on 3-decimal
      // ties (e.g. 3/40 = 0.075) where Spark's and DuckDB's round()
      // disagree; at 4dp a tie needs n a multiple of 32 — impossible in
      // these <=25-doc buckets (verify SKILL.md float-parity rule)
      round(avg(when(col("sentiment") <=> "positive", 1).otherwise(0)), 4)
        .as("positivity_rate") +:
        count(lit(1)).as("counts") +:
        labels.map(l => sum(when(col("emotion") === l, 1L).otherwise(0L)).as(l))
    val agg = enriched
      .groupBy(col("topic"), col("created_at"))
      .agg(aggExprs.head, aggExprs.tail: _*)
    val replays = agg
      .filter(hour(col("created_at")) % ReplayEveryHours === 0)
      .withColumn("created_at", expr("timestampadd(MINUTE, 10, created_at)"))
      .withColumn("counts", col("counts") + 1)
    agg.unionByName(replays)
      .select((Seq("topic", "positivity_rate", "counts", "created_at").map(col)
        ++ labelCols): _*)
  }

  /** The serving layer's normalized relation (dedup winner = first). */
  def processed(spark: SparkSession, sf: String): DataFrame =
    ChartQueries.processData(aggregates(spark, sf))

  // ---------------------------------------------------------------- SQL side

  private val emotionCountsSql: String = labels
    .map(l => s"         count(CASE WHEN emotion = '$l' THEN 1 END) AS $l")
    .mkString(",\n")

  private val labelList: String = labels.mkString(", ")

  /** Shared WITH-chain mirroring aggregates() + processData(). */
  private val processedSql: String =
    s"""enriched AS (
       |  SELECT source AS topic,
       |         ${ServingQueries.sentimentSql} AS sentiment,
       |         ${ServingQueries.emotionSql} AS emotion,
       |         TIMESTAMP '$Epoch' + (doc_id % $HourBuckets) * INTERVAL 1 HOUR AS created_at
       |  FROM documents),
       |agg AS (
       |  SELECT topic, created_at,
       |         round(avg(CASE WHEN sentiment = 'positive' THEN 1 ELSE 0 END), 4) AS positivity_rate,
       |         count(*) AS counts,
       |$emotionCountsSql
       |  FROM enriched GROUP BY topic, created_at),
       |aggregates AS (
       |  SELECT topic, positivity_rate, counts, created_at, $labelList FROM agg
       |  UNION ALL
       |  SELECT topic, positivity_rate, counts + 1, created_at + INTERVAL 10 MINUTE, $labelList
       |  FROM agg WHERE hour(created_at) % $ReplayEveryHours = 0),
       |processed AS (
       |  SELECT topic, positivity_rate, counts, created_at,
       |         date_trunc('hour', created_at) AS date_hour,
       |         CAST(created_at AS DATE) AS "date",
       |         CAST(hour(created_at) AS INT) AS "hour",
       |         $labelList
       |  FROM (SELECT *, row_number() OVER (
       |          PARTITION BY topic, date_trunc('hour', created_at)
       |          ORDER BY created_at, counts) AS rn
       |        FROM aggregates) t
       |  WHERE rn = 1)""".stripMargin

  private[graft] def withProcessed(body: String): String = s"WITH $processedSql\n$body"

  /** Wide per-level emotion sums CTE (BIGINT-cast: DuckDB sums of
    * BIGINT widen to HUGEINT, Spark stays long). */
  private def wideSql(level: String): String =
    s"""wide AS (
       |  SELECT $level, ${labels.map(l => s"CAST(sum($l) AS BIGINT) AS $l").mkString(", ")}
       |  FROM processed GROUP BY $level)""".stripMargin

  private def longSql(level: String, from: String = "wide"): String =
    labels.map(l => s"  SELECT $level, '$l' AS emotion, $l AS counts FROM $from")
      .mkString("\n  UNION ALL\n")

  // ---------------------------------------------------------------- registry

  /** F3/P13/P14/P15: the normalized serving relation itself. */
  val processDataQ: GraftQuery = GraftQuery(
    "c01_process_data",
    withProcessed("SELECT * FROM processed")) { (spark, sf) =>
    processed(spark, sf)
  }

  /** A4+R2: per-hour emotion melt (charts.py:24-27). */
  val emotionLongQ: GraftQuery = GraftQuery(
    "c02_emotion_long",
    withProcessed(
      s""", ${wideSql("date_hour")}
         |${longSql("date_hour")}""".stripMargin)) { (spark, sf) =>
    ChartQueries.emotionLong(processed(spark, sf), "date_hour")
  }

  /** A7/A10: per-day emotion share (charts.py:28-29). */
  val emotionShareQ: GraftQuery = GraftQuery(
    "c03_emotion_share",
    withProcessed(
      s""", ${wideSql("\"date\"")},
         |long AS (
         |${longSql("\"date\"")})
         |SELECT "date", emotion, counts,
         |       counts / CAST(sum(counts) OVER (PARTITION BY "date") AS DOUBLE) AS percent
         |FROM long""".stripMargin)) { (spark, sf) =>
    ChartQueries.emotionShare(processed(spark, sf), "date")
  }

  /** A6: global emotion donut (charts.py:45-60). */
  val emotionDonutQ: GraftQuery = GraftQuery(
    "c04_emotion_donut",
    withProcessed(
      s""", long AS (
         |${labels.map(l => s"  SELECT '$l' AS emotion, $l AS counts FROM processed").mkString("\n  UNION ALL\n")}),
         |d AS (SELECT emotion, CAST(sum(counts) AS BIGINT) AS counts FROM long GROUP BY emotion)
         |SELECT emotion, counts,
         |       counts / CAST(sum(counts) OVER () AS DOUBLE) AS percent
         |FROM d""".stripMargin)) { (spark, sf) =>
    ChartQueries.emotionDonut(processed(spark, sf))
  }

  /** A6: tweet-volume share per topic (charts.py:88-94). */
  val countsDonutQ: GraftQuery = GraftQuery(
    "c05_counts_donut",
    withProcessed(
      """, d AS (SELECT topic, CAST(sum(counts) AS BIGINT) AS counts
        |        FROM processed GROUP BY topic)
        |SELECT topic, counts,
        |       counts / CAST(sum(counts) OVER () AS DOUBLE) AS percent
        |FROM d""".stripMargin)) { (spark, sf) =>
    ChartQueries.countsDonut(processed(spark, sf))
  }

  /** A4: volume per period (charts.py:99-106). */
  val countsPeriodQ: GraftQuery = GraftQuery(
    "c06_counts_period",
    withProcessed(
      """SELECT date_hour, CAST(sum(counts) AS BIGINT) AS counts
        |FROM processed GROUP BY date_hour""".stripMargin)) { (spark, sf) =>
    ChartQueries.countsPeriod(processed(spark, sf), "date_hour")
  }

  /** A4/A10: stacked volume per (day, topic) (charts.py:111-133). */
  val countsTopicPeriodQ: GraftQuery = GraftQuery(
    "c07_counts_topic_period",
    withProcessed(
      """, d AS (SELECT "date", topic, CAST(sum(counts) AS BIGINT) AS counts
        |        FROM processed GROUP BY "date", topic)
        |SELECT "date", topic, counts,
        |       counts / CAST(sum(counts) OVER (PARTITION BY "date") AS DOUBLE) AS share
        |FROM d""".stripMargin)) { (spark, sf) =>
    ChartQueries.countsTopicPeriod(processed(spark, sf), "date")
  }

  /** A5+A8: mean positivity per topic + global mean line
    * (charts.py:138-155). */
  val positivityTopicQ: GraftQuery = GraftQuery(
    "c08_positivity_topic",
    withProcessed(
      """, g AS (SELECT topic,
        |          round(CAST(sum(CAST(round(positivity_rate * 10000, 0) AS BIGINT)) AS DOUBLE)
        |                / (count(positivity_rate) * 10000.0), 4) AS positivity_rate
        |        FROM processed GROUP BY topic)
        |SELECT topic, positivity_rate,
        |       round(CAST(sum(CAST(round(positivity_rate * 10000, 0) AS BIGINT)) OVER () AS DOUBLE)
        |             / (count(positivity_rate) OVER () * 10000.0), 4) AS global_rate
        |FROM g""".stripMargin)) { (spark, sf) =>
    ChartQueries.positivityByTopic(processed(spark, sf))
  }

  /** A5: mean positivity per (day, topic) (charts.py:160-168). */
  val positivityPeriodQ: GraftQuery = GraftQuery(
    "c09_positivity_period",
    withProcessed(
      """SELECT "date", topic,
        |       CAST(sum(CAST(round(positivity_rate * 10000, 0) AS BIGINT)) AS DOUBLE)
        |         / (count(positivity_rate) * 10000.0) AS positivity_rate
        |FROM processed GROUP BY "date", topic""".stripMargin)) { (spark, sf) =>
    ChartQueries.positivityPeriod(processed(spark, sf), "date")
  }

  /** A9: boxplot statistics per topic (charts.py:173-199). The oracle
    * pins the ⌈p·n⌉ rank selection in SQL text (cumulative histogram,
    * the q35 device) instead of `quantile_disc`, whose element
    * convention is DuckDB-version-sensitive; all-NULL-rate groups
    * emit NULL-stat rows via the LEFT JOIN, matching GROUP BY. */
  val positivityBoxplotQ: GraftQuery = GraftQuery(
    "c10_positivity_boxplot",
    withProcessed(
      s""", h AS (SELECT topic, positivity_rate AS v, count(*) AS cnt
        |        FROM processed WHERE positivity_rate IS NOT NULL GROUP BY 1, 2),
        |ch AS (SELECT topic, v,
        |         sum(cnt) OVER (PARTITION BY topic ORDER BY v) AS cum,
        |         sum(cnt) OVER (PARTITION BY topic) AS n
        |       FROM h),
        |b AS (SELECT topic,
        |        ${QuantileKernel.discSelectSql("0.25", "v")} AS q1,
        |        ${QuantileKernel.discSelectSql("0.5", "v")} AS median,
        |        ${QuantileKernel.discSelectSql("0.75", "v")} AS q3,
        |        min(v) AS lo, max(v) AS hi
        |      FROM ch GROUP BY 1)
        |SELECT k.topic, q1, median, q3, lo, hi,
        |       q3 - q1 AS iqr,
        |       greatest(lo, q1 - 1.5 * (q3 - q1)) AS whisker_lo,
        |       least(hi, q3 + 1.5 * (q3 - q1)) AS whisker_hi
        |FROM (SELECT DISTINCT topic FROM processed) k
        |LEFT JOIN b ON k.topic IS NOT DISTINCT FROM b.topic""".stripMargin)) {
    (spark, sf) =>
    ChartQueries.positivityBoxplot(processed(spark, sf))
  }

  /** L1: latest-25 aggregate rows (streamlit/main.py:100-102). */
  val latestInputsQ: GraftQuery = GraftQuery(
    "c11_latest_inputs",
    withProcessed(
      s"""SELECT created_at, topic, positivity_rate, counts, $labelList
         |FROM processed ORDER BY created_at DESC, topic LIMIT 25""".stripMargin)) { (spark, sf) =>
    ChartQueries.latestInputs(processed(spark, sf))
  }

  // The reference dashboard renders every chart at user-selected
  // aggregation levels (streamlit/main.py:52-93 Global/Day/Hour);
  // c12-c15 register the level variants c03/c07/c09/c10 don't cover,
  // through the SAME ChartQueries functions with the level swapped.

  /** A7/A10 at the hour level (main.py:58 + charts.py:28-29). */
  val emotionShareHourQ: GraftQuery = GraftQuery(
    "c12_emotion_share_hour",
    withProcessed(
      s""", ${wideSql("date_hour")},
         |long AS (
         |${longSql("date_hour")})
         |SELECT date_hour, emotion, counts,
         |       counts / CAST(sum(counts) OVER (PARTITION BY date_hour) AS DOUBLE) AS percent
         |FROM long""".stripMargin)) { (spark, sf) =>
    ChartQueries.emotionShare(processed(spark, sf), "date_hour")
  }

  /** A4/A10 stacked volume at the hour level (charts.py:111-133). */
  val countsTopicHourQ: GraftQuery = GraftQuery(
    "c13_counts_topic_hour",
    withProcessed(
      """, d AS (SELECT date_hour, topic, CAST(sum(counts) AS BIGINT) AS counts
        |        FROM processed GROUP BY date_hour, topic)
        |SELECT date_hour, topic, counts,
        |       counts / CAST(sum(counts) OVER (PARTITION BY date_hour) AS DOUBLE) AS share
        |FROM d""".stripMargin)) { (spark, sf) =>
    ChartQueries.countsTopicPeriod(processed(spark, sf), "date_hour")
  }

  /** A5 mean positivity at the hour level (charts.py:160-168). */
  val positivityHourQ: GraftQuery = GraftQuery(
    "c14_positivity_hour",
    withProcessed(
      """SELECT date_hour, topic,
        |       CAST(sum(CAST(round(positivity_rate * 10000, 0) AS BIGINT)) AS DOUBLE)
        |         / (count(positivity_rate) * 10000.0) AS positivity_rate
        |FROM processed GROUP BY date_hour, topic""".stripMargin)) { (spark, sf) =>
    ChartQueries.positivityPeriod(processed(spark, sf), "date_hour")
  }

  /** A9 boxplot per (topic, day) — the Day level of c10 via the
    * existing byLevel parameter (charts.py:173-199); same rank-pinned
    * oracle + NULL-group LEFT JOIN as c10. */
  val positivityBoxplotDayQ: GraftQuery = GraftQuery(
    "c15_boxplot_day",
    withProcessed(
      s""", h AS (SELECT topic, "date", positivity_rate AS v, count(*) AS cnt
        |        FROM processed WHERE positivity_rate IS NOT NULL GROUP BY 1, 2, 3),
        |ch AS (SELECT topic, "date", v,
        |         sum(cnt) OVER (PARTITION BY topic, "date" ORDER BY v) AS cum,
        |         sum(cnt) OVER (PARTITION BY topic, "date") AS n
        |       FROM h),
        |b AS (SELECT topic, "date",
        |        ${QuantileKernel.discSelectSql("0.25", "v")} AS q1,
        |        ${QuantileKernel.discSelectSql("0.5", "v")} AS median,
        |        ${QuantileKernel.discSelectSql("0.75", "v")} AS q3,
        |        min(v) AS lo, max(v) AS hi
        |      FROM ch GROUP BY 1, 2)
        |SELECT k.topic, k."date", q1, median, q3, lo, hi,
        |       q3 - q1 AS iqr,
        |       greatest(lo, q1 - 1.5 * (q3 - q1)) AS whisker_lo,
        |       least(hi, q3 + 1.5 * (q3 - q1)) AS whisker_hi
        |FROM (SELECT DISTINCT topic, "date" FROM processed) k
        |LEFT JOIN b ON k.topic IS NOT DISTINCT FROM b.topic
        |           AND k."date" IS NOT DISTINCT FROM b."date"""".stripMargin)) { (spark, sf) =>
    ChartQueries.positivityBoxplot(processed(spark, sf), byLevel = Some("date"))
  }

  /** A4 volume area chart at the day level (charts.py:99-106). */
  val countsPeriodDayQ: GraftQuery = GraftQuery(
    "c16_counts_period_day",
    withProcessed(
      """SELECT "date", CAST(sum(counts) AS BIGINT) AS counts
        |FROM processed GROUP BY "date"""".stripMargin)) { (spark, sf) =>
    ChartQueries.countsPeriod(processed(spark, sf), "date")
  }

  /** A4+R2 emotion melt at the day level (charts.py:24-27). */
  val emotionLongDayQ: GraftQuery = GraftQuery(
    "c17_emotion_long_day",
    withProcessed(
      s""", ${wideSql("\"date\"")}
         |${longSql("\"date\"")}""".stripMargin)) { (spark, sf) =>
    ChartQueries.emotionLong(processed(spark, sf), "date")
  }

  /** Rolling window frames over the hourly series — the dashboard's
    * smoothing layer: per-topic 3-hour rolling volume + moving average
    * and the cumulative total. Frames are ROWS-based over the deduped
    * (topic, date_hour) series, so contents are deterministic; the
    * moving average divides an exact integer sum (IEEE-identical in
    * both engines), and BIGINT casts pin DuckDB's HUGEINT widening. */
  val rollingCountsQ: GraftQuery = GraftQuery(
    "c18_rolling_counts",
    withProcessed(
      """SELECT topic, date_hour, counts,
        |       CAST(sum(counts) OVER w3 AS BIGINT) AS counts_roll3,
        |       CAST(sum(counts) OVER w3 AS DOUBLE)
        |         / count(*) OVER w3 AS counts_ma3,
        |       CAST(sum(counts) OVER wcum AS BIGINT) AS counts_cum
        |FROM processed
        |WINDOW
        |  w3 AS (PARTITION BY topic ORDER BY date_hour
        |         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
        |  wcum AS (PARTITION BY topic ORDER BY date_hour
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin)) { (spark, sf) =>
    import org.apache.spark.sql.expressions.Window
    val w3 = Window.partitionBy(col("topic")).orderBy(col("date_hour"))
      .rowsBetween(-2, Window.currentRow)
    val wCum = Window.partitionBy(col("topic")).orderBy(col("date_hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    processed(spark, sf)
      .select(col("topic"), col("date_hour"), col("counts"))
      .withColumn("counts_roll3", sum(col("counts")).over(w3))
      .withColumn("counts_ma3",
        sum(col("counts")).over(w3).cast("double") / count(lit(1)).over(w3))
      .withColumn("counts_cum", sum(col("counts")).over(wCum))
  }

  /** S4/S5 + compaction: compact-then-serve ≡ serve-raw, gate-checked
    * end-to-end through the real sink machinery. The fixture is
    * appended to a [[graft.pipeline.CompactingAggregateSink]] in two
    * batches plus an INJECTED at-least-once replay batch (every row
    * re-appended 20 minutes later with a perturbed count — strictly
    * later in its hour, so it loses keep-first dedup), the store is
    * compacted, and the serve is processData over the read-back. The
    * oracle is c01's — it never models the injection or the store, so
    * a compaction that dropped a winner, kept a loser, or duplicated a
    * row hash-mismatches. The physical collapse is ALSO load-bearing:
    * `store_rows` (the compacted store's on-disk row count, a
    * broadcast scalar) must equal the processed row count — exactly
    * one stored row per (topic, hour) — which the oracle predicts as
    * a subquery; without `compact()` the store holds 3× that and the
    * row goes red. Fresh scratch store per run (bench reps):
    * the contract is the store CONTENT, rebuilt deterministically.
    * SinkCrashSpec separately proves every crash window self-heals. */
  val compactionServeQ: GraftQuery = GraftQuery(
    "c19_compaction_serve",
    withProcessed(
      """SELECT p.*, (SELECT CAST(count(*) AS BIGINT) FROM processed) AS store_rows
        |FROM processed p""".stripMargin)) { (spark, sf) =>
    val raw = aggregates(spark, sf)
    val sink = freshSink(spark, sf, "c19")
    sink.append(raw.filter(hour(col("created_at")) % 2 === 0))
    sink.append(raw.filter(hour(col("created_at")) % 2 =!= 0))
    sink.append(replayBatch(raw))
    sink.compact(spark)
    serveWithStoreRows(spark, sink)
  }

  /** The at-least-once replay injection shared by c19/c21: every row
    * re-appended 20 minutes later in its hour with a perturbed count —
    * strictly later, so it loses keep-first dedup. This is a
    * WITHIN-HOUR claim: a fixture row at minute ≥ 40 would cross into
    * the next hour, minting a new (topic, hour) key instead of a
    * losing replay and breaking the gate non-obviously — fail loudly
    * instead. */
  private def replayBatch(raw: DataFrame): DataFrame = {
    val maxRow = raw.agg(max(minute(col("created_at")))).head
    // max over zero rows is NULL — getInt would NPE before the require
    // message ever fired; fail with the same descriptive contract
    require(!maxRow.isNullAt(0),
      "replay injection requires a non-empty fixture batch")
    val maxMinute = maxRow.getInt(0)
    require(maxMinute < 40,
      s"replay injection requires minute(created_at) < 40; fixture has $maxMinute")
    raw
      .withColumn("created_at", expr("timestampadd(MINUTE, 20, created_at)"))
      .withColumn("counts", col("counts") + 5)
  }

  /** A fresh, empty compacting store for row `tag` on `sf` (bench reps
    * rebuild — the contract is the store CONTENT, rebuilt
    * deterministically), in the session's warehouse scratch directory
    * ([[graft.sources.SignatureLake.scratchPath]]). The warehouse must
    * be on the local file system: the store's two-rename publish is
    * local-FS by construction. */
  private[graft] def freshSink(spark: SparkSession, sf: String,
      tag: String): graft.pipeline.CompactingAggregateSink = {
    val dir = graft.sources.SignatureLake.scratchPath(spark, sf, s"compact_$tag")
    graft.sources.SignatureLake.deleteDir(spark, dir)
    val uri = new org.apache.hadoop.fs.Path(dir).toUri
    require(uri.getScheme == null || uri.getScheme == "file",
      s"the compacting store needs a local warehouse, not $dir")
    new graft.pipeline.CompactingAggregateSink(uri.getPath)
  }

  private def serveWithStoreRows(spark: SparkSession,
      sink: graft.pipeline.CompactingAggregateSink): DataFrame = {
    val store = sink.readBack(spark)
    ChartQueries.processData(store)
      .crossJoin(broadcast(store.agg(count(lit(1)).as("store_rows"))))
  }

  /** c21 — compaction INTERLEAVED with appends (c19 compacts a
    * quiesced store; this gates the maintenance reality, where
    * compaction windows and ingest interleave): compact a PARTIAL
    * store (evens only), append the odd hours, compact the mixed
    * compacted-generation + raw-batch store, then append the
    * at-least-once replay batch AFTER that compaction and compact a
    * third time — the replays must lose keep-first dedup against
    * winners that now live in compacted (created_at-preserving) form.
    * The oracle is c01's and never models the store, the injection, or
    * the schedule: a window lost at any interleave point, double-kept
    * across generations, or a replay surviving against a compacted
    * winner splits the hash; `store_rows` pins the physical collapse
    * after the final pass (exactly one stored row per (topic, hour)).
    * SinkCrashSpec separately proves each crash window self-heals and
    * the interleaving keeps every window exactly once. */
  val compactionInterleavedQ: GraftQuery = GraftQuery(
    "c21_compaction_interleaved",
    withProcessed(
      """SELECT p.*, (SELECT CAST(count(*) AS BIGINT) FROM processed) AS store_rows
        |FROM processed p""".stripMargin)) { (spark, sf) =>
    val raw = aggregates(spark, sf)
    val sink = freshSink(spark, sf, "c21")
    sink.append(raw.filter(hour(col("created_at")) % 2 === 0))
    sink.compact(spark) // partial-store compaction
    sink.append(raw.filter(hour(col("created_at")) % 2 =!= 0))
    sink.compact(spark) // compacted generation ∪ raw batch
    sink.append(replayBatch(raw)) // replays arrive AFTER compaction
    sink.compact(spark)
    serveWithStoreRows(spark, sink)
  }

  /** c22 retention boundary: keep the fixture's last 36 hours (half
    * the 72-hour window) — an exact hour-aligned cutoff interpolated
    * into BOTH texts so the two sides cannot drift. */
  private val RetentionCutoff = "2022-03-02 12:00:00"

  /** S4/S5 + RETENTION: age-based vacuum gated end-to-end — the
    * third maintenance op on the aggregate store (compact c19/c21,
    * takedown m12/d28, now retention). The full fixture (both parity
    * batches + the at-least-once replay injection) is compacted, then
    * `vacuum(RetentionCutoff)` drops the first half of the window.
    * The oracle is c01's restricted to surviving hours and never
    * models the store: a vacuum that over-drops (a surviving hour
    * missing), under-drops (a pre-cutoff hour served), or splits a
    * window (the cutoff is hour-aligned by contract) splits the hash.
    * The PHYSICAL drop is load-bearing too: `store_rows` must equal
    * the surviving key count — a vacuum that filters at serve time
    * but leaves the store intact goes red on that column. On a
    * hive-partitioned production store this is a partition DROP, not
    * a row rewrite (see CompactingAggregateSink.vacuum); crash
    * healing rides the same two-rename proof as compaction. */
  val retentionVacuumQ: GraftQuery = GraftQuery(
    "c22_retention_vacuum",
    withProcessed(
      s"""SELECT p.*, (SELECT CAST(count(*) AS BIGINT) FROM processed
         |            WHERE date_hour >= TIMESTAMP '$RetentionCutoff') AS store_rows
         |FROM processed p
         |WHERE p.date_hour >= TIMESTAMP '$RetentionCutoff'""".stripMargin)) { (spark, sf) =>
    val raw = aggregates(spark, sf)
    val sink = freshSink(spark, sf, "c22")
    sink.append(raw.filter(hour(col("created_at")) % 2 === 0))
    sink.append(raw.filter(hour(col("created_at")) % 2 =!= 0))
    sink.append(replayBatch(raw))
    sink.compact(spark)
    sink.vacuum(spark, RetentionCutoff)
    serveWithStoreRows(spark, sink)
  }

  /** A9 in the reference's OWN quartile convention: linear
    * interpolation (pandas/Vega-Lite type-7 — charts.py:173-199),
    * behind positivityBoxplot's `interpolated` flag; c10's discrete
    * ⌈p·n⌉ stays the default. Stats run over the ×10⁴ integer image
    * of the 4dp rates (exact dyadic interpolation, one terminal
    * division per column — the q09 device), and the oracle spells the
    * identical rank selection + interpolation via
    * [[QuantileKernel.contSelectSql]], never `quantile_cont`. */
  val positivityBoxplotInterpQ: GraftQuery = GraftQuery(
    "c20_boxplot_interp",
    withProcessed(
      s""", h AS (SELECT topic, CAST(round(positivity_rate * 10000) AS BIGINT) AS r4,
        |              count(*) AS cnt
        |        FROM processed WHERE positivity_rate IS NOT NULL GROUP BY 1, 2),
        |ch AS (SELECT topic, r4,
        |         sum(cnt) OVER (PARTITION BY topic ORDER BY r4) AS cum,
        |         sum(cnt) OVER (PARTITION BY topic) AS n
        |       FROM h),
        |b AS (SELECT topic, max(n) AS n,
        |        ${QuantileKernel.contSelectSql("0.25", "r4")._1} AS lo1,
        |        ${QuantileKernel.contSelectSql("0.25", "r4")._2} AS hi1,
        |        ${QuantileKernel.contSelectSql("0.5", "r4")._1} AS lo2,
        |        ${QuantileKernel.contSelectSql("0.5", "r4")._2} AS hi2,
        |        ${QuantileKernel.contSelectSql("0.75", "r4")._1} AS lo3,
        |        ${QuantileKernel.contSelectSql("0.75", "r4")._2} AS hi3,
        |        min(r4) AS qmin, max(r4) AS qmax
        |      FROM ch GROUP BY 1),
        |s AS (SELECT topic, lo1, hi1, lo2, hi2, lo3, hi3, qmin, qmax,
        |        0.25 * (n - 1) AS p1, 0.5 * (n - 1) AS p2, 0.75 * (n - 1) AS p3
        |      FROM b),
        |i AS (SELECT topic,
        |        CAST(CASE WHEN floor(p1) = ceil(p1) THEN CAST(lo1 AS DOUBLE)
        |             ELSE lo1 * (ceil(p1) - p1) + hi1 * (p1 - floor(p1)) END AS DOUBLE) AS q1s,
        |        CAST(CASE WHEN floor(p2) = ceil(p2) THEN CAST(lo2 AS DOUBLE)
        |             ELSE lo2 * (ceil(p2) - p2) + hi2 * (p2 - floor(p2)) END AS DOUBLE) AS q2s,
        |        CAST(CASE WHEN floor(p3) = ceil(p3) THEN CAST(lo3 AS DOUBLE)
        |             ELSE lo3 * (ceil(p3) - p3) + hi3 * (p3 - floor(p3)) END AS DOUBLE) AS q3s,
        |        CAST(qmin AS DOUBLE) AS los, CAST(qmax AS DOUBLE) AS his
        |      FROM s)
        |SELECT k.topic,
        |       q1s / 10000.0 AS q1, q2s / 10000.0 AS median, q3s / 10000.0 AS q3,
        |       los / 10000.0 AS lo, his / 10000.0 AS hi,
        |       (q3s - q1s) / 10000.0 AS iqr,
        |       greatest(los, q1s - 1.5 * (q3s - q1s)) / 10000.0 AS whisker_lo,
        |       least(his, q3s + 1.5 * (q3s - q1s)) / 10000.0 AS whisker_hi
        |FROM (SELECT DISTINCT topic FROM processed) k
        |LEFT JOIN i ON k.topic IS NOT DISTINCT FROM i.topic""".stripMargin)) {
    (spark, sf) =>
    ChartQueries.positivityBoxplot(processed(spark, sf), interpolated = true)
  }

  /** c23 late-arrival model: hour buckets h % 7 == 3 receive late
    * docs (the doc_id % 5 == 0 slice) after the initial load. */
  private[graft] val LateHourMod = 7
  private[graft] val LateDocMod = 5

  /** Incremental recompute by DIGEST-DIFF reconciliation — the
    * production maintenance op c19/c21/c22 don't cover: when late
    * data lands in a few hour partitions of the raw lake, rebuild
    * ONLY those hours of the aggregate store. Change detection is a
    * per-hour order-independent content digest (sum of per-row
    * xxhash64 — one column-pruned scan per generation, map-side
    * combined to ≤ |hours| rows; on a production lake the per-
    * partition digests are persisted at ingest so the diff reads
    * manifests, not data). The EXPENSIVE stage — classifier
    * enrichment + aggregation — then runs over the changed hours
    * only: O(|delta hours|), not O(corpus), which is the entire point
    * at 100 TB where a full rebuild is a day of cluster time. The
    * merged store is gen1 rows for unchanged hours ∪ recomputed rows,
    * served through the normal keep-first path. The oracle is c01's
    * full-recompute over the complete corpus plus a `recomputed` flag
    * it derives from the late-arrival model — so a digest that misses
    * a changed hour serves a stale aggregate (value mismatch), one
    * that false-positives an unchanged hour flips the flag, and a
    * merge that drops or doubles an hour splits the hash. */
  val incrementalRecomputeQ: GraftQuery = GraftQuery(
    "c23_incremental_recompute",
    withProcessed(
      s"""SELECT p.*,
        |       (date_diff('hour', TIMESTAMP '$Epoch', p.date_hour) % $LateHourMod = 3
        |        AND EXISTS (SELECT 1 FROM documents d
        |                    WHERE d.doc_id % $HourBuckets =
        |                          date_diff('hour', TIMESTAMP '$Epoch', p.date_hour)
        |                      AND d.doc_id % $LateDocMod = 0)) AS recomputed
        |FROM processed p""".stripMargin)) { (spark, sf) =>
    val docs = Tables.documents(spark, sf)
    val isLate = (col("doc_id") % HourBuckets % LateHourMod === 3) &&
      (col("doc_id") % LateDocMod === 0)
    val initial = docs.filter(!isLate)
    // combiner is bit_xor, not sum: order-independent like sum but
    // never overflows under ANSI arithmetic. XOR cancels PAIRS of
    // identical hashes — impossible here (doc_id is unique per row) —
    // and the row count rides alongside as the independent second leg
    def digests(d: DataFrame): DataFrame = d
      .groupBy((col("doc_id") % HourBuckets).as("bucket"))
      .agg(bit_xor(xxhash64(col("doc_id"), col("text"))).as("dig"),
        count(lit(1)).as("n"))
    val changed = digests(initial).as("g1")
      .join(digests(docs).as("g2"), Seq("bucket"), "full_outer")
      .filter(not(col("g1.dig") <=> col("g2.dig")) ||
        not(col("g1.n") <=> col("g2.n")))
      .select(col("bucket"))
    val gen1 = aggregatesPlanFrom(initial)
      .withColumn("__b", expr(s"timestampdiff(HOUR, TIMESTAMP'$Epoch', created_at)"))
    val kept = gen1
      .join(broadcast(changed), col("__b") === col("bucket"), "left_anti")
      .drop("__b")
    val recomputed = aggregatesPlanFrom(
      docs.join(broadcast(changed),
        (col("doc_id") % HourBuckets) === col("bucket"), "left_semi"))
    val served = ChartQueries.processData(kept.unionByName(recomputed))
    val flagged = broadcast(changed.select(
      expr(s"timestampadd(HOUR, CAST(bucket AS INT), TIMESTAMP'$Epoch')").as("__ch")))
    served.join(flagged, col("date_hour") === col("__ch"), "left")
      .withColumn("recomputed", col("__ch").isNotNull)
      .drop("__ch")
  }

  val all: Seq[GraftQuery] = Seq(
    processDataQ, emotionLongQ, emotionShareQ, emotionDonutQ, countsDonutQ,
    countsPeriodQ, countsTopicPeriodQ, positivityTopicQ, positivityPeriodQ,
    positivityBoxplotQ, latestInputsQ,
    emotionShareHourQ, countsTopicHourQ, positivityHourQ, positivityBoxplotDayQ,
    countsPeriodDayQ, emotionLongDayQ, rollingCountsQ, compactionServeQ,
    positivityBoxplotInterpQ, compactionInterleavedQ, retentionVacuumQ,
    incrementalRecomputeQ)
}
