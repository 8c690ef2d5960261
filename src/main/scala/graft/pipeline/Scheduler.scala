package graft.pipeline

import java.sql.Timestamp
import java.time.{LocalDateTime, ZoneId}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.functions.Relational
import graft.streaming.{HourlyClock, TweetIngest}

/** The hourly batch driver — replaces the reference's wall-clock sleep
  * loop (spark_app/main.py:93-111) with a single long-lived
  * SparkSession and an injectable clock. Each cycle:
  *
  *   previous-hour lake partition (partition-pruned read) →
  *   classifier enrichment → HourlyAggregate → sink.append
  *
  * Unlike the reference (functions.py:75-86, which sleeps an hour and
  * then reads the *current* hour), a missing/empty partition is handled
  * explicitly: the cycle is skipped and reported. Late data still lands
  * in its event-time partition; the optional watermarked streaming
  * aggregation in TweetIngest covers the late-data path.
  */
final class HourlyScheduler(
    spark: SparkSession,
    lakeRoot: String,
    sink: AggregateSink,
    sentiment: TextClassifier = LexiconSentimentClassifier,
    emotion: TextClassifier = KeywordEmotionClassifier,
    maxDriverRows: Int = HourlyScheduler.MaxDriverAggRows) {

  /** Enrich one hour of lake rows with both classifiers. */
  def enrich(hourRows: DataFrame): DataFrame =
    emotion.annotate(sentiment.annotate(hourRows, "text"), "text")
      .select(col("created_at"), col("text"), col("topic"),
        col("sentiment"), col("emotion"))

  /** Run one cycle for the hour preceding `now`. Every aggregate row
    * is stamped `created_at` = the start of that event-hour (not the
    * processing time), so charts bucket it by the hour its tweets were
    * created in, and a re-run of the hour re-appends the same stamp.
    *
    * The aggregate is one per-topic grouping (≤ |topics| rows by
    * construction), so the enriched frame is read once, by the single
    * action that materializes the aggregate; nothing is persisted. The
    * collected rows are appended as a local relation: the row count is
    * free, a failed append can be retried without recomputation, and
    * no Observation listener is left registered when the sink throws
    * (Spark offers no public unregister for an un-fired Observation).
    *
    * The stamp is appended to the collected rows on the driver, as the
    * last column. In the plan it would be folded to a literal that
    * whole-stage codegen inlines, so every hour would compile new
    * classes; without it, every hour runs the same generated code.
    *
    * @return number of aggregate rows appended (0 = empty partition,
    *         and nothing is appended) */
  def runOnce(now: LocalDateTime): Long = {
    val (date, hour) = HourlyClock.previousHour(now)
    val agg = HourlyAggregate.aggregate(
      enrich(TweetIngest.readHour(spark, lakeRoot, date, hour)))
    // bounded-grain contract, ENFORCED (the replaceHours rule — no
    // implicit driver materialization): collect through a limit one
    // past the bound, so a contract violation costs one extra row,
    // never an unbounded driver heap, and fails with the diagnosis
    // instead of an OOM.
    val collected = agg.limit(maxDriverRows + 1).collect()
    require(collected.length <= maxDriverRows,
      s"HourlyScheduler.runOnce: hourly aggregate for $date $hour:00 " +
        s"exceeds the per-(topic, hour) driver bound of $maxDriverRows " +
        s"rows — the aggregate grain is per-topic, so this means " +
        s"either a grain regression in HourlyAggregate or a topic " +
        s"cardinality this deployment must raise maxDriverRows for")
    if (collected.nonEmpty) {
      // the event-hour's start, read in the session time zone (the
      // zone the lake's date/hour partitions are cut in)
      val stamp = Timestamp.from(LocalDateTime.parse(s"${date}T$hour:00:00")
        .atZone(ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))).toInstant)
      sink.append(Relational.localize(spark,
        collected.map(r => Row.fromSeq(r.toSeq :+ stamp)),
        agg.schema.add("created_at", TimestampType)))
    }
    collected.length.toLong
  }

  /** Fire once per wall-clock hour change (reference main.py:96-111),
    * bounded by `cycles` for testability.
    *
    * @param failFast propagate a cycle failure (reference parity: its
    *        loop dies on any error). With false, a failed hour is
    *        reported as -1 and the loop keeps running — a transient
    *        sink outage shouldn't cost every subsequent hour; the
    *        at-least-once sink contract means the hour can be replayed. */
  def loop(
      clock: () => LocalDateTime, cycles: Int, pollMs: Long = 1000,
      failFast: Boolean = true): Seq[Long] = {
    var lastHour = -1
    val results = Seq.newBuilder[Long]
    var remaining = cycles
    while (remaining > 0) {
      val now = clock()
      if (now.getHour != lastHour) {
        lastHour = now.getHour
        results += (try runOnce(now) catch {
          case e: Exception if !failFast =>
            System.err.println(s"[scheduler] cycle for $now failed: ${e.getMessage}")
            -1L
        })
        remaining -= 1
      } else Thread.sleep(pollMs)
    }
    results.result()
  }
}

object HourlyScheduler {
  /** Driver-side bound on one cycle's aggregate (rows per hour = rows
    * per topic by construction — HourlyAggregate is one per-topic
    * grouping). The collect at [[HourlyScheduler.runOnce]] is sized by
    * this, and a cycle whose aggregate exceeds it FAILS with the
    * diagnosis instead of growing the driver heap: at a few hundred
    * bytes per aggregate row, 10k rows is ~MBs — far under any driver
    * budget — while any true grain regression (e.g. an accidental
    * per-tweet aggregate) blows past it immediately. */
  val MaxDriverAggRows = 10000
}
