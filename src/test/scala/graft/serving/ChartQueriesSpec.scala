package graft.serving

import java.sql.Timestamp

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The serving relation's contract: bounded, materialized once, and
  * total over an empty store. */
class ChartQueriesSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("topic", StringType),
    StructField("positivity_rate", DoubleType),
    StructField("counts", LongType),
    StructField("created_at", TimestampType)) ++
    ChartQueries.emotions.map(StructField(_, LongType)))

  private def aggregates(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def row(topic: String, stamp: String, counts: Long): Row =
    Row.fromSeq(Seq(topic, 0.5, counts, Timestamp.valueOf(stamp)) ++
      ChartQueries.emotions.map(e => if (e == ChartQueries.emotions.head) counts else 0L))

  /** A row with a nullable rate, stamped at `stamp` read as UTC (the
    * session zone), so its serving `date` is the stamp's own date. */
  private def rated(topic: String, stamp: String, rate: java.lang.Double): Row =
    Row.fromSeq(Seq(topic, rate, 1L,
      Timestamp.from(java.time.Instant.parse(stamp.replace(' ', 'T') + "Z"))) ++
      ChartQueries.emotions.map(_ => 0L))

  /** A store of one row per topic and hour, rates and counts varying. */
  private def snapshot(topics: Seq[String], hours: Seq[String]): DataFrame =
    aggregates(for ((t, i) <- topics.zipWithIndex; (h, j) <- hours.zipWithIndex) yield
      Row.fromSeq(Seq(t, ((i + j) % 5) / 4.0, 10L + i + j,
        Timestamp.from(java.time.Instant.parse(h.replace(' ', 'T') + "Z"))) ++
        ChartQueries.emotions.indices.map(k => (10L + i + j) * (k % 2))))

  /** The queries of one dashboard refresh, after processData. */
  private val refreshCharts: Seq[DataFrame => DataFrame] = Seq[DataFrame => DataFrame](
    identity, ChartQueries.emotionDonut, ChartQueries.countsDonut,
    ChartQueries.positivityByTopic, ChartQueries.positivityBoxplot(_),
    ChartQueries.latestInputs(_)) ++
    Seq("date", "date_hour").flatMap(l => Seq[DataFrame => DataFrame](
      ChartQueries.emotionShare(_, l), ChartQueries.countsPeriod(_, l),
      ChartQueries.countsTopicPeriod(_, l), ChartQueries.positivityPeriod(_, l),
      ChartQueries.positivityBoxplot(_, Some(l))))

  test("a second dashboard refresh over other rows compiles no generated class") {
    def refresh(store: DataFrame): Unit = {
      val processed = ChartQueries.processData(store)
      refreshCharts.foreach(chart => chart(processed).collect())
    }
    refresh(snapshot(Seq("alpha", "beta", "gamma"),
      Seq("2022-03-01 10:00:00", "2022-03-01 11:00:00", "2022-03-01 12:00:00")))
    // same schema, other rows: the refresh's plans are the same, so
    // every generated class must come from Spark's codegen cache
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    refresh(snapshot(Seq("alpha", "delta", "epsilon", "zeta"),
      Seq("2022-03-02 08:00:00", "2022-03-02 09:00:00", "2022-03-03 00:00:00")))
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled === 0, s"the second refresh compiled $compiled classes")
  }

  test("discrete boxplot matches a plain ⌈p·n⌉ computation on its edge cases") {
    val rows = Seq(
      // tied rates, a NULL rate, and a second day
      rated("alpha", "2022-03-01 10:00:00", 0.5),
      rated("alpha", "2022-03-01 11:00:00", 0.25),
      rated("alpha", "2022-03-01 12:00:00", 0.5),
      rated("alpha", "2022-03-01 13:00:00", 0.75),
      rated("alpha", "2022-03-01 14:00:00", null),
      rated("alpha", "2022-03-02 10:00:00", 0.1),
      rated("alpha", "2022-03-02 11:00:00", 0.1),
      // every rate NULL: the group keeps its row, with NULL stats
      rated("beta", "2022-03-01 10:00:00", null),
      rated("beta", "2022-03-01 11:00:00", null),
      // a one-row group
      rated("gamma", "2022-03-01 10:00:00", 0.9),
      // a NULL topic is a group of its own
      rated(null, "2022-03-01 10:00:00", 0.6),
      rated(null, "2022-03-01 11:00:00", 0.3),
      rated(null, "2022-03-02 11:00:00", 0.3))
    val processed = ChartQueries.processData(aggregates(rows))
    type Stats = Seq[Option[Double]]
    def expected(rates: Seq[java.lang.Double]): Stats = {
      val v = rates.flatMap(Option(_)).map(_.doubleValue).sorted
      if (v.isEmpty) Seq.fill(8)(None)
      else {
        def q(p: Double) = v(math.max(math.ceil(p * v.size).toInt, 1) - 1)
        val (q1, q3) = (q(0.25), q(0.75))
        val iqr = q3 - q1
        Seq(q1, q(0.5), q3, v.head, v.last, iqr,
          math.max(v.head, q1 - 1.5 * iqr), math.min(v.last, q3 + 1.5 * iqr)).map(Some(_))
      }
    }
    def stats(r: Row, from: Int): Stats =
      (from until from + 8).map(i => if (r.isNullAt(i)) None else Some(r.getDouble(i)))
    def date(r: Row) = r.getTimestamp(3).toInstant.toString.take(10)
    val statNames = Seq("q1", "median", "q3", "lo", "hi", "iqr", "whisker_lo", "whisker_hi")

    val byTopic = ChartQueries.positivityBoxplot(processed)
    assert(byTopic.columns.toSeq === "topic" +: statNames)
    val gotTopic = byTopic.collect().map(r => Option(r.getString(0)) -> stats(r, 1)).toMap
    val wantTopic = rows.groupBy(r => Option(r.getString(0))).map { case (k, rs) =>
      k -> expected(rs.map(_.getAs[java.lang.Double](1))) }
    assert(gotTopic === wantTopic)
    assert(gotTopic(Some("beta")) === Seq.fill(8)(None))
    assert(gotTopic(Some("gamma")) ===
      Seq(0.9, 0.9, 0.9, 0.9, 0.9, 0.0, 0.9, 0.9).map(Some(_)))

    val byDay = ChartQueries.positivityBoxplot(processed, Some("date"))
    assert(byDay.columns.toSeq === Seq("topic", "date") ++ statNames)
    val gotDay = byDay.collect().map(r =>
      (Option(r.getString(0)), r.getDate(1).toLocalDate.toString) -> stats(r, 2)).toMap
    val wantDay = rows.groupBy(r => (Option(r.getString(0)), date(r))).map { case (k, rs) =>
      k -> expected(rs.map(_.getAs[java.lang.Double](1))) }
    assert(gotDay === wantDay)
    assert(gotDay.size === 6)
  }

  test("processData enforces the serving bound with a diagnosis, before any chart runs") {
    // two topics in one hour: two kept rows against a bound of 1 — the
    // guard fires in processData itself, so no chart is ever built over
    // a partial relation, and the diagnosis names the bound
    val agg = aggregates(Seq(
      row("alpha", "2022-03-01 10:00:00", 3L),
      row("beta", "2022-03-01 10:00:00", 2L),
      row("alpha", "2022-03-01 10:00:00", 3L))) // a re-append, dedups away
    val e = intercept[IllegalArgumentException] {
      ChartQueries.processData(agg, Nil, latestWins = false, maxRows = 1)
    }
    assert(e.getMessage.contains("driver bound of 1 rows"), e.getMessage)
    // exactly at the bound the same store serves, as one partition
    val served = ChartQueries.processData(agg, Nil, latestWins = false, maxRows = 2)
    assert(served.count() === 2)
    assert(served.rdd.getNumPartitions === 1)
    assert(ChartQueries.processData(agg).count() === 2)
  }

  test("an empty processed relation gives empty emotion donut and share charts") {
    val processed = ChartQueries.processData(aggregates(Nil))
    assert(processed.count() === 0)
    assert(ChartQueries.emotionDonut(processed).count() === 0)
    Seq("date", "date_hour").foreach(l =>
      assert(ChartQueries.emotionShare(processed, l).count() === 0, l))
  }

  test("an empty processed relation gives empty counts donut and positivity-by-topic charts") {
    val processed = ChartQueries.processData(aggregates(Nil))
    assert(ChartQueries.countsDonut(processed).count() === 0)
    assert(ChartQueries.positivityByTopic(processed).count() === 0)
  }
}
