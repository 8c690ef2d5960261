package graft.serving

import java.sql.Timestamp

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
}
