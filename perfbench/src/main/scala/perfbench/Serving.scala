package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.pipeline.AggregateSink
import graft.serving.ChartQueries

/** A full dashboard refresh through `serving.ChartQueries`: `processData`
  * over the sink's read-back, then every chart at the Global, Day
  * (`date`) and Hour (`date_hour`) levels, each collected as the
  * dashboard would. */
object Serving {
  val Levels: Seq[String] = Seq("date", "date_hour")

  /** Every chart of a refresh, by name, as a function of the processed
    * aggregates. */
  val Charts: Seq[(String, DataFrame => DataFrame)] = Seq[(String, DataFrame => DataFrame)](
    "processed" -> identity,
    "emotion_donut" -> ChartQueries.emotionDonut,
    "counts_donut" -> ChartQueries.countsDonut,
    "positivity_topic" -> ChartQueries.positivityByTopic,
    "boxplot" -> (ChartQueries.positivityBoxplot(_)),
    "latest" -> (ChartQueries.latestInputs(_))) ++
    Levels.flatMap(l => Seq[(String, DataFrame => DataFrame)](
      s"emotion_share_$l" -> (ChartQueries.emotionShare(_, l)),
      s"counts_period_$l" -> (ChartQueries.countsPeriod(_, l)),
      s"counts_topic_period_$l" -> (ChartQueries.countsTopicPeriod(_, l)),
      s"positivity_period_$l" -> (ChartQueries.positivityPeriod(_, l)),
      s"boxplot_$l" -> (ChartQueries.positivityBoxplot(_, Some(l)))))

  def refresh(spark: SparkSession, sink: AggregateSink, tracer: Tracer): Map[String, Array[Row]] =
    tracer.span("serving.refresh") {
      val processed = ChartQueries.processData(sink.readBack(spark))
      Charts.map { case (name, chart) =>
        name -> tracer.span(s"serving.chart.$name")(chart(processed).collect())
      }.toMap
    }

  private def near1(x: Double) = math.abs(x - 1.0) < 1e-9

  /** Properties every refresh must have, whatever the sink holds. */
  def check(c: Map[String, Array[Row]]): Seq[String] = {
    val errs = Seq.newBuilder[String]
    def expect(ok: Boolean, msg: => String): Unit = if (!ok) errs += msg
    val processed = c("processed")
    val keys = processed.map(r => (r.getAs[String]("topic"), r.getAs[Timestamp]("date_hour")))
    expect(keys.distinct.length == keys.length, "processData: more than one row per topic x date_hour")
    processed.foreach { r =>
      val emo = Expected.Emotions.map(e => r.getAs[Long](e)).sum
      expect(emo == r.getAs[Long]("counts"),
        s"processData: emotion counts $emo != counts ${r.getAs[Long]("counts")} for ${r.getAs[String]("topic")}")
    }
    val total = processed.map(_.getAs[Long]("counts")).sum
    def sumL(rows: Array[Row], col: String) = rows.map(_.getAs[Long](col)).sum
    def sumD(rows: Array[Row], col: String) = rows.map(_.getAs[Double](col)).sum
    expect(sumL(c("emotion_donut"), "counts") == total, "emotion donut total != processData counts")
    expect(near1(sumD(c("emotion_donut"), "percent")), "emotion donut shares do not sum to 1")
    expect(sumL(c("counts_donut"), "counts") == total, "counts donut total != processData counts")
    expect(near1(sumD(c("counts_donut"), "percent")), "counts donut shares do not sum to 1")
    Levels.foreach { l =>
      expect(sumL(c(s"counts_period_$l"), "counts") == total, s"counts_period_$l total != processData counts")
      c(s"emotion_share_$l").groupBy(_.getAs[Any](l)).foreach { case (b, rows) =>
        expect(near1(sumD(rows, "percent")), s"emotion_share_$l: shares in bucket $b do not sum to 1")
      }
      c(s"counts_topic_period_$l").groupBy(_.getAs[Any](l)).foreach { case (b, rows) =>
        expect(near1(sumD(rows, "share")), s"counts_topic_period_$l: shares in bucket $b do not sum to 1")
      }
    }
    (Seq("boxplot") ++ Levels.map(l => s"boxplot_$l")).foreach { n =>
      c(n).filterNot(r => r.isNullAt(r.fieldIndex("median"))).foreach { r =>
        val (lo, med, hi) = (r.getAs[Double]("whisker_lo"), r.getAs[Double]("median"), r.getAs[Double]("whisker_hi"))
        expect(lo <= med && med <= hi, s"$n: whisker_lo $lo <= median $med <= whisker_hi $hi fails")
      }
    }
    errs.result()
  }

  /** The hour-level chart's volume per topic for one event-hour. */
  def hourCounts(c: Map[String, Array[Row]], hourStart: Timestamp): Map[String, Long] =
    c("counts_topic_period_date_hour")
      .filter(r => r.getAs[Timestamp]("date_hour") == hourStart)
      .map(r => r.getAs[String]("topic") -> r.getAs[Long]("counts")).toMap
}
