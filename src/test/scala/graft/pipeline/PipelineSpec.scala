package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.SparkSpec

class PipelineSpec extends SparkSpec {

  private def enrichedFixture = {
    import spark.implicits._
    Seq(
      ("alpha", "positive", "joy"),
      ("alpha", "negative", "joy"),
      ("alpha", "positive", "fear"),
      ("alpha", null, "anger"), // null sentiment counts as non-positive (<=>)
      ("beta", "negative", "sadness"),
      ("beta", "negative", "sadness")
    ).toDF("topic", "sentiment", "emotion")
  }

  test("hourly aggregate: one per-topic grouping, pinned columns") {
    import spark.implicits._
    // a NULL topic must not reach the output: the reference's inner
    // join on `topic_agg === topic` dropped it
    val withNullTopic = enrichedFixture
      .union(Seq[(String, String, String)]((null, "positive", "joy")).toDF())
    val agg = HourlyAggregate.aggregate(withNullTopic)
    val labels = KeywordEmotionClassifier.labels
    assert(agg.columns.toSeq ===
      Seq("topic_agg", "positivity_rate", "counts", "topic") ++ labels)
    assert(agg.schema.map(_.dataType.typeName) ===
      Seq("string", "double", "long", "string") ++ labels.map(_ => "long"))
    val out = agg.orderBy("topic_agg").collect()
    assert(out.length === 2)
    assert(out.map(_.getAs[String]("topic")).toSeq === Seq("alpha", "beta"))
    val alpha = out.head
    assert(alpha.getAs[String]("topic_agg") === "alpha")
    // 2 positives / 4 rows, null counted as 0 not null
    assert(alpha.getAs[Double]("positivity_rate") === 0.5)
    assert(alpha.getAs[Long]("counts") === 4)
    assert(alpha.getAs[Long]("joy") === 2)
    assert(alpha.getAs[Long]("fear") === 1)
    assert(alpha.getAs[Long]("surprise") === 0) // explicit label, counted 0
    val beta = out(1)
    assert(beta.getAs[Double]("positivity_rate") === 0.0)
    assert(beta.getAs[Long]("sadness") === 2)
  }

  test("runOnce appends the event-hour stamp as created_at, the last column") {
    import spark.implicits._
    // a one-hour lake, cut into the date/hour partitions readHour reads
    val lake = java.nio.file.Files.createTempDirectory("pipeline_lake").toString + "/lake"
    Seq(("a1", "spark is fast", "alpha"), ("b1", "slow and small", "beta"))
      .toDF("key", "text", "topic")
      .withColumn("created_at", to_timestamp(lit("2022-03-01 10:20:00")))
      .withColumn("date", lit("2022-03-01")).withColumn("hour", lit("10"))
      .write.partitionBy("date", "hour").parquet(lake)
    var appended: Option[DataFrame] = None
    val capture = new AggregateSink {
      override def append(df: DataFrame): Unit = appended = Some(df)
      override def readBack(s: SparkSession): DataFrame = appended.get
    }
    val sched = new HourlyScheduler(spark, lake, capture)
    assert(sched.runOnce(java.time.LocalDateTime.of(2022, 3, 1, 11, 30)) === 2)
    val out = appended.get
    assert(out.columns.toSeq === Seq("topic_agg", "positivity_rate", "counts", "topic") ++
      KeywordEmotionClassifier.labels :+ "created_at")
    assert(out.schema("created_at").dataType === TimestampType)
    val stamps = out.select("created_at").distinct().collect()
    // parsed in the session time zone (UTC in every graft session)
    assert(stamps.map(_.getTimestamp(0).toInstant.toString).toSeq ===
      Seq("2022-03-01T10:00:00Z"))
    assert(!HourlyAggregate.aggregate(enrichedFixture).columns.contains("created_at"))
  }

  test("lexicon sentiment: positive wins ties, negatives flip") {
    import spark.implicits._
    val df = Seq(
      (1, "spark is fast and big"),  // 3 positive hits
      (2, "slow and small and dup"), // 3 negative hits
      (3, "neutral words only here") // 0-0 tie -> positive
    ).toDF("id", "text")
    val got = LexiconSentimentClassifier.annotate(df, "text")
      .orderBy("id").select("sentiment").as[String].collect()
    assert(got === Array("positive", "negative", "positive"))
  }

  test("keyword emotion: first-match keyword order, then length fallback") {
    import spark.implicits._
    val df = Seq(
      (1, "the slow fast mix"),   // slow (anger) checked before fast (joy)
      (2, "a fast one"),          // joy
      (3, "xx")                   // no keyword -> length 2 % 6 = 2 -> joy
    ).toDF("id", "text")
    val got = KeywordEmotionClassifier.annotate(df, "text")
      .orderBy("id").select("emotion").as[String].collect()
    assert(got === Array("anger", "joy", "joy"))
  }

  test("end-to-end serving aggregate invariants on harness data") {
    val agg = graft.operators.ServingQueries.pipelineAggregateQ.run(spark, sf001)
    val labels = KeywordEmotionClassifier.labels
    val bad = agg.filter(
      labels.map(col).reduce(_ + _) =!= col("counts") ||
        col("positivity_rate") < 0 || col("positivity_rate") > 1)
    assert(bad.count() === 0, "emotion counts must sum to group count; rate in [0,1]")
  }
}
