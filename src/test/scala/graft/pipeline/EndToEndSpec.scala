package graft.pipeline

import java.nio.file.Files
import java.time.LocalDateTime

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.serving.ChartQueries
import graft.streaming.{KafkaMsg, TweetIngest}

/** Full reference-pipeline parity: stream fixture tweets → parquet lake
  * → hourly scheduler (classify + aggregate + sink append, twice to
  * simulate a replayed hour) → serving chart queries. */
class EndToEndSpec extends SparkSpec {

  private def msg(id: Int, topic: String, createdAt: String, text: String): KafkaMsg =
    KafkaMsg(
      key = s"${topic.take(2).toUpperCase}$id".getBytes("UTF-8"),
      value = s"""{"data": {"id": "$id", "created_at": "$createdAt", "text": "$text"}}""".getBytes("UTF-8"),
      topic = topic)

  private val hour10 = Seq(
    msg(1, "alpha", "2022-03-01T10:05:00Z", "spark is fast and big"),
    msg(2, "alpha", "2022-03-01T10:25:00Z", "this is slow and small"),
    msg(3, "alpha", "2022-03-01T10:45:00Z", "big value here"),
    msg(4, "beta", "2022-03-01T10:15:00Z", "dup dup dup"),
    msg(5, "beta", "2022-03-01T10:55:00Z", "neutral words entirely"))

  test("ingest -> scheduler -> sink -> serving charts") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val lake = Files.createTempDirectory("e2e_lake").toString
    val ckpt = Files.createTempDirectory("e2e_ckpt").toString
    val aggPath = Files.createTempDirectory("e2e_agg").toString + "/aggregates"

    // 1. streaming ingest
    val source = MemoryStream[KafkaMsg]
    source.addData(hour10: _*)
    val q = TweetIngest.startLake(TweetIngest.parse(source.toDF()), lake, ckpt)
    q.processAllAvailable(); q.stop()

    // 2. hourly batch at 11:xx aggregates hour 10; run twice (replay)
    val sink = new ParquetAggregateSink(aggPath)
    val sched = new HourlyScheduler(spark, lake, sink)
    val now = LocalDateTime.of(2022, 3, 1, 11, 30)
    assert(sched.runOnce(now) === 2) // two topics
    assert(sched.runOnce(now) === 2) // replayed append
    // empty partition -> 0, no crash (reference would throw)
    assert(sched.runOnce(LocalDateTime.of(2022, 3, 1, 9, 30)) === 0)

    // the per-cycle enriched cache must be released after the sink
    // write. The SignatureLake is a DELIBERATE session-scoped cache
    // (earlier suites may have populated it via the d11p row) — drop
    // it first so this assertion stays about the pipeline's own frames
    graft.sources.SignatureLake.invalidate(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "runOnce must unpersist its enriched frame")

    val raw = sink.readBack(spark)
    assert(raw.count() === 4) // duplicated batch in the sink
    // every row is stamped with the event-hour it aggregates (10:00),
    // not the processing time, so a replay shares its hour's stamp
    assert(raw.select("created_at").distinct().collect()
      .map(_.getTimestamp(0).toInstant.toString).toSeq === Seq("2022-03-01T10:00:00Z"))

    // 3. serving layer dedups the replay
    val processed = ChartQueries.processData(raw)
    assert(processed.count() === 2)

    val alpha = processed.filter(col("topic") === "alpha").collect().head
    // alpha: positive, negative, positive -> 2/3 = 0.67
    assert(alpha.getAs[Double]("positivity_rate") === 0.67)
    assert(alpha.getAs[Long]("counts") === 3)

    // emotions: alpha texts -> joy("fast"), anger("slow"), love("value")
    assert(alpha.getAs[Long]("joy") === 1)
    assert(alpha.getAs[Long]("anger") === 1)
    assert(alpha.getAs[Long]("love") === 1)

    // chart invariants
    val donut = ChartQueries.countsDonut(processed).agg(sum("percent")).collect().head.getDouble(0)
    assert(math.abs(donut - 1.0) < 1e-9)
    val shares = ChartQueries.emotionShare(processed, "date_hour")
      .groupBy("date_hour").agg(sum("percent").as("s")).collect()
    shares.foreach(r => assert(math.abs(r.getAs[Double]("s") - 1.0) < 1e-9))
    val box = ChartQueries.positivityBoxplot(processed).collect()
    box.foreach { r =>
      assert(r.getAs[Double]("whisker_lo") <= r.getAs[Double]("median"))
      assert(r.getAs[Double]("median") <= r.getAs[Double]("whisker_hi"))
    }
    assert(ChartQueries.latestInputs(processed).count() === 2)
    assert(ChartQueries.emotionDonut(processed)
      .agg(sum("counts")).collect().head.getLong(0) === 5)
  }

  test("a steady-state cycle compiles no generated class") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val lake = Files.createTempDirectory("e2e_lake_c").toString
    val ckpt = Files.createTempDirectory("e2e_ckpt_c").toString
    val source = MemoryStream[KafkaMsg]
    source.addData(hour10 ++ Seq(
      msg(11, "alpha", "2022-03-01T11:05:00Z", "fast and big again"),
      msg(12, "beta", "2022-03-01T11:35:00Z", "small and slow"),
      msg(13, "beta", "2022-03-01T11:50:00Z", "value words")): _*)
    val q = TweetIngest.startLake(TweetIngest.parse(source.toDF()), lake, ckpt)
    q.processAllAvailable(); q.stop()

    val sink = new ParquetAggregateSink(
      Files.createTempDirectory("e2e_agg_c").toString + "/agg")
    val sched = new HourlyScheduler(spark, lake, sink)
    assert(sched.runOnce(LocalDateTime.of(2022, 3, 1, 11, 30)) === 2)
    // the next hour runs the same plans over another partition: nothing
    // of the hour (its partition, its stamp) may reach generated code,
    // so every class comes from Spark's codegen cache
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(sched.runOnce(LocalDateTime.of(2022, 3, 1, 12, 30)) === 2)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled === 0, s"the second hour's cycle compiled $compiled classes")
  }

  test("runOnce enforces the bounded-grain contract with a diagnosis, not an OOM") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val lake = Files.createTempDirectory("e2e_lake_g").toString
    val ckpt = Files.createTempDirectory("e2e_ckpt_g").toString
    val source = MemoryStream[KafkaMsg]
    source.addData(hour10: _*)
    val q = TweetIngest.startLake(TweetIngest.parse(source.toDF()), lake, ckpt)
    q.processAllAvailable(); q.stop()

    val aggPath = Files.createTempDirectory("e2e_agg_g").toString + "/agg"
    val sink = new ParquetAggregateSink(aggPath)
    // two topics in hour 10, bound of 1 -> the guard must fire BEFORE
    // anything is appended, and name the bound in its diagnosis
    val tight = new HourlyScheduler(spark, lake, sink, maxDriverRows = 1)
    val e = intercept[IllegalArgumentException] {
      tight.runOnce(LocalDateTime.of(2022, 3, 1, 11, 30))
    }
    assert(e.getMessage.contains("driver bound"), e.getMessage)
    assert(!new java.io.File(aggPath).exists(),
      "a guard-failed cycle must not have appended a partial batch")
    // the guard must not leak the per-cycle cache on the failure path
    graft.sources.SignatureLake.invalidate(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "guard failure path must still unpersist the enriched frame")
    // at the default bound the same cycle is fine
    val ok = new HourlyScheduler(spark, lake, sink)
    assert(ok.runOnce(LocalDateTime.of(2022, 3, 1, 11, 30)) === 2)
  }

  test("corrected re-append: keep-first preserves batch 1, latestWins serves the fix") {
    import java.sql.Timestamp
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val lake = Files.createTempDirectory("e2e_lake_lw").toString
    val ckpt = Files.createTempDirectory("e2e_ckpt_lw").toString
    val source = MemoryStream[graft.streaming.KafkaMsg]
    source.addData(hour10: _*)
    val q = TweetIngest.startLake(TweetIngest.parse(source.toDF()), lake, ckpt)
    q.processAllAvailable(); q.stop()

    val sink = new ParquetAggregateSink(
      Files.createTempDirectory("e2e_agg_lw").toString + "/agg")
    val sched = new HourlyScheduler(spark, lake, sink)
    val enriched = sched.enrich(TweetIngest.readHour(spark, lake, "2022-03-01", "10"))

    // batch 1 lands at 11:00:05; a late-data backfill re-aggregates the
    // same event hour and appends at 11:40 with corrected counts —
    // explicit stamps instead of runOnce's event-hour stamp (which
    // would give both batches 10:00 and leave only counts to order
    // them), so both share the dedup window (topic, date_hour=11:00)
    // and the correction is strictly later
    val batch1 = HourlyAggregate.aggregate(enriched)
      .withColumn("created_at", lit(Timestamp.valueOf("2022-03-01 11:00:05")))
    sink.append(batch1)
    val corrected = HourlyAggregate.aggregate(enriched)
      .withColumn("counts", col("counts") + 1) // the late tweet arrived
      .withColumn("created_at", lit(Timestamp.valueOf("2022-03-01 11:40:00")))
    sink.append(corrected)

    val raw = sink.readBack(spark)
    assert(raw.count() === 4)
    def alphaCounts(latestWins: Boolean): Long =
      ChartQueries.processData(raw, latestWins = latestWins)
        .filter(col("topic") === "alpha").collect().head.getAs[Long]("counts")
    assert(alphaCounts(latestWins = false) === 3,
      "reference-parity keep-first serves the original batch")
    assert(alphaCounts(latestWins = true) === 4,
      "latestWins serves the corrected re-append")
    assert(ChartQueries.processData(raw, latestWins = true).count() === 2,
      "dedup still collapses to one row per (topic, hour)")
  }

  test("compacting sink: replays collapse on disk, reads identical before/after") {
    import java.sql.Timestamp
    import spark.implicits._
    val aggPath = Files.createTempDirectory("e2e_compact").toString + "/agg"
    val sink = new CompactingAggregateSink(
      aggPath, latestWins = true) // this deployment serves corrections
    def batch(stamp: String, counts: Long) = Seq(
      ("alpha", 0.5, counts, Timestamp.valueOf(stamp), 1L, 0L, 0L, 0L, 0L, 1L))
      .toDF((Seq("topic", "positivity_rate", "counts", "created_at")
        ++ ChartQueries.emotions): _*)
    sink.append(batch("2022-03-01 11:00:05", 3L))
    sink.append(batch("2022-03-01 11:40:00", 4L)) // corrected re-append
    sink.append(batch("2022-03-01 12:00:10", 7L)) // next hour
    assert(sink.readBack(spark).count() === 3)

    val before = ChartQueries.processData(sink.readBack(spark), latestWins = true)
      .collect().map(r => (r.getAs[Timestamp]("created_at"), r.getAs[Long]("counts"))).toSet
    sink.compact(spark)
    assert(sink.readBack(spark).count() === 2, "one stored row per (topic, hour)")
    val after = ChartQueries.processData(sink.readBack(spark), latestWins = true)
      .collect().map(r => (r.getAs[Timestamp]("created_at"), r.getAs[Long]("counts"))).toSet
    assert(after === before, "compaction must not change what serving reads")
    assert(after.exists(_._2 == 4L), "the correction is what survives on disk")

    // appends keep working after a compaction (next generation)
    sink.append(batch("2022-03-01 13:00:00", 9L))
    assert(sink.readBack(spark).count() === 3)

    // crash window between compact's two renames: path gone, previous
    // generation staged — any entry point must restore it, not lose it
    assert(new java.io.File(aggPath).renameTo(new java.io.File(aggPath + ".old")))
    assert(sink.readBack(spark).count() === 3, "staged generation restored")
  }

  test("resilient loop survives a failing sink cycle; fail-fast propagates") {
    import java.util.concurrent.atomic.AtomicInteger
    val lake = Files.createTempDirectory("e2e_lake_r").toString
    val ckpt = Files.createTempDirectory("e2e_ckpt_r").toString
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val source = MemoryStream[KafkaMsg]
    source.addData(hour10: _*)
    val q = TweetIngest.startLake(TweetIngest.parse(source.toDF()), lake, ckpt)
    q.processAllAvailable(); q.stop()

    val calls = new AtomicInteger(0)
    val flaky = new AggregateSink {
      val inner = new ParquetAggregateSink(
        Files.createTempDirectory("e2e_agg_r").toString + "/agg")
      override def append(df: org.apache.spark.sql.DataFrame): Unit = {
        if (calls.getAndIncrement() == 0) sys.error("sink outage")
        inner.append(df)
      }
      override def readBack(s: org.apache.spark.sql.SparkSession) = inner.readBack(s)
    }
    val sched = new HourlyScheduler(spark, lake, flaky)
    // clock ticks 11:30 then 12:30 -> two cycles; first append fails
    val ticks = Iterator(
      LocalDateTime.of(2022, 3, 1, 11, 30), LocalDateTime.of(2022, 3, 1, 12, 30))
    val results = sched.loop(() => ticks.next(), cycles = 2, pollMs = 1, failFast = false)
    assert(results.head === -1L, "failed cycle reported, not fatal")
    assert(results(1) === 0L, "empty hour-11 partition -> 0 (loop survived)")

    val ticks2 = Iterator(LocalDateTime.of(2022, 3, 1, 11, 30))
    calls.set(0)
    intercept[RuntimeException] {
      sched.loop(() => ticks2.next(), cycles = 1, pollMs = 1) // failFast default
    }
  }

  test("streaming replay dedup drops redelivered keys within the watermark") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val source = MemoryStream[KafkaMsg]
    val q = TweetIngest.dedupedParse(source.toDF())
      .writeStream.format("memory").queryName("dedup_rows").outputMode("append").start()

    source.addData(hour10: _*)
    q.processAllAvailable()
    // redeliver two of the same messages (same keys) in a later batch
    source.addData(hour10.take(2): _*)
    q.processAllAvailable()
    // two DISTINCT unkeyed messages must BOTH survive (identity falls
    // back to the raw value fingerprint, not to null-key equality),
    // while an exact replay of one of them dedups. Note: replay dedup
    // is watermark-scoped, so it requires an event time — rows with
    // null created_at still avoid collapse but can't hold dedup state.
    val unkeyed = Seq(
      KafkaMsg(null,
        """{"data": {"id": "7", "created_at": "2022-03-01T10:58:00Z", "text": "uk one"}}""".getBytes,
        "alpha"),
      KafkaMsg(null,
        """{"data": {"id": "8", "created_at": "2022-03-01T10:59:00Z", "text": "uk two"}}""".getBytes,
        "alpha"))
    source.addData(unkeyed: _*)
    q.processAllAvailable()
    source.addData(unkeyed.head) // exact replay
    q.processAllAvailable()
    q.stop()
    val keys = spark.sql("SELECT key FROM dedup_rows").collect().map(_.getString(0))
    assert(keys.count(_ != null) === hour10.length,
      s"replays must be dropped, got ${keys.toSeq}")
    assert(keys.count(_ == null) === 2,
      "distinct unkeyed rows survive; the unkeyed replay dedups")
  }

  test("mapGroupsWithState: running topic stats accumulate across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val source = MemoryStream[KafkaMsg]
    val stats = graft.streaming.StatefulOps.runningTopicStats(
      TweetIngest.parse(source.toDF()))
    val q = stats.toDF().writeStream.format("memory")
      .queryName("topic_stats").outputMode("update").start()

    source.addData(hour10: _*) // alpha x3, beta x2
    q.processAllAvailable()
    source.addData(msg(9, "alpha", "2022-03-01T11:40:00Z", "one more"))
    // a topic whose only row has NO created_at (malformed JSON) must not
    // kill the query (Timestamp sentinel overflow regression)
    source.addData(KafkaMsg("G1".getBytes, """{"data": {"id": "7"}}""".getBytes, "gamma"))
    q.processAllAvailable()
    q.stop()
    // latest update per topic wins: alpha counted across both batches
    // (count is monotone, so max(count) is the latest update; max_by
    // on lastSeen would trip over gamma's all-null stamps)
    val latest = spark.sql(
      """SELECT topic, max(count) AS c FROM topic_stats GROUP BY topic""")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(latest("alpha") === 4L)
    assert(latest("beta") === 2L)
    assert(latest("gamma") === 1L, "null-created_at row still counted")
    assert(spark.sql(
      "SELECT lastSeen FROM topic_stats WHERE topic = 'gamma'")
      .collect().head.isNullAt(0), "no event time observed for gamma")
    val alphaSeen = spark.sql(
      "SELECT max(lastSeen) FROM topic_stats WHERE topic = 'alpha'")
      .collect().head.getTimestamp(0)
    assert(alphaSeen.toInstant.toString.startsWith("2022-03-01T11:40"))
  }

  test("watermarked streaming aggregation accepts late rows the batch tier drops") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val source = MemoryStream[KafkaMsg]
    val counts = TweetIngest.windowedTopicCounts(TweetIngest.parse(source.toDF()))
    val q = counts.writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()

    source.addData(hour10: _*)
    q.processAllAvailable()
    // a late hour-10 row arriving after hour-11 data: within watermark -> counted
    source.addData(msg(6, "alpha", "2022-03-01T11:20:00Z", "next hour"))
    q.processAllAvailable()
    source.addData(msg(7, "alpha", "2022-03-01T10:59:00Z", "late arrival"))
    q.processAllAvailable()
    val out = spark.sql(
      "SELECT counts FROM win_counts WHERE topic = 'alpha' AND hour(hour_start) = 10")
      .collect()
    q.stop()
    assert(out.length === 1)
    assert(out.head.getLong(0) === 4) // 3 on-time + 1 late
  }
}
