package graft.streaming

import graft.SparkSpec

/** The st* gate rows' one load-bearing property the oracle cannot see:
  * the replay harness itself is DETERMINISTIC — the schedule (sort,
  * slice, reverse, sentinels) and the watermark sequence it induces
  * produce the exact same finalized relation on every run, so a gate
  * hash is a statement about the operator, never about scheduling
  * luck. */
class StreamReplaySpec extends SparkSpec {

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("two replays of the same slice produce identical relations (st01/st04)") {
    val t1 = canon(StreamReplay.streamTransitionsQ.run(spark, sf001))
    val t2 = canon(StreamReplay.streamTransitionsQ.run(spark, sf001))
    assert(t1.nonEmpty && t1 === t2, "transition replay must be run-invariant")
    val s1 = canon(StreamReplay.streamSessionsQ.run(spark, sf001))
    val s2 = canon(StreamReplay.streamSessionsQ.run(spark, sf001))
    assert(s1.nonEmpty && s1 === s2, "session replay must be run-invariant")
  }

  test("replay restores the session's shuffle-partition conf") {
    val retain = "spark.sql.streaming.minBatchesToRetain"
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val keys = Seq("spark.sql.shuffle.partitions", retain, noData)
    val prior = spark.conf.getAll
    // one replay conf explicitly set, one unset: both restore paths run
    spark.conf.set(retain, "7")
    spark.conf.unset(noData)
    try {
      val before = keys.map(spark.conf.getOption)
      StreamReplay.streamGapsQ.run(spark, sf001).collect()
      assert(keys.map(spark.conf.getOption) === before)
      assert(spark.conf.getAll.get(noData) === None,
        "a conf the session had not set must be unset again after the replay")
    } finally Seq(retain, noData).foreach { k =>
      prior.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("the replay harness feeds each batch as one micro-batch, keeps a sink failure's cause and cleans up") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val prefix = s"graft_harness_spec_${System.nanoTime()}_"
    val roots = Seq(Paths.get("/dev/shm"), Paths.get(System.getProperty("java.io.tmpdir")))
      .filter(Files.isDirectory(_))
    def leftovers(): Seq[String] = roots.flatMap { r =>
      val ls = Files.list(r)
      try ls.toArray.map(_.toString).filter(_.contains(prefix)).toSeq finally ls.close()
    }
    val batches = Seq(Seq(3L, 1L), Seq(2L), Seq(6L, 4L, 5L))
    val seen = Seq.newBuilder[(Long, Seq[Long])]
    StreamReplay.replay(spark, prefix, batches)(_.toDF("v").writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        seen += id -> b.as[Long].collect().toSeq.sorted; ()
      })
    assert(seen.result() === batches.map(_.sorted).zipWithIndex
      .map { case (b, i) => i.toLong -> b })
    assert(leftovers().isEmpty, "a finished replay must delete its checkpoint")

    val boom = new IllegalStateException("sink failure")
    val err = intercept[Exception] {
      StreamReplay.replay(spark, prefix, batches)(_.toDF("v").writeStream
        .foreachBatch { (_: DataFrame, _: Long) => throw boom })
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(_ eq boom), s"the sink's exception must be the failure's cause: $err")
    assert(spark.streams.active.isEmpty, "a failed replay must stop its query")
    assert(leftovers().isEmpty, "a failed replay must delete its checkpoint")
  }

  test("st02 stream credits equal the batch q45 relation on the replay slice") {
    import org.apache.spark.sql.functions.col
    val slice = graft.Tables.events(spark, sf001)
      .filter(col("user_id") % StreamReplay.UserMod === 0)
    val batch = canon(graft.operators.TemporalOps.attribution(slice))
    val stream = canon(StreamReplay.streamAttributionQ.run(spark, sf001))
    assert(stream === batch,
      "stream-computed credits must equal the batch twin in-engine, not only vs DuckDB")
  }

  test("st08 stream dedup equals the undeduplicated batch aggregate on the slice") {
    import org.apache.spark.sql.functions._
    // the gate claim restated in-engine: duplicates injected into the
    // stream are invisible — the sink aggregate equals the PLAIN batch
    // aggregate of the slice, which never saw a duplicate at all
    val slice = graft.Tables.events(spark, sf001)
      .filter(col("user_id") % StreamReplay.UserMod === 0)
    val batch = canon(slice.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("event_id")).as("id_sum")))
    val stream = canon(StreamReplay.streamDedupQ.run(spark, sf001))
    assert(stream === batch,
      "injected duplicates must vanish at the sink")
  }

  private def rmTree(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
    }
  }

  test("st14 micro-batch retry is idempotent: re-running a batchId leaves the store unchanged") {
    import org.apache.spark.sql.functions._
    import graft.operators.ChartRegistry
    val docs = graft.Tables.documents(spark, sf001)
    val bucket = col("doc_id") % ChartRegistry.HourBuckets
    val isLate = (bucket % ChartRegistry.LateHourMod === 3) &&
      (col("doc_id") % ChartRegistry.LateDocMod === 0)
    val initial = docs.filter(!isLate)
    val sink = ChartRegistry.freshSink(spark, sf001, "st14retry")
    sink.append(ChartRegistry.aggregatesPlanFrom(initial))
    val stagingRoot = java.nio.file.Files.createTempDirectory("graft_st14_retry")
    try {
      val staging = stagingRoot.toString + "/docs"
      val late = docs.filter(isLate).select("doc_id", "source", "text")
      assert(late.count() > 0, "the late slice must be non-empty for the retry to mean anything")
      StreamReplay.st14UpsertBatch(spark, sink, initial, staging, late, 0L)
      val once = canon(graft.serving.ChartQueries.processData(sink.readBack(spark)))
      val storeOnce = sink.readBack(spark).count()
      // the at-least-once event: Structured Streaming re-delivers the
      // SAME batchId after a crash-before-commit. Overwrite staging +
      // full-hour recompute must make this a no-op.
      StreamReplay.st14UpsertBatch(spark, sink, initial, staging, late, 0L)
      assert(canon(graft.serving.ChartQueries.processData(sink.readBack(spark))) === once,
        "a replayed batchId must not change what the store serves")
      assert(sink.readBack(spark).count() === storeOnce,
        "a replayed batchId must not inflate the store's physical rows")
    } finally rmTree(stagingRoot)
  }

  test("st14 stop/restart from checkpoint serves exactly the full-corpus relation") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.ChartRegistry
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf001)
    val bucket = col("doc_id") % ChartRegistry.HourBuckets
    val isLate = (bucket % ChartRegistry.LateHourMod === 3) &&
      (col("doc_id") % ChartRegistry.LateDocMod === 0)
    val initial = docs.filter(!isLate)
    val sink = ChartRegistry.freshSink(spark, sf001, "st14restart")
    sink.append(ChartRegistry.aggregatesPlanFrom(initial))
    val stagingRoot = java.nio.file.Files.createTempDirectory("graft_st14_restart")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_st14_restart_ckpt")
    try {
      val staging = stagingRoot.toString + "/docs"
      val source = MemoryStream[StreamReplay.DocRow]
      def startQ() = source.toDS().toDF("doc_id", "source", "text")
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          StreamReplay.st14UpsertBatch(spark, sink, initial, staging, b, id)
        }
        .option("checkpointLocation", ckpt.toString)
        .start()
      val late = docs.filter(isLate).select("doc_id", "source", "text")
        .as[StreamReplay.DocRow].collect().sortBy(_.doc_id).toSeq
      assert(late.size >= 2, "need at least two late docs to split across a restart")
      val (c1, c2) = late.splitAt(late.size / 2)
      // first query processes half the late slice, then STOPS
      val q1 = startQ()
      try { source.addData(c1: _*); q1.processAllAvailable() } finally q1.stop()
      // a fresh query resumes from the SAME checkpoint — committed
      // offsets must not be re-upserted, new data must be
      val q2 = startQ()
      try { source.addData(c2: _*); q2.processAllAvailable() } finally q2.stop()
      val served = canon(graft.serving.ChartQueries.processData(sink.readBack(spark)))
      val full = canon(graft.serving.ChartQueries.processData(
        ChartRegistry.aggregatesPlanFrom(docs)))
      assert(served.nonEmpty && served === full,
        "after restart-from-checkpoint the store must serve exactly the full-corpus relation")
    } finally { rmTree(stagingRoot); rmTree(ckpt) }
  }
}
