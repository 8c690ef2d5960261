package perfbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.pipeline.{AggregateSink, CompactingAggregateSink, HourlyScheduler}
import graft.streaming.{KafkaMsg, TweetIngest}

/** Delegating sink: times each call into the real sink when tracing, and
  * keeps every batch the scheduler appends so it can be checked. */
final class CheckedSink(inner: CompactingAggregateSink, tracer: Tracer) extends AggregateSink {
  val appended = mutable.ArrayBuffer.empty[DataFrame]
  override def append(df: DataFrame): Unit = {
    tracer.span("pipeline.sink.append")(inner.append(df))
    appended += df
  }
  override def readBack(spark: SparkSession): DataFrame =
    tracer.span("pipeline.sink.read_back")(inner.readBack(spark))
  def compact(spark: SparkSession): Unit = tracer.span("pipeline.sink.compact")(inner.compact(spark))
}

/** Splits each event-hour's messages into micro-batches. `latePct` of an
  * hour's messages are held back and delivered with the next hour's
  * batches (late, but well inside the 2-hour watermark);
  * `redeliverPct` more messages per batch are exact copies of messages
  * already handed over in this or the previous hour (at-least-once
  * producer retries). */
final class Schedule(gen: Tweets, perHour: Int, batches: Int, latePct: Double, redeliverPct: Double) {
  private var held = IndexedSeq.empty[Message]
  private var recent = IndexedSeq.empty[Message]

  def hour(h: Int): IndexedSeq[IndexedSeq[Message]] = {
    val all = gen.hourOfTweets(h, perHour).flatMap(t => Tweets.messages(t, h))
    val (late, onTime) = all.partition(_ => gen.chance(latePct))
    val pool = mutable.ArrayBuffer.from(onTime ++ held)
    gen.shuffle(pool)
    held = late
    val size = (pool.size + batches - 1) / batches
    val chunks = pool.grouped(size).map(_.toIndexedSeq).toIndexedSeq
    var seen = recent
    val out = chunks.map { chunk =>
      val from = seen ++ chunk
      val copies = (0 until math.round(chunk.size * redeliverPct).toInt).map(_ => from(gen.int(from.size)))
      seen = seen ++ chunk
      chunk ++ copies
    }
    recent = chunks.flatten
    out
  }
}

/** The reference dataflow, driven in a closed loop: a micro-batch is
  * handed to the `MemoryStream` only after the previous one has been
  * processed. Ingest → parquet lake → `HourlyScheduler.runOnce` →
  * `CompactingAggregateSink` → `ChartQueries`. */
final class Pipeline(spark: SparkSession, run: Run) {
  import Pipeline._

  private val tracer = run.tracer
  private val lake = new File(run.scratch, "lake").getPath
  private val sink = new CheckedSink(
    new CompactingAggregateSink(new File(run.scratch, "aggregates").getPath), tracer)
  private val scheduler = new HourlyScheduler(spark, lake, sink)
  private val source = MemoryStream[KafkaMsg](spark.implicits.newProductEncoder[KafkaMsg], spark.sqlContext)
  private val query = TweetIngest.startLake(
    TweetIngest.dedupedParse(source.toDF()), lake, new File(run.scratch, "checkpoint").getPath)
  val expected = new Expected
  /** First aggregate appended per event-hour: what keep-first serving must show. */
  private val firstAppend = mutable.HashMap.empty[Int, Map[String, AggRow]]

  val ingestNs = mutable.ArrayBuffer.empty[Long]
  var ingestEvents = 0L

  /** Hands one micro-batch over and waits until it is processed. */
  def ingest(batch: IndexedSeq[Message], timed: Boolean): Long = {
    val rows = batch.map(_.toKafka)
    val t0 = System.nanoTime()
    tracer.span("streaming.micro_batch") {
      source.addData(rows)
      query.processAllAvailable()
    }
    val ns = System.nanoTime() - t0
    expected.deliver(batch)
    if (timed) { ingestNs += ns; ingestEvents += batch.size }
    run.ops.attempt()
    ns
  }

  /** Closes event-hour `h` with one scheduler cycle and checks the batch
    * it appends against the independent aggregate. */
  def cycle(h: Int): Long = {
    val before = sink.appended.size
    val t0 = System.nanoTime()
    val n = tracer.span("pipeline.cycle")(scheduler.runOnce(Tweets.hourStart(h + 1).plusMinutes(30)))
    val ns = System.nanoTime() - t0
    run.ops.attempt()
    val want = expected.aggregate(h)
    firstAppend.getOrElseUpdate(h, want)
    run.expect(n == want.size, s"cycle for hour $h appended $n rows, expected ${want.size}")
    sink.appended.drop(before).foreach { df =>
      val got = df.collect().map(r => r.getAs[String]("topic") -> aggRow(r)).toMap
      run.expect(got == want, s"cycle for hour $h appended ${got.toSeq.sortBy(_._1)}, expected ${want.toSeq.sortBy(_._1)}")
    }
    ns
  }

  def compact(): Long = {
    val t0 = System.nanoTime()
    sink.compact(spark)
    run.ops.attempt()
    System.nanoTime() - t0
  }

  def refresh(): (Long, Map[String, Array[Row]]) = {
    val t0 = System.nanoTime()
    val charts = Serving.refresh(spark, sink, tracer)
    val ns = System.nanoTime() - t0
    run.ops.attempt()
    Serving.check(charts).foreach(e => run.expect(ok = false, e))
    (ns, charts)
  }

  /** The `hour_visible` operation: the hour-level chart must show
    * event-hour `h` with the counts of its first appended aggregate. */
  def hourVisible(h: Int, charts: Map[String, Array[Row]]): Boolean = {
    val got = Serving.hourCounts(charts, Timestamp.from(Tweets.Epoch.plusSeconds(h * 3600L)))
    val want = firstAppend.getOrElse(h, Map.empty).map { case (t, a) => t -> a.counts }
    run.ops.attempt()
    val ok = want.nonEmpty && got == want
    if (!ok) run.ops.fail()
    ok
  }

  /** Stops the stream and checks the lake against the delivered keys. */
  def finish(): Unit = {
    query.stop()
    val rows = spark.read.schema(TweetIngest.lakeSchema).parquet(lake).count()
    run.expect(rows == expected.lakeRows, s"lake holds $rows rows, expected ${expected.lakeRows}")
    if (tracer.enabled) {
      val files = listFiles(new File(lake)).filter(_.getName.endsWith(".parquet"))
      run.layer("streaming.lake_rows_per_fed", rows.toDouble / expected.handed, "ratio")
      run.layer("streaming.lake_files", files.size.toDouble, "count")
      run.layer("streaming.lake_bytes", files.map(_.length).sum.toDouble, "bytes")
      val sinkFiles = listFiles(new File(run.scratch, "aggregates")).filter(_.getName.endsWith(".parquet"))
      run.layer("pipeline.sink.files", sinkFiles.size.toDouble, "count")
      val stored = sink.readBack(spark)
      val live = stored.select("topic", "created_at").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).toInstant.getEpochSecond / 3600)).distinct.length
      run.layer("pipeline.sink.rows_per_live_topic_hour", stored.count().toDouble / math.max(1, live), "ratio")
      streamingLayers(tracer)
    }
  }

  private def streamingLayers(t: Tracer): Unit = {
    val ps = t.progress.filter(_.numInputRows > 0)
    def dur(k: String) = median(ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    run.layer("streaming.add_batch_ms", dur("addBatch"), "ms")
    run.layer("streaming.query_planning_ms", dur("queryPlanning"), "ms")
    run.layer("streaming.wal_commit_ms", dur("walCommit"), "ms")
    run.layer("streaming.commit_offsets_ms", dur("commitOffsets"), "ms")
    val st = ps.flatMap(_.stateOperators.headOption)
    run.layer("streaming.state_rows", st.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count")
    run.layer("streaming.state_memory_bytes", st.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes")
    run.layer("streaming.state_commit_ms", median(st.map(_.commitTimeMs.toDouble)), "ms")
    run.layer("streaming.watermark_dropped", st.map(_.numRowsDroppedByWatermark).sum.toDouble, "count")
    val mb = t.records("streaming.micro_batch")
    run.layer("streaming.micro_batch_ms", median(mb.map(_.wallMs)), "ms")
    run.layer("streaming.jobs_per_batch", median(mb.map(_.jobs.toDouble)), "count")
    run.layer("streaming.ingest_eps", ingestEvents / (ingestNs.sum / 1e9), "1/s")
  }
}

object Pipeline {
  def aggRow(r: Row): AggRow = AggRow(
    r.getAs[Long]("counts"), r.getAs[Double]("positivity_rate"),
    Expected.Emotions.map(e => e -> r.getAs[Long](e)).toMap)

  def listFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(listFiles) else if (f.isFile) Seq(f) else Nil

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Per-layer figures of the cycle and refresh spans. */
  def spanLayers(run: Run, prefix: String): Unit = {
    val rs = run.tracer.records(prefix)
    run.layer(s"$prefix.ms", median(rs.map(_.wallMs)), "ms")
    run.layer(s"$prefix.jobs", median(rs.map(_.jobs.toDouble)), "count")
    run.layer(s"$prefix.tasks", median(rs.map(_.tasks.toDouble)), "count")
    run.layer(s"$prefix.driver_ms", median(rs.map(_.driverMs)), "ms")
    run.layer(s"$prefix.task_cpu_ms", median(rs.map(_.taskCpuMs)), "ms")
  }

  /** `hourly_replay`: many modest event-hours. Each hour is ingested in
    * micro-batches, closed by a cycle, given one sink operation, and
    * followed by a full dashboard refresh and the `hour_visible` check.
    * Hour 0 is the untimed warm-up. A timed round is two hours: the first
    * compacts the sink, the second re-runs the first hour's cycle (an
    * at-least-once re-append). Every round is the same operations, so
    * what a round costs and the share of failed operations do not depend
    * on how many rounds a run makes. */
  def hourlyReplay(spark: SparkSession, run: Run): Unit = {
    val p = new Pipeline(spark, run)
    val sched = new Schedule(new Tweets(run.seed), perHour = 2000, batches = 2, latePct = 0.02, redeliverPct = 0.02)
    val rounds = mutable.ArrayBuffer.empty[Double]
    val fresh = mutable.ArrayBuffer.empty[Double]
    def hour(h: Int, reappend: Boolean, timed: Boolean): Long = {
      val batches = sched.hour(h)
      var ns = 0L
      batches.init.foreach(b => ns += p.ingest(b, timed))
      val tLast = System.nanoTime()
      ns += p.ingest(batches.last, timed)
      ns += p.cycle(h)
      ns += (if (reappend) p.cycle(h - 1) else p.compact())
      val (r, charts) = p.refresh()
      ns += r
      val tEnd = System.nanoTime()
      p.hourVisible(h, charts)
      if (timed) fresh += (tEnd - tLast) / 1e6
      ns
    }
    run.warmup(rounds = 1)(_ => hour(0, reappend = false, timed = false))
    run.timed { r =>
      val ns = hour(2 * r - 1, reappend = false, timed = true) + hour(2 * r, reappend = true, timed = true)
      rounds += ns / 1e6
    }
    p.finish()
    run.rounds(rounds.toSeq)
    if (run.tracer.enabled) {
      run.layer("pipeline.freshness_ms", median(fresh.toSeq), "ms")
      spanLayers(run, "pipeline.cycle")
      spanLayers(run, "serving.refresh")
      sinkLayers(run)
      chartLayers(run)
    }
  }

  private def sinkLayers(run: Run): Unit =
    Seq("append", "read_back", "compact").foreach { k =>
      run.layer(s"pipeline.sink.${k}_ms", median(run.tracer.records(s"pipeline.sink.$k").map(_.wallMs)), "ms")
    }

  private def chartLayers(run: Run): Unit =
    Serving.Charts.foreach { case (n, _) =>
      run.layer(s"serving.chart.${n}_ms", median(run.tracer.records(s"serving.chart.$n").map(_.wallMs)), "ms")
    }
}
