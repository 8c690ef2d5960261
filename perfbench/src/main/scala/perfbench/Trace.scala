package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** What Spark did inside one span: the span's wall time, and the jobs,
  * tasks and task metrics the listener saw while it was open.
  * `driverMs` is the part of the wall time during which no Spark job ran:
  * DataFrame construction, planning, collects and file listing. */
final case class SpanRec(
    wallMs: Double, jobs: Long, tasks: Long, taskCpuMs: Double,
    driverMs: Double, shuffleBytes: Long, spillBytes: Long)

/** Spans around the calls into each layer of the program. The untraced
  * run uses [[Tracer.off]], which registers no listener and only runs the
  * body, so the end-to-end figures carry no tracing cost. */
trait Tracer {
  def span[T](name: String)(body: => T): T
  /** Spans recorded after [[startTiming]]; with `setUp`, also those before. */
  def records(name: String, setUp: Boolean = false): Seq[SpanRec]
  /** Marks the end of set-up: later spans and progress events are timed. */
  def startTiming(): Unit
  def progress: Seq[StreamingQueryProgress]
  def enabled: Boolean
}

object Tracer {
  val off: Tracer = new Tracer {
    def span[T](name: String)(body: => T): T = body
    def records(name: String, setUp: Boolean): Seq[SpanRec] = Nil
    def startTiming(): Unit = ()
    def progress: Seq[StreamingQueryProgress] = Nil
    def enabled = false
  }

  def on(spark: SparkSession): Tracer = new SparkTracer(spark)
}

private final class SparkTracer(spark: SparkSession) extends Tracer {
  private val lock = new Object
  private var jobs = 0L
  private var tasks = 0L
  private var cpuNs = 0L
  private var shuffle = 0L
  private var spill = 0L
  private val running = mutable.Map.empty[Int, Long]
  private val finished = mutable.ArrayBuffer.empty[(Long, Long)]
  private var timing = false
  private val spans = mutable.LinkedHashMap.empty[(String, Boolean), mutable.ArrayBuffer[SpanRec]]
  private val progresses = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      jobs += 1; running(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      running.remove(e.jobId).foreach(s => finished += ((s, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      tasks += 1
      Option(e.taskMetrics).foreach { m =>
        cpuNs += m.executorCpuTime
        shuffle += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized { if (timing) progresses += e.progress }
  })

  def enabled = true

  def progress: Seq[StreamingQueryProgress] = lock.synchronized(progresses.toList)

  def startTiming(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    lock.synchronized { timing = true }
  }

  def records(name: String, setUp: Boolean): Seq[SpanRec] = lock.synchronized {
    (if (setUp) spans.getOrElse((name, false), Nil) else Nil) ++ spans.getOrElse((name, true), Nil)
  }.toList

  private def busyMs(from: Long, to: Long): Long = {
    val iv = (finished.toList ++ running.values.map(s => (s, to)))
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L; var end = from
    iv.foreach { case (s, e) =>
      if (e > end) { busy += e - math.max(s, end); end = e }
    }
    busy
  }

  def span[T](name: String)(body: => T): T = {
    PerfbenchBus.drain(spark.sparkContext)
    val (j0, t0, c0, s0, p0) = lock.synchronized((jobs, tasks, cpuNs, shuffle, spill))
    val w0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body
    finally {
      val wallNs = System.nanoTime() - n0
      val w1 = System.currentTimeMillis()
      PerfbenchBus.drain(spark.sparkContext)
      lock.synchronized {
        val wallMs = wallNs / 1e6
        val driver = math.max(0.0, wallMs - busyMs(w0, w1))
        spans.getOrElseUpdate((name, timing), mutable.ArrayBuffer.empty) += SpanRec(
          wallMs, jobs - j0, tasks - t0, (cpuNs - c0) / 1e6, driver, shuffle - s0, spill - p0)
      }
    }
  }
}
