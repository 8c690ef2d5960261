package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Minimal JSON text builder (no dependency beyond the JDK). */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"not a finite number: $x")
    java.lang.Double.toString(x)
  }
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => str(k) + ": " + v }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}

/** State of one benchmark run: operation counts, check failures, and the
  * metrics it reports. */
final class Run(val seed: Long, val seconds: Int, val tracer: Tracer, val scratch: File, startMs: Long) {
  object ops {
    var attempted = 0L
    var failed = 0L
    def attempt(): Unit = attempted += 1
    def fail(): Unit = failed += 1
  }
  val errors = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val extras = mutable.LinkedHashMap.empty[String, String]
  private var round = 0
  private var lakeBuildNs = 0L

  def expect(ok: Boolean, msg: => String): Unit = if (!ok) errors += msg
  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit = layers(name) = (value, unit)
  def extra(name: String, json: String): Unit = extras(name) = json

  /** `round_ms` is the median wall time of the run's timed rounds; the
    * rounds themselves are kept beside the result. */
  def rounds(ms: Seq[Double]): Unit = {
    metric("round_ms", Pipeline.median(ms), "ms")
    extra("rounds_ms", Json.arr(ms.map(Json.num)))
  }

  /** A lake build done in set-up; its time is left out of `setup_s`. */
  def lakeBuild[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally lakeBuildNs += System.nanoTime() - t0
  }

  /** Untimed warm-up rounds; they are part of set-up. */
  def warmup(rounds: Int)(f: Int => Unit): Unit =
    (0 until rounds).foreach { _ => f(round); round += 1 }

  /** Whole rounds until `seconds` have passed; set-up ends here. */
  def timed(f: Int => Unit): Unit = {
    metric("setup_s", (System.currentTimeMillis() - startMs) / 1000.0 - lakeBuildNs / 1e9, "s")
    tracer.startTiming()
    val t0 = System.nanoTime()
    do {
      f(round)
      round += 1
    } while (System.nanoTime() - t0 < seconds * 1000000000L)
  }
}

object Main {
  private def opts(args: Array[String]): Map[String, String] =
    args.grouped(2).map { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}") }.toMap

  def main(args: Array[String]): Unit = {
    val code = try { body(opts(args)); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    Runtime.getRuntime.halt(code)
  }

  private def body(o: Map[String, String]): Unit = {
    if (o("workload") == "oracle_sql") {
      val oracle = graft.SparkEntry.oracleSql
      val sql = Registry.Sample.map(_._1).filter(oracle.contains).map(r => r -> Json.str(oracle(r)))
      Files.write(new File(o("out")).toPath, Json.obj(Seq("oracle_sql" -> Json.obj(sql))).getBytes(StandardCharsets.UTF_8))
      return
    }
    val cores = o("cores").toInt
    val scratch = new File(o("scratch"))
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", new File(scratch, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(scratch, "spark-local").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation", new File(scratch, "checkpoints").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val trace = o("trace") == "1"
      val tracer = if (trace) Tracer.on(spark) else Tracer.off
      val run = new Run(o("seed").toLong, o("seconds").toInt, tracer, scratch, o("start-ms").toLong)
      // one tiny untimed action: session start-up belongs to no layer
      spark.range(1L << 16).selectExpr("sum(id) AS s").write.format("noop").mode("overwrite").save()
      o("workload") match {
        case "hourly_replay" => Pipeline.hourlyReplay(spark, run)
        case "registry_sample" => Registry.run(spark, run, o("sf-dir"))
        case "train" => return // session start only: records the class-data archive
        case w => sys.error(s"unknown workload $w")
      }
      val reported =
        if (trace) run.layers ++ run.metrics.map { case (k, v) => s"trace.$k" -> v }
        else run.metrics
      val json = Json.obj(Seq(
        "correct" -> run.errors.isEmpty.toString,
        "attempted" -> run.ops.attempted.toString,
        "failed" -> run.ops.failed.toString,
        "metrics" -> Json.obj(reported.toSeq.map { case (k, (v, u)) =>
          k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
        "errors" -> Json.arr(run.errors.take(20).map(Json.str).toSeq)) ++ run.extras.toSeq)
      Files.write(new File(o("out")).toPath, json.getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }
}
