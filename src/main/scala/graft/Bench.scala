package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — driver contract: one JSON line on stdout with total
  * + per-query wall-clock seconds on SPARK_GRAFT_SF_DIR.
  *
  * Each query is forced through the `noop` sink so the full projection
  * is computed and written (a bare `.count()` would let Catalyst prune
  * every non-key column and flatter the numbers). A warmup pass runs
  * every query once first: JIT, class loading, file listings and
  * parquet footers are realities of a long-lived cluster session, not
  * of the first 30 s of a fresh JVM. Generated classes last only while
  * they fit the codegen cache, an LRU of
  * [[GraftSession.CodegenCacheEntries]] entries: a row's classes
  * survive from the warm-up to its timed reps only when the rows warmed
  * after it compiled fewer than that. A row's reps run back to back, so
  * its later reps reuse the classes its first one compiled.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def exec(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()

    // One tiny untimed action first: the very first Spark job of a
    // fresh JVM pays session startup + codegen-cache + noop-sink
    // classloading costs that belong to NO query. Without this, the
    // first timed lake family (minhash_sigs) absorbed that one-time
    // bill and the per-family build attribution below was skewed
    // (advisor, r12).
    spark.range(1L << 16).selectExpr("sum(id) AS s")
      .write.format("noop").mode("overwrite").save()

    // Materialize the SHARED lake families first and time each build —
    // these one-time derivations are index-BUILD cost, not serve cost.
    // Before this section, whichever consumer row's warmup ran first
    // paid the build invisibly, and when registry growth reshuffled
    // that order, unchanged rows' timings moved (r11: s12/s13 swung
    // 0.56→2.34 s with identical code). Pinned here, consumer rows
    // time pure serve cost and the build bill is attributed by name.
    val lakeTimes = sources.SignatureLake.families.map { case (name, build) =>
      val t0 = System.nanoTime()
      val ok = try { build(spark, sfDir); true } catch { case _: Throwable => false }
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }
    val lakeJson = lakeTimes.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("\"lake_build\":{", ",", "},")

    // warmup pass (untimed)
    SparkEntry.queries.foreach { case (_, fn) =>
      try exec(fn) catch { case _: Throwable => () }
    }

    // min-of-k per query: the harness box is multi-tenant and single
    // shots swing ~2x run to run; the minimum is the standard estimator
    // for "what the query costs" under external noise
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val times = (1 to reps).flatMap { _ =>
        val t0 = System.nanoTime()
        val ok = try { exec(fn); true } catch { case _: Throwable => false }
        if (ok) Some((System.nanoTime() - t0) / 1e9) else None
      }
      name -> (if (times.nonEmpty) times.min else -1.0)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = results.filter(_._2 < 0).map(_._1)
    // a crashed query must not flatter the total: count it loudly and
    // exit nonzero so the driver can't mistake a partial run for a full one
    val total = results.map(_._2).filter(_ >= 0).sum

    // streaming ingest throughput (separate from the query total so
    // round-over-round query comparisons stay apples-to-apples);
    // min-of-k like the queries — single shots swing ~2x on this box.
    // All parsing/formatting inside the try: a malformed env var must
    // not cost the whole bench line, and no locale-sensitive printf
    // (a comma decimal separator would corrupt the JSON).
    val stream =
      try {
        val streamRows = sys.env.getOrElse("SPARK_GRAFT_STREAM_ROWS", "30000").toInt
        val streamReps = sys.env.getOrElse("SPARK_GRAFT_STREAM_REPS", "2").toInt
        if (streamRows <= 0) ""
        else {
          val runs = (1 to streamReps).map(_ => streaming.IngestBench.run(spark, streamRows))
          val (written, sec) = runs.minBy(_._2)
          s""""stream":{"rows":$written,"sec":$sec,"rows_per_sec":${written / sec}},"""
        }
      } catch { case e: Throwable =>
        s""""stream":{"error":"${e.getClass.getSimpleName}"},"""
      }

    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""failed":${failed.length},""" +
        s""""failed_queries":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        stream + lakeJson +
        s""""sf":"$sfDir"}"""
    println(line)
    // also drop the JSON to a file: sbt decorates stdout with [info]
    // prefixes, which has broken driver-side parsing before
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_result.json"), line)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
