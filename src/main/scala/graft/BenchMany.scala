package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Dev tool: time SEVERAL registry queries/stages in one JVM —
  * `runMain graft.BenchMany <name,name,...> [reps] [sfDir]` — so an
  * optimization pass can compare a dozen rows without paying sbt+JVM
  * startup per row (BenchOne's loop, lifted over a name list). Prints
  * per-name min/all times and each rep's Janino compiles (BenchOne's
  * `compiles=`); same noop-sink methodology as Bench. A
  * leading `lake!` token pre-materializes the shared lake families
  * (untimed) so serve rows are measured in the same regime as Bench.
  */
object BenchMany {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("d04_dedup_simhash").split(",").map(_.trim).filter(_.nonEmpty)
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // one tiny untimed action (Bench's discipline): session startup +
    // codegen-cache classloading belongs to no query
    spark.range(1L << 16).selectExpr("sum(id) AS s")
      .write.format("noop").mode("overwrite").save()

    val (lakeFirst, queryNames) = names.partition(_ == "lake!")
    if (lakeFirst.nonEmpty) {
      val t0 = System.nanoTime()
      sources.SignatureLake.families.foreach { case (_, build) => build(spark, sfDir) }
      println(f"[benchmany] lake builds: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }

    queryNames.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query '$name'"))
      val (times, compiles) = (1 to reps).map { _ =>
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        ((System.nanoTime() - t0) / 1e9, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
      }.unzip
      println(f"[benchmany] $name min=${times.min}%.3f s all=${times.map(t => f"$t%.2f").mkString(",")}" +
        s" compiles=${compiles.mkString(",")}")
    }
    spark.stop()
  }
}
