package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.sources.SignatureLake

/** `registry_sample`: builds the `SignatureLake` families the sample
  * reads, then makes passes over a fixed sample of `SparkEntry.queries`
  * rows at the oracle scale (sf0.01). Each row's result is
  * written as parquet so that run.py can hash-compare it with DuckDB
  * running the row's `SparkEntry.oracleSql`. */
object Registry {

  /** The sample, with the reason each row is in it. */
  val Sample: Seq[(String, String)] = Seq(
    "q32_moments" -> "fixed cost: five one-task jobs; 4x slower at 32 cores than at 8",
    "q33_decile_buckets" -> "anti-scaling: 3.7x slower at 32 cores than at 8",
    "d11p_coverage_portable" -> "anti-scaling: 3.9x slower at 32 cores; reads five lake families",
    "s17_kcore" -> "fixed cost: 84 jobs of driver-side iteration",
    "st09_stream_content_dedup" -> "anti-scaling: 7.4 s at 32 cores vs 1.5 s at 8; stream replay",
    "d25_kmv_overlap" -> "task run time well above task CPU time",
    "d05_dedup_ngram" -> "control: derives its n-grams inline on every run",
    "d14_dedup_minhash_portable" -> "control: derives its MinHash signatures inline on every run",
    "d15_dedup_simhash_portable" -> "control: derives its SimHash fingerprints inline on every run",
    "t03_token_stats" -> "text family",
    "v09_dim_stats" -> "vector family",
    "m01_binary_meta" -> "multimodal family",
    "q57_zorder_layout" -> "layout family",
    "p01_pipeline_aggregate" -> "serving family: the reference's classify and aggregate",
    "c03_emotion_share" -> "chart family")

  /** The lake families the sample reads, built in set-up so that a pass
    * times serving, not index building. */
  val Families: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "minhash_sigs" -> SignatureLake.portableSignatures,
    "minhash_bands" -> SignatureLake.portableBandKeys,
    "simhash_fp" -> SignatureLake.portableFingerprints,
    "shingle_sets" -> SignatureLake.shingleSets,
    "ann_buckets" -> SignatureLake.portableAnnBuckets)

  def outputs(run: Run): File = new File(run.scratch, "registry")

  def run(spark: SparkSession, run: Run, sfDir: String): Unit = {
    Families.foreach { case (name, build) =>
      run.lakeBuild(run.tracer.span(s"sources.$name")(build(spark, sfDir)))
    }
    val lakeFiles = Pipeline.listFiles(new File(spark.sessionState.conf.warehousePath.stripPrefix("file:")))
      .count(_.getName.endsWith(".parquet"))
    val queries = SparkEntry.queries
    val out = outputs(run)
    val passes = mutable.ArrayBuffer.empty[Double]
    run.timed { _ =>
      var ns = 0L
      Sample.foreach { case (row, _) =>
        val t0 = System.nanoTime()
        run.tracer.span(s"operators.$row") {
          queries(row)(spark, sfDir).write.mode("overwrite").parquet(new File(out, row).getPath)
        }
        ns += System.nanoTime() - t0
        run.ops.attempt()
      }
      passes += ns / 1e6
    }
    run.rounds(passes.toSeq)
    val oracle = SparkEntry.oracleSql
    run.extra("oracle_sql", Json.obj(Sample.map(_._1).filter(oracle.contains).map(r => r -> Json.str(oracle(r)))))
    run.extra("registry_outputs", Json.str(out.getPath))
    if (run.tracer.enabled) {
      val builds = Families.map { case (name, _) => name -> run.tracer.records(s"sources.$name", setUp = true).map(_.wallMs).sum }
      builds.foreach { case (name, ms) => run.layer(s"sources.$name.ms", ms, "ms") }
      run.layer("sources.build_ms", builds.map(_._2).sum, "ms")
      run.layer("sources.files", lakeFiles.toDouble, "count")
      val recs = Sample.map { case (row, _) => row -> run.tracer.records(s"operators.$row") }
      recs.foreach { case (row, rs) =>
        run.layer(s"operators.$row.ms", Pipeline.median(rs.map(_.wallMs)), "ms")
        run.layer(s"operators.$row.jobs", Pipeline.median(rs.map(_.jobs.toDouble)), "count")
        run.layer(s"operators.$row.driver_ms", Pipeline.median(rs.map(_.driverMs)), "ms")
      }
      val all = recs.flatMap(_._2)
      val n = math.max(1, passes.size)
      run.layer("operators.sweep_ms", Pipeline.median(passes.toSeq), "ms")
      run.layer("operators.shuffle_bytes", all.map(_.shuffleBytes).sum.toDouble / n, "bytes")
      run.layer("operators.spill_bytes", all.map(_.spillBytes).sum.toDouble / n, "bytes")
    }
  }
}
