package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame

/** Dev tool: time one registry query (or a named sub-stage) k times at a
  * given SF — `runMain graft.BenchOne <name> [reps] [sfDir]`. Stages let
  * the expensive operators be attributed (signature computation vs
  * candidate join vs verification) without touching Bench. Each rep
  * also prints `compiles=<n>`, the classes Janino compiled during it:
  * a repeated rep that compiles anything is missing the codegen cache. */
object BenchOne {
  private def embOf(s: org.apache.spark.sql.SparkSession, sf: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    Tables.embeddings(s, sf).select(col("vec_id"),
      functions.VectorFunctions.toDouble(col("embedding")).as("v"))
  }

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("d04_dedup_simhash")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val stages: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] = Map(
      "d04_sig" -> ((s, sf) => operators.DedupOps.simhashFingerprints(Tables.documents(s, sf))),
      "d03_sig" -> ((s, sf) => operators.DedupOps.minhashSignatures(Tables.documents(s, sf))),
      "d03_cand" -> ((s, sf) => operators.DedupOps.rawCandidatePairs(Tables.documents(s, sf))),
      "d14_sig" -> ((s, sf) => operators.DedupOps.portableSignatures(Tables.documents(s, sf))),
      "d14_cand" -> ((s, sf) => operators.DedupOps.portableCandidatePairs(Tables.documents(s, sf))),
      "d15_fp" -> ((s, sf) => operators.DedupOps.portableSimhashFingerprints(Tables.documents(s, sf))),
      "lake_knn_exact" -> ((s, sf) => sources.SignatureLake.exactProbeGraph(s, sf)),
      "lake_ann_buckets" -> ((s, sf) => sources.SignatureLake.portableAnnBuckets(s, sf)),
      "lake_bands" -> ((s, sf) => sources.SignatureLake.portableBandKeys(s, sf)),
      "s02_approx" -> ((s, sf) => operators.SimilarityOps.knnLsh(embOf(s, sf))),
      "s04_approx" -> ((s, sf) => operators.SimilarityOps.knnIvfKmeans(embOf(s, sf))),
      "s0x_exact" -> ((s, sf) => operators.SimilarityOps.knnGraphExact(
        embOf(s, sf), operators.SimilarityOps.GraphSampleMod,
        operators.SimilarityOps.PortableKnnK)),
      "s17_graph" -> ((s, sf) => operators.SimilarityOps.knnGraphExact(
        embOf(s, sf).filter(org.apache.spark.sql.functions.col("vec_id")
          % operators.SimilarityOps.GraphSampleMod === 0),
        1, operators.SimilarityOps.GraphK)
        .filter(org.apache.spark.sql.functions.col("mutual"))),
      "m09_phash" -> ((s, sf) => operators.MultimodalOps.perceptualHashes(
        operators.MultimodalOps.phashAuditUniverse(s, sf))),
      "m09_pairs" -> ((s, sf) => operators.DedupOps.simhashPairsMulti(
        operators.MultimodalOps.perceptualHashes(
          operators.MultimodalOps.phashAuditUniverse(s, sf))
          .withColumnRenamed("phash", "sh0"),
        Seq("sh0"), operators.MultimodalOps.PhashMaxHamming)),
      "s17_peel" -> ((s, sf) => operators.SimilarityOps.kCorePeel(
        operators.SimilarityOps.knnGraphExact(
          embOf(s, sf).filter(org.apache.spark.sql.functions.col("vec_id")
            % operators.SimilarityOps.GraphSampleMod === 0),
          1, operators.SimilarityOps.GraphK)
          .filter(org.apache.spark.sql.functions.col("mutual"))
          .select("src_id", "dst_id"))))
    val fn = stages.getOrElse(name,
      SparkEntry.queries.getOrElse(name, sys.error(s"unknown query/stage '$name'")))

    val doCount = sys.env.get("SPARK_GRAFT_COUNT").contains("1")
    (1 to reps).foreach { i =>
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      val extra =
        if (doCount) s" rows=${fn(spark, sfDir).count()}"
        else { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); "" }
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      println(f"[benchone] $name rep $i: ${(System.nanoTime() - t0) / 1e9}%.3f s compiles=$compiles$extra")
    }
    spark.stop()
  }
}
