package graft.operators

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkSpec}

/** AQE skew-join handling — the runtime half of the 100 TB skew story.
  *
  * The engine's write-side answer to skew is salting
  * (`Relational.saltedJoin`) and the dedup/ANN hot-bucket caps; this
  * spec pins the READ-side answer: with AQE on (GraftSession enables
  * it), a shuffle partition that dwarfs its siblings is split into
  * per-subpartition join tasks at runtime — no code change, no salt
  * column — so one hot key cannot serialize a 1000-executor join.
  * The thresholds here are shrunk only to make a local fixture cross
  * them; production uses the defaults (256 MB / factor 5), which the
  * same mechanism serves.
  */
class AqeSkewSpec extends SparkSpec {

  test("AQE splits the skewed partition of a sort-merge join at runtime") {
    import spark.implicits._
    // force a shuffle join so the skew question is real, and shrink
    // the skew thresholds so a ~10 MB local fixture crosses them
    GraftSession.withConfs(spark, Seq(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "262144",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16384")) {
      // 99% of the left side lands on key 0 → one shuffle partition
      // holds ~14 MB while the median holds a few KB; the payload is
      // id-dependent so constant folding cannot drop it from the
      // shuffle
      val skewed = spark.range(0, 200000)
        .select(when(col("id") % 100 === 0, col("id") % 1000)
          .otherwise(lit(0L)).as("k"),
          concat(lit("x" * 64), col("id")).as("pay"))
      val dim = spark.range(0, 1000).select(col("id").as("k"), (col("id") * 7).as("v"))

      val joined = skewed.join(dim, "k")
      // materialize THIS DataFrame's query execution (count() would
      // plan and run a separate one, leaving this adaptive plan in its
      // un-executed initial state)
      assert(joined.collect().length === 200000,
        "inner join on a complete dim must keep every row")

      val finalPlan = joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case p => p.toString
      }
      assert(finalPlan.contains("SortMergeJoin"), finalPlan)
      assert(finalPlan.contains("skew=true"),
        s"AQE did not mark the hot-key join skewed:\n$finalPlan")
    }
  }
}
