package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftExtensions

/** Single place every entry point (Bench / Verify / Plans / tests)
  * builds its SparkSession from, so engine extensions and the confs the
  * engine's tables rely on are applied uniformly:
  *
  *  - `graft_dot` native expression (GraftExtensions);
  *  - shuffle partitions sized to the local core count (never the 200
  *    default — on a real cluster this comes from AQE + cluster conf);
  *  - `nanosAsLong`: events.parquet carries TIMESTAMP(NANOS), which the
  *    vectorized reader rejects; set once at session construction
  *    instead of as a side effect of every `Tables.events` load;
  *  - a generated-class cache of [[CodegenCacheEntries]] entries, so the
  *    hourly loop compiles its classes once, not once per hour.
  */
object GraftSession {

  /** Size of Spark's JVM-wide cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, LRU, Spark's default 100).
    *
    * One event-hour of the pipeline (ingest micro-batches, the
    * scheduler's cycle, the sink operation and the 16-query dashboard
    * refresh) compiles about 170 distinct classes in its first hour,
    * and the loop's working set grows to about 220 over 19 hours
    * (perfbench `hourly_replay`, `local[3]`). At 100 entries it never
    * fits: every later hour recompiled 156–166 classes with Janino.
    * 1,000 holds the loop with room for the registry rows a long-lived
    * session also runs, and a steady-state hour compiles only what its
    * plans newly contain.
    *
    * It must be set here: the conf is static, and `CodeGenerator`
    * sizes its cache once per JVM, the first time it generates code. */
  val CodegenCacheEntries: Int = 1000

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(GraftExtensions.install)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
}
