package graft

import java.util.concurrent.ConcurrentHashMap

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
  *
  * It also holds the two session-scoped helpers the long-lived session
  * relies on: [[Memo]], for artifacts derived once per session, and
  * [[withConfs]], for confs set only while one block runs.
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

  /** A value derived once per (session, `K`) and reused while that
    * session lives: a lake family, a trained codebook, a fixture.
    *
    * Entries are keyed by session identity, so a stopped session's
    * entries are never served to a live one, and every [[apply]] first
    * drops them (a JVM that cycles sessions must not pin their graphs).
    * The sweep is explicit rather than a weak key: a cached `DataFrame`
    * holds its session strongly, so a weak key would never clear.
    *
    * A build must not re-enter the same memo: a nested
    * `computeIfAbsent` on one map throws `Recursive update`. Builds
    * that read another artifact either resolve it before `apply` or
    * read it from a different memo instance. */
  final class Memo[K, V] {
    private val entries = new ConcurrentHashMap[(SparkSession, K), V]()

    /** The value for (`spark`, `key`), built by `build` on first use. */
    def apply(spark: SparkSession, key: K)(build: => V): V = {
      entries.keySet().removeIf(_._1.sparkContext.isStopped)
      entries.computeIfAbsent((spark, key), _ => build)
    }

    /** Remove every entry of `spark` and return their values, so the
      * caller can release what they hold (drop a table). */
    def drop(spark: SparkSession): Seq[V] = {
      val dropped = Seq.newBuilder[V]
      entries.entrySet().removeIf { e =>
        val mine = e.getKey._1 eq spark
        if (mine) dropped += e.getValue
        mine
      }
      dropped.result()
    }
  }

  /** Run `body` with `confs` set on the session, then put every key
    * back as it was — its earlier explicit value, or unset if it had
    * none — however `body` ends. */
  def withConfs[A](spark: SparkSession, confs: Seq[(String, String)])(
      body: => A): A = {
    val explicit = spark.conf.getAll
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally confs.foreach { case (k, _) =>
      explicit.get(k) match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
  }
}
