package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Destination for hourly aggregate rows — the reference's MongoDB
  * append sink (SURVEY.md §2.1 S4/S5; functions.py:117,
  * streamlit/main.py:34-39) behind a trait.
  *
  * Default implementation appends to parquet: same append-only,
  * re-readable contract, no external service. A MongoDB implementation
  * would wire `mongo-spark-connector` behind the same two methods;
  * the serving layer is source-agnostic (it reads whatever
  * `readBack` returns and dedups re-appended batches itself, exactly
  * like the reference dashboard does).
  */
trait AggregateSink {
  /** Append one batch of aggregate rows (at-least-once allowed —
    * the serving layer dedups). */
  def append(df: DataFrame): Unit
  /** Read the full aggregate history back for serving. */
  def readBack(spark: SparkSession): DataFrame
}

final class ParquetAggregateSink(path: String) extends AggregateSink {
  override def append(df: DataFrame): Unit =
    df.write.mode("append").parquet(path)
  override def readBack(spark: SparkSession): DataFrame =
    spark.read.parquet(path)
}

/** Append-only sink with explicit COMPACTION — the parquet analogue of
  * the reference's Mongo replace-upsert, and the closing piece of the
  * at-least-once story: replays and corrected re-appends accumulate in
  * the store, and `compact()` collapses them to one row per
  * (topic, hour) under the serving layer's own dedup rule (latest-wins
  * by default, so a late-data backfill supersedes the first write —
  * see ChartQueries.processData). Serving reads stay correct WITHOUT
  * compaction (processData dedups on read); compaction bounds store
  * growth and read cost.
  *
  * The rewrite is distributed (no driver materialization): it reads
  * the serving rule as the lazy
  * [[graft.serving.ChartQueries.processPlan]], not the driver-collected
  * processData, so the executors write the compacted rows to a fresh
  * generation directory, and the swap is two renames. A crash between
  * the renames leaves `path` absent with the
  * previous generation staged at `path+".old"` — every entry point
  * runs [[recover]] first, which restores the staged generation, so
  * no window silently loses history.
  *
  * latestWins defaults to the serving layer's OWN default (keep-first,
  * reference parity) so a default-constructed sink's compaction never
  * changes what a default serving read returns; pass latestWins=true
  * when the deployment serves corrections (and reads the same way). */
final class CompactingAggregateSink(
    path: String, latestWins: Boolean = false) extends AggregateSink {
  private val inner = new ParquetAggregateSink(path)
  private def dir = new java.io.File(path)
  private def staged = new java.io.File(path + ".old")

  /** Heal a crash between compact's two renames: `path` missing with a
    * staged previous generation present → restore it. Idempotent. */
  def recover(): Unit =
    if (!dir.exists() && staged.exists())
      require(staged.renameTo(dir), s"could not restore staged generation of $path")

  override def append(df: DataFrame): Unit = { recover(); inner.append(df) }
  override def readBack(spark: SparkSession): DataFrame = { recover(); inner.readBack(spark) }

  /** One row per (topic, hour), serving-dedup rule applied. */
  def compact(spark: SparkSession): Unit = compact(spark, _ => ())

  /** [[compact]] with a labeled fault-injection point after each
    * state-changing step; production goes through the no-op overload,
    * and SinkCrashSpec throws at every label to prove each crash
    * window self-heals. Labels, in order: "written" (new generation
    * complete at the tmp path, store untouched), "staged" (store
    * renamed away — the window where `path` does not exist),
    * "published" (new generation live, old generation still staged). */
  private[pipeline] def compact(
      spark: SparkSession, crashPoint: String => Unit): Unit = {
    recover()
    publishGeneration(graft.serving.ChartQueries
      .processPlan(inner.readBack(spark), latestWins = latestWins)
      .drop("date_hour", "date", "hour"), // derived on read, not stored
      crashPoint)
  }

  /** Retention vacuum: physically drop every stored row older than
    * `keepFrom` (a `yyyy-MM-dd HH:mm:ss` boundary — align it to an
    * hour so the cut can never split a (topic, hour) window). Same
    * two-rename publish as [[compact]], so a crash at any point
    * self-heals through [[recover]]; serving reads between vacuums
    * stay correct either way — retention only bounds store size and
    * read cost, it is not load-bearing for dedup. On a hive-
    * partitioned production store this rewrite degenerates to a
    * partition DROP (delete whole `date=`/`hour=` directories +
    * manifest update) — never a row-level rewrite of the survivors;
    * the flat test store pays the rewrite because it has no
    * partition directories to drop. */
  def vacuum(spark: SparkSession, keepFrom: String): Unit =
    vacuum(spark, keepFrom, _ => ())

  private[pipeline] def vacuum(
      spark: SparkSession, keepFrom: String, crashPoint: String => Unit): Unit = {
    recover()
    publishGeneration(inner.readBack(spark)
      .filter(org.apache.spark.sql.functions.col("created_at") >=
        java.sql.Timestamp.valueOf(keepFrom)),
      crashPoint)
  }

  /** Hour-level UPSERT — the remaining CRUD leg of the store
    * lifecycle (append ✓ / compact ✓ / vacuum ✓ / replace): swap in
    * recomputed rows for exactly the hours the batch carries, leaving
    * every other hour's stored bytes untouched in content. The hour
    * set is derived from the batch itself (distinct truncated
    * created_at), broadcast into a left-anti join against the store —
    * an incremental-recompute consumer (c23/st14) never has to name
    * its hours twice. Same two-rename publish as [[compact]], so
    * every crash window self-heals through [[recover]]. On a hive-
    * partitioned production store this is dynamic partition overwrite
    * (replace only the touched `date=`/`hour=` directories); the flat
    * test store pays a full rewrite because it has no partitions. */
  def replaceHours(spark: SparkSession, recomputed: DataFrame): Unit =
    replaceHours(spark, recomputed, _ => ())

  private[pipeline] def replaceHours(spark: SparkSession,
      recomputed: DataFrame, crashPoint: String => Unit): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col, date_trunc}
    recover()
    // materialize the batch OFF the store before the swap: the
    // recomputed plan may read the store being rewritten (the staging
    // windows would race that scan). The spill is a distributed
    // parquet write — NOT a driver collect(), so the contract holds
    // at any caller grain (a raw-grain recompute is merely slower,
    // never a driver OOM); the .compacting/.old swap machinery never
    // sees this path, it only feeds the generation plan.
    val tmpBatch = path + ".upsert_batch"
    // sweep a stale spill left by a JVM crash inside a PREVIOUS
    // replaceHours (the finally below normally deletes it). The sweep
    // lives HERE, not in recover(): replaceHours is the spill's only
    // writer, so at the start of a new call any existing copy is an
    // orphan — whereas a sweep on the shared recover() path could
    // delete a LIVE spill out from under a concurrent upsert when
    // append()/readBack() interleave with it.
    deleteRecursively(new java.io.File(tmpBatch))
    recomputed.write.mode("overwrite").parquet(tmpBatch)
    try {
      val batch = spark.read.parquet(tmpBatch)
      val hours = batch
        .select(date_trunc("hour", col("created_at")).as("__h")).distinct()
      val kept = inner.readBack(spark)
        .join(broadcast(hours),
          date_trunc("hour", col("created_at")) === col("__h"), "left_anti")
      publishGeneration(kept.unionByName(batch), crashPoint)
    } finally deleteRecursively(new java.io.File(tmpBatch))
  }

  /** The shared generation swap: write the new generation to a tmp
    * dir, stage the old one away, publish, drop the staged copy. The
    * crash windows (labels "written" / "staged" / "published") are
    * identical for every rewriting maintenance op, so SinkCrashSpec's
    * proofs cover compact and vacuum alike. */
  private def publishGeneration(
      generation: DataFrame, crashPoint: String => Unit): Unit = {
    val tmp = path + ".compacting"
    generation.write.mode("overwrite").parquet(tmp)
    crashPoint("written")
    deleteRecursively(staged)
    require(dir.renameTo(staged), s"could not stage old generation of $path")
    crashPoint("staged")
    require(new java.io.File(tmp).renameTo(dir), s"could not publish compaction of $path")
    crashPoint("published")
    deleteRecursively(staged)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }
}
