package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Small shared relational patterns. */
object Relational {

  /** Append a scalar aggregate of `df` (aliased Column) to every row —
    * the empty-frame-window (`… OVER ()`) alternative that avoids a
    * single-partition WindowExec: the one-row aggregate broadcasts and
    * cross-joins back. For grand totals over a partitioned relation
    * (CoreQueries' share and global-mean rows); over a one-partition
    * relation a keyless window plans neither the join nor an exchange,
    * so the dashboard charts use that instead. */
  def withGlobal(df: DataFrame, agg: Column): DataFrame =
    df.crossJoin(broadcast(df.agg(agg)))

  /** A local relation over already-collected `rows` on `spark`: the
    * plan holds the rows themselves, so it outlives whatever produced
    * them (a memory sink's view, persisted blocks, a dropped table) and
    * runs under `spark`'s confs. Callers bound `rows` — this is for
    * small driver-side results, never a corpus. */
  def localize(spark: SparkSession, rows: Array[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private val SaltCol = "__graft_salt"

  /** Salted equi-join for skewed probe keys — the declarative fallback
    * when a hot key would pin one shuffle partition. AQE's runtime
    * skew-join split covers sort-merge joins; salting is the tool for
    * the cases AQE can't re-plan (e.g. a skewed key feeding a
    * downstream stateful op, or a deliberately pre-partitioned
    * pipeline). The mechanics are the classic construction: the big
    * side gets a uniform salt in [0, saltFactor), the small side is
    * replicated once per salt value, and the join key becomes
    * (keys..., salt) — the hot key's rows spread over saltFactor
    * partitions at the cost of |small| · saltFactor build rows.
    *
    * The salt is `rand(seed)`-derived: which salt a row gets is
    * irrelevant to the join RESULT (every salt matches the replicated
    * small side), so nondeterministic task retries can't change the
    * output, only the balance.
    *
    * groupBy skew note: algebraic aggregates (sum/count/min/max/avg)
    * don't need salting — hash aggregation combines map-side, so a hot
    * group arrives pre-reduced. Salting aggregation only pays for
    * holistic aggregates (collect_list/percentile) — do it with the
    * same two columns. */
  def saltedJoin(
      big: DataFrame, small: DataFrame, keys: Seq[String],
      saltFactor: Int, seed: Long = 42L): DataFrame = {
    require(saltFactor >= 1, "saltFactor must be >= 1")
    val salted = big.withColumn(SaltCol, (rand(seed) * saltFactor).cast("int"))
    val replicated = small.withColumn(
      SaltCol, explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated, keys :+ SaltCol).drop(SaltCol)
  }
}
