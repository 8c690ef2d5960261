package graft

import org.apache.spark.sql.SparkSession

/** [[GraftSession.Memo]]: one build per (session, key), and entries
  * that never cross sessions. The stopped-session sweep is not covered
  * here: a test JVM has one SparkContext, and stopping it would stop
  * every suite's session. */
class GraftSessionSpec extends SparkSpec {

  /** A memo of fresh objects that counts its builds. */
  private final class Counted {
    val memo = new GraftSession.Memo[String, AnyRef]
    var builds = 0
    def apply(s: SparkSession, key: String): AnyRef =
      memo(s, key) { builds += 1; new AnyRef }
  }

  test("memo: a repeated apply builds once and returns the same instance") {
    val m = new Counted
    val a = m(spark, "k")
    assert(m(spark, "k") eq a)
    assert(m.builds === 1)
    assert(m(spark, "other") ne a, "another key is another entry")
    assert(m.builds === 2)
  }

  test("memo: a child session from newSession() gets an entry of its own") {
    val m = new Counted
    val a = m(spark, "k")
    val child = spark.newSession()
    val c = m(child, "k")
    assert(c ne a)
    assert(m(child, "k") eq c)
    assert(m(spark, "k") eq a)
    assert(m.builds === 2)
  }

  test("memo: drop(spark) removes and returns only that session's entries") {
    val m = new Counted
    val a = m(spark, "k")
    val b = m(spark, "k2")
    val child = spark.newSession()
    val c = m(child, "k")
    val dropped = m.memo.drop(spark)
    assert(dropped.size === 2 && dropped.exists(_ eq a) && dropped.exists(_ eq b))
    assert(m(child, "k") eq c, "another session's entry must survive")
    assert(m(spark, "k") ne a, "a dropped entry must be rebuilt")
    assert(m.builds === 4)
  }
}
