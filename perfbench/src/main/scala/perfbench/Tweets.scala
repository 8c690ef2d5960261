package perfbench

import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import graft.streaming.KafkaMsg

/** One generated tweet; it is sent once per topic it matches. */
final case class Tweet(id: Long, createdAtMs: Long, text: String, topics: Seq[String])

/** One Kafka-shaped message (FIXTURES.md §A). `hour` is the event-hour
  * index of the tweet's `created_at`, counted from [[Tweets.Epoch]]. */
final case class Message(key: String, value: String, topic: String, hour: Int, tweet: Tweet) {
  def toKafka: KafkaMsg = KafkaMsg(key.getBytes("UTF-8"), value.getBytes("UTF-8"), topic)
}

/** Seeded tweet generator. The program sees only the messages it builds;
  * the same seed always gives the same messages.
  *
  *  - topics: the reference's five rule tags, skewed 34/26/20/12/8 %;
  *  - fan-out: 5 % of tweets match two rules and are sent to both topics;
  *  - texts: 3 to 40 words drawn from a vocabulary that holds both
  *    classifier lexicons, words that contain an emotion keyword without
  *    being one ("slowly", "duplicate"), non-ASCII words and emoji
  *    (outside the BMP, so characters and UTF-16 units differ), quotes
  *    and backslashes that need JSON escaping, and double spaces;
  *  - 1 % of texts are longer than 512 characters (the reference
  *    classifier's maximum length). */
final class Tweets(seed: Long) {
  import Tweets._

  private val rnd = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L)

  def int(n: Int): Int = rnd.nextInt(n)
  def chance(p: Double): Boolean = rnd.nextDouble() < p

  private def pickTopic(): String = {
    val u = rnd.nextDouble()
    var acc = 0.0
    Topics.zip(TopicWeights).find { case (_, w) => acc += w; u < acc }.map(_._1).getOrElse(Topics.last)
  }

  private def word(): String = {
    val u = rnd.nextDouble()
    val pool =
      if (u < 0.12) Positive else if (u < 0.22) Negative else if (u < 0.30) Near
      else if (u < 0.36) NonAscii else if (u < 0.38) Awkward else Neutral
    pool(rnd.nextInt(pool.length))
  }

  private def text(): String = {
    val n = if (chance(0.01)) 110 + rnd.nextInt(40) else 3 + rnd.nextInt(38)
    val sb = new StringBuilder
    (0 until n).foreach { i =>
      if (i > 0) sb.append(if (chance(0.02)) "  " else " ")
      sb.append(word())
    }
    sb.toString
  }

  /** `n` tweets whose `created_at` falls in event-hour `hour`. */
  def hourOfTweets(hour: Int, n: Int): IndexedSeq[Tweet] = (0 until n).map { i =>
    val first = pickTopic()
    val topics =
      if (chance(0.05)) Seq(first, Topics.filterNot(_ == first)(rnd.nextInt(Topics.length - 1)))
      else Seq(first)
    Tweet(
      id = 1510000000000000000L + hour.toLong * 10000000L + i,
      createdAtMs = Epoch.toEpochMilli + hour * 3600000L + rnd.nextInt(3600000),
      text = text(),
      topics = topics)
  }

  /** Shuffle in place (Fisher-Yates), seeded. */
  def shuffle[T](xs: mutable.ArrayBuffer[T]): Unit =
    for (i <- xs.indices.reverse if i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = xs(i); xs(i) = xs(j); xs(j) = t
    }
}

object Tweets {
  val Topics: Seq[String] = Seq("Zelensky", "Putin", "Biden", "NATO", "NoFlyZone")
  val TopicWeights: Seq[Double] = Seq(0.34, 0.26, 0.20, 0.12, 0.08)
  val Epoch: Instant = Instant.parse("2022-04-02T00:00:00Z")

  private val Positive = Array("good", "great", "fast", "love", "win", "best", "big", "value", "spark")
  private val Negative = Array("bad", "terrible", "slow", "worst", "hate", "small", "dup")
  private val Near = Array("slowly", "filter", "filtered", "duplicate", "valued", "sparkling", "Fast", "fasting")
  private val NonAscii = Array("Україна", "мир", "Слава", "São", "Zürich", "日本", "🇺🇦", "💙💛", "naïve", "café")
  private val Awkward = Array("\"breaking\"", "back\\slash", "tab\there", "#StandWithUkraine", "@user_42", "https://t.co/x1Y2z3")
  private val Neutral = Array("the", "war", "news", "today", "people", "support", "talks", "peace",
    "border", "aid", "sanctions", "meeting", "statement", "video", "report", "city", "army",
    "leaders", "update", "live", "no", "fly", "zone", "press", "vote", "world", "energy", "gas")

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(ZoneOffset.UTC)

  /** Start of event-hour `hour`, as the scheduler's clock sees it (UTC). */
  def hourStart(hour: Int): LocalDateTime =
    LocalDateTime.ofInstant(Epoch.plusSeconds(hour * 3600L), ZoneOffset.UTC)

  private def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\t' => sb.append("\\t")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** The tweet's copies, one per matching rule, keyed as the reference's
    * producer keys them: `TOPIC[:2].upper() + id`. */
  def messages(t: Tweet, hour: Int): Seq[Message] = {
    val rules = t.topics.map(tp => s"""{"id": "${1510000000000L + Topics.indexOf(tp)}", "tag": "$tp"}""")
    val value =
      s"""{"data": {"id": "${t.id}", "created_at": "${tsFmt.format(Instant.ofEpochMilli(t.createdAtMs))}", """ +
        s""""text": ${jsonString(t.text)}}, "matching_rules": [${rules.mkString(", ")}]}"""
    t.topics.map(tp => Message(tp.take(2).toUpperCase + t.id, value, tp, hour, t))
  }
}
