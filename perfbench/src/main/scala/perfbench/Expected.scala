package perfbench

import scala.collection.mutable

/** One hourly aggregate row as the program must produce it. */
final case class AggRow(counts: Long, positivityRate: Double, emotions: Map[String, Long])

/** The pipeline's expected output, computed from the generated messages
  * alone, without Spark. It applies the documented rules:
  *
  *  - ingest (`TweetIngest.dedupedParse`): a message whose key was
  *    already delivered is a redelivery and is dropped. Every redelivery
  *    and late event the generator makes stays well inside the 2-hour
  *    watermark, so nothing is dropped as late;
  *  - a cycle (`HourlyScheduler.runOnce`) aggregates what the lake holds
  *    for its event-hour when it runs: a late event counts only in the
  *    cycles that run after it was delivered;
  *  - classifiers (`pipeline/Classifiers.scala`): sentiment is positive
  *    iff the text has at least as many positive-lexicon tokens as
  *    negative ones (tokens split on single spaces, exact match); emotion
  *    is the first label whose keyword is a substring of the text, else
  *    the label at (number of characters mod 6);
  *  - aggregate (`HourlyAggregate`): per topic, `counts`, the positive
  *    share rounded half-up to 2 decimals, and the six emotion counts. */
final class Expected {
  import Expected._

  private val delivered = mutable.HashSet.empty[String]
  private val cells = mutable.HashMap.empty[(Int, String), Cell]
  var handed = 0L

  /** Record a micro-batch as handed to the stream; returns the number of
    * its messages that are new keys (the rows the lake must gain). */
  def deliver(batch: Seq[Message]): Long = {
    handed += batch.size
    batch.count { m =>
      val fresh = delivered.add(m.key)
      if (fresh) cells.getOrElseUpdate((m.hour, m.topic), new Cell).add(m.tweet.text)
      fresh
    }.toLong
  }

  def lakeRows: Long = delivered.size.toLong

  /** The aggregate a cycle for event-hour `hour` must append now. */
  def aggregate(hour: Int): Map[String, AggRow] =
    cells.collect { case ((h, topic), c) if h == hour && c.n > 0 => topic -> c.row }.toMap
}

object Expected {
  val Emotions: Seq[String] = Seq("anger", "fear", "joy", "love", "sadness", "surprise")
  private val positive = Set("good", "great", "fast", "love", "win", "best", "big", "value", "spark")
  private val negative = Set("bad", "terrible", "slow", "worst", "hate", "small", "dup")
  private val keywords = Seq("slow" -> "anger", "filter" -> "fear", "fast" -> "joy",
    "value" -> "love", "dup" -> "sadness", "spark" -> "surprise")

  def sentimentPositive(text: String): Boolean = {
    val tokens = text.split(" ", -1)
    tokens.count(positive) >= tokens.count(negative)
  }

  def emotion(text: String): String =
    keywords.collectFirst { case (kw, label) if text.contains(kw) => label }
      .getOrElse(Emotions(text.codePointCount(0, text.length) % 6))

  def round2(x: Double): Double =
    BigDecimal(java.lang.Double.toString(x)).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

  private final class Cell {
    var n = 0L
    var pos = 0L
    val emo = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    def add(text: String): Unit = {
      n += 1
      if (sentimentPositive(text)) pos += 1
      emo(emotion(text)) += 1
    }
    def row: AggRow = AggRow(n, round2(pos.toDouble / n), Emotions.map(e => e -> emo(e)).toMap)
  }
}
