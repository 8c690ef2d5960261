package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's hourly aggregation (SURVEY.md §2.5 A1-A3, §2.4 J1,
  * spark_app/functions/functions.py:97-117): per-topic positivity rate
  * joined with the per-topic emotion histogram pivoted wide.
  *
  * Improvements over the reference (SURVEY.md §3.2-8, §4):
  *  - the pivot carries the explicit label list — static output schema,
  *    no eager distinct-values job;
  *  - null-safe equality (`<=>`) on the sentiment indicator preserved.
  *
  * The enriched input is read by BOTH aggregate branches; callers that
  * execute the result (HourlyScheduler.runOnce) persist it across the
  * fan-out and release it after the sink write — persisting here would
  * leak the cache (nobody could unpersist it).
  *
  * Both aggregate outputs are ≤ |topics| rows, so Catalyst broadcast-
  * joins them regardless of input scale.
  */
object HourlyAggregate {

  /** @param enriched rows with at least (topic, sentiment, emotion)
    * @param stamp appended as `created_at` when given. The reference
    *        stamps the processing time (functions.py:104);
    *        HourlyScheduler.runOnce passes the start of the event-hour
    *        it closes instead, so the serving layer buckets each
    *        aggregate by its event-hour and a re-run of that hour
    *        carries the same stamp. Omitted for the oracle runs. */
  def aggregate(
      enriched: DataFrame,
      emotionLabels: Seq[String] = KeywordEmotionClassifier.labels,
      stamp: Option[Column] = None): DataFrame = {
    val bySentiment = enriched
      .groupBy(col("topic").as("topic_agg"))
      .agg(
        round(avg(when(col("sentiment") <=> "positive", 1).otherwise(0)), 2).as("positivity_rate"),
        count(col("topic")).as("counts"))

    val byEmotion = enriched
      .groupBy(col("topic"))
      .pivot("emotion", emotionLabels)
      .count()
      .na.fill(0)

    val joined = bySentiment
      .join(byEmotion, bySentiment("topic_agg") === byEmotion("topic"), "inner")
    stamp.fold(joined)(joined.withColumn("created_at", _))
  }
}
