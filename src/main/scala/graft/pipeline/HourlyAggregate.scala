package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's hourly aggregation (SURVEY.md §2.5 A1-A3, §2.4 J1,
  * spark_app/functions/functions.py:97-117): per-topic positivity rate
  * beside the per-topic emotion histogram, wide.
  *
  * The reference computes the two as separate aggregates and
  * inner-joins them on topic; here they are one `groupBy(topic)`
  * aggregate with one conditional count per emotion label, so the
  * input is read once and the plan holds no join. Kept from the
  * reference's shape:
  *  - the output columns and their order (`topic_agg`, the rate,
  *    `counts`, `topic`, one column per label);
  *  - NULL topics are dropped, as the join's `===` dropped them;
  *  - null-safe equality (`<=>`) on the sentiment indicator;
  *  - the explicit label list gives a static output schema with no
  *    distinct-values job.
  *
  * The reference also stamps each row with the processing time
  * (functions.py:104). Here the aggregate carries no stamp:
  * HourlyScheduler.runOnce appends the start of the event-hour it
  * closes, as `created_at`, on the driver after the collect.
  */
object HourlyAggregate {

  /** @param enriched rows with at least (topic, sentiment, emotion) */
  def aggregate(
      enriched: DataFrame,
      emotionLabels: Seq[String] = KeywordEmotionClassifier.labels): DataFrame =
    enriched
      .filter(col("topic").isNotNull)
      .groupBy(col("topic"))
      .agg(
        round(avg(when(col("sentiment") <=> "positive", 1).otherwise(0)), 2).as("positivity_rate"),
        (count(col("topic")).as("counts") +:
          emotionLabels.map(l => count(when(col("emotion") === l, 1)).as(l))): _*)
      .select((Seq(col("topic").as("topic_agg"), col("positivity_rate"),
        col("counts"), col("topic")) ++ emotionLabels.map(col)): _*)
}
