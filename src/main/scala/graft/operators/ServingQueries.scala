package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{GraftQuery, Tables}
import graft.pipeline.{HourlyAggregate, KeywordEmotionClassifier, LexiconSentimentClassifier}

/** The reference's end-to-end analytics path and its dashboard-side
  * queries (SURVEY.md §3.2/§3.3), run over the documents corpus with
  * `source` standing in for the tracked topic:
  *
  *   classify (sentiment + emotion) → per-topic aggregate →
  *   chart-shaped serving relations.
  *
  * The classifier stage is deterministic (see graft.pipeline), so the
  * whole pipeline — enrichment, the per-topic aggregate, pivot, melt,
  * share windows — is oracle-checked end-to-end against DuckDB SQL
  * generated from the same lexicon/keyword constants.
  */
object ServingQueries {

  private def q(s: String) = s"'$s'"

  private[operators] val sentimentSql: String = {
    val pos = LexiconSentimentClassifier.positiveLexicon.map(q).mkString(", ")
    val neg = LexiconSentimentClassifier.negativeLexicon.map(q).mkString(", ")
    s"""CASE WHEN len(list_filter(string_split(text, ' '), x -> x IN ($pos)))
       |      >= len(list_filter(string_split(text, ' '), x -> x IN ($neg)))
       |     THEN 'positive' ELSE 'negative' END""".stripMargin
  }

  private[operators] val emotionSql: String = {
    val kwArms = KeywordEmotionClassifier.keywords
      .map { case (l, kw) => s"WHEN contains(text, '$kw') THEN '$l'" }
      .mkString(" ")
    val hashArms = KeywordEmotionClassifier.labels.zipWithIndex.init
      .map { case (l, i) => s"WHEN $i THEN '$l'" }.mkString(" ")
    s"CASE $kwArms ELSE CASE (length(text) % 6) $hashArms ELSE '${KeywordEmotionClassifier.labels.last}' END END"
  }

  private val enrichedSql: String =
    s"""enriched AS (
       |  SELECT source AS topic,
       |         $sentimentSql AS sentiment,
       |         $emotionSql AS emotion
       |  FROM documents)""".stripMargin

  private val emotionPivotSql: String =
    KeywordEmotionClassifier.labels
      .map(l => s"       count(CASE WHEN emotion = '$l' THEN 1 END) AS $l")
      .mkString(",\n")

  /** Documents enriched with both classifier labels. */
  def enriched(spark: SparkSession, sf: String): DataFrame = {
    val docs = Tables.documents(spark, sf)
      .select(col("source").as("topic"), col("text"))
    val withSentiment = LexiconSentimentClassifier.annotate(docs, "text")
    KeywordEmotionClassifier.annotate(withSentiment, "text")
      .select(col("topic"), col("sentiment"), col("emotion"))
  }

  /** Full pipeline parity query: classify → per-topic positivity and
    * emotion histogram (reference functions.py:97-117 minus the
    * timestamp stamp; the oracle keeps the reference's join shape). */
  val pipelineAggregateQ: GraftQuery = GraftQuery(
    "p01_pipeline_aggregate",
    s"""WITH $enrichedSql,
       |a AS (SELECT topic AS topic_agg,
       |             round(avg(CASE WHEN sentiment = 'positive' THEN 1 ELSE 0 END), 2) AS positivity_rate,
       |             count(*) AS counts
       |      FROM enriched GROUP BY topic),
       |b AS (SELECT topic,
       |$emotionPivotSql
       |      FROM enriched GROUP BY topic)
       |SELECT * FROM a JOIN b ON a.topic_agg = b.topic""".stripMargin) { (spark, sf) =>
    HourlyAggregate.aggregate(enriched(spark, sf))
  }

  /** Dashboard emotion melt + per-topic share (reference charts.py:
    * 24-29: pandas melt + transform('sum') normalization). */
  val emotionShareQ: GraftQuery = GraftQuery(
    "p02_emotion_share",
    s"""WITH $enrichedSql,
       |b AS (SELECT topic,
       |$emotionPivotSql
       |      FROM enriched GROUP BY topic),
       |long AS (
       |${KeywordEmotionClassifier.labels.map(l => s"  SELECT topic, '$l' AS emotion, $l AS counts FROM b").mkString("\n  UNION ALL\n")})
       |SELECT topic, emotion, counts,
       |       round(CAST(counts AS DOUBLE) / sum(counts) OVER (PARTITION BY topic), 4) AS share
       |FROM long""".stripMargin) { (spark, sf) =>
    val labels = KeywordEmotionClassifier.labels
    val wide = enriched(spark, sf)
      .groupBy(col("topic"))
      .pivot("emotion", labels)
      .count()
      .na.fill(0)
    wide.unpivot(Array(col("topic")), labels.map(col).toArray, "emotion", "counts")
      .withColumn("share",
        round(col("counts") / sum(col("counts")).over(Window.partitionBy(col("topic"))), 4))
  }

  val all: Seq[GraftQuery] = Seq(pipelineAggregateQ, emotionShareQ)
}
