package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ChartRegistrySpec extends SparkSpec {

  test("aggregate fixture plants replays and processData drops them keep-first") {
    val agg = ChartRegistry.aggregates(spark, sf001)
    val processed = ChartRegistry.processed(spark, sf001)
    val replayed = agg.filter(minute(col("created_at")) === 10).count()
    assert(replayed > 0, "fixture must contain replayed batches")
    assert(processed.count() === agg.count() - replayed,
      "dedup must keep exactly one batch per (topic, hour)")
    // keep-first: the original (minute 0, lower counts) batch wins
    assert(processed.filter(minute(col("created_at")) === 10).count() === 0)
  }

  test("c19 non-vacuity: injected re-appends inflate the raw store 3x; compact collapses to one row per key") {
    val raw = ChartRegistry.aggregates(spark, sf001)
    val sink = ChartRegistry.freshSink(spark, sf001, "spec")
    sink.append(raw)
    sink.append(raw
      .withColumn("created_at", expr("timestampadd(MINUTE, 20, created_at)"))
      .withColumn("counts", col("counts") + 5))
    val processedCount = ChartRegistry.processed(spark, sf001).count()
    // pre-compact the store holds every append (2x raw > processed);
    // serving is ALREADY correct (processData dedups on read)
    assert(sink.readBack(spark).count() === 2 * raw.count())
    // materialize the pre-compact serve NOW: compaction rewrites the
    // store, so the lazy plan's file listing would dangle afterwards
    val servedPre = graft.serving.ChartQueries
      .processData(sink.readBack(spark)).collect().toSet
    assert(servedPre.size === processedCount)
    // compaction collapses to exactly one stored row per (topic, hour)
    // without changing what a serve returns
    sink.compact(spark)
    assert(sink.readBack(spark).count() === processedCount,
      "compacted store must hold exactly one row per (topic, hour)")
    val servedPost = graft.serving.ChartQueries
      .processData(sink.readBack(spark)).collect().toSet
    assert(servedPost === servedPre, "compact-then-serve must equal serve-raw")
    graft.sources.SignatureLake.deleteDir(spark,
      graft.sources.SignatureLake.scratchPath(spark, sf001, "compact_spec"))
  }

  test("interpolated boxplot pins the pandas/Vega type-7 convention; discrete stays the default") {
    import graft.serving.ChartQueries
    // 4 rates in one group: type-7 median = (0.2+0.3)/2 = 0.25,
    // q1 = 0.1 + 0.75*(0.2-0.1) = 0.175, q3 = 0.3 + 0.25*(0.9-0.3) = 0.45;
    // the discrete ⌈p·n⌉ convention picks members (q1=0.1@rank1 ... wait
    // ⌈.25·4⌉=1 -> 0.1, median ⌈.5·4⌉=2 -> 0.2, q3 ⌈.75·4⌉=3 -> 0.3)
    val rows = Seq(0.1, 0.2, 0.3, 0.9).zipWithIndex.map { case (r, i) =>
      (s"t", r, 1L, java.sql.Timestamp.valueOf(s"2022-03-01 0$i:00:00"))
    }
    import spark.implicits._
    val agg = rows.toDF("topic", "positivity_rate", "counts", "created_at")
    val processed = ChartQueries.processData(
      ChartQueries.emotions.foldLeft(agg)((d, e) => d.withColumn(e, lit(0L))))
    val interp = ChartQueries.positivityBoxplot(processed, interpolated = true)
      .select("q1", "median", "q3").head()
    assert(interp.getDouble(0) === 0.175)
    assert(interp.getDouble(1) === 0.25)
    assert(interp.getDouble(2) === 0.45)
    val disc = ChartQueries.positivityBoxplot(processed)
      .select("q1", "median", "q3").head()
    assert(disc.getDouble(0) === 0.1)
    assert(disc.getDouble(1) === 0.2)
    assert(disc.getDouble(2) === 0.3)
    // single-member group: both conventions collapse to the value
    val one = ChartQueries.positivityBoxplot(
      processed.filter(col("positivity_rate") === 0.2), interpolated = true)
      .select("q1", "median", "q3", "iqr").head()
    assert(one.getDouble(0) === 0.2 && one.getDouble(1) === 0.2
      && one.getDouble(2) === 0.2 && one.getDouble(3) === 0.0)
  }

  test("latest-wins dedup keeps the corrected replay instead") {
    val agg = ChartRegistry.aggregates(spark, sf001)
    val latest = graft.serving.ChartQueries.processData(agg, latestWins = true)
    val replayHours = agg.filter(minute(col("created_at")) === 10)
      .select("topic", "created_at").distinct().count()
    assert(latest.filter(minute(col("created_at")) === 10).count() === replayHours)
  }

  test("share queries are normalized per partition") {
    val processed = ChartRegistry.processed(spark, sf001)
    graft.serving.ChartQueries.emotionShare(processed, "date")
      .groupBy("date").agg(sum("percent").as("s")).collect()
      .foreach(r => assert(math.abs(r.getAs[Double]("s") - 1.0) < 1e-9))
    graft.serving.ChartQueries.countsTopicPeriod(processed, "date")
      .groupBy("date").agg(sum("share").as("s")).collect()
      .foreach(r => assert(math.abs(r.getAs[Double]("s") - 1.0) < 1e-9))
  }

  test("boxplot bounds ordered; latest inputs capped at 25") {
    val processed = ChartRegistry.processed(spark, sf001)
    graft.serving.ChartQueries.positivityBoxplot(processed).collect().foreach { r =>
      assert(r.getAs[Double]("whisker_lo") <= r.getAs[Double]("q1") + 1e-9)
      assert(r.getAs[Double]("q1") <= r.getAs[Double]("median"))
      assert(r.getAs[Double]("median") <= r.getAs[Double]("q3"))
      assert(r.getAs[Double]("q3") <= r.getAs[Double]("whisker_hi") + 1e-9)
    }
    assert(graft.serving.ChartQueries.latestInputs(processed).count() <= 25)
  }

  test("boxplot emits a NULL-stat row for a group whose rates are all NULL") {
    import spark.implicits._
    val fixture = Seq(
      ("t1", Some(0.2)), ("t1", Some(0.4)), ("t1", Some(0.6)),
      ("t2", None), ("t2", None)) // all-NULL group must keep its row
      .toDF("topic", "positivity_rate")
    val out = graft.serving.ChartQueries.positivityBoxplot(fixture)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("t1", "t2"))
    val t1 = out("t1") // ranks ceil(p*3): q1=1st, median=2nd, q3=3rd
    assert(t1.getDouble(1) == 0.2 && t1.getDouble(2) == 0.4 && t1.getDouble(3) == 0.6)
    val t2 = out("t2")
    assert((1 to 8).forall(t2.isNullAt), "all stats NULL, row retained")
  }

  test("c23 non-vacuity: some hours recomputed, most kept from gen1, and " +
      "skipping the recompute serves stale aggregates") {
    import org.apache.spark.sql.functions._
    val out = ChartRegistry.incrementalRecomputeQ.run(spark, sf001)
      .select(col("date_hour"), col("recomputed"), col("counts")).collect()
    val flags = out.map(_.getBoolean(1)).toSeq
    assert(flags.contains(true), "at least one hour must be recomputed")
    assert(flags.count(!_) > flags.count(identity),
      "most hours must be served from gen1 untouched — that is the point")
    // teeth: gen1 alone (no recompute) disagrees with the full serve
    // on the changed hours, so a digest that missed them would go red
    val docs = graft.Tables.documents(spark, sf001)
    val isLate = (col("doc_id") % ChartRegistry.HourBuckets % 7 === 3) &&
      (col("doc_id") % 5 === 0)
    val stale = graft.serving.ChartQueries.processData(
      ChartRegistry.aggregatesPlanFrom(docs.filter(!isLate)))
      .select(col("date_hour"), col("topic"), col("counts").as("stale_counts"))
    val full = ChartRegistry.processed(spark, sf001)
      .select(col("date_hour"), col("topic"), col("counts"))
    // divergence is EITHER a changed count OR an hour gen1 never had
    // (at tiny sf a bucket can consist entirely of late docs)
    val diverging = full.join(stale, Seq("date_hour", "topic"), "left")
      .filter(col("stale_counts").isNull ||
        col("counts") =!= col("stale_counts")).count()
    assert(diverging > 0, "late docs must actually change some hour's aggregate")
  }
}
