package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

import graft.SparkSpec

/** Physical-plan invariants — the scan/exchange properties the 100 TB
  * design depends on, pinned so a refactor cannot silently lose them:
  * predicate pushdown and column pruning at the parquet scan, and
  * broadcast (never cartesian) joins for the small-side relations.
  */
class PlanInvariantsSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q16: filter predicates are pushed to the parquet scan") {
    val p = plan(CoreQueries.filterTopic.run(spark, sf001))
    assert(p.contains("PushedFilters"))
    assert(p.contains("GreaterThanOrEqual(value,50"), p)
    assert(p.contains("Not(EqualTo(event_type,view))"), p)
  }

  test("q16: scan reads only the projected columns") {
    val p = plan(CoreQueries.filterTopic.run(spark, sf001))
    // events has user_id and props; a 3-column projection must not read them
    assert(!p.contains("user_id"), p)
    assert(!p.contains("props"), p)
  }

  test("t12: the documents scan is pruned to doc_id/lang — text is never read") {
    val p = plan(CurationOps.stratifiedSampleQ.run(spark, sf001))
    assert(!p.contains("text"), p)
  }

  test("t14: the O(sources) rate table joins as a broadcast, not a shuffle") {
    val p = plan(CurationOps.sourceReweightQ.run(spark, sf001))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q29: the 1-row min/max relation is a broadcast nested loop, not a cartesian") {
    val p = plan(CoreQueries.valueHistogram.run(spark, sf001))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  private def windowsOnlyAboveAggregates(df: DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "expected the histogram window in the plan")
    wins.foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
        s"corpus-wide window (no aggregate below it):\n$w")
    }
  }

  test("q09: every window sits above the distinct-value histogram, never the corpus") {
    windowsOnlyAboveAggregates(CoreQueries.quantiles.run(spark, sf001))
  }

  test("quantile kernel ignores null values, like percentile and the oracle") {
    import spark.implicits._
    val df = Seq(("a", Some(1.0)), ("a", Some(2.0)), ("a", Some(3.0)), ("a", None))
      .toDF("k", "v")
    val hist = QuantileKernel.cumulativeHistogram(df, "k", "v")
    val med = QuantileKernel.contQuantiles(hist, "k", "v", Seq("m" -> 0.5))
      .select("m").collect().head.getDouble(0)
    assert(med === 2.0, s"median over {1,2,3,NULL} must be 2.0, got $med")
    val disc = QuantileKernel.discQuantiles(hist, "k", "v", Seq("m" -> 0.5))
      .select("m").collect().head.getDouble(0)
    assert(disc === 2.0)
  }

  test("q33: no corpus-wide window; decile boundaries join as a broadcast") {
    val df = TemporalOps.decileBucketsQ.run(spark, sf001)
    windowsOnlyAboveAggregates(df)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("d12: candidate-composed incremental dedup plans without a cartesian product") {
    val p = plan(DedupOps.incrementalQ.run(spark, sf001))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t15: NLL band boundaries reach the probe side as a broadcast") {
    val df = TextOps.nllBandQ.run(spark, sf001)
    windowsOnlyAboveAggregates(df)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q35: no corpus-wide window; winsor boundaries join as a broadcast") {
    val df = TemporalOps.winsorizeQ.run(spark, sf001)
    windowsOnlyAboveAggregates(df)
    assert(plan(df).contains("BroadcastHashJoin"), plan(df))
  }

  test("q37: both SCD2 windows share ONE exchange and one sort") {
    // string-count over the physical tree (collect() does not
    // traverse into the un-executed adaptive wrapper)
    val p = TemporalOps.scd2Q.run(spark, sf001)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    val sorts = raw"\bSort \[".r.findAllIn(p).size
    assert(shuffles === 1,
      s"the lag and lead windows must reuse one user_id exchange:\n$p")
    assert(sorts === 1, s"identical window ordering must reuse one sort:\n$p")
  }

  test("q57: layout audit — no cartesian, no corpus-wide window, 3 scans") {
    val df = LayoutOps.zorderAuditQ.run(spark, sf001)
    windowsOnlyAboveAggregates(df)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    // base + the quantile kernel's histogram and totals; the boundary
    // pivot must NOT recompute the histogram per dimension
    assert("Scan parquet ".r.findAllIn(
      df.queryExecution.executedPlan.toString).size <= 3, p)
  }

  test("q56: the SCD2 merge is equi-joined on user_id, never a nested loop") {
    val p = plan(TemporalOps.scd2MergeQ.run(spark, sf001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("j04: the point-in-time lookup is an equi-join on user_id, never a nested loop") {
    val p = plan(TemporalOps.pointInTimeQ.run(spark, sf001))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"range condition must ride the user_id equi-join as a residual:\n$p")
  }

  test("j03: the interval join is a bucket equi-join, never a nested loop") {
    val p = plan(TemporalOps.intervalJoinQ.run(spark, sf001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t16: the frequent-gram probe joins as a broadcast, never a shuffle") {
    val p = plan(TextOps.boilerplateQ.run(spark, sf001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s07: range search is a broadcast scan with NO shuffle anywhere") {
    val p = SimilarityOps.rangeSearchQ.run(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Exchange hashpartitioning"),
      s"the threshold scan must stay map-only:\n$p")
  }

  test("v05: both rank windows share ONE per-query exchange") {
    val p = VectorOps.truncRecallQ.run(spark, sf001)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles === 1,
      s"full and truncated rankings must reuse one query_id exchange:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d17: calibration plans ONE signature derivation, not one per consumer") {
    // r17: the signature is a row-local native kernel
    // (graft_portable_minhash_sig), no longer a min-lane aggregate —
    // the invariant is unchanged in spirit: banding and lane agreement
    // must read ONE derivation subtree, never re-run the md5 family
    // per consumer
    val kernels = DedupOps.minhashCalibration(
      graft.Tables.documents(spark, sf001))
      .queryExecution.optimizedPlan.collect {
        case n => n.expressions.count(_.exists(
          _.isInstanceOf[graft.functions.PortableMinHashSig]))
      }.sum
    assert(kernels === 1,
      s"expected one signature kernel evaluation, found $kernels")
  }

  test("t21: the O(sources) rate table joins as a broadcast, not a shuffle") {
    val p = plan(CurationOps.tokenBudgetQ.run(spark, sf001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q41: the rank window sits above the key-count aggregate, never the corpus") {
    windowsOnlyAboveAggregates(CoreQueries.keySkew.run(spark, sf001))
  }

  test("m06: manifest is one aggregation over a row-local projection - no join at all") {
    val p = plan(MultimodalOps.shardManifestQ.run(spark, sf001))
    // meta.lang rides the single documents scan (r7 review removed a
    // redundant self-join), so there is NO join of any kind and no
    // shuffle besides the |shards|-row aggregate
    assert(!p.contains("Join"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("v07: both rank windows share ONE per-query exchange") {
    val p = VectorOps.quantRecallQ.run(spark, sf001)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles === 1,
      s"full and quantized rankings must reuse one query_id exchange:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("s09: pool rides ONE exchange; candidate top-C prunes map-side; queries broadcast") {
    val p = SimilarityOps.mmrRerankQ.run(spark, sf001)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles === 1,
      s"candidate window + pool collect_list must share one query_id exchange:\n$p")
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"the top-C cutoff must prune map-side before the exchange:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q43: prefix/total/argmax windows share the per-type exchange (2 shuffles total)") {
    val p = TemporalOps.changePointQ.run(spark, sf001)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles === 2,
      s"expected one aggregation exchange + one shared window exchange:\n$p")
  }

  test("q44: rank window above the map-combined count aggregate, group-limit pushed down") {
    val p = TemporalOps.dailyTopUsersQ.run(spark, sf001)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles === 2,
      s"expected the (type,day,user) aggregate + (type,day) window exchanges:\n$p")
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"the top-k cutoff must prune map-side below the window exchange:\n$p")
  }

  test("v08: all five rank windows (full + 4 prefixes) share ONE per-query exchange") {
    val p = VectorOps.matryoshkaRecallQ.run(spark, sf001)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles === 1,
      s"the whole recall curve must reuse one query_id exchange:\n$p")
  }

  test("t23: one token aggregation + TakeOrdered — no global window over the vocabulary") {
    val df = TextOps.dfDriftQ.run(spark, sf001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-N must be TakeOrdered, not a sort of the vocabulary:\n$p")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles === 1,
      s"expected exactly the token-count aggregation exchange:\n$p")
  }

  test("q45: all four session windows + the session aggregate ride ONE user exchange; single pipeline") {
    val p = TemporalOps.attributionQ.run(spark, sf001)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles === 2,
      s"expected the user window exchange + the tiny model aggregation only " +
        s"(user_id partitioning satisfies every (user, sid) clustering):\n$p")
    assert(!p.contains("Union"),
      s"both attribution models must come from one pipeline, not a per-model re-run:\n$p")
  }

  test("q46: window and co-moment aggregation reuse the span/daily exchanges (2 shuffles total)") {
    val p = TemporalOps.autocorrQ.run(spark, sf001)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles === 2,
      s"the lag window and the (type, lag) aggregation must ride the " +
        s"per-type span partitioning, not add exchanges:\n$p")
  }

  test("t24: the bigram explode is planned twice (probe + model), never a third time") {
    val p = TextOps.bigramNllQ.run(spark, sf001)
      .queryExecution.executedPlan.toString
    val generates = "Generate explode".r.findAllIn(p).size
    assert(generates === 3,
      s"expected bigram explode x2 + the vocab token explode x1 — the prefix " +
        s"count must come from the c12 window, not another corpus pass:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s10: bucketed candidates — one scan, NO corpus-fraction broadcast, no cartesian") {
    val p = SimilarityOps.knnGraphQ.run(spark, sf001)
      .queryExecution.executedPlan.toString
    // the r8 weak finding, closed: nothing corpus-sized is broadcast
    // and the probe side never brute-joins the corpus
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"the probe side must ride the bucketed candidate kernel, not a broadcast brute join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans === 1, s"the banded scan must be planned once:\n$p")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles === 4,
      s"expected bucket groupBy + pair dedup + rank window + mutual " +
        s"pair window only:\n$p")
  }

  test("d11p: the funnel reads materialized inputs — every family from an in-memory relation, no md5 of its own") {
    import org.apache.spark.sql.functions.{col, posexplode}
    import graft.functions.VectorFunctions.{lshBandBuckets, toDouble}
    import graft.Tables
    val docs = Tables.documents(spark, sf001)
    val emb = Tables.embeddings(spark, sf001)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val bandRel = DedupOps.portableBandKeys(
      DedupOps.portableSignatures(docs)).persist()
    val fps = DedupOps.portableSimhashFingerprints(docs).persist()
    val annBanded = emb.select(col("vec_id"),
      posexplode(lshBandBuckets(col("v"), DedupOps.PortableAnnTables,
        DedupOps.PortableAnnPlanes, SimilarityOps.Dim))
        .as(Seq("table", "bucket"))).persist()
    try {
      val funnel = DedupOps.portableFunnel(docs, bandRel, fps, annBanded)
      val p = funnel.queryExecution.executedPlan.toString
      // band keys feed two lines (guard histogram + candidate pairs);
      // fingerprints and ann buckets one each — all from cache
      val imts = "InMemoryTableScan".r.findAllIn(p).size
      assert(imts >= 4,
        s"expected >= 4 in-memory reads of the materialized families, got $imts:\n$p")
      // the only source re-derivation is the exact-verify shingle join
      // (text, not signatures); no funnel stage recomputes a digest.
      // InMemoryRelation is a leaf, so this traversal sees only the
      // funnel's OWN expressions, not the cached derivations'
      val ownMd5 = funnel.queryExecution.optimizedPlan.collect {
        case n => n.expressions.exists(_.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Md5]))
      }.count(identity)
      assert(ownMd5 === 0,
        s"funnel must not re-derive md5 families ($ownMd5 nodes carry md5)")
      // and the funnel still produces the exact 12 accounting lines
      assert(funnel.count() === 12L)
    } finally {
      bandRel.unpersist(); fps.unpersist(); annBanded.unpersist()
    }
  }

  test("m08: source rides the decode batch — one corpus scan, no doc_id join back") {
    val p = MultimodalOps.sourceHistogramDriftQ.run(spark, sf001)
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans === 1,
      s"the r8 shape joined decode output back to a second payloads scan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no corpus-sized join anywhere:\n$p")
  }

  test("v09: one dimension-keyed aggregation is the only exchange") {
    val p = VectorOps.dimStatsQ.run(spark, sf001)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles === 1,
      s"per-dimension stats are one map-side-combinable aggregation:\n$p")
  }

  test("t25: windows only on the bucket table; value-range bucketing adds no corpus window") {
    val df = TextOps.vocabGrowthQ.run(spark, sf001)
    windowsOnlyAboveAggregates(df)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q34: funnel stages are cascaded session windows — one scan, one user exchange") {
    val p = TemporalOps.sessionFunnelQ.run(spark, sf001)
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans === 1,
      s"each funnel stage must ride the one sessionized scan (r8 planned it 3x):\n$p")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles === 1,
      s"session + stage windows and the per-session reduce must share the user exchange:\n$p")
  }

  test("q48: session windows + both aggregates ride the q45 exchange budget (2 shuffles)") {
    val p = TemporalOps.conversionLatencyQ.run(spark, sf001)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles === 2,
      s"expected the user session exchange + the tiny band histogram only:\n$p")
  }

  test("t26: detection fused row-local; matrix window on the post-aggregate table") {
    val df = TextOps.langConfusionQ.run(spark, sf001)
    windowsOnlyAboveAggregates(df)
    val p = df.queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles === 2,
      s"expected the cell aggregation + the per-declared share window only:\n$p")
  }

  test("s12: exact side reads the materialized lake graph; never a cartesian product") {
    val p = SimilarityOps.annRecallQ.run(spark, sf001)
      .queryExecution.executedPlan.toString
    // the brute probe×corpus BroadcastNestedLoopJoin runs ONCE at
    // lake-build time; the gate row itself must read the bucketed
    // knn_exact table back instead of re-deriving the ground truth
    assert(p.contains("graft_lake_knn_exact"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("j05: forward as-of is the j01 single-shuffle union kernel, no join operator at all") {
    val p = TemporalOps.asOfForwardQ.run(spark, sf001)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles === 2,
      s"expected the purchase pre-reduce + the shared user window exchange:\n$p")
    assert(!p.contains("Join"), s"the as-of must be a window scan, not a join:\n$p")
  }

  test("q49: one user window exchange + the tiny band aggregation") {
    val p = TemporalOps.interEventGapsQ.run(spark, sf001)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles === 2, p)
  }

  test("q50: running total on the day table only, never a corpus window") {
    val df = TemporalOps.dailyNewReturningQ.run(spark, sf001)
    windowsOnlyAboveAggregates(df)
  }

  test("v10: the centroid pipeline is evaluated once — pair explosion adds no second corpus pass") {
    val p = VectorOps.centroidSeparationQ.run(spark, sf001)
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans === 1,
      s"a centroid self-join would re-run the corpus aggregation per side:\n$p")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles === 2, p)
  }

  test("s15: ADC table broadcasts; cell routing is a hash equi-join, never a cartesian") {
    val p = plan(SimilarityOps.knnIvfPqQ.run(spark, sf001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"cell/code joins must stay equi-joins:\n$p")
  }

  test("s16: residual pipeline stays equi-joined and broadcast-tabled, never a cartesian") {
    val p = plan(SimilarityOps.knnIvfPqResidualQ.run(spark, sf001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d22: capped bucket expansion, no cartesian; verify joins are doc-keyed hash joins") {
    val p = plan(DedupOps.containmentQ.run(spark, sf001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d24: no corpus re-tokenization — shingles off the lake; count and sketch share ONE aggregate") {
    // r17: the (source, shingle) universe reads the shingle_sets lake
    // family joined to the (doc_id, source) projection — exactly two
    // scans (lake table + pruned corpus), the corpus scan never reads
    // text, and the exact count + KMV sketch still ride the one
    // distinct-shingle aggregation subtree (the original invariant)
    val df = DedupOps.kmvVocabQ.run(spark, sf001)
    val p = df.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans === 2,
      s"expected shingle_sets lake scan + pruned corpus scan only:\n$p")
    assert(!p.contains("text#"),
      s"d24 must not read text — shingles come off the lake:\n$p")
    assert("partial_graft_kmv".r.findAllIn(p).size === 1,
      s"exact count and sketch must share the one distinct-shingle subtree:\n$p")
  }

  test("d25: pair stage is broadcast-joined on the bounded source relation; " +
    "the window sits above the sketch explode, never the corpus") {
    val df = DedupOps.kmvOverlapQ.run(spark, sf001)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    windowsOnlyAboveAggregates(df)
  }

  test("q52: ONE scan; both lag predictors are range windows on the day table, no join") {
    val df = TemporalOps.seasonalBacktestQ.run(spark, sf001)
    val p = df.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans === 1,
      s"lag predictors must be windows over the one daily-count subtree:\n$p")
    assert(!p.contains("Join"), s"the window formulation has no join operator:\n$p")
    windowsOnlyAboveAggregates(df)
  }

  test("t27: the rank window sits above the per-source vocab aggregate, never the corpus") {
    windowsOnlyAboveAggregates(TextOps.zipfSlopeQ.run(spark, sf001))
  }

  test("q58: the join really runs salted — salt key present, dim replicated by explode") {
    val df = CoreQueries.saltedJoinSegments.run(spark, sf001)
    val p = plan(df)
    assert(p.contains("__graft_salt"), p)
    // the replication side is a generator (sequence(0, factor-1)
    // constant-folds to a literal array under the Generate), and the
    // salted equi-join must never degrade to a cartesian
    assert(p.contains("Generate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q59: both sketch and truth hang off ONE per-key aggregation subtree") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val df = CoreQueries.f2Sketch.run(spark, sf001)
    // the per-(type, user) aggregate appears once per consumer in the
    // logical plan; what matters at scale is that no window, no join
    // wider than the |types|-sized report, and no cartesian appear
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    val aggs = df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }
    assert(aggs.nonEmpty)
  }

  test("q60: the advisory keeps q59's shape — no window, no cartesian, aggregation-only") {
    val p = plan(CoreQueries.skewAdvisory.run(spark, sf001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
  }

  test("d20/d26: candidates come off the appended lake table, never a re-hash or a cartesian") {
    graft.sources.SignatureLake.invalidate(spark)
    val p20 = plan(DedupOps.incrementalEmbeddingQ.run(spark, sf001))
    // the posting rows arrive from the managed inc_ann lake scan
    assert(p20.contains("inc_ann"), p20)
    assert(!p20.contains("CartesianProduct"), p20)
    val p26 = plan(DedupOps.annLakeAppendQ.run(spark, sf001))
    assert(p26.contains("inc_ann"), p26)
    assert(!p26.contains("CartesianProduct"), p26)
    graft.sources.SignatureLake.invalidate(spark)
  }

  test("s20: frozen-codebook assignment is the broadcast CellProbes primitive off the lake scan") {
    graft.sources.SignatureLake.invalidate(spark)
    val p = plan(SimilarityOps.ivfLakeAppendQ.run(spark, sf001))
    assert(p.contains("inc_ivf"), p)
    // cell selection is one codegen-resident loop per row — the plan
    // carries the expression, never an n-by-k score relation or a
    // cartesian against a centroid table
    assert(p.contains("graft_cell_probes"), p)
    assert(!p.contains("CartesianProduct"), p)
    graft.sources.SignatureLake.invalidate(spark)
  }

  test("v14: ONE corpus pass — the pair explode unfolds the aggregated Gram row, never the scan") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate}
    val df = VectorOps.dimCorrelationQ.run(spark, sf001)
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(scans.size === 1, s"expected one embeddings scan:\n${df.queryExecution.optimizedPlan}")
    assert(!plan(df).contains("Join"), plan(df))
    // every Generate (the di/dj explodes) must sit ABOVE the gram
    // aggregate — an explode below it would be the d²-per-row volume
    val gens = df.queryExecution.optimizedPlan.collect { case g: Generate => g }
    assert(gens.nonEmpty)
    gens.foreach(g => assert(
      g.child.collectFirst { case a: Aggregate => a }.isDefined,
      s"explode below the gram aggregate:\n$g"))
  }

  test("s21: lake-served kNN — posting side reads bucketed, only probe side + rank window shuffle") {
    graft.sources.SignatureLake.invalidate(spark)
    val df = SimilarityOps.knnIvfLakeQ.run(spark, sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft_cell_probes"), p)
    assert(!p.contains("CartesianProduct"), p)
    // two hash exchanges TOTAL: the probe rows repartitioned to the
    // posting table's cell distribution, and the rank window's
    // query_id partitioning — the bucketed posting scan itself never
    // shuffles (that is what the ingest-time bucketing bought)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles === 2, s"expected probe + window exchanges only:\n$p")
    graft.sources.SignatureLake.invalidate(spark)
  }

  test("c20: interpolated quartile windows sit above the rate histogram, never the serving rows") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val df = ChartRegistry.positivityBoxplotInterpQ.run(spark, sf001)
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    val (aboveAgg, bare) = wins.partition(
      _.child.collectFirst { case a: Aggregate => a }.isDefined)
    // the cum/n windows ride the distinct-rate histogram aggregate;
    // the ONE bare window allowed is processData's keep-first dedup,
    // which runs on the bounded serving relation by design
    assert(aboveAgg.nonEmpty, s"expected histogram windows:\n${wins.mkString("\n")}")
    // (processData now collects that dedup before the chart is built,
    // so the chart's own plan normally holds no bare window at all)
    bare.foreach(w => assert(w.windowExpressions.mkString.contains("row_number"),
      s"unexpected corpus-side window:\n$w"))
    assert(!plan(df).contains("CartesianProduct"))
  }

  test("d27: linear passes only — no cartesian, and every window partitions by doc") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = DedupOps.exactSubstringQ.run(spark, sf001)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the interval-merge windows are per-document (bounded by doc
    // length) — a corpus-wide window here would be the non-scalable
    // suffix-array substitute this operator exists to avoid
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "expected the interval-merge windows")
    wins.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"corpus-wide window in d27:\n$w"))
  }

  test("s24: filtered lake kNN keeps s21's exchange budget — label rides the posting row, no corpus join-back") {
    graft.sources.SignatureLake.invalidate(spark)
    val df = SimilarityOps.knnIvfLakeFilteredQ.run(spark, sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft_cell_probes"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the attribute-in-index claim: ONE scan of the posting table
    // serves vector + label together, so the metadata constraint adds
    // ZERO joins — same two hash exchanges as unfiltered s21 (probe
    // repartition + rank window)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles === 2, s"expected probe + window exchanges only:\n$p")
    graft.sources.SignatureLake.invalidate(spark)
  }

  test("d28: tombstone-masked serve anti-joins a BROADCAST tombstone side — index never shuffles") {
    import org.apache.spark.sql.functions.col
    graft.sources.SignatureLake.invalidate(spark)
    val docs = graft.Tables.documents(spark, sf001)
    val lake = graft.sources.SignatureLake.tombstonedBandIndex(spark, sf001,
      base = docs.filter(col("doc_id") % 10 =!= 0),
      delta = docs.filter(col("doc_id") % 10 === 0),
      deleted = docs.filter(col("doc_id") % DedupOps.TombMod === DedupOps.TombRem)
        .select("doc_id"))
    lake.served.collect()
    val p = lake.served.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("Exchange hashpartitioning"),
      s"the index side of the tombstone mask must not shuffle:\n$p")
    graft.sources.SignatureLake.invalidate(spark)
  }

  test("m13: only 16-byte chunk digests shuffle — payload text never becomes an exchange key") {
    val p = plan(MultimodalOps.cdcChunkDedupQ.run(spark, sf001))
    assert(p.contains("hashpartitioning(dg"), p.take(2000))
    assert(!p.contains("hashpartitioning(t#") && !p.contains("hashpartitioning(payload"),
      s"payload bytes must never key an exchange:\n${p.take(2000)}")
  }

  test("s27/s28: every top-k window is query-partitioned, never corpus-global") {
    Seq(SimilarityOps.bm25Q, SimilarityOps.hybridRrfQ).foreach { q =>
      val p = plan(q.run(spark, sf001))
      assert(p.contains("windowspecdefinition(query_id"), p.take(2000))
      // a corpus-global window would log the single-partition warning
      // and show an empty partition spec
      assert(!p.contains("windowspecdefinition(,"),
        s"${q.name}: unpartitioned window found")
    }
  }

  test("q63: the strategy advisory's decision IS the physical join") {
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.events(spark, sf001)
    val small = ev.select((col("user_id") % 64).as("k"))
    val dimS = small.distinct().withColumn("dim_tag", concat(lit("t"), col("k")))
    val (joinedS, bcS) = CoreQueries.advisedStrategyJoin(small, dimS, Seq("k"))
    assert(bcS, "<=64-key dim must be advised to broadcast")
    assert(plan(joinedS).contains("BroadcastHashJoin"), plan(joinedS))
    val large = ev.select(col("event_id").as("k"))
    val dimL = large.distinct().withColumn("dim_tag", concat(lit("t"), col("k")))
    val (joinedL, bcL) = CoreQueries.advisedStrategyJoin(large, dimL, Seq("k"))
    assert(!bcL, ">=1000-key dim must be advised to shuffle-merge")
    val pL = plan(joinedL)
    assert(pL.contains("SortMergeJoin") && !pL.contains("BroadcastHashJoin"), pL)
  }

  test("s31: both hybrid legs SERVE off their lake tables — neither index is recomputed") {
    val p = plan(SimilarityOps.hybridLakeQ.run(spark, sf001))
    // the vector leg scans the IVF posting lake; the lexical leg scans
    // the maintenance window's materialized impact + champion-tier
    // tables (r15 — the posting lake itself is read only at
    // materialization time, not on the serve plan)
    assert(p.contains("inc_ivf_mod10"),
      s"vector leg must scan the IVF posting lake: ${p.take(3000)}")
    assert(p.contains("inc_term_si_mod10"),
      s"lexical leg must scan the materialized impact table: ${p.take(3000)}")
    assert(p.contains("inc_term_tier_mod10"),
      s"lexical leg must scan the materialized champion tier: ${p.take(3000)}")
    // re-deriving an index inside the serve would put its build
    // machinery back in the plan: cell probing on the CORPUS side
    // (posexplode of band buckets / a tokenize-explode of documents
    // feeding a groupBy on (doc_id, term)). The serve plan tokenizes
    // only the query sample (qt) — documents.text appears solely
    // under the query-side filter — and the posting side arrives
    // from the lake scans above.
    assert(!p.contains("posexplode"),
      "no band-bucket derivation may appear in a lake serve plan")
    val vecScans = "graft_lake_".r.findAllIn(p).size
    assert(vecScans >= 2, s"expected both lake scans in the plan, found $vecScans")
  }

  test("s30/s31: no serve plan windows over the posting relation — the tier sort is a build cost") {
    // the champion tier's per-term sort must live at LAKE BUILD time;
    // a serve plan containing a term-partitioned window would be
    // re-deriving the tier per query batch (the r14 verdict's named
    // serve-path index-build cost). The only windows a serve may
    // carry are the per-query rank windows.
    Seq(SimilarityOps.cappedServeQ, SimilarityOps.hybridLakeQ).foreach { q =>
      val p = plan(q.run(spark, sf001))
      assert(!p.contains("windowspecdefinition(term"),
        s"${q.name}: serve plan re-sorts the posting relation:\n${p.take(3000)}")
      assert(p.contains("term_champions") || p.contains("inc_term_tier"),
        s"${q.name}: serve plan must scan a materialized champion tier")
    }
  }

  test("s34: the MASKED tier serve stays window-free and scans the materialized tier") {
    // the takedown mask must not smuggle the tier sort back onto the
    // serve path: masking is an anti-join on both lake scans, the
    // only windows are the per-query rank windows (s34's production
    // serve — the rebuild leg inside the s34 ROW is audit-tier and
    // deliberately excluded here)
    import graft.operators.DedupOps.{TombMod, TombRem}
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(spark, sf001)
    val si = graft.sources.SignatureLake.termImpacts(spark, sf001)
    val tier = graft.sources.SignatureLake.termChampions(spark, sf001)
    val masked = SimilarityOps.bm25RankCappedFromTierMasked(
      SimilarityOps.bm25QueryTerms(
        docs.filter(col("doc_id") % TombMod =!= TombRem),
        SimilarityOps.Bm25QueryMod),
      si, tier,
      docs.filter(col("doc_id") % TombMod === TombRem).select("doc_id"),
      SimilarityOps.Bm25TopK, excludeSelf = false,
      budget = SimilarityOps.PostingBudget)
    val p = plan(masked)
    assert(!p.contains("windowspecdefinition(term"),
      s"masked-tier serve re-sorts the posting relation:\n${p.take(3000)}")
    assert(p.contains("term_champions"),
      "masked-tier serve must scan the materialized champion tier")
  }

  test("serving: processData is one partition, and no refresh chart shuffles") {
    import graft.serving.ChartQueries
    val processed = ChartQueries.processData(ChartRegistry.aggregates(spark, sf001))
    assert(processed.rdd.getNumPartitions === 1)
    // the dashboard refresh's charts, as perfbench's Serving.Charts
    // lists them: the Global charts, then each at the Day and Hour level
    val levels = Seq("date", "date_hour")
    val charts: Seq[(String, DataFrame)] = Seq(
      "processed" -> processed,
      "emotion_donut" -> ChartQueries.emotionDonut(processed),
      "counts_donut" -> ChartQueries.countsDonut(processed),
      "positivity_topic" -> ChartQueries.positivityByTopic(processed),
      "boxplot" -> ChartQueries.positivityBoxplot(processed),
      "latest" -> ChartQueries.latestInputs(processed)) ++
      levels.flatMap(l => Seq(
        s"emotion_share_$l" -> ChartQueries.emotionShare(processed, l),
        s"counts_period_$l" -> ChartQueries.countsPeriod(processed, l),
        s"counts_topic_period_$l" -> ChartQueries.countsTopicPeriod(processed, l),
        s"positivity_period_$l" -> ChartQueries.positivityPeriod(processed, l),
        s"boxplot_$l" -> ChartQueries.positivityBoxplot(processed, Some(l))))
    assert(charts.size === 16)
    charts.foreach { case (name, df) =>
      assert(df.collect().nonEmpty, name)
      // each chart is grouping, window and sort over the one partition:
      // no shuffle, and no join or broadcast (grand totals are one
      // keyless aggregate, the boxplot one aggregate)
      val p = df.queryExecution.executedPlan.toString
      Seq("Exchange hashpartitioning", "rangepartitioning", "Exchange SinglePartition",
          "Join", "CartesianProduct", "BroadcastExchange")
        .foreach(bad => assert(!p.contains(bad), s"$name plans $bad:\n$p"))
      // nor a keyless window, which Spark warns about on every plan
      val keyless = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
      }
      assert(keyless.isEmpty, s"$name plans a Window with no partition spec:\n$keyless")
    }
  }

  test("pipeline: the hourly aggregate is one Aggregate with no join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val opt = ServingQueries.pipelineAggregateQ.run(spark, sf001).queryExecution.optimizedPlan
    assert(opt.collect { case a: Aggregate => a }.size === 1, opt.toString)
    assert(opt.collect { case j: Join => j }.isEmpty, opt.toString)
  }
}
