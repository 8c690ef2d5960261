package graft.sources

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.operators.DedupOps

class SignatureLakeSpec extends SparkSpec {

  test("one derivation per (session, sfDir): same table-scan instance, parity with direct derivation") {
    SignatureLake.invalidate(spark)
    val a = SignatureLake.portableBandKeys(spark, sf001)
    val b = SignatureLake.portableBandKeys(spark, sf001)
    assert(a eq b, "second read must hit the materialized entry")

    // the index IS the derivation — row-for-row
    val direct = DedupOps.portableBandKeys(
      DedupOps.portableSignatures(Tables.documents(spark, sf001)))
    assert(a.exceptAll(direct).isEmpty && direct.exceptAll(a).isEmpty,
      "lake band keys must equal a cold derivation")

    // distinct scale factors are distinct entries
    val other = SignatureLake.portableBandKeys(spark, sf01)
    assert(!(other eq a))

    SignatureLake.invalidate(spark)
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("graft_lake_")),
      "invalidate must drop every lake table")
    val c = SignatureLake.portableBandKeys(spark, sf001)
    assert(!(c eq a), "invalidate must force a fresh entry")
    SignatureLake.invalidate(spark)
  }

  test("invalidate retires every artifact kind") {
    SignatureLake.invalidate(spark)
    val docs = Tables.documents(spark, sf001)
    def tombstoned(): SignatureLake.TombstonedLake =
      SignatureLake.tombstonedTermPostings(spark, sf001,
        base = docs.filter(col("doc_id") % 10 =!= 7),
        delta = docs.filter(col("doc_id") % 10 === 7),
        deleted = docs.filter(col("doc_id") % DedupOps.TombMod === DedupOps.TombRem)
          .select("doc_id"))
    def lakeTables(): Set[String] = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_lake_")).toSet

    val bloom = SignatureLake.decontamBloomFilter(spark, sf001)
    val codebook = SignatureLake.trainedIvfCodebook(spark, sf001)
    val lake = tombstoned()
    assert(SignatureLake.decontamBloomFilter(spark, sf001) eq bloom)
    assert(SignatureLake.trainedIvfCodebook(spark, sf001) eq codebook)
    assert(tombstoned() eq lake)
    // an extra (un-memoized) table pair over the lifecycle's rewrite
    val g2 = lakeTables().filter(n => n.startsWith("graft_lake_del_terms_") && n.endsWith("_g2"))
    assert(g2.size === 1, lakeTables())
    SignatureLake.writeTermServeTables(spark, g2.head)
    assert(Set(g2.head + "_si", g2.head + "_tier").subsetOf(lakeTables()))

    SignatureLake.invalidate(spark)
    assert(lakeTables().isEmpty, "invalidate must drop every lake table, extra tables included")
    assert(SignatureLake.decontamBloomFilter(spark, sf001) ne bloom,
      "invalidate must retire the Bloom filter")
    assert(SignatureLake.trainedIvfCodebook(spark, sf001) ne codebook,
      "invalidate must retire the trained codebook")
    assert(tombstoned() ne lake, "invalidate must retire the tombstoned lake")
    SignatureLake.invalidate(spark)
  }

  test("bucketed lake write emits at most one data file per bucket (r16 layout fix)") {
    SignatureLake.invalidate(spark)
    // bands: the family that exploded to (tasks x buckets) files before
    // the writer repartitioned by bucket key (1024 data files at sf0.1)
    SignatureLake.portableBandKeys(spark, sf001)
    val t = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_lake_minhash_bands"))
    assert(t.nonEmpty)
    val loc = new java.io.File(new java.net.URI(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(t.head)).toString))
    val dataFiles = Option(loc.listFiles()).getOrElse(Array.empty)
      .count(_.getName.startsWith("part-"))
    assert(dataFiles <= SignatureLake.Buckets,
      s"expected <= ${SignatureLake.Buckets} data files, found $dataFiles")
    SignatureLake.invalidate(spark)
  }

  test("r17 families: span_grams and phash lake == cold derivations; lake-served consumers match inline") {
    SignatureLake.invalidate(spark)
    val docs = Tables.documents(spark, sf001)
    // span-gram index ≡ the inline derivation, row for row
    val lakeGrams = SignatureLake.spanGrams(spark, sf001)
    val directGrams = DedupOps.spanGramRelation(docs)
    assert(lakeGrams.exceptAll(directGrams).isEmpty &&
      directGrams.exceptAll(lakeGrams).isEmpty,
      "span_grams lake must equal a cold derivation")
    // phash relation ≡ the inline derivation
    val lakePh = SignatureLake.perceptualHashes(spark, sf001)
    val directPh = graft.operators.MultimodalOps.perceptualHashes(
      graft.operators.MultimodalOps.phashAuditUniverse(spark, sf001))
    assert(lakePh.exceptAll(directPh).isEmpty &&
      directPh.exceptAll(lakePh).isEmpty,
      "phash lake must equal a cold derivation")
    // the (source, shingle) universe served off shingle_sets ≡ inline
    val served = DedupOps.sourceShingles(docs,
      setsRel = Some(SignatureLake.shingleSets(spark, sf001)))
    val inline = DedupOps.sourceShingles(docs)
    assert(served.exceptAll(inline).isEmpty && inline.exceptAll(served).isEmpty,
      "lake-served source shingles must equal the inline derivation")
    // lake-served verified ngram pairs ≡ the self-contained d05 kernel
    val servedPairs = DedupOps.ngramJaccardPairsFromLake(spark, sf001, 0.6)
    val inlinePairs = DedupOps.ngramJaccardPairs(docs, 0.6)
    assert(servedPairs.exceptAll(inlinePairs).isEmpty &&
      inlinePairs.exceptAll(servedPairs).isEmpty,
      "lake-served verified pairs must equal the inline d05 kernel")
    SignatureLake.invalidate(spark)
  }

  test("fingerprint and ann-bucket families cover the corpus") {
    SignatureLake.invalidate(spark)
    val nDocs = Tables.documents(spark, sf001).count()
    val nVecs = Tables.embeddings(spark, sf001).count()
    assert(SignatureLake.portableFingerprints(spark, sf001).count() === nDocs)
    assert(SignatureLake.portableAnnBuckets(spark, sf001).count()
      === nVecs * DedupOps.PortableAnnTables)
    SignatureLake.invalidate(spark)
  }

  test("production band and token-count families: parity with direct derivation, bucketed serve") {
    SignatureLake.invalidate(spark)
    // the xxhash64 production family equals its cold derivation
    val prod = SignatureLake.productionBandRows(spark, sf001)
    val prodDirect = DedupOps.bandKeys(
      DedupOps.minhashSignatures(Tables.documents(spark, sf001)))
    assert(prod.exceptAll(prodDirect).isEmpty && prodDirect.exceptAll(prod).isEmpty,
      "production band lake must equal a cold derivation")
    // the token-frequency family equals the cold tokenize+count
    val tc = SignatureLake.tokenCounts(spark, sf001)
    val tcDirect = Tables.documents(spark, sf001)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    assert(tc.exceptAll(tcDirect).isEmpty && tcDirect.exceptAll(tc).isEmpty,
      "token-count lake must equal a cold derivation")
    // the t06 serve shape: per-token aggregation reads the bucketed
    // distribution off the scan — no exchange
    val vocab = tc.groupBy(col("token")).agg(sum(col("tf")))
    vocab.collect()
    assert(!vocab.queryExecution.executedPlan.toString.contains("Exchange"),
      "token-bucketed lake must serve the vocab aggregation with zero exchange")
    SignatureLake.invalidate(spark)
  }

  test("band-key read-back satisfies the bucket aggregation with ZERO exchange") {
    SignatureLake.invalidate(spark)
    val bands = SignatureLake.portableBandKeys(spark, sf001)
    // the first shuffle of every near-dup consumer: bucket occupancy /
    // candidate-pair grouping on (band, band_key) — the lake table is
    // bucketed on exactly that key, so the scan itself satisfies the
    // required distribution
    val agg = bands.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("bucket_n"))
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucket aggregation over the lake index must not shuffle:\n$plan")

    // and a signature-side self-join (pair expansion by join rather
    // than collect_list) shuffles NEITHER side
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val l = bands.select(col("band"), col("band_key"), col("doc_id").as("doc_a"))
      val r = bands.select(col("band"), col("band_key"), col("doc_id").as("doc_b"))
      val j = l.join(r, Seq("band", "band_key")).filter(col("doc_a") < col("doc_b"))
      j.count()
      val jp = j.queryExecution.executedPlan.toString
      assert(!jp.contains("Exchange"),
        s"co-bucketed signature self-join must not shuffle either side:\n$jp")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      SignatureLake.invalidate(spark)
    }
  }

  test("incremental index: corpus build + delta append equals the full derivation, still bucketed") {
    SignatureLake.invalidate(spark)
    val docs = Tables.documents(spark, sf001)
    val inc = SignatureLake.incrementalBandIndex(spark, sf001,
      docs.filter(col("doc_id") % 10 =!= 0), docs.filter(col("doc_id") % 10 === 0))
    val full = DedupOps.portableBandKeys(
      DedupOps.portableSignatures(docs))
    assert(inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty,
      "appended index must equal a from-scratch derivation")

    // the APPEND must not cost the zero-exchange property: the table
    // keeps its bucket spec (Spark validates it on append), so the
    // bucket aggregation still reads the distribution off the scan
    val agg = inc.groupBy(col("band"), col("band_key")).agg(count(lit(1)))
    agg.collect()
    assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
      "bucket aggregation over the appended index must not shuffle")

    // idempotent under repetition (bench reps re-run the d12/d23 rows)
    val again = SignatureLake.incrementalBandIndex(spark, sf001,
      docs.filter(col("doc_id") % 10 =!= 0), docs.filter(col("doc_id") % 10 === 0))
    assert(again.count() === full.count())
    SignatureLake.invalidate(spark)
  }

  test("incremental ANN postings: base build + delta append equals the full assignment, zero-exchange pair expansion") {
    SignatureLake.invalidate(spark)
    val emb = Tables.embeddings(spark, sf001)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
    val inc = SignatureLake.incrementalAnnPostings(spark, sf001,
      emb.filter(col("vec_id") % 10 =!= 0), emb.filter(col("vec_id") % 10 === 0))

    // append ≡ rebuild: the frozen literal-plane quantizer assigns each
    // vector independently, so the appended index must equal the shared
    // full-corpus bucket family on the (vec_id, tbl) primary key
    val full = SignatureLake.portableAnnBuckets(spark, sf001)
      .select(col("vec_id"), col("table").as("tbl"), col("bucket"))
    val incKeys = inc.select(col("vec_id"), col("tbl"), col("bucket"))
    assert(incKeys.exceptAll(full).isEmpty && full.exceptAll(incKeys).isEmpty,
      "appended ANN posting index must equal the full-corpus assignment")

    // posting rows carry the vector + norm (the posting-list shape), so
    // the within-bucket pair expansion — d20's first shuffle — reads its
    // required (tbl, bucket) distribution straight off the bucketed scan
    val agg = inc.groupBy(col("tbl"), col("bucket")).agg(count(lit(1)))
    agg.collect()
    assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
      "bucket aggregation over the appended ANN index must not shuffle")

    // the IVF posting index: delta assigned under the FROZEN base
    // codebook equals a full assignment under that codebook, and the
    // cell-keyed posting-list read (the probe join's index side)
    // satisfies its distribution off the bucketed scan
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val ivf = SignatureLake.incrementalIvfPostings(spark, sf001,
      base, emb.filter(col("vec_id") % 10 === 0))
    val cb = graft.operators.SimilarityOps.centroids(base,
      graft.operators.SimilarityOps.cellsForCorpus(base.count()))
    val fullIvf = graft.operators.SimilarityOps.cellAssignments(emb, cb)
      .select(col("vec_id"), col("cell"))
    val incIvf = ivf.select(col("vec_id"), col("cell"))
    assert(incIvf.exceptAll(fullIvf).isEmpty && fullIvf.exceptAll(incIvf).isEmpty,
      "appended IVF posting index must equal the frozen-codebook full assignment")
    val cellAgg = ivf.groupBy(col("cell")).agg(count(lit(1)))
    cellAgg.collect()
    assert(!cellAgg.queryExecution.executedPlan.toString.contains("Exchange"),
      "posting-list aggregation over the appended IVF index must not shuffle")

    // the incremental property a production index exists for: queries
    // served off the lake RETRIEVE freshly-appended delta vectors
    val served = graft.operators.SimilarityOps.knnFromPostings(
      emb, ivf, cb, k = 3, probes = 4)
    val hits = served.filter(col("neighbor_id") % 10 === 0).count()
    assert(hits > 0, "appended delta vectors must be retrievable")
    val deltaQueries = served.filter(col("vec_id") % 10 === 0).count()
    assert(deltaQueries > 0, "delta vectors must also be servable as queries")

    // the rerouted d20 path returns the same verdicts as the
    // self-contained derivation (collected row multisets — combining
    // the two plans in one exceptAll would collide their observe
    // metric names)
    val viaLake = graft.operators.DedupOps.incrementalEmbedding(
      emb, postings = Some(inc)).collect().toSeq.sortBy(_.getLong(0))
    val direct = graft.operators.DedupOps.incrementalEmbedding(emb)
      .collect().toSeq.sortBy(_.getLong(0))
    assert(viaLake === direct,
      "lake-sourced d20 verdicts must equal the self-contained derivation")
    SignatureLake.invalidate(spark)
  }

  test("tombstone delete: deleted vectors stop being retrievable on the s21 serve path, both tiers") {
    SignatureLake.invalidate(spark)
    val emb = Tables.embeddings(spark, sf001)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val delMod = DedupOps.TombMod
    val delRem = DedupOps.TombRem
    val isDel = col("vec_id") % delMod === delRem
    val lake = SignatureLake.tombstonedIvfPostings(spark, sf001,
      base, emb.filter(col("vec_id") % 10 === 0),
      deleted = emb.filter(isDel).select("vec_id"))
    val cb = graft.operators.SimilarityOps.centroids(base,
      graft.operators.SimilarityOps.cellsForCorpus(base.count()))

    // teeth: the PRE-delete index does serve tombstoned vectors — the
    // negative claim below can't pass vacuously
    val preDelete = SignatureLake.incrementalIvfPostings(spark, sf001,
      base, emb.filter(col("vec_id") % 10 === 0))
    val survivors = emb.filter(!isDel)
    assert(graft.operators.SimilarityOps.knnFromPostings(
        survivors, preDelete, cb, k = 3, probes = 4)
      .filter(col("neighbor_id") % delMod === delRem).count() > 0,
      "fixture must contain retrievable tombstoned vectors pre-delete")

    // the takedown claim, on BOTH serving tiers: no surviving query
    // can retrieve a deleted vector from the masked view or from the
    // rewritten generation
    Seq("served" -> lake.served, "compacted" -> lake.compacted).foreach {
      case (tier, postings) =>
        val got = graft.operators.SimilarityOps.knnFromPostings(
          survivors, postings, cb, k = 3, probes = 4)
        assert(got.filter(col("neighbor_id") % delMod === delRem).count() === 0L,
          s"$tier tier must not serve a deleted vector as a neighbor")
        assert(got.count() > 0, s"$tier tier must still serve survivors")
    }

    // physical claim: the rewritten generation holds zero tombstoned
    // rows ON DISK (the masked view merely hides them)
    assert(lake.compacted.filter(isDel).count() === 0L,
      "rewrite must physically remove tombstoned posting rows")
    // and the rewrite keeps the cell bucketing: posting-list reads
    // stay zero-exchange
    val cellAgg = lake.compacted.groupBy(col("cell")).agg(count(lit(1)))
    cellAgg.collect()
    assert(!cellAgg.queryExecution.executedPlan.toString.contains("Exchange"),
      "rewritten generation must stay bucketed by cell")
    SignatureLake.invalidate(spark)
  }

  test("IVF retrain-rebuild: s21 serve path re-serves green off the rebuilt lake") {
    SignatureLake.invalidate(spark)
    val emb = Tables.embeddings(spark, sf001)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
    val (rebuilt, cb) = SignatureLake.rebuildIvfPostings(spark, sf001, emb)
    // the rebuilt lake covers the corpus, one posting per vector
    assert(rebuilt.count() === emb.count())
    // s21's serve geometry off the rebuilt generation: every vector
    // retrieves k neighbors, including post-append delta vectors
    val served = graft.operators.SimilarityOps.knnFromPostings(
      emb, rebuilt, cb, k = 3, probes = 4)
    assert(served.count() > 0)
    assert(served.filter(col("neighbor_id") % 10 === 0).count() > 0,
      "delta-slice vectors must be retrievable off the rebuilt lake")
    // serve off the lake == serve off a direct in-plan assignment
    // under the same codebook (the lake is a materialization, not a
    // different kernel)
    val direct = graft.operators.SimilarityOps.knnFromPostings(
      emb, graft.operators.SimilarityOps.cellAssignments(emb, cb), cb,
      k = 3, probes = 4)
    assert(served.exceptAll(direct).isEmpty && direct.exceptAll(served).isEmpty,
      "rebuilt-lake serve must equal the direct-plan serve")
    // and the posting-list read stays zero-exchange off the bucketed scan
    val agg = rebuilt.groupBy(col("cell")).agg(count(lit(1)))
    agg.collect()
    assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
      "rebuilt posting table must stay bucketed by cell")
    SignatureLake.invalidate(spark)
  }

  test("term-posting lake: append keeps term bucketing (zero-exchange df) and " +
      "appended docs are retrievable through bm25Rank") {
    import spark.implicits._
    val table = s"graft_lake_spec_terms_p${ProcessHandle.current().pid()}"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val base = Seq((1L, "alpha beta gamma"), (2L, "alpha delta"))
      .toDF("doc_id", "text")
    val delta = Seq((3L, "alpha beta RAREWORD")).toDF("doc_id", "text")
    try {
      SignatureLake.appendTermPostings(spark, table, base)
      SignatureLake.appendTermPostings(spark, table, delta)
      val post = spark.table(table)
      // df aggregation on the bucket key must read the required
      // distribution straight off the bucketed scan — the property
      // the one-time bucketBy shuffle buys every serve
      val df = post.groupBy(col("term")).agg(count(lit(1)))
      df.collect()
      assert(!df.queryExecution.executedPlan.toString.contains("Exchange"),
        "appended term lake must stay bucketed by term")
      // the appended doc serves: query doc 0 not needed — rank doc 3
      // via a query carrying its rare term
      val queries = Seq((0L, "RAREWORD beta x y z")).toDF("doc_id", "text")
      val hits = graft.operators.SimilarityOps
        .bm25Rank(queries, post, queryMod = 1000000, k = 3)
      // queryMod filter keeps doc 0 (0 % mod == 0); rare term only in doc 3
      val top = hits.orderBy(col("rank")).collect()
      assert(top.nonEmpty && top.head.getLong(2) === 3L,
        s"appended doc must be retrievable and top-ranked: ${top.toSeq}")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("incremental term lake: base+delta equals the full derivation; capped serve agrees") {
    val docs = graft.Tables.documents(spark, sf001)
    val lake = SignatureLake.incrementalTermPostings(spark, sf001,
      docs.filter(col("doc_id") % 10 =!= 7), docs.filter(col("doc_id") % 10 === 7))
    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long, Long)] =
      df.select(col("doc_id"), col("term"), col("tf"), col("dl")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    // conservation: append order is invisible — the lake IS the
    // full-corpus posting relation
    assert(canon(lake) === canon(graft.operators.SimilarityOps.bm25Postings(docs)),
      "base build + delta append must equal the from-scratch posting relation")
    // the budget-capped serve (s31's lexical leg) is identical off
    // lake and direct derivation — champion tier + stats are
    // order-independent functions of the rows
    def ranked(post: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long)] =
      graft.operators.SimilarityOps.bm25RankCapped(docs, post, excludeSelf = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.sorted
    assert(ranked(lake) === ranked(graft.operators.SimilarityOps.bm25Postings(docs)))
  }

  test("term-lake tombstone delete: masked serve re-derives scoring; unmasked serve would not") {
    SignatureLake.invalidate(spark)
    val docs = graft.Tables.documents(spark, sf001)
    val delMod = DedupOps.TombMod
    val delRem = DedupOps.TombRem
    val isDel = col("doc_id") % delMod === delRem
    val lake = SignatureLake.tombstonedTermPostings(spark, sf001,
      base = docs.filter(col("doc_id") % 10 =!= 7),
      delta = docs.filter(col("doc_id") % 10 === 7),
      deleted = docs.filter(isDel).select("doc_id"))
    val survivors = docs.filter(!isDel)
    def ranked(post: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long)] =
      graft.operators.SimilarityOps.bm25RankCapped(survivors, post)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.sorted
    val rebuilt = ranked(graft.operators.SimilarityOps.bm25Postings(survivors))
    // the d34 gate's two claims, at spec grain
    assert(ranked(lake.served) === rebuilt,
      "masked serve (stats post-mask) must equal the survivor rebuild")
    assert(ranked(lake.compacted) === rebuilt,
      "rewritten generation must serve the identical ranking")
    // TEETH: the PRE-delete lake serves a DIFFERENT ranking — deleted
    // docs appear as results and their postings shift df/N/avgdl, so
    // the equalities above cannot pass vacuously; this is exactly what
    // a takedown that forgot to mask before stats derivation would
    // have served
    val unmasked = SignatureLake.incrementalTermPostings(spark, sf001,
      docs.filter(col("doc_id") % 10 =!= 7), docs.filter(col("doc_id") % 10 === 7))
    val stale = ranked(unmasked)
    assert(stale !== rebuilt,
      "fixture must make the unmasked serve observably different")
    assert(graft.operators.SimilarityOps.bm25RankCapped(survivors, unmasked)
      .filter(col("doc_id") % delMod === delRem).count() > 0,
      "pre-delete index must retrievably serve tombstoned docs (non-vacuous)")
    // physical claim: zero tombstoned rows on disk after the rewrite
    assert(lake.compacted.filter(isDel).count() === 0L)
    // and the rewrite keeps term bucketing — df reads stay zero-exchange
    val dfAgg = lake.compacted.groupBy(col("term")).agg(count(lit(1)))
    dfAgg.collect()
    assert(!dfAgg.queryExecution.executedPlan.toString.contains("Exchange"),
      "rewritten term generation must stay bucketed by term")
    SignatureLake.invalidate(spark)
  }

  test("masked-tier serve: tombstoned docs vanish from the PRODUCTION tier path (s34/st17's subject)") {
    SignatureLake.invalidate(spark)
    import graft.operators.SimilarityOps
    val docs = graft.Tables.documents(spark, sf001)
    val isDel = col("doc_id") % DedupOps.TombMod === DedupOps.TombRem
    val si = SignatureLake.termImpacts(spark, sf001)
    val tier = SignatureLake.termChampions(spark, sf001)
    val deleted = docs.filter(isDel).select("doc_id")
    val qt = SimilarityOps.bm25QueryTerms(docs.filter(!isDel),
      SimilarityOps.Bm25QueryMod)
    // TEETH: the UNMASKED materialized tier retrievably serves
    // tombstoned docs — exactly the r15 hole (only the inline
    // mask-before-stats serve was gated; the tier tables were not)
    val unmasked = SimilarityOps.bm25RankCappedFromTier(qt, si, tier,
      SimilarityOps.Bm25TopK, excludeSelf = false,
      budget = SimilarityOps.PostingBudget)
    assert(unmasked.filter(isDel).count() > 0,
      "fixture must make the unmasked tier serve tombstoned docs (non-vacuous)")
    val masked = SimilarityOps.bm25RankCappedFromTierMasked(qt, si, tier,
      deleted, SimilarityOps.Bm25TopK, excludeSelf = false,
      budget = SimilarityOps.PostingBudget)
    masked.collect()
    assert(masked.filter(isDel).count() === 0L,
      "the masked tier path must serve zero tombstoned docs")
    // every query still gets results (the mask removes docs, not queries)
    assert(masked.select("query_id").distinct().count()
      === unmasked.select("query_id").distinct().count(),
      "masking must not drop whole query groups on this corpus")
    SignatureLake.invalidate(spark)
  }

  test("maskTombstones: broadcast under the row bound, shuffled anti-join past it — identical rows") {
    SignatureLake.invalidate(spark)
    val docs = graft.Tables.documents(spark, sf001)
    val post = graft.operators.SimilarityOps.bm25Postings(docs)
    val tomb = docs.filter(col("doc_id") % DedupOps.TombMod === DedupOps.TombRem)
      .select("doc_id")
    val bc = SignatureLake.maskTombstones(post, tomb, "doc_id")
    bc.collect()
    val pBc = bc.queryExecution.executedPlan.toString
    assert(pBc.contains("BroadcastHashJoin") && pBc.contains("LeftAnti"),
      s"under the bound the tombstone side must broadcast:\n${pBc.take(1500)}")
    assert(bc.queryExecution.optimizedPlan.toString.contains("strategy=broadcast"),
      "under the bound the broadcast hint must be present")
    // past the bound (forced here with bound=0) the mask must NOT
    // trust the "takedown-batch sized" scaladoc: d37's bulk-purge
    // branch tombstones a third of the corpus, and force-broadcasting
    // that at 100 TB is an OOM, not a plan. The pin is on the HINT —
    // the guard stops FORCING the broadcast; AQE remains free to pick
    // one from real runtime stats (on this deliberately tiny fixture
    // it does, which is correct — at 100 TB the bulk-purge stats
    // would say otherwise and the planner would shuffle)
    val sh = SignatureLake.maskTombstones(post, tomb, "doc_id",
      maxBroadcastRows = 0L)
    sh.collect()
    assert(!sh.queryExecution.optimizedPlan.toString.contains("strategy=broadcast"),
      "past the bound the mask must not carry a forced broadcast hint")
    assert(sh.queryExecution.executedPlan.toString.contains("LeftAnti"),
      "the fallback mask must still be an anti-join")
    assert(bc.exceptAll(sh).isEmpty && sh.exceptAll(bc).isEmpty,
      "both mask plans must produce identical rows")
  }

  private def exists(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  test("scratch path: under the session warehouse, named with this pid and session") {
    val p = SignatureLake.scratchPath(spark, sf001, "spec")
    assert(p.startsWith(spark.sessionState.conf.warehousePath + "/"), p)
    val name = new org.apache.hadoop.fs.Path(p).getName
    assert(name.startsWith("graft_lake_scratch_spec_"), name)
    assert(name.contains(s"_p${ProcessHandle.current().pid()}_s"), name)
    assert(p === SignatureLake.scratchPath(spark, sf001, "spec"),
      "one (session, sf, kind) names one directory")
  }

  test("orphan sweep deletes a dead pid's scratch and keeps a live pid's") {
    val wh = spark.sessionState.conf.warehousePath
    // far above Linux's pid_max (2^22), so no process can hold it
    val dead = s"$wh/graft_lake_scratch_spec_x_p999999999_s1"
    val live = s"$wh/graft_lake_scratch_spec_x_p${ProcessHandle.current().pid()}_s1"
    Seq(dead, live).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(p)
    }
    try {
      SignatureLake.sweepDead(spark)
      assert(!exists(dead), "a dead process's scratch must be swept")
      assert(exists(live), "a live process's scratch must be kept")
    } finally Seq(dead, live).foreach(SignatureLake.deleteDir(spark, _))
  }

  test("q62 and d07 write their scratch under the warehouse, none under java.io.tmpdir") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def tmpGraft(): Set[String] =
      Option(tmp.list()).fold(Set.empty[String])(_.filter(_.startsWith("graft_")).toSet)
    val before = tmpGraft()
    graft.operators.CoreQueries.schemaEvolution.run(spark, sf001).collect()
    DedupOps.clustersQ.run(spark, sf001).collect()
    assert(exists(SignatureLake.scratchPath(spark, sf001, "evo") + "/gen1"))
    assert(exists(SignatureLake.scratchPath(spark, sf001, "d07_labels") + "/_SUCCESS"))
    assert(exists(SignatureLake.scratchPath(spark, sf001, "d07_pairs")))
    val added = tmpGraft() -- before
    assert(added.isEmpty, s"new java.io.tmpdir entries: $added")
  }
}
