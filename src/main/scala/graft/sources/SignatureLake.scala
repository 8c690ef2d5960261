package graft.sources

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.GraftSession.Memo
import graft.Tables
import graft.functions.VectorFunctions.{lshBandBuckets, toDouble}
import graft.operators.{DedupOps, SimilarityOps}

/** Materialized signature index for the PORTABLE dedup families — the
  * d12 "precomputed lake index" pattern made concrete AS AN ON-DISK
  * LAKE TABLE: the md5 MinHash signatures/band keys, md5 SimHash
  * fingerprints, and literal-plane ANN bucket relations are derived
  * ONCE per (session, sfDir) on first access and written as
  * BUCKETED + SORTED managed parquet tables under the session
  * warehouse; every subsequent consumer reads the table back.
  *
  * This is how the 100 TB deployment actually runs: the dedup jobs
  * write signature/fingerprint tables to the lake alongside the
  * corpus (they must — the signatures ARE the dedup state), and audit
  * consumers like the d11p coverage funnel read those tables instead
  * of re-hashing petabytes per report. Bucketing by each family's
  * downstream key means the read-back satisfies the consumer's
  * required distribution with ZERO exchange (SignatureLakeSpec
  * asserts this on the physical plan): the band-key bucket
  * aggregation that generates candidate pairs — the first shuffle of
  * every near-dup consumer — is paid once at WRITE time, exactly the
  * [[Bucketing]] ingest-time-shuffle trade.
  *
  * Incremental maintenance is the other half of the lake story: a
  * production pipeline never re-derives the corpus's signatures per
  * ingest — it derives the NEW batch's signatures and APPENDS them to
  * the bucketed index ([[appendBandDelta]]; the d12 registry row runs
  * exactly this path and the d23 row hash-checks that the appended
  * index equals a from-scratch derivation). Bucketed appends keep the
  * bucket spec (Spark validates it), so the zero-exchange read-back
  * property survives every ingest.
  *
  * The derivation cost is itself measured by the d14_sig / d15_fp
  * BenchOne stages and the self-contained d14/d15 audit rows, which
  * deliberately do NOT read this index.
  *
  * Size is bounded: each relation is O(docs · bands) rows of
  * fixed-width keys per scale factor — no payload text, no vectors
  * except the bucket ids. Every artifact is memoized per
  * (session, sfDir, family) through [[graft.GraftSession.Memo]], so a
  * stopped session's entries are never served to a live one;
  * `invalidate` drops a live session's tables (managed drop deletes
  * the files) and artifacts when a caller wants a cold re-derivation.
  */
object SignatureLake {

  /** Bucket count for every lake table. Locally this matches the bench
    * session's shuffle parallelism so the zero-exchange read-back still
    * uses every core; at 100 TB the count follows file-size math
    * instead (table_bytes / 256 MB target files — see [[Bucketing]]),
    * and joins across different counts coalesce when one divides the
    * other. */
  val Buckets = 32

  /** Table families by (sfDir, family): (catalog table name, the ONE
    * table-scan DataFrame served to every consumer — identity-stable so
    * callers can cheaply observe "same materialization"). */
  private val cache = new Memo[(String, String), (String, DataFrame)]

  /** Tables written OUTSIDE [[cache]] (post-stream serve tables,
    * rebuilds, the tombstone lifecycle's tables), by name, so
    * [[invalidate]] can drop them too. */
  private val extraTables = new Memo[String, String]

  /** A tombstoned index family's two serving tiers: `served` is the
    * logical view (index read-back ANTI-JOIN tombstones — what queries
    * run against between takedown and the next maintenance window) and
    * `compacted` is the physically rewritten generation (tombstoned
    * rows gone from disk, tombstone store retired). */
  final case class TombstonedLake(served: DataFrame, compacted: DataFrame)

  private val delCache = new Memo[(String, String), TombstonedLake]

  /** Broadcast sketches by sfDir (the third lake-artifact kind next to
    * bucketed tables and codebooks) — currently the d09
    * decontamination Bloom filter. */
  private val bloomCache = new Memo[String, Broadcast[BloomFilter]]

  /** Trained codebooks by sfDir (bounded k·dim driver arrays — the
    * codebook lake-artifact kind the scaladoc above names). */
  private val codebookCache = new Memo[String, Array[Array[Double]]]

  private def registerExtra(spark: SparkSession, t: String): Unit = {
    extraTables(spark, t)(t); ()
  }

  /** Deterministic identity of an incremental family's input split:
    * an MD5 over each frame's CANONICALIZED plan string, truncated to
    * 64 bits of hex, joined. Folded into every incremental family's
    * memo key (and therefore its table name), so two callers passing
    * DIFFERENT (base, delta) splits under the same slice name can
    * never silently share one lake — they materialize distinct
    * tables — while identical replays (registry rows, bench reps)
    * still memo-hit: canonicalized plans normalize expression ids, so
    * the string is stable across reconstructions within a session
    * (verified against the actual caller pattern, fresh
    * `read.parquet(...).filter(...)` per call). A 128-bit digest
    * truncated to 64 bits replaces the earlier 32-bit semanticHash:
    * at 32 bits a birthday collision between two different splits
    * under the same slice would memo-hit and silently serve one
    * split's lake to the other caller — exactly the silent-sharing
    * failure this key exists to prevent. */
  private def splitKey(dfs: DataFrame*): String =
    dfs.map { df =>
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(df.queryExecution.analyzed.canonicalized.toString
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(8).map(b => f"$b%02x").mkString
    }.mkString("_")

  private def sanitize(s: String): String =
    s.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+|_+$", "")

  /** The pid- and session-scoped warehouse name of `family` on
    * `sfDir`. The first call in a JVM also sweeps dead processes'
    * leftovers ([[sweepOrphans]]), so every writer of a scoped name has
    * swept before it writes. */
  private[graft] def tableName(spark: SparkSession, sfDir: String, family: String): String = {
    sweepOrphans(spark)
    s"graft_lake_${family}_${sanitize(sfDir)}_p${ProcessHandle.current().pid()}" +
      s"_s${Integer.toHexString(System.identityHashCode(spark))}"
  }

  /** A fresh JVM's catalog starts empty, but the WAREHOUSE directory
    * survives process exits — and identityHashCode sequences can
    * repeat across identical forked JVMs, so a new run's managed
    * CREATE can land on a dead run's leftover location and throw
    * LOCATION_ALREADY_EXISTS. Overwrite writes therefore pre-clean
    * both the catalog entry and any orphaned directory (the pid in
    * the name already makes cross-process collisions rare; this makes
    * them harmless). */
  private def preclean(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    deleteDir(spark, spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).toString)
  }

  /** Recursively delete `path` (any Hadoop file system) if it exists. */
  def deleteDir(spark: SparkSession, path: String): Unit = {
    val loc = new org.apache.hadoop.fs.Path(path)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** The warehouse directory for one row's intermediate artifacts of
    * `kind` on `sfDir`: named like a lake table, so it is unique per
    * process and session, and the orphan sweep reclaims it once its
    * process is dead. Callers overwrite it per run (bench reps); it is
    * not registered in the catalog. */
  def scratchPath(spark: SparkSession, sfDir: String, kind: String): String =
    s"${spark.sessionState.conf.warehousePath}/${tableName(spark, sfDir, "scratch_" + kind)}"

  /** Write `df` as a MANAGED bucketed+sorted parquet table — the lake
    * write. SaveMode.Append validates the existing bucket spec, so an
    * incremental write can never silently de-bucket the index.
    *
    * The input is REPARTITIONED by the bucket columns into exactly
    * [[Buckets]] partitions first (same hash family as the bucket
    * spec, so each write task holds exactly its own bucket). Spark's
    * bucketed write does not do this by itself: each INPUT task
    * writes one file per bucket it happens to hold, so an
    * AQE-coalesced single-partition input serializes the whole
    * sort+write through one task, and a 32-partition input writes
    * 32×32 = 1024 tiny files that every read-back then has to list
    * and open. One exchange at write time buys a parallel write AND
    * one file per bucket — the ingest-time-shuffle trade this lake
    * already advertises, now actually established by the writer. At
    * 100 TB the same move is how bucketed tables hit their target
    * file size (table_bytes / Buckets per file). */
  private def writeFamily(df: DataFrame, table: String,
      bucketCols: Seq[String], mode: SaveMode): Unit = {
    if (mode == SaveMode.Overwrite) preclean(df.sparkSession, table)
    df.repartition(Buckets, bucketCols.map(df.col): _*)
      .write.format("parquet")
      .bucketBy(Buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .mode(mode)
      .saveAsTable(table)
  }

  /** Once per JVM, garbage-collect lake directories (tables and
    * scratch) left by DEAD processes (each forked Verify/Bench/test JVM
    * writes pid-named directories and cannot drop them after exit).
    * Best-effort: a live pid's directories are never touched, and an
    * IO failure is logged, not thrown — this is warehouse hygiene, not
    * correctness. */
  private val swept = new java.util.concurrent.atomic.AtomicBoolean(false)
  private def sweepOrphans(spark: SparkSession): Unit =
    if (swept.compareAndSet(false, true)) sweepDead(spark)

  private[sources] def sweepDead(spark: SparkSession): Unit =
    try {
      val wh = new org.apache.hadoop.fs.Path(spark.sessionState.conf.warehousePath)
      val fs = wh.getFileSystem(spark.sessionState.newHadoopConf())
      val self = ProcessHandle.current().pid()
      val pidRe = "_p(\\d+)_s".r
      if (fs.exists(wh)) fs.listStatus(wh).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("graft_lake_")) {
          pidRe.findFirstMatchIn(n).foreach { m =>
            val pid = m.group(1).toLong
            val dead = pid != self &&
              !ProcessHandle.of(pid).map[java.lang.Boolean](_.isAlive).orElse(false)
            if (dead) fs.delete(st.getPath, true)
          }
        }
      }
    } catch { case e: Exception =>
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"lake orphan sweep failed: ${e.getClass.getName}: ${e.getMessage}")
    }

  /** The lake table of `family` on `sfDir`, memoized per session: the
    * first call writes `build` under the family's table name and then
    * runs `append` on that table (an incremental family's delta
    * write); every call returns the same read-back. */
  private def get(spark: SparkSession, sfDir: String, family: String,
      bucketCols: Seq[String], append: String => Unit = _ => ())(
      build: => DataFrame): DataFrame =
    cache(spark, (sfDir, family)) {
      val t = tableName(spark, sfDir, family)
      writeFamily(build, t, bucketCols, SaveMode.Overwrite)
      append(t)
      (t, spark.table(t))
    }._2

  /** Portable MinHash SIGNATURES (doc_id, sig: array<string> hex
    * lanes) — the root relation of the minhash family; the band-key
    * relation derives from it, so the md5 pass over the corpus runs
    * ONCE per (session, sfDir) no matter how many audit consumers
    * (band keys, d17's lane-agreement calibration) read the family.
    * Bucketed by doc_id: the audit consumers' joins back to the
    * corpus are doc-keyed. */
  def portableSignatures(spark: SparkSession, sfDir: String): DataFrame =
    get(spark, sfDir, "minhash_sigs", Seq("doc_id")) {
      DedupOps.portableSignatures(Tables.documents(spark, sfDir))
    }

  /** Portable MinHash band keys (doc_id, band, band_key) —
    * [[DedupOps.portableBandKeys]] over the materialized
    * [[portableSignatures]]. Bucketed by (band, band_key): the
    * candidate-pair bucket aggregation — every near-dup consumer's
    * first shuffle — reads this distribution straight off the scan. */
  def portableBandKeys(spark: SparkSession, sfDir: String): DataFrame = {
    // resolve the root family BEFORE entering the band-keys build: a
    // memo build must not re-enter its own memo
    val sigs = portableSignatures(spark, sfDir)
    get(spark, sfDir, "minhash_bands", Seq("band", "band_key")) {
      DedupOps.portableBandKeys(sigs)
    }
  }

  /** PRODUCTION MinHash band rows (doc_id, sig: array<bigint>, band,
    * band_key) — the xxhash64 family
    * ([[DedupOps.bandKeys]] ∘ [[DedupOps.minhashSignatures]]),
    * bucketed by (band, band_key) like the portable twin: the
    * candidate-pair bucket aggregation reads its distribution off the
    * scan. Materialized like the md5 families: a consumer that
    * re-derives the signature pipeline per execution bills index-BUILD
    * cost to every serve, and timings of unchanged rows swing with
    * whatever ran first. The signature rides along per band row so the
    * pair stage's agreement compare never joins back to a second
    * table. */
  def productionBandRows(spark: SparkSession, sfDir: String): DataFrame =
    get(spark, sfDir, "minhash_prod_bands", Seq("band", "band_key")) {
      DedupOps.bandKeys(DedupOps.minhashSignatures(
        Tables.documents(spark, sfDir)))
    }

  /** Token-frequency lake (doc_id, token, tf) — per-doc term
    * frequencies of the whitespace tokenizer, bucketed by token: the
    * vocabulary-stats family corpus-stats consumers (t06 top tokens,
    * t07 TF-IDF) read instead of re-tokenizing the corpus per report.
    * The same materialize-don't-rederive rule as the signature
    * families: the vocabulary is counted once, not per report. */
  def tokenCounts(spark: SparkSession, sfDir: String): DataFrame =
    get(spark, sfDir, "token_counts", Seq("token")) {
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    }

  /** SAMPLED-shingle inverted index (doc_id, shingle) — d22's
    * candidate source (md5-nibble 1/2 universe sample), bucketed by
    * shingle: the capped-bucket pair expansion — the containment
    * row's first shuffle — reads its distribution off the scan. */
  def shingleIndex(spark: SparkSession, sfDir: String): DataFrame =
    get(spark, sfDir, "shingle_index", Seq("shingle")) {
      DedupOps.sampledShingles(Tables.documents(spark, sfDir))
    }

  /** Per-doc shingle sets (doc_id, sh: array<string>) — d22's
    * exact-verify side table, bucketed by doc_id (the verify joins
    * candidates back by doc id). */
  def shingleSets(spark: SparkSession, sfDir: String): DataFrame =
    get(spark, sfDir, "shingle_sets", Seq("doc_id")) {
      DedupOps.shingleSets(Tables.documents(spark, sfDir))
    }

  /** Per-posting snapped BM25 impact relation (term, doc_id, s) for
    * the FULL document corpus — what a score-at-a-time index stores
    * per posting ([[graft.operators.SimilarityOps.bm25Impacts]] over
    * [[graft.operators.SimilarityOps.bm25Postings]]). Bucketed by
    * term: the capped serve's exact-rescore join and the uncapped
    * audit rank both probe it term-first. Corpus stats (N, ΣL, df)
    * are baked into `s` at materialization time — the staleness the
    * s33 row prices when the underlying postings append. */
  def termImpacts(spark: SparkSession, sfDir: String): DataFrame =
    get(spark, sfDir, "term_impacts", Seq("term")) {
      SimilarityOps.bm25Impacts(SimilarityOps.bm25Postings(
        Tables.documents(spark, sfDir)))
    }

  /** Champion tier of [[termImpacts]]: rows with per-term impact rank
    * `pr` ≤ [[graft.operators.SimilarityOps.TierMaxBudget]]
    * (term, doc_id, s, pr), bucketed by term. The per-term sort — an
    * index-build cost, never a serve cost — is paid HERE, once; every
    * serve at any budget ≤ the ceiling is a bucketed scan +
    * `pr <= budget` filter (budgets nest), so the s30 production serve
    * and the whole s32 curve read this one table. */
  def termChampions(spark: SparkSession, sfDir: String): DataFrame = {
    val si = termImpacts(spark, sfDir)
    get(spark, sfDir, "term_champions", Seq("term"))(championTier(si))
  }

  /** The champion tier of an impact relation: rows of per-term impact
    * rank `pr` ≤ [[graft.operators.SimilarityOps.TierMaxBudget]]. The
    * one tier cut shared by [[termChampions]], [[incrementalTermServe]]
    * and st15's post-stream [[writeTermServeTables]], so it can never
    * diverge between the batch and streamed serves. */
  private def championTier(impacts: DataFrame): DataFrame =
    SimilarityOps.bm25ImpactRanked(impacts)
      .filter(col("pr") <= SimilarityOps.TierMaxBudget)

  /** Memoized decontamination Bloom filter over the benchmark fixture
    * (every 50th document — the d08/d09 eval-suite stand-in): the two
    * driver-side actions behind it (distinct gram count +
    * treeAggregate fill) are INDEX-BUILD cost, paid once per
    * (session, sfDir) and attributed as a named bench `lake_build`
    * entry, so the d09 row times probe + exact-join only (the
    * d22/tier attribution rule). A deployment builds this once per
    * benchmark-suite release and serves every decontamination pass
    * off the broadcast. */
  def decontamBloomFilter(spark: SparkSession, sfDir: String): Broadcast[BloomFilter] =
    bloomCache(spark, sfDir) {
      DedupOps.buildDecontamBloom(
        Tables.documents(spark, sfDir).filter(col("doc_id") % 50 === 0))
    }

  /** The full-corpus TRAINED IVF codebook (seeded Lloyd's,
    * [[SimilarityOps.kmeansCentroids]] at the sqrt cell sizing) —
    * memoized per (session, sfDir) as a codebook lake artifact. A
    * production IVF index persists its trained codebook WITH the
    * index (the codebook IS index state — every serve and every
    * append quantizes against it), so the consumer rows (s04 serve,
    * s19 probe curve, s23's rebuild leg) share one 10-iteration
    * training instead of each re-running it. Deterministic: fixed
    * seed, same input relation, so memoization changes no output —
    * the d09 decontam-Bloom attribution precedent. Timed as the
    * `ivf_codebook` bench lake_build entry. */
  def trainedIvfCodebook(spark: SparkSession, sfDir: String): Array[Array[Double]] =
    codebookCache(spark, sfDir) {
      val emb = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val n = emb.count()
      SimilarityOps.kmeansCentroids(emb,
        SimilarityOps.cellsForCorpus(n), knownN = Some(n))
    }

  /** Portable SimHash fingerprints (doc_id, sh0, sh1), bucketed by
    * doc_id (pigeonhole band keys are derived per-radius downstream —
    * doc_id is the one stable key). */
  def portableFingerprints(spark: SparkSession, sfDir: String): DataFrame =
    get(spark, sfDir, "simhash_fp", Seq("doc_id")) {
      DedupOps.portableSimhashFingerprints(Tables.documents(spark, sfDir))
    }

  /** Span-gram index (doc_id, pos, h) — md5 of the
    * [[graft.operators.DedupOps.MinSpanTokens]]-token window at every
    * offset, the span families' gram relation, bucketed by h: the
    * duplicate-gram aggregation and the anchor join back — the first
    * two operations of every span consumer (d27's dedup, d30's
    * decontamination, p04 stage 1) — read their distribution off the
    * scan. Gram rows are PER-DOC row-local, so a doc_id slice of this
    * table IS the gram relation of the sliced corpus (what d30/p04
    * rely on). The one span input that can never come from here is
    * p04 stage 2's grams over REWRITTEN text — derived inline, as it
    * must be. At 100 TB this is the substring-dedup fingerprint index
    * a production pipeline persists beside the corpus (the biggest
    * family by rows — one row per token position — which is exactly
    * why it is derived once and served, not re-hashed per report). */
  def spanGrams(spark: SparkSession, sfDir: String): DataFrame =
    get(spark, sfDir, "span_grams", Seq("h")) {
      DedupOps.spanGramRelation(Tables.documents(spark, sfDir))
    }

  /** Perceptual-hash relation (doc_id, phash) over the phash audit
    * universe — the m05/m09 shared derivation (the payload bytes are
    * decoded once, not once per row), bucketed by doc_id (the
    * pigeonhole band keys are derived per-radius downstream; doc_id is
    * the one stable key — the simhash_fp convention). */
  def perceptualHashes(spark: SparkSession, sfDir: String): DataFrame =
    get(spark, sfDir, "phash", Seq("doc_id")) {
      graft.operators.MultimodalOps.perceptualHashes(
        graft.operators.MultimodalOps.phashAuditUniverse(spark, sfDir))
    }

  /** Portable sign-LSH ANN buckets (vec_id, table, bucket), bucketed by
    * (table, bucket): occupancy stats and within-bucket pair expansion
    * group on exactly that key. */
  def portableAnnBuckets(spark: SparkSession, sfDir: String): DataFrame =
    get(spark, sfDir, "ann_buckets", Seq("table", "bucket")) {
      Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
        .select(col("vec_id"),
          posexplode(lshBandBuckets(col("v"), DedupOps.PortableAnnTables,
            DedupOps.PortableAnnPlanes, SimilarityOps.Dim))
            .as(Seq("table", "bucket")))
    }

  /** Exact probe-sample kNN ground truth — [[SimilarityOps.knnGraphExact]]
    * at the audit geometry (mod = [[SimilarityOps.GraphSampleMod]],
    * k = [[SimilarityOps.GraphK]]): (src_id, dst_id, rank, cos_sim,
    * mutual), bucketed by src_id. FIVE gate rows (s02/s04 recall
    * contracts, s12/s13/s14 recall evals) score approximate kernels
    * against this one relation — the audit tier derives it once per
    * (session, sf) and reads it back, exactly like the signature
    * families. A consumer needing k' < GraphK filters `rank <= k'`
    * (row_number prefixes are monotone); `mutual` is only meaningful
    * at k = GraphK (s13, the one consumer that reads it). */
  def exactProbeGraph(spark: SparkSession, sfDir: String): DataFrame =
    get(spark, sfDir, "knn_exact", Seq("src_id")) {
      SimilarityOps.knnGraphExact(
        Tables.embeddings(spark, sfDir).select(col("vec_id"),
          toDouble(col("embedding")).as("v")),
        SimilarityOps.GraphSampleMod, SimilarityOps.GraphK)
    }

  // ------------------------------------------------------------------
  // Incremental maintenance (the d12 ingest path)
  // ------------------------------------------------------------------

  /** Derive the portable band keys of `delta` docs and APPEND them to
    * an existing bucketed band index — the per-ingest maintenance
    * write. Only the NEW batch is hashed; the corpus side stays on
    * disk untouched. */
  def appendBandDelta(spark: SparkSession, table: String, delta: DataFrame): Unit =
    writeFamily(DedupOps.portableBandKeys(DedupOps.portableSignatures(delta)),
      table, Seq("band", "band_key"), SaveMode.Append)

  /** Build the band-key index for `base`, then [[appendBandDelta]] the
    * `delta` batch — the d12 registry row's index path, in a private
    * `inc_bands` namespace so the shared full-corpus families above
    * are never clobbered. The build+append sequence is memoized per
    * (session, sfDir, slice, split) like every other family — the d12
    * and d23 rows pass the same deterministic slices, so the first
    * consumer pays the overwrite+append and later calls (including
    * bench reps) read the table back instead of hashing the corpus
    * again. `invalidate` forces a cold rebuild; a long-lived
    * deployment calls [[appendBandDelta]] alone per ingest. Returns
    * the read-back of the UPDATED table: base ∪ delta band keys,
    * still bucketed. */
  /** @param slice names the (base, delta) split rule — it IS the memo
    *        key alongside (session, sfDir), so two callers with
    *        different splits can never silently share one table */
  def incrementalBandIndex(spark: SparkSession, sfDir: String,
      base: DataFrame, delta: DataFrame,
      slice: String = "mod10"): DataFrame =
    get(spark, sfDir, s"inc_bands_${slice}_${splitKey(base, delta)}",
        Seq("band", "band_key"), appendBandDelta(spark, _, delta)) {
      DedupOps.portableBandKeys(DedupOps.portableSignatures(base))
    }

  // ------------------------------------------------------------------
  // Incremental ANN maintenance (the d20 ingest path)
  // ------------------------------------------------------------------

  /** LSH POSTING rows of an embedding frame (vec_id, v) — the ANN
    * index's on-disk unit: (vec_id, tbl, bucket, v, nrm), one row per
    * (vector, hash table). The vector and its norm ride INSIDE the
    * posting row — the real posting-list shape (an IVF/LSH index
    * stores the codes/vectors in the list), so a cell-keyed consumer
    * never joins back to the embeddings table. */
  private def annPostings(emb: DataFrame): DataFrame =
    emb
      .withColumn("nrm", graft.functions.VectorFunctions.norm(col("v")))
      .select(col("vec_id"), col("v"), col("nrm"),
        posexplode(lshBandBuckets(col("v"), DedupOps.PortableAnnTables,
          DedupOps.PortableAnnPlanes, SimilarityOps.Dim))
          .as(Seq("tbl", "bucket")))

  /** Assign the `delta` batch's vectors to their cells (the literal
    * planes are the FROZEN quantizer — new vectors index into the
    * existing bucket structure, the codebook never retrains per
    * ingest) and APPEND the posting rows to an existing bucketed
    * posting table — the per-ingest ANN maintenance write, the
    * embedding twin of [[appendBandDelta]]. Only the NEW batch is
    * hashed; the corpus side stays on disk untouched, and
    * SaveMode.Append validates the (tbl, bucket) bucket spec so the
    * append can never silently de-bucket the index. */
  def appendEmbeddingDelta(spark: SparkSession, table: String, delta: DataFrame): Unit =
    writeFamily(annPostings(delta), table, Seq("tbl", "bucket"), SaveMode.Append)

  /** Term-posting lake write/append for the LEXICAL index (s27's
    * inverted postings, rows (doc_id, term, tf, dl) from
    * [[graft.operators.SimilarityOps.bm25Postings]]): each ingest
    * batch tokenizes only its own documents and appends term-bucketed
    * rows — SaveMode.Append validates the bucket spec, so a
    * micro-batch can never de-bucket the index. Serve-side corpus
    * statistics (N, L, df) derive from the lake rows themselves
    * (bm25Rank), so the index is the single source of truth after any
    * append history. */
  def appendTermPostings(spark: SparkSession, table: String, docs: DataFrame): Unit =
    writeFamily(graft.operators.SimilarityOps.bm25Postings(docs),
      table, Seq("term"), SaveMode.Append)

  /** CDC chunk-digest lake write/append (m13's chunk relation
    * (doc_id, off, dg, nb) from
    * [[graft.operators.MultimodalOps.cdcChunks]]): each ingest batch
    * chunks only its own payloads and appends DIGEST-bucketed rows —
    * the dedup report's keep-first window then reads its required
    * distribution off the scan, and payload bytes never shuffle
    * (only 16-byte digests are lake keys, m11's rule). SaveMode.
    * Append validates the bucket spec, so a micro-batch can never
    * de-bucket the index. */
  def appendChunkDigests(spark: SparkSession, table: String,
      payloads: DataFrame): Unit =
    writeFamily(graft.operators.MultimodalOps.cdcChunks(payloads),
      table, Seq("dg"), SaveMode.Append)

  /** Build the term-posting lake for `base` (overwrite), then
    * [[appendTermPostings]] the `delta` batch — the batch twin of
    * st15's streamed maintenance, in a private `inc_terms` namespace,
    * memoized per (session, sfDir, slice) like the other incremental
    * families. Returns the read-back of the UPDATED table:
    * (doc_id, term, tf, dl) for base ∪ delta, bucketed by term, so
    * the serve-side term join reads posting lists with zero exchange
    * on the index side. Append order is invisible to serving: corpus
    * stats derive from the rows, and the capped serve's champion tier
    * is an order-independent per-term window. */
  def incrementalTermPostings(spark: SparkSession, sfDir: String,
      base: DataFrame, delta: DataFrame,
      slice: String = "mod10"): DataFrame =
    get(spark, sfDir, s"inc_terms_${slice}_${splitKey(base, delta)}",
        Seq("term"), appendTermPostings(spark, _, delta)) {
      SimilarityOps.bm25Postings(base)
    }

  /** The two serve-side materializations over a term-posting lake:
    * the snapped impact relation and its champion tier (rows carry
    * the per-term impact rank `pr`). */
  final case class TermServeLake(impacts: DataFrame, tier: DataFrame)

  /** Impact + champion-tier tables derived from the UPDATED
    * incremental term lake — the maintenance window's second write:
    * after a posting append, corpus stats (N, ΣL, df) have moved, so
    * the deployment re-materializes impacts and re-cuts the tier
    * (the s33 row prices how stale a FROZEN tier goes between these
    * windows). Both tables are term-bucketed; the serve
    * ([[graft.operators.SimilarityOps.bm25RankCappedFromTier]]) is
    * then two bucketed scans — no window over the posting relation
    * on any serve plan. Memoized like the other incremental
    * families. */
  def incrementalTermServe(spark: SparkSession, sfDir: String,
      base: DataFrame, delta: DataFrame,
      slice: String = "mod10"): TermServeLake = {
    val lake = incrementalTermPostings(spark, sfDir, base, delta, slice)
    val sk = splitKey(base, delta)
    val si = get(spark, sfDir, s"inc_term_si_${slice}_$sk", Seq("term"))(
      SimilarityOps.bm25Impacts(lake))
    TermServeLake(si,
      get(spark, sfDir, s"inc_term_tier_${slice}_$sk", Seq("term"))(championTier(si)))
  }

  /** [[incrementalTermServe]] for an EXPLICIT posting table (st15's
    * streamed lake): derive + write `<table>_si` and `<table>_tier`
    * and return their read-backs — the post-stream maintenance
    * write, un-memoized (the caller owns the table lifecycle; both
    * side tables are registered so [[invalidate]] retires them). */
  def writeTermServeTables(spark: SparkSession,
      postingTable: String): TermServeLake = {
    val siT = s"${postingTable}_si"
    writeFamily(SimilarityOps.bm25Impacts(spark.table(postingTable)), siT,
      Seq("term"), SaveMode.Overwrite)
    registerExtra(spark, siT)
    val tierT = s"${postingTable}_tier"
    writeFamily(championTier(spark.table(siT)), tierT, Seq("term"), SaveMode.Overwrite)
    registerExtra(spark, tierT)
    TermServeLake(spark.table(siT), spark.table(tierT))
  }

  /** Build the ANN posting index for `base`, then
    * [[appendEmbeddingDelta]] the `delta` batch — d20's index path, in
    * a private `inc_ann` namespace (the shared read-only families
    * above are never clobbered). Memoized per (session, sfDir, slice)
    * like [[incrementalBandIndex]]: the d20 and d26 rows pass the same
    * deterministic slices, so the first consumer pays the
    * overwrite+append and later calls (bench reps included) read the
    * table back; a long-lived deployment calls [[appendEmbeddingDelta]]
    * alone per ingest. Returns the read-back of the UPDATED table:
    * base ∪ delta posting rows, bucketed+sorted by (tbl, bucket), so
    * every within-bucket pair expansion downstream reads its required
    * distribution with zero exchange. */
  def incrementalAnnPostings(spark: SparkSession, sfDir: String,
      base: DataFrame, delta: DataFrame,
      slice: String = "mod10"): DataFrame =
    get(spark, sfDir, s"inc_ann_${slice}_${splitKey(base, delta)}",
        Seq("tbl", "bucket"), appendEmbeddingDelta(spark, _, delta))(annPostings(base))

  /** Assign the `delta` batch's vectors to their nearest cell under an
    * EXPLICIT (frozen) codebook and APPEND the posting rows to an
    * existing cell-bucketed posting table — the per-ingest IVF
    * maintenance write. The codebook is the one trained at index
    * build time: cells never move under an append, only posting lists
    * grow (re-training is a REBUILD, a different operation with a
    * different cost class). */
  def appendIvfDelta(spark: SparkSession, table: String, delta: DataFrame,
      codebook: Array[Array[Double]]): Unit =
    writeFamily(SimilarityOps.cellAssignments(delta, codebook),
      table, Seq("cell"), SaveMode.Append)

  /** Build the IVF posting index for `base` under the base-trained
    * first-k codebook ([[SimilarityOps.centroids]] at the
    * ⌈√n_base⌉ sizing — the oracle-replayable geometry; a production
    * deployment passes its k-means codebook through the same two
    * writes), then [[appendIvfDelta]] the `delta` batch under that
    * SAME frozen codebook — the s20 registry row's index path, in a
    * private `inc_ivf` namespace. Memoized per (session, sfDir, slice)
    * like the other incremental families. Returns the read-back of
    * the UPDATED table: (vec_id, v, nrm, cell) for base ∪ delta,
    * bucketed+sorted by cell, so a probe-side equi-join on cell reads
    * the posting lists with zero exchange on the index side. */
  def incrementalIvfPostings(spark: SparkSession, sfDir: String,
      base: DataFrame, delta: DataFrame,
      slice: String = "mod10"): DataFrame = {
    lazy val cb = SimilarityOps.centroids(base,
      SimilarityOps.cellsForCorpus(base.count()))
    get(spark, sfDir, s"inc_ivf_${slice}_${splitKey(base, delta)}",
        Seq("cell"), appendIvfDelta(spark, _, delta, cb)) {
      SimilarityOps.cellAssignments(base, cb)
    }
  }

  /** SEMANTIC-CELL lake for incremental SemDeDup (d33): embed the
    * base docs (hashed BoW — row-local, so the delta embeds
    * independently), train the first-⌈√n_base⌉ codebook, write
    * cell-bucketed assignment rows (doc_id, cell, v, nrm, cent_sim),
    * then append the delta's assignments under the SAME frozen
    * codebook — the s20 frozen-quantizer contract applied to the
    * d31 family. Bucketed by cell: the dominance prune's within-cell
    * pair join reads its distribution off the scan. Memoized like
    * the other incremental families. */
  def incrementalSemCells(spark: SparkSession, sfDir: String,
      base: DataFrame, delta: DataFrame,
      slice: String = "mod10"): DataFrame = {
    lazy val bv = DedupOps.semDedupEmbed(base)
    lazy val cb = DedupOps.semDedupCodebook(bv, bv.count())
    get(spark, sfDir, s"inc_semcells_${slice}_${splitKey(base, delta)}",
        Seq("cell"), appendSemCells(_, delta, cb)) {
      DedupOps.semDedupAssign(bv, cb)
    }
  }

  /** Append `delta`'s semantic-cell assignments under the frozen
    * codebook `cb` to the cell-bucketed table `table`. */
  private def appendSemCells(table: String, delta: DataFrame,
      cb: Array[Array[Double]]): Unit =
    writeFamily(DedupOps.semDedupAssign(DedupOps.semDedupEmbed(delta), cb),
      table, Seq("cell"), SaveMode.Append)

  /** LABELED IVF posting index (build + append, frozen codebook) —
    * the filtered-ANN attribute-in-index family: every posting row
    * carries the filter attribute (label) alongside the vector, so a
    * metadata predicate composes inside the cell join instead of
    * joining back to the corpus per query (s24's serve path). Same
    * memoized lifecycle as [[incrementalIvfPostings]], distinct
    * namespace. */
  def incrementalIvfPostingsLabeled(spark: SparkSession, sfDir: String,
      base: DataFrame, delta: DataFrame,
      slice: String = "mod10"): DataFrame = {
    lazy val cb = SimilarityOps.centroids(base,
      SimilarityOps.cellsForCorpus(base.count()))
    get(spark, sfDir, s"inc_ivf_lbl_${slice}_${splitKey(base, delta)}", Seq("cell"),
        t => writeFamily(SimilarityOps.cellAssignments(delta, cb, Seq("label")),
          t, Seq("cell"), SaveMode.Append)) {
      SimilarityOps.cellAssignments(base, cb, Seq("label"))
    }
  }

  /** IVF REBUILD — the operation the s23 crossover row prices against
    * frozen-codebook appends: retrain the codebook on the full corpus
    * (sampled Lloyd's) and rewrite the posting table under it in one
    * bucketed overwrite. Not memoized (a rebuild is an explicit
    * maintenance action); the table is registered so [[invalidate]]
    * retires it. Returns the read-back AND the retrained codebook —
    * the serve path must probe with the codebook that built the
    * index. */
  def rebuildIvfPostings(spark: SparkSession, sfDir: String, emb: DataFrame,
      slice: String = "full"): (DataFrame, Array[Array[Double]]) = {
    val n = emb.count()
    val cb = SimilarityOps.kmeansCentroids(emb,
      SimilarityOps.cellsForCorpus(n), knownN = Some(n))
    val t = tableName(spark, sfDir, s"rebuild_ivf_$slice")
    writeFamily(SimilarityOps.cellAssignments(emb, cb), t, Seq("cell"),
      SaveMode.Overwrite)
    registerExtra(spark, t)
    (spark.table(t), cb)
  }

  // ------------------------------------------------------------------
  // Tombstone deletes (takedown / right-to-be-forgotten maintenance)
  // ------------------------------------------------------------------

  /** APPEND a batch of deleted ids to an index's tombstone side table
    * — the takedown write, and the third leg of index maintenance
    * (build / append / DELETE). A 100 TB deployment never rewrites a
    * petabyte bucketed index per takedown batch: deletes land as rows
    * in a tiny id-keyed side table, every serve path anti-joins it
    * ([[maskTombstones]] — the tombstone side broadcasts), and the
    * next maintenance window folds them into a physical rewrite
    * ([[rewriteWithoutTombstones]]) and retires them. Bucketed by the
    * id column so the eventual rewrite's anti-join and any
    * id-keyed audit read their distribution off the scan.
    *
    * ACCUMULATE-ONLY contract: repeated calls against the same index
    * UNION their delete sets — a tombstoned id stays deleted until the
    * rewrite retires the store; there is no retraction, and duplicate
    * ids across batches are harmless (the serve path is an anti-join).
    * That is the takedown semantic on purpose: un-deleting is a
    * re-APPEND of the row through the index's normal append path, a
    * new fact, never a mutation of the tombstone log. If per-batch
    * retraction is ever needed, key this table by batch id and make
    * [[maskTombstones]] filter to live batches. */
  def appendTombstones(spark: SparkSession, indexTable: String,
      deletedIds: DataFrame, idCol: String): String = {
    val tt = s"${indexTable}_tomb"
    writeFamily(deletedIds.select(idCol), tt, Seq(idCol),
      if (spark.catalog.tableExists(tt)) SaveMode.Append else SaveMode.Overwrite)
    registerExtra(spark, tt)
    tt
  }

  /** Row bound for force-broadcasting the tombstone side of
    * [[maskTombstones]]: 4M ids ≈ 32 MB of longs on every executor —
    * comfortably inside a production broadcast budget. Past it the
    * "takedown-batch sized" contract no longer holds (a bulk purge —
    * d37's 1/3 slice — would ship a third of all doc ids to every
    * task and OOM the driver at 100 TB), so the mask falls back to a
    * shuffled anti-join on the bucketed id column instead of trusting
    * the scaladoc. */
  val MaskBroadcastMaxRows: Long = 4L * 1000 * 1000

  /** The between-compactions serve view: index rows whose id is not
    * tombstoned. The tombstone side is normally takedown-batch sized
    * (≪ index), so the anti-join broadcasts — no index-side shuffle.
    * That contract is ENFORCED, not assumed: the tombstone side is
    * counted (one scan of a tiny id-keyed table — parquet-footer
    * cheap) and past [[MaskBroadcastMaxRows]] the mask plans a
    * shuffled anti-join instead of force-broadcasting a relation that
    * only a scaladoc promised was small.
    *
    * DECISION SCOPE: the count runs when the serve plan is
    * CONSTRUCTED, and the chosen join strategy is frozen into that
    * plan — re-executing one DataFrame across later takedown batches
    * keeps the old decision. That is the intended granularity: every
    * serve path here constructs its plan per query batch /
    * maintenance window against a tombstone SNAPSHOT, and a
    * deployment holding one view open across windows should rebuild
    * it per window (the store only ever grows, so a stale decision
    * can only err toward broadcasting too much — the guard exists
    * for exactly that caller). Callers that already know the store's
    * size pass `knownTombRows` and skip the count job — the masked
    * serves count ONCE per serve, not once per scan. */
  def maskTombstones(index: DataFrame, tombstones: DataFrame,
      idCol: String, maxBroadcastRows: Long = MaskBroadcastMaxRows,
      knownTombRows: Option[Long] = None): DataFrame = {
    val tomb = tombstones.select(idCol)
    if (knownTombRows.getOrElse(tomb.count()) <= maxBroadcastRows)
      index.join(broadcast(tomb), Seq(idCol), "left_anti")
    else index.join(tomb, Seq(idCol), "left_anti")
  }

  /** Physical delete — the maintenance-window rewrite: a NEW bucketed
    * generation of the index without the tombstoned rows, after which
    * the tombstone store is retired (dropped). One distributed
    * anti-join + one bucketed write, amortized over every takedown
    * batch since the last window — never a per-delete rewrite. Returns
    * the new generation's read-back. */
  /** @param retireTombstones drop the tombstone store once its rows
    *        are folded into the rewrite (the production default); the
    *        audit lifecycle passes false because the conservation rows
    *        gate the MASKED view and the rewritten generation side by
    *        side, and the masked view still reads the store lazily. */
  def rewriteWithoutTombstones(spark: SparkSession, indexTable: String,
      tombTable: String, idCol: String, bucketCols: Seq[String],
      retireTombstones: Boolean = true): DataFrame = {
    val g2 = s"${indexTable}_g2"
    writeFamily(
      maskTombstones(spark.table(indexTable), spark.table(tombTable), idCol),
      g2, bucketCols, SaveMode.Overwrite)
    registerExtra(spark, g2)
    if (retireTombstones) spark.sql(s"DROP TABLE IF EXISTS $tombTable")
    spark.table(g2)
  }

  /** Full index-maintenance lifecycle for one family — build(base),
    * append(delta), tombstone(deleted), serve-masked, physically
    * rewrite — memoized per (session, sfDir, family) like the
    * incremental families (the d28/d29/s22 conservation rows replay
    * deterministic slices; bench reps read the tables back). `build`
    * derives the base index relation; `append` is the family's
    * delta-ingest write against a named table. */
  private def tombstonedFamily(spark: SparkSession, sfDir: String,
      family: String, bucketCols: Seq[String], idCol: String,
      deleted: DataFrame)(build: => DataFrame)(
      append: String => Unit): TombstonedLake =
    delCache(spark, (sfDir, family)) {
      val t = tableName(spark, sfDir, family)
      writeFamily(build, t, bucketCols, SaveMode.Overwrite)
      append(t)
      registerExtra(spark, t)
      val tt = appendTombstones(spark, t, deleted, idCol)
      val served = maskTombstones(spark.table(t), spark.table(tt), idCol)
      TombstonedLake(served,
        rewriteWithoutTombstones(spark, t, tt, idCol, bucketCols,
          retireTombstones = false))
    }

  /** Band-key index under the full lifecycle: d12's build+append writes
    * followed by a tombstone batch for `deleted` doc ids and the
    * physical rewrite — the d28 conservation row's index path. */
  def tombstonedBandIndex(spark: SparkSession, sfDir: String,
      base: DataFrame, delta: DataFrame, deleted: DataFrame,
      slice: String = "mod10del7"): TombstonedLake =
    tombstonedFamily(spark, sfDir,
        s"del_bands_${slice}_${splitKey(base, delta, deleted)}",
        Seq("band", "band_key"), "doc_id", deleted)(
      DedupOps.portableBandKeys(DedupOps.portableSignatures(base)))(
      t => appendBandDelta(spark, t, delta))

  /** LSH ANN posting index under the full lifecycle (d29's path): the
    * d20 build+append writes, then vec-id tombstones + rewrite. */
  def tombstonedAnnPostings(spark: SparkSession, sfDir: String,
      base: DataFrame, delta: DataFrame, deleted: DataFrame,
      slice: String = "mod10del7"): TombstonedLake =
    tombstonedFamily(spark, sfDir,
        s"del_ann_${slice}_${splitKey(base, delta, deleted)}",
        Seq("tbl", "bucket"), "vec_id", deleted)(
      annPostings(base))(
      t => appendEmbeddingDelta(spark, t, delta))

  /** TERM-POSTING index under the full lifecycle (d34's path) — the
    * one index family that was missing its delete leg (band/ANN/IVF
    * all gate deletes via d28/d29/s22): s27's build + st15-shaped
    * append, then doc-id tombstones and the physical rewrite. The
    * serve-side consequence is bigger here than for the signature
    * families: corpus statistics (N, ΣL, df) derive from the lake
    * rows, so a takedown must shift BM25 scoring — the d34 row
    * therefore masks BEFORE stats derivation (bm25Impacts over the
    * `served` view) and gates the re-derived RANKING, not just row
    * conservation. */
  def tombstonedTermPostings(spark: SparkSession, sfDir: String,
      base: DataFrame, delta: DataFrame, deleted: DataFrame,
      slice: String = "mod10del7"): TombstonedLake =
    tombstonedFamily(spark, sfDir,
        s"del_terms_${slice}_${splitKey(base, delta, deleted)}",
        Seq("term"), "doc_id", deleted)(
      SimilarityOps.bm25Postings(base))(
      t => appendTermPostings(spark, t, delta))

  /** IVF posting index under the full lifecycle (s22's path). The
    * codebook is FROZEN at index build time — trained on the base
    * slice before the takedown arrived, and a delete never retrains
    * (cells never move; re-training is a REBUILD with its own cost
    * class, priced by the s23 crossover row). */
  def tombstonedIvfPostings(spark: SparkSession, sfDir: String,
      base: DataFrame, delta: DataFrame, deleted: DataFrame,
      slice: String = "mod10del7"): TombstonedLake = {
    lazy val cb = SimilarityOps.centroids(base,
      SimilarityOps.cellsForCorpus(base.count()))
    tombstonedFamily(spark, sfDir,
        s"del_ivf_${slice}_${splitKey(base, delta, deleted)}",
        Seq("cell"), "vec_id", deleted)(
      SimilarityOps.cellAssignments(base, cb))(
      t => appendIvfDelta(spark, t, delta, cb))
  }

  /** CDC CHUNK-DIGEST index under the full lifecycle (d36's path):
    * m13's build + st16-shaped append, then doc-id tombstones and the
    * physical rewrite. The dedup consequence mirrors d35's keeper
    * promotion in keep-first form: deleting the doc that held a
    * digest group's FIRST copy promotes a later copy to first, so the
    * per-doc dedup report must be re-derived post-mask, never served
    * from cached ranks. */
  def tombstonedChunkDigests(spark: SparkSession, sfDir: String,
      base: DataFrame, delta: DataFrame, deleted: DataFrame,
      slice: String = "mod10del7"): TombstonedLake =
    tombstonedFamily(spark, sfDir,
        s"del_chunks_${slice}_${splitKey(base, delta, deleted)}",
        Seq("dg"), "doc_id", deleted)(
      graft.operators.MultimodalOps.cdcChunks(base))(
      t => appendChunkDigests(spark, t, delta))

  /** SEMANTIC-CELL index under the full lifecycle (d35's path) — the
    * last index family to gain its delete leg (bands d28, ANN d29,
    * IVF s22, terms d34/st17). The codebook is FROZEN at build time
    * — trained on the base slice INCLUDING docs a later takedown
    * removes (the s22 cells-never-move convention: the centroid
    * directions are derived aggregates; whether they constitute
    * removable personal data is a policy question priced as a
    * rebuild, not a delete). The interesting takedown semantics live
    * downstream: deleting a cell's dominance KEEPER must promote the
    * docs it was suppressing — the d35 row gates the whole prune
    * relation, not just row conservation. */
  def tombstonedSemCells(spark: SparkSession, sfDir: String,
      base: DataFrame, delta: DataFrame, deleted: DataFrame,
      slice: String = "mod10del7"): TombstonedLake = {
    lazy val bv = DedupOps.semDedupEmbed(base)
    lazy val cb = DedupOps.semDedupCodebook(bv, bv.count())
    tombstonedFamily(spark, sfDir,
        s"del_semcells_${slice}_${splitKey(base, delta, deleted)}",
        Seq("cell"), "doc_id", deleted)(
      DedupOps.semDedupAssign(bv, cb))(
      appendSemCells(_, delta, cb))
  }

  /** The shared lake families, by name, in build order: Bench times
    * each build under its name, and BenchMany pre-builds them all. */
  val families: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "minhash_sigs" -> portableSignatures,
    "minhash_bands" -> portableBandKeys,
    "minhash_prod_bands" -> productionBandRows,
    "token_counts" -> tokenCounts,
    "term_impacts" -> termImpacts,
    "term_champions" -> termChampions,
    "shingle_index" -> shingleIndex,
    "shingle_sets" -> shingleSets,
    "simhash_fp" -> portableFingerprints,
    "ann_buckets" -> portableAnnBuckets,
    "knn_exact" -> exactProbeGraph,
    "decontam_bloom" -> decontamBloomFilter,
    "ivf_codebook" -> trainedIvfCodebook,
    "span_grams" -> spanGrams,
    "phash" -> perceptualHashes)

  /** Drop (and delete — managed tables) every lake table owned by
    * `spark`, and retire its other artifacts with them: a session that
    * invalidates the lake and regenerates its inputs must never be
    * served a Bloom filter, codebook or tombstoned lake derived from
    * the earlier inputs. */
  def invalidate(spark: SparkSession): Unit = {
    cache.drop(spark).foreach { case (t, _) => spark.sql(s"DROP TABLE IF EXISTS $t") }
    delCache.drop(spark)
    bloomCache.drop(spark)
    codebookCache.drop(spark)
    extraTables.drop(spark).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
