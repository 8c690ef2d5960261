package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{GraftQuery, Tables}
import graft.functions.TextFunctions
import graft.functions.VectorFunctions._

/** Deduplication operators for the training-data pipeline: exact,
  * token-set, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.
  *
  * Scale design (the point of these at 100 TB):
  *  - exact / token-set dedup are single hash-shuffles on a derived key;
  *  - MinHash/SimHash avoid the O(n²) pairwise comparison entirely —
  *    candidates come from equality joins on band keys, so the only
  *    shuffles are groupBy(doc) for signatures and groupBy(band key) for
  *    candidate generation; both partition cleanly across executors;
  *  - degenerate band buckets (boilerplate / empty docs collapsing one
  *    band key) are capped before the self-join so a single hot key can
  *    never go quadratic; dropped volume is surfaced as a named
  *    `observe` metric and via [[hotBandReport]];
  *  - signatures are fixed-width (32×8 bytes), so signature state per
  *    document is O(1) regardless of document length;
  *  - all hashing uses Spark's codegen'd xxhash64 — no UDFs.
  */
object DedupOps {

  val NumHashes = 32 // minhash permutations
  // 8 bands × 4 rows: the banding S-curve midpoint is
  // (1/bands)^(1/rows) = 0.595 — tuned to the 0.6 Jaccard threshold.
  // Fewer rows per band (e.g. 16×2, midpoint 0.25) makes every
  // moderately-similar template pair a candidate and blows the
  // candidate join up quadratically on boilerplate-heavy corpora;
  // recall at the J ≥ 0.9 pairs the exact verifier keeps is ≥ 0.9998.
  val Bands = 8
  val RowsPerBand: Int = NumHashes / Bands

  /** Band buckets larger than this are dropped from candidate
    * generation (with the dropped volume logged): an equality join on a
    * key shared by b rows emits b² pairs, so one boilerplate bucket at
    * 100 TB would dominate the whole job. Identical-text duplicates
    * should be collapsed by d01 before near-dup LSH; this cap is the
    * safety valve for corpora where they weren't. */
  val MaxBandBucket = 256

  /** SimHash blocking keys are 128/(k+1) bits wide at the production
    * 2-lane fingerprint (9-10 bits at the radius-12 contract), so
    * EXPECTED occupancy is n/2^width and grows with the corpus — the
    * cap must sit well above it to only catch degenerate skew, and the
    * members are 24-byte structs (vs 264 for MinHash signatures), so a
    * bigger array stays cheap. */
  val MaxSimhashBucket = 4096

  /** Audit-tier sign-LSH geometry for the PORTABLE coverage report:
    * fixed table/plane counts (corpus-INdependent, unlike d11's
    * adaptive [[graft.functions.VectorFunctions.planesForCorpus]]) so
    * the plane constants can be embedded as literals in ONE oracle
    * text that is valid at every scale factor.
    *
    * DECLARED AT THE TOP of the object (r9, the GraphSampleMod hazard
    * class): SimilarityOps's s10-s14 oracle texts interpolate these
    * at ITS val-init time, and SimilarityOps can start initializing
    * in the MIDDLE of this object's init (the d06 contract's oracle
    * interpolates SimilarityOps.GraphSampleMod). A declaration below
    * that trigger point reads 0 here and silently bakes an empty
    * `UNION ALL` into five oracle texts — caught by the full local
    * gate (5 parser errors), invisible to targeted runs. */
  val PortableAnnTables = 2
  val PortableAnnPlanes = 6

  /** Takedown-slice rule for the d28/d29/s22 delete-conservation rows:
    * ids with `id % TombMod == TombRem` are tombstoned. Deliberately
    * coprime with the 10-way build/delta split so the deleted set cuts
    * across BOTH the base build and the appended delta — a delete that
    * only cleaned one generation would still go red. Declared up top:
    * s22 lives in SimilarityOps, whose init can run mid-DedupOps-init
    * (the two objects cross-reference), and a query text interpolating
    * a not-yet-initialized val silently bakes in 0. */
  val TombMod = 7
  val TombRem = 3

  /** Document-side ingest-delta slice (`doc_id % DocDeltaMod ==
    * DocDeltaRem` streams/appends after the base build) — the ONE
    * statement of the residue d23/d33/d35/d36/d38/s31/st15/st16/st18
    * all split on, registered in [[graft.FixtureSlices]] so the
    * property spec can pin it against the takedown slice on the real
    * corpus. Declared up top for the same init-order reason as
    * [[TombMod]]. */
  val DocDeltaMod = 10
  val DocDeltaRem = 7

  /** The band-lake build/delta split's delta residue (d12/d28 use
    * `doc_id % DocDeltaMod == BandDeltaRem`) — a DIFFERENT residue
    * from [[DocDeltaRem]] on purpose, so the two incremental-family
    * fixtures never silently collapse into one slice. */
  val BandDeltaRem = 0

  /** doc_id + exploded distinct 3-token shingles (the MinHash
    * pipeline's fixed width; delegates to [[tokenShingles]] so the
    * shingling definition lives in exactly one place). */
  def shingles(docs: DataFrame): DataFrame = tokenShingles(docs, 3)

  /** MinHash signature per doc: element i = min over shingles of
    * xxhash64(i, shingle) (seeded hash family). */
  def minhashSignatures(docs: DataFrame): DataFrame =
    shingles(docs)
      .groupBy(col("doc_id"))
      .agg(array((0 until NumHashes).map(i =>
        min(xxhash64(lit(i), col("shingle")))): _*).as("sig"))

  /** Explode each signature into its LSH band keys. */
  def bandKeys(sigs: DataFrame): DataFrame = {
    val bands = array((0 until Bands).map { b =>
      val rows = (0 until RowsPerBand).map(r => col("sig")(b * RowsPerBand + r))
      xxhash64((lit(b) +: rows): _*)
    }: _*)
    sigs.select(col("doc_id"), col("sig"), posexplode(bands).as(Seq("band", "band_key")))
  }

  /** Buckets the guard would drop at the given cap — run this to see
    * what boilerplate a corpus is hiding. */
  def hotBandReport(docs: DataFrame, maxBucket: Int = MaxBandBucket): DataFrame =
    bandKeys(minhashSignatures(docs))
      .groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)

  /** Within-bucket pair expansion: group band rows into bounded member
    * arrays and explode the i<j pairs. ONE shuffle on the band key and
    * ONE evaluation of the upstream plan — a band self-join would
    * instead execute the whole signature pipeline once per join side
    * (verified in the physical plan) and shuffle it twice. The bucket
    * cap both guards against quadratic hot buckets (boilerplate docs
    * collapsing one key) and bounds the collected array, so per-row
    * memory is maxBucket·|struct|. Dropped volume is surfaced on the
    * `<metric>.dropped_band_rows` observed metric. */
  /** @param directed emit both (a,b) and (b,a) — for per-row top-k
    *        consumers; undirected emits each positional i<j pair once
    *        (half the generated rows; canonicalize ids downstream with
    *        least/greatest when a total order matters) */
  private[operators] def bucketPairs(
      banded: DataFrame, keyCols: Seq[String], memberCols: Seq[String],
      maxBucket: Int, metric: String, directed: Boolean = false): DataFrame = {
    val buckets = banded
      .groupBy(keyCols.map(col): _*)
      .agg(collect_list(struct(memberCols.map(col): _*)).as("members"))
      .observe(metric,
        sum(when(size(col("members")) > maxBucket, size(col("members")))
          .otherwise(0)).cast("long").as("dropped_band_rows"))
      .filter(size(col("members")) <= maxBucket)
    if (directed) // caller filters self-pairs on its id column
      buckets
        .select(explode(col("members")).as("a"), col("members"))
        .select(col("a"), explode(col("members")).as("b"))
    else
      buckets
        .select(posexplode(col("members")).as(Seq("i", "a")), col("members"))
        .select(col("a"),
          explode(slice(col("members"), col("i") + lit(2), lit(maxBucket))).as("b"))
  }

  /** Banded candidate rows (a pair appears once per shared band):
    * bounded within-bucket expansion — never a cross product, never a
    * second evaluation of the signature pipeline. Ids are canonicalized
    * doc_a < doc_b; the signatures ride unordered (every downstream
    * compare is symmetric). */
  def rawCandidatePairs(docs: DataFrame, maxBucket: Int = MaxBandBucket): DataFrame =
    bucketPairs(bandKeys(minhashSignatures(docs)),
      keyCols = Seq("band", "band_key"), memberCols = Seq("doc_id", "sig"),
      maxBucket, metric = "minhash_band_guard")
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))

  /** Distinct candidate pairs with signatures. */
  def candidatePairs(docs: DataFrame): DataFrame =
    rawCandidatePairs(docs).dropDuplicates("doc_a", "doc_b")

  /** Exact dedup: one representative (min doc_id) per identical text. */
  val exactQ: GraftQuery = GraftQuery(
    "d01_dedup_exact",
    """SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies
      |FROM documents GROUP BY text""".stripMargin) { (spark, sf) =>
    Tables.documents(spark, sf)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))
  }

  /** Token-set (bag-of-words) dedup: group by the canonical sorted
    * distinct-token signature — catches reorderings/repetitions. */
  val tokenSetQ: GraftQuery = GraftQuery(
    "d02_dedup_tokenset",
    """SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_members
      |FROM (SELECT doc_id,
      |             array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS sig
      |      FROM documents) t
      |GROUP BY sig""".stripMargin) { (spark, sf) =>
    Tables.documents(spark, sf)
      .select(col("doc_id"), TextFunctions.tokenSetSignature(col("text")).as("sig"))
      .groupBy(col("sig"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_members"))
      .select(col("doc_id"), col("n_members"))
  }

  /** MinHash+LSH near-dup pairs with signature-estimated Jaccard ≥ 0.5
    * — the production (xxhash64) near-dup detector's pair relation.
    * Self-contained derivation (hashes the corpus itself) — specs and
    * the d14-style measured path use this; the d03 gate row serves off
    * the materialized band lake via [[minhashDupPairsFromLake]]. */
  def minhashDupPairs(docs: DataFrame): DataFrame =
    minhashPairsTail(
      bucketPairs(bandKeys(minhashSignatures(docs)),
        keyCols = Seq("band", "band_key"), memberCols = Seq("doc_id", "sig"),
        MaxBandBucket, metric = "minhash_band_guard"))

  /** [[minhashDupPairs]] SERVED off
    * [[graft.sources.SignatureLake.productionBandRows]] — the
    * signature pipeline runs once per (session, sf) at lake-build
    * time (a named bench `lake_build` entry, the r12 md5-family
    * pinning applied to the production family) and the pair stage
    * reads the (band, band_key)-bucketed table back zero-exchange. */
  def minhashDupPairsFromLake(spark: SparkSession, sf: String): DataFrame =
    minhashPairsTail(
      bucketPairs(graft.sources.SignatureLake.productionBandRows(spark, sf),
        keyCols = Seq("band", "band_key"), memberCols = Seq("doc_id", "sig"),
        MaxBandBucket, metric = "minhash_band_guard_lake"))

  private def minhashPairsTail(bucketed: DataFrame): DataFrame = {
    val pairs = bucketed
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
    // codegen'd signature-agreement kernel — the interpreted
    // zip_with+aggregate fold allocated per candidate pair (see
    // graft.functions.EqCount)
    val matches = call_function("graft_eq_count", col("sig_a"), col("sig_b"))
    // estimate BEFORE the pair-dedup so the dedup shuffle carries one
    // double instead of two 32-element signature arrays
    pairs
      .withColumn("est_jaccard", round(matches.cast("double") / NumHashes, 3))
      .filter(col("est_jaccard") >= 0.5)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("est_jaccard")).as("est_jaccard"))
  }

  /** Exact Jaccard bar that defines the pair-recall contracts' truth
    * set: pairs the AUDIT (md5) pipeline verifies at J ≥ 0.9 — the
    * regime where d03's 8×4 banding has per-pair candidate
    * probability ≥ 0.9998 (and d04's 128-bit fingerprints collapse to
    * a few bits of Hamming), so the production families owe the truth
    * set near-total recall. At the 0.6 contract boundary the S-curve
    * only promises ~0.67 and no such contract would be scale-stable. */
  val ContractTruthJ = 0.9

  /** d03's recall floor against the J ≥ 0.9 audit truth (measured:
    * 1.00 at sf0.001/0.01/0.1 — theory says ≥ 0.9998 per pair). */
  val MinhashRecallFloor = 0.9

  /** d04's recall floor against the J ≥ 0.9 truth restricted to
    * d15's radius (measured: 0.96–1.00 across the three sfs — the
    * two independent 128-bit projections disagree on a few pairs
    * that land at Hamming 13–14 in one family and ≤ 12 in the
    * other). */
  val SimhashRecallFloor = 0.75

  /** Audit-truth near-dup pairs from the SignatureLake's materialized
    * portable band keys (the d12 lake-index pattern — the contract
    * consumers must NOT re-derive the md5 family per row; d14 keeps
    * the self-contained end-to-end derivation measured). */
  private def lakeVerifiedPairs(spark: SparkSession, sf: String,
      threshold: Double, metric: String): DataFrame = {
    val cand = bucketPairs(
      graft.sources.SignatureLake.portableBandKeys(spark, sf),
      keyCols = Seq("band", "band_key"), memberCols = Seq("doc_id"),
      MaxBandBucket, metric = metric)
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // verify sets off the shingle_sets lake family too (r17) — the
    // last inline tokenization on this serve path
    jaccardVerify(Tables.documents(spark, sf), cand, threshold,
      setsRel = Some(graft.sources.SignatureLake.shingleSets(spark, sf)))
  }

  /** One-row pair-recall contract: |truth|, the floor literal, and
    * whether `caught` recovers ≥ floor of the truth pairs. Only the
    * oracle-replayable columns are emitted (the s02/s04 pattern —
    * the caught side is hash-family-internal, which is WHY these
    * rows had no oracle); a banding/fingerprint regression flips the
    * engine's boolean and the row goes red in the driver gate. */
  private[operators] def pairRecallContract(truth: DataFrame, caught: DataFrame,
      floor: Double): DataFrame =
    truth.select(col("doc_a"), col("doc_b"))
      .join(caught.select(col("doc_a"), col("doc_b"))
        .withColumn("__hit", lit(1L)), Seq("doc_a", "doc_b"), "left")
      .agg(count(lit(1)).as("n_true"),
        coalesce(sum(col("__hit")), lit(0L)).as("__hits"))
      .select(col("n_true"), lit(floor).as("floor"),
        (col("n_true") === 0 ||
          col("__hits").cast("double") / col("n_true") >= floor)
          .as("within_floor"))

  /** d03 — hash-checked recall CONTRACT for the production MinHash
    * family (the s02/s04 device applied to dedup, r9): the truth set
    * is the AUDIT pipeline's exact-verified J ≥ [[ContractTruthJ]]
    * pairs (md5 band keys read from the [[graft.sources.SignatureLake]],
    * verified by d05's exact-Jaccard kernel — every stage
    * DuckDB-replayable), and the engine checks that [[minhashDupPairs]]
    * recovers ≥ [[MinhashRecallFloor]] of them. The oracle recomputes
    * |truth| exactly (d14's CTE chain at the 0.9 bar) and expects
    * `within_floor = TRUE`. The raw pair relation stays available as
    * [[minhashDupPairs]] with its planted-fixture specs. */
  val minhashQ: GraftQuery = GraftQuery(
    "d03_dedup_minhash",
    s"""WITH $portableNearDupCtes,
      |tr AS (SELECT count(*) AS n_true FROM p
      |       WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= $ContractTruthJ)
      |SELECT CAST(n_true AS BIGINT) AS n_true,
      |       CAST($MinhashRecallFloor AS DOUBLE) AS floor,
      |       TRUE AS within_floor
      |FROM tr""".stripMargin) { (spark, sf) =>
    pairRecallContract(
      lakeVerifiedPairs(spark, sf, ContractTruthJ, "d03_truth_band_guard"),
      minhashDupPairsFromLake(spark, sf), MinhashRecallFloor)
  }

  /** Lanes in the production SimHash fingerprint: 2 × 64-bit xxhash64
    * lanes = 128 bits, so the radius-12 pigeonhole blocking gets
    * 9-10-bit band keys (see [[simhashPairsMulti]]). */
  val SimhashLanes = 2

  /** Lane column names for an n-lane fingerprint. */
  def simhashLaneCols(lanes: Int): Seq[String] = (0 until lanes).map(l => s"sh$l")

  /** SimHash fingerprint per doc: `lanes` independent 64-bit lanes
    * (token-frequency weighted), each from a seeded xxhash64 family —
    * lane 0 is xxhash64(token), lane l is xxhash64(l, token).
    *
    * Summing ±1 per token *occurrence* equals summing count-weighted ±1
    * per distinct token, so no intermediate (doc, token) aggregation is
    * needed — one shuffle on doc_id, with map-side partial aggregation
    * shrinking it to 64·lanes longs per document. */
  def simhashFingerprints(docs: DataFrame, lanes: Int = SimhashLanes): DataFrame = {
    require(lanes >= 1, "need at least one fingerprint lane")
    val tok = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val hashed = (0 until lanes).foldLeft(tok) { (d, l) =>
      d.withColumn(s"th$l",
        if (l == 0) xxhash64(col("token")) else xxhash64(lit(l), col("token")))
    }
    val bitSums = for { l <- 0 until lanes; i <- 0 until 64 } yield
      sum(when(shiftrightunsigned(col(s"th$l"), i).bitwiseAND(1) === 1, lit(1))
        .otherwise(lit(-1))).as(s"s${l}_$i")
    val laneVals = (0 until lanes).map { l =>
      (0 until 64).map(i =>
        when(col(s"s${l}_$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
        .reduce(_.bitwiseOR(_)).as(s"sh$l")
    }
    hashed.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id") +: laneVals: _*)
  }

  /** Single-lane (64-bit) fingerprint, kept for callers that trade
    * recall-contract scale for half the aggregation width. */
  def simhash(docs: DataFrame): DataFrame =
    simhashFingerprints(docs, lanes = 1).withColumnRenamed("sh0", "simhash")

  /** Pigeonhole block widths: `blocks` contiguous blocks covering
    * `totalBits`, the wide ones first. */
  def pigeonholeWidths(totalBits: Int, blocks: Int): Seq[Int] = {
    val base = totalBits / blocks
    Seq.tabulate(blocks)(i => base + (if (i < totalBits % blocks) 1 else 0))
  }

  /** Near-dup pairs at Hamming distance ≤ maxHamming over a multi-lane
    * fingerprint (laneCols are 64-bit lanes, low lane first), via
    * pigeonhole blocking: the 64·lanes-bit fingerprint is split into
    * maxHamming+1 contiguous blocks, so any pair within the threshold
    * agrees exactly on at least one block — the blocking GUARANTEES
    * recall at the advertised threshold.
    *
    * Block width is (64·lanes)/(maxHamming+1) bits, so the lane count
    * sets the band-key cardinality at a given radius: radius 12 over
    * one lane gives 4-5-bit keys (expected occupancy n/2^5 — every
    * bucket blows the cap long before 100 TB), while the production
    * 2-lane fingerprint gives 9-10-bit keys (occupancy n/2^10, and the
    * cap only catches degenerate skew). Blocks may straddle a lane
    * boundary; the band value stitches the two lane slices. All
    * candidates are verified against the true Hamming distance after
    * the join, and hot buckets are capped like the MinHash path. */
  /** The pigeonhole band values for a multi-lane fingerprint — shared
    * by pair generation and the d11 coverage report so the two can
    * never disagree about what a "block" is. */
  private[operators] def pigeonholeBandVals(
      laneCols: Seq[String], maxHamming: Int): Seq[Column] = {
    val totalBits = 64 * laneCols.size
    require(laneCols.nonEmpty, "need at least one lane column")
    require(maxHamming >= 0 && maxHamming < totalBits,
      s"maxHamming must be in [0, $totalBits)")
    val blocks = maxHamming + 1
    val widths = pigeonholeWidths(totalBits, blocks)
    val starts = widths.scanLeft(0)(_ + _)
    // width 64 (lanes=1, maxHamming=0, exact-duplicate mode): (1L << 64)
    // wraps to 1 on the JVM, so the naive mask would zero the band value
    def mask(w: Int): Long = if (w >= 64) -1L else (1L << w) - 1L
    def blockVal(start: Int, width: Int): Column = {
      val lane = start / 64
      val off = start % 64
      val inLane = math.min(width, 64 - off)
      val lo = shiftrightunsigned(col(laneCols(lane)), off)
        .bitwiseAND(lit(mask(inLane)))
      if (inLane >= width) lo
      else // straddles into the next lane: stitch its low bits on top
        lo.bitwiseOR(shiftleft(
          col(laneCols(lane + 1)).bitwiseAND(lit(mask(width - inLane))), inLane))
    }
    (0 until blocks).map(i => blockVal(starts(i), widths(i)))
  }

  /** @param metric name of the observed drop-guard metric — override
    *        when a plan holds TWO pigeonhole pair generators (the d04
    *        contract runs the xxhash64 and md5 families side by side;
    *        Spark rejects duplicate metric names in one plan) */
  def simhashPairsMulti(
      sh: DataFrame, laneCols: Seq[String], maxHamming: Int,
      maxBucket: Int = MaxSimhashBucket,
      metric: String = "simhash_band_guard"): DataFrame = {
    val bandVals = pigeonholeBandVals(laneCols, maxHamming)
    // Self-join, not bucketPairs: simhash members are 8·(lanes+1) bytes
    // and candidate volume is high, so the codegen'd hash join beats
    // object-based collect_list + Generate expansion; the band shuffle
    // feeding both sides is identical, so Spark's exchange reuse
    // evaluates the fingerprint pipeline once at runtime.
    val banded = sh
      .select(col("doc_id") +: laneCols.map(col) :+
        posexplode(array(bandVals: _*)).as(Seq("band", "band_val")): _*)
      .withColumn("bucket_n",
        count(lit(1)).over(Window.partitionBy(col("band"), col("band_val"))))
      .observe(metric,
        sum(when(col("bucket_n") > maxBucket, 1L).otherwise(0L)).as("dropped_band_rows"))
      .filter(col("bucket_n") <= maxBucket)
    val a = banded.select(col("band") +: col("band_val") +:
      col("doc_id").as("doc_a") +: laneCols.map(c => col(c).as(s"${c}_a")): _*)
    val b = banded.select(col("band") +: col("band_val") +:
      col("doc_id").as("doc_b") +: laneCols.map(c => col(c).as(s"${c}_b")): _*)
    val hamming = laneCols
      .map(c => bit_count(col(s"${c}_a").bitwiseXOR(col(s"${c}_b"))))
      .reduce(_ + _).cast("long")
    a.join(b, Seq("band", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), hamming.as("hamming"))
      .filter(col("hamming") <= maxHamming) // verify before dedup: smaller shuffle
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Single-lane (64-bit) pigeonhole pairs over a `simhash` column —
    * the historical API; prefer [[simhashPairsMulti]] with the 2-lane
    * fingerprint for any radius above ~7. */
  def simhashPairs(
      sh: DataFrame, maxHamming: Int, maxBucket: Int = MaxSimhashBucket): DataFrame =
    simhashPairsMulti(
      sh.withColumnRenamed("simhash", "sh0"), Seq("sh0"), maxHamming, maxBucket)

  /** d04 contract: Hamming ≤ 12 over the 128-bit (2-lane) fingerprint —
    * normalized radius 12/128 ≈ 0.094. The former 64-bit radius-12
    * contract (normalized 0.19) could not scale: its 4-5-bit band keys
    * put every bucket over the cap at corpus sizes where 9-10-bit keys
    * (this fingerprint) still have n/2^10 occupancy. Pairs that need
    * the looser 0.19-normalized bar are d03 MinHash's territory — its
    * band keys are full 64-bit hashes with no width ceiling. */
  val SimhashMaxHamming = 12

  /** The production (xxhash64) SimHash near-dup pair relation —
    * Hamming ≤ [[SimhashMaxHamming]] over the 128-bit fingerprint. */
  def simhashDupPairs(docs: DataFrame): DataFrame =
    simhashPairsMulti(simhashFingerprints(docs),
      simhashLaneCols(SimhashLanes), SimhashMaxHamming)

  /** d04 — hash-checked recall CONTRACT for the production SimHash
    * family: the truth set is d15's portable (md5) radius-12 pairs —
    * fingerprints read from the [[graft.sources.SignatureLake]] —
    * RESTRICTED to exact-verified J ≥ [[ContractTruthJ]] (so the truth
    * is semantically-real near-dups, not artifacts of the md5
    * projection), and the engine checks that [[simhashDupPairs]]
    * recovers ≥ [[SimhashRecallFloor]] of them. The oracle replays the
    * truth count via d15's all-pairs BIT-Hamming CTEs (licensed by the
    * recall-exact pigeonhole + zero-drop guard, exactly as d15) joined
    * to the exact shingle Jaccard, and expects `within_floor = TRUE`.
    * The engine plan holds BOTH pigeonhole generators, hence the
    * distinct observe-metric name on the truth side. */
  val simhashQ: GraftQuery = GraftQuery(
    "d04_dedup_simhash",
    s"""WITH $portableSimhashCtes,
      |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |ss AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
      |         i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      |       FROM toks WHERE len(t) >= 3),
      |tr AS (SELECT count(*) AS n_true
      |       FROM p JOIN ss a ON a.doc_id = p.doc_a
      |              JOIN ss b ON b.doc_id = p.doc_b
      |       WHERE p.hamming <= $SimhashMaxHamming
      |         AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |             (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
      |               >= $ContractTruthJ)
      |SELECT CAST(n_true AS BIGINT) AS n_true,
      |       CAST($SimhashRecallFloor AS DOUBLE) AS floor,
      |       TRUE AS within_floor
      |FROM tr""".stripMargin) { (spark, sf) =>
    val docs = Tables.documents(spark, sf)
    val truthPairs = simhashPairsMulti(
      graft.sources.SignatureLake.portableFingerprints(spark, sf),
      simhashLaneCols(SimhashLanes), SimhashMaxHamming,
      metric = "d04_truth_band_guard")
    pairRecallContract(
      // truth-side verify sets off the shingle_sets lake family (r17)
      // — the production detector under audit (simhashDupPairs below)
      // still derives everything inline
      jaccardVerify(docs, truthPairs.select(col("doc_a"), col("doc_b")),
        ContractTruthJ,
        setsRel = Some(graft.sources.SignatureLake.shingleSets(spark, sf))),
      simhashDupPairs(docs), SimhashRecallFloor)
  }

  /** Exact n-gram Jaccard on LSH candidates: MinHash proposes, the true
    * shingle-set Jaccard disposes (≥ threshold on the same raw value
    * that is emitted, so the SQL oracle's filter matches exactly). The
    * expensive set compare only runs on candidate pairs — never all
    * pairs. */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double): DataFrame =
    jaccardVerify(docs, candidatePairs(docs), threshold)

  /** [[ngramJaccardPairs]] SERVED off the lake families (r17): the
    * candidate stage reads the (band, band_key)-bucketed
    * `minhash_prod_bands` table — the identical
    * bandKeys∘minhashSignatures relation, derived once per
    * (session, sf) at lake-build time — and the exact verify reads the
    * `shingle_sets` table instead of re-tokenizing. The pair SET is
    * identical by construction (same banded relation, same cap, same
    * verify); consumers of the verified pairs that are not auditing
    * the derivation (d18's provenance matrix, d19's threshold sweep)
    * serve from here, while d05 keeps the self-contained honest
    * derivation as the family's measured row (the d14 convention). */
  def ngramJaccardPairsFromLake(spark: SparkSession, sf: String,
      threshold: Double): DataFrame = {
    val cand = bucketPairs(
        graft.sources.SignatureLake.productionBandRows(spark, sf),
        keyCols = Seq("band", "band_key"), memberCols = Seq("doc_id"),
        MaxBandBucket, metric = "minhash_band_guard_lake_ngram")
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    jaccardVerify(Tables.documents(spark, sf), cand, threshold,
      setsRel = Some(graft.sources.SignatureLake.shingleSets(spark, sf)))
  }

  /** The oracle computes the same exact Jaccard over ALL pairs (a cross
    * join DuckDB may afford at sf0.01; the engine must not at 100 TB).
    * They agree on the gate corpus because every qualifying pair there
    * has J ≥ 0.9 (verified: min 0.900 at sf0.01), where the 8×4
    * banding's candidate probability is ≥ 0.9998 and — being a fixed
    * hash family — deterministic. At the 0.6 contract boundary the
    * banding's recall is ~0.67, so on a corpus with many J ≈ 0.6 pairs
    * the engine legitimately proposes a subset; that is the documented
    * LSH trade, not oracle equality, and the hot-bucket cap can drop
    * further pairs on boilerplate corpora (observed metric). */
  val ngramJaccardQ: GraftQuery = GraftQuery(
    "d05_dedup_ngram",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id,
      |         list_distinct(list_transform(range(1, len(t) - 1),
      |           i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      |       FROM toks WHERE len(t) >= 3),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |        len(list_intersect(a.s, b.s)) AS inter, len(a.s) AS la, len(b.s) AS lb
      |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b,
      |       CAST(inter AS DOUBLE) / (la + lb - inter) AS jaccard
      |FROM p
      |WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.6""".stripMargin) { (spark, sf) =>
    ngramJaccardPairs(Tables.documents(spark, sf), 0.6)
  }

  /** Connected components over an undirected near-dup pair set:
    * hash-to-min label propagation (each round every node takes the
    * min label among itself and its neighbors) until fixpoint. Rounds
    * needed = component diameter — near-dup clusters from LSH pair
    * generation are near-cliques, so this is 2-3 in practice; the
    * alternating large-star/small-star formulation (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) is the
    * public-knowledge upgrade if a corpus ever produces long chains.
    *
    * Execution shape: the convergence probe iterates PERSISTED rounds
    * (one count action per round — this is how every distributed CC
    * implementation decides when to stop), writes the CONVERGED labels
    * (O(nodes) rows — the converged `cur` is still persisted from the
    * probe, so the write reads cached blocks, never re-propagates) to
    * a parquet artifact, unpersists every intermediate, and returns
    * the read-back. The pre-r16 shape instead rebuilt a clean k-round
    * plan for the caller, re-executing the whole propagation — and the
    * edge pipeline under it — a second time at consumption; the r16
    * shape handed back an eager localCheckpoint whose blocks were
    * (a) freed only when the returned Dataset was GC'd via the
    * ContextCleaner — dozens of CC calls across one long-lived JVM
    * (the test runner, a multi-query session) accumulated unreleased
    * block-manager state — and (b) non-reliable storage: an executor
    * loss mid-consumption at cluster scale failed the job. The parquet
    * artifact is the production handoff (d10 already shipped labels
    * this way): blocks release HERE, the lineage truncation is
    * identical, and at 100 TB the labels land on the shared FS like
    * every other lake write. Per round: one shuffle joining edge
    * targets to labels + one shuffle for the per-node min — both keyed
    * on ids, no fixed-cardinality keys anywhere. */
  /** @param outDir parquet destination for the converged labels
    *        (overwritten). When absent, the session's warehouse scratch
    *        directory of kind `cc_labels_<md5 of the inputs'
    *        canonicalized plans>` ([[graft.sources.SignatureLake.scratchPath]]):
    *        one directory per (nodes, pairs) shape, process and session,
    *        overwritten by warmup/rep loops and swept once its process
    *        is dead. */
  def connectedComponents(
      nodes: DataFrame, pairs: DataFrame, maxIters: Int = 25,
      outDir: Option[String] = None): DataFrame = {
    val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))

    def step(labels: DataFrame): DataFrame = {
      val nbr = edges
        .join(labels.select(col("doc_id").as("v"), col("label").as("vlabel")), "v")
        .groupBy(col("u").as("doc_id"))
        .agg(min(col("vlabel")).as("nlabel"))
      labels.join(nbr, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
    }

    val init = nodes.select(col("doc_id"), col("doc_id").as("label"))
    val cached = scala.collection.mutable.Buffer.empty[DataFrame]
    var rounds = 0
    try {
      // pair generation (the LSH + exact-verify pipeline upstream) is
      // the expensive subtree and every probe round reads it twice —
      // persist for the probe's duration only.
      cached += edges.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var cur = init
      var changed = 1L
      while (changed > 0 && rounds < maxIters) {
        val next = step(cur).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cached += next
        changed = next
          .join(cur.select(col("doc_id"), col("label").as("prev")), "doc_id")
          .filter(col("label") =!= col("prev")).count()
        cur = next
        rounds += 1
      }
      require(changed == 0, s"label propagation did not converge in $maxIters rounds")
      // the converged labels ARE the result — materialize them as a
      // parquet artifact (the write reads the probe's persisted
      // blocks) and hand the caller the read-back: lineage truncated
      // like the r16 localCheckpoint, but the block lifecycle ends in
      // the finally below instead of at Dataset-GC time, and the
      // artifact survives executor loss at cluster scale.
      val spark = nodes.sparkSession
      val dir = outDir.getOrElse {
        val md = java.security.MessageDigest.getInstance("MD5")
        Seq(nodes, pairs).foreach(df => md.update(
          df.queryExecution.analyzed.canonicalized.toString
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        val tag = md.digest().take(8).map(b => f"$b%02x").mkString
        graft.sources.SignatureLake.scratchPath(spark, "", s"cc_labels_$tag")
      }
      cur.write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
    } finally cached.foreach(_.unpersist())
  }

  /** Dedup clusters: every document labeled with its near-dup cluster
    * (cluster_id = min doc_id in the component — the canonical
    * representative a training pipeline keeps) and the cluster size.
    * Pairs are the exact-verified n-gram Jaccard matches (d05), so the
    * oracle can rebuild the same graph; transitivity is the point —
    * A~B and B~C collapse into one cluster even when A and C don't
    * qualify pairwise. Inherits d05's corpus agreement precondition
    * (all-pairs oracle vs LSH-candidate engine; see [[ngramJaccardQ]]).
    *
    * The pair list is MATERIALIZED (parquet) before clustering — the
    * standard pipeline shape at scale: the LSH + exact-verify pipeline
    * runs once and every propagation round joins against the compact
    * (doc_a, doc_b) relation, not the text-processing subtree. A
    * distributed write, so it scales with the pair volume. */
  /** Shared DuckDB CTE chain labeling every document with its
    * 0.6-Jaccard connected component: `lab(doc_id, cluster_id)`.
    * One fragment for the d07/d10 oracles — the dedup contract
    * (threshold, trigram width, min-label rule) cannot drift between
    * them. Use after `WITH RECURSIVE`. */
  private val clusterLabelsCteSql: String =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id,
      |         list_distinct(list_transform(range(1, len(t) - 1),
      |           i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      |       FROM toks WHERE len(t) >= 3),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |            / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.6),
      |edges AS (SELECT doc_a AS u, doc_b AS v FROM p
      |          UNION ALL SELECT doc_b, doc_a FROM p),
      |cc(u, label) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.v, c.label FROM cc c JOIN edges e ON e.u = c.u),
      |lab AS (SELECT u AS doc_id, min(label) AS cluster_id FROM cc GROUP BY u)""".stripMargin

  val clustersQ: GraftQuery = GraftQuery(
    "d07_dedup_clusters",
    s"""WITH RECURSIVE
       |$clusterLabelsCteSql,
       |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id)
       |SELECT l.doc_id, l.cluster_id, s.cluster_size
       |FROM lab l JOIN sz s USING (cluster_id)""".stripMargin) { (spark, sf) =>
    val cc = clusterLabels(spark, sf, recompute = true)
    val sizes = cc.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
  }

  /** (doc_id, cluster_id) connected-component labels over the
    * 0.6-Jaccard near-dup graph — the shared front half of d07/d10.
    * The verified pairs and the labels are parquet in the session's
    * warehouse scratch ([[graft.sources.SignatureLake.scratchPath]]),
    * overwritten on compute.
    *
    * d07 (the component computation itself) ALWAYS recomputes and
    * refreshes the labels — its bench line must measure CC, not a
    * read. d10 and t17 (selection OVER an assignment) read the labels
    * this session last wrote for `sf` when they exist — the same
    * persist-the-labels handoff a production dedup stage ships between
    * its clustering and selection jobs; the labels are corpus-sized,
    * so the handoff is lake parquet, never a driver collect. A d07
    * recompute invalidates a still-unexecuted d10 plan returned
    * earlier — fine under the registry's sequential contract
    * (producers run, and are fully consumed, before consumers). */
  private def clusterLabels(
      spark: SparkSession, sf: String, recompute: Boolean): DataFrame = {
    val labelsDir = graft.sources.SignatureLake.scratchPath(spark, sf, "d07_labels")
    val done = new org.apache.hadoop.fs.Path(labelsDir, "_SUCCESS")
    if (recompute || !done.getFileSystem(spark.sessionState.newHadoopConf()).exists(done)) {
      val pairsDir = graft.sources.SignatureLake.scratchPath(spark, sf, "d07_pairs")
      // pair generation off the lake families (r17, the d18/d19 move):
      // d07's audited subject is the COMPONENT computation — the
      // verified-pair input is d05's relation, served from
      // minhash_prod_bands + shingle_sets (identical pair set by
      // construction; SignatureLakeSpec pins it, the d07 oracle
      // hash-checks the clustering end-to-end)
      ngramJaccardPairsFromLake(spark, sf, 0.6)
        .select(col("doc_a"), col("doc_b"))
        .write.mode("overwrite").parquet(pairsDir)
      // the labels artifact IS connectedComponents' own
      // materialization; the (label → cluster_id) rename happens below
      connectedComponents(Tables.documents(spark, sf).select(col("doc_id")),
        spark.read.parquet(pairsDir), outDir = Some(labelsDir))
    }
    spark.read.parquet(labelsDir).withColumnRenamed("label", "cluster_id")
  }

  /** Cluster-representative selection — the dedup output a pipeline
    * actually ships: for every document, the SINGLE document of its
    * near-dup cluster that survives (highest t02 quality score, ties
    * to the smallest doc_id), as a (doc → representative) map with a
    * kept flag. Composes d07's connected components with t02's
    * scoring; the argmax is a first_value window keyed on cluster_id,
    * whose partitions are near-dup cluster sizes — bounded by
    * template-family size, never corpus-scale.
    *
    * The oracle recomputes the whole chain from the shared SQL
    * fragments (d07's recursive-CTE components, t02's quality CTE), so
    * the selection rule is hash-checked end-to-end. */
  val clusterRepsQ: GraftQuery = GraftQuery(
    "d10_cluster_reps",
    s"""WITH RECURSIVE
       |$clusterLabelsCteSql,
       |qs AS (${TextOps.qualityStatsSql.replace("\n", "\n       |")}),
       |q AS (SELECT doc_id, ${TextOps.qualityExprSql.replace("\n", "\n       |")} AS quality
       |      FROM qs)
       |SELECT l.doc_id, l.cluster_id, q.quality,
       |       first_value(l.doc_id) OVER (PARTITION BY l.cluster_id
       |         ORDER BY q.quality DESC, l.doc_id) AS rep_doc_id,
       |       l.doc_id = first_value(l.doc_id) OVER (PARTITION BY l.cluster_id
       |         ORDER BY q.quality DESC, l.doc_id) AS kept
       |FROM lab l JOIN q USING (doc_id)""".stripMargin) { (spark, sf) =>
    clusterRepresentatives(Tables.documents(spark, sf),
      clusterLabels(spark, sf, recompute = false))
  }

  /** Leakage-safe train/val/test split — t08's salted-hash split
    * assigned per near-dup CLUSTER instead of per document, so two
    * near-duplicates can never straddle a split boundary (the
    * contamination a per-document split silently allows: the model
    * trains on a near-copy of its own eval set). Bucket =
    * Md5Bucket('t17|' + cluster_id): salting decorrelates it from
    * t08's per-doc buckets, and hashing the CLUSTER id makes the
    * assignment a pure function of d07's labels — every member
    * inherits it, spec-pinned. Lives here (not TextOps) because it
    * composes d07's label checkpoint the same way d10 does.
    *
    * Scale shape: labels come from the d07 lake checkpoint (reused,
    * not recomputed); the bucket is a row-local expression over the
    * label — no new shuffle beyond d07's own. */
  val leakageSafeSplitQ: GraftQuery = {
    def bucketExpr(engine: String): String = {
      val in =
        if (engine == "spark") "concat('t17|', CAST(cluster_id AS STRING))"
        else "'t17|' || CAST(cluster_id AS VARCHAR)"
      Md5Bucket.bucketSql(engine, in, 100)
    }
    GraftQuery(
      "t17_leakage_safe_split",
      s"""WITH RECURSIVE
         |$clusterLabelsCteSql
         |SELECT doc_id, cluster_id, bucket,
         |       ${SplitPolicy.caseSql("bucket")} AS split
         |FROM (SELECT doc_id, cluster_id,
         |        CAST(${bucketExpr("duckdb")} AS BIGINT) AS bucket
         |      FROM lab) t""".stripMargin) { (spark, sf) =>
      val b = expr(bucketExpr("spark")).cast("long")
      clusterLabels(spark, sf, recompute = false).select(
        col("doc_id"), col("cluster_id"),
        b.as("bucket"),
        SplitPolicy.caseCol(b).as("split"))
    }
  }

  /** The d10 selection rule over any (doc_id, cluster_id) assignment:
    * highest t02 quality survives, ties to the smallest doc_id. */
  def clusterRepresentatives(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val labeled = clusters
      .join(docs.select(col("doc_id"),
        // RAW score — tracks the shared qualityExprSql fragment the
        // oracle embeds (r7 review: the 2dp round only matched the raw
        // value by coincidence of the current weight set)
        TextFunctions.qualityScore(col("text")).as("quality")), "doc_id")
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("doc_id"))
    labeled
      .withColumn("rep_doc_id", first(col("doc_id")).over(w))
      .select(col("doc_id"), col("cluster_id"), col("quality"),
        col("rep_doc_id"), (col("doc_id") === col("rep_doc_id")).as("kept"))
  }

  /** doc_id + exploded distinct n-token shingles. */
  def tokenShingles(docs: DataFrame, n: Int): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(0), size(col("toks")) - n),
          i => concat_ws(" ", slice(col("toks"), i + 1, lit(n)))))).as("shingle"))

  /** Benchmark decontamination: flag training documents sharing any
    * n-gram with an evaluation set — the step a training pipeline runs
    * before anything else ships. Exact gram-string equi-join (one
    * shuffle keyed on the gram; at 100 TB you'd join on xxhash64(gram)
    * to shrink the shuffle — exact strings here keep the operator
    * fully oracle-able), benchmark side deduplicated and broadcast
    * when small. Zero-hit documents are kept (left join) so the output
    * is a complete per-document contamination report. */
  val DecontamGram = 5

  /** Shared exact-join tail of d08/d09: per-document hit counts of
    * `trainGrams` against the deduplicated benchmark grams, left-joined
    * back so zero-hit documents appear in the report. One function so
    * the d09 ≡ d08 equivalence (and the shared oracle) can never drift. */
  private def contaminationReport(
      train: DataFrame, trainGrams: DataFrame, benchGrams: DataFrame): DataFrame = {
    val hits = trainGrams
      .join(benchGrams, "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
    train.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_contaminated_grams"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  def decontaminate(train: DataFrame, benchmark: DataFrame, gram: Int = DecontamGram): DataFrame = {
    val benchGrams = tokenShingles(benchmark, gram)
      .select(col("shingle")).distinct()
    contaminationReport(train, tokenShingles(train, gram), benchGrams)
  }

  /** Shared oracle prefix of d08/d09/d16 (and p03's funnel stage):
    * per-document distinct [[DecontamGram]]-gram rows — one definition
    * so the membership report and the overlap report can never
    * disagree on what a gram is. Body form (no WITH) so a larger
    * chain can embed it. */
  private[operators] def decontamGramsBodySql: String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |grams AS (SELECT doc_id,
       |            unnest(list_distinct(list_transform(range(1, len(t) - ${DecontamGram - 2}),
       |              i -> concat_ws(' ', ${(0 until DecontamGram).map(k => s"t[i+$k]").mkString(", ")})))) AS g
       |          FROM toks WHERE len(t) >= $DecontamGram)""".stripMargin

  private def decontamGramsCteSql: String = "WITH " + decontamGramsBodySql

  /** The fixture benchmark is every 50th document — a stand-in for an
    * eval set drawn from the same distribution (template corpora
    * guarantee non-trivial overlap). Benchmark members are excluded
    * from the training side, as a real pipeline would. */
  val decontaminateQ: GraftQuery = GraftQuery(
    "d08_decontaminate",
    s"""$decontamGramsCteSql,
       |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
       |hits AS (SELECT g.doc_id, count(*) AS n_hits
       |         FROM grams g JOIN bench b USING (g)
       |         WHERE g.doc_id % 50 <> 0
       |         GROUP BY g.doc_id),
       |train AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0)
       |SELECT t.doc_id,
       |       coalesce(h.n_hits, 0) AS n_contaminated_grams,
       |       coalesce(h.n_hits, 0) > 0 AS contaminated
       |FROM train t LEFT JOIN hits h USING (doc_id)""".stripMargin) { (spark, sf) =>
    val docs = Tables.documents(spark, sf)
    decontaminate(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0))
  }

  /** The Bloom BUILD alone — the two driver-side actions (distinct
    * gram count + treeAggregate) that size and fill the sketch. This
    * is INDEX-BUILD cost, the same class as the signature/tier lake
    * writes: a deployment builds the benchmark filter once per eval
    * suite and every decontamination serve broadcasts it, so the
    * bench attributes it as a named `lake_build` entry
    * ([[graft.sources.SignatureLake.decontamBloomFilter]] memoizes it
    * per (session, sfDir)) and the d09 row times probe + exact-join
    * only (the d22/tier attribution rule). */
  private[graft] def buildDecontamBloom(benchmark: DataFrame,
      gram: Int = DecontamGram, fpp: Double = 0.01)
      : org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter] = {
    val spark = benchmark.sparkSession
    import spark.implicits._
    val benchGrams = tokenShingles(benchmark, gram).select(col("shingle"))
      .distinct().persist()
    try {
      val bloom = benchGrams.as[String].rdd.treeAggregate(
        org.apache.spark.util.sketch.BloomFilter.create(
          math.max(1L, benchGrams.count()), fpp))(
        (bf, s) => { bf.putString(s); bf },
        (a, b) => { a.mergeInPlace(b); a })
      spark.sparkContext.broadcast(bloom)
    } finally benchGrams.unpersist()
    // the serve plan re-derives benchGrams lazily at execution; the
    // cache only served the two driver-side actions (count + build)
  }

  /** The decontamination SERVE against a pre-built filter: drop
    * non-matching training grams inside the scan stage via the
    * codegen'd `graft_bloom_contains` probe, then the exact join
    * removes the fpp sliver — identical output to [[decontaminate]]
    * (Bloom filters have no false negatives). */
  def decontaminateWithBloom(train: DataFrame, benchmark: DataFrame,
      bloomBc: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter],
      gram: Int = DecontamGram): DataFrame = {
    val bloomId = graft.functions.BloomRegistry.register(bloomBc)
    val prefiltered = try {
      // Dataset construction analyzes eagerly, so the resolved
      // BloomContains holds the broadcast by the time this returns —
      // the registry entry is only needed for this one analysis
      tokenShingles(train, gram)
        .filter(call_function("graft_bloom_contains", col("shingle"), lit(bloomId)))
    } finally graft.functions.BloomRegistry.unregister(bloomId)
    contaminationReport(train, prefiltered,
      tokenShingles(benchmark, gram).select(col("shingle")).distinct())
  }

  /** d08 with a Bloom prefilter on the training side — the shape that
    * matters at 100 TB, where the training corpus dwarfs the benchmark
    * suite: build a Bloom filter (~1.2 bytes/gram at 1% fpp) over the
    * benchmark grams ([[buildDecontamBloom]]), broadcast it, and drop
    * non-matching training grams INSIDE the scan stage via the
    * codegen'd probe ([[decontaminateWithBloom]]) — so the exact-join
    * shuffle carries only true hits plus the fpp sliver, instead of
    * every distinct gram of the training corpus. Bloom filters have no
    * false negatives and the exact join removes the false positives,
    * so the result is IDENTICAL to [[decontaminate]] — d09 shares
    * d08's oracle verbatim.
    *
    * Crossover measured at sf0.1: d09 ~1.2 s vs d08 ~0.9 s — below
    * the crossover the two fixed bloom-build actions dominate; the
    * prefilter pays once training-gram volume dwarfs the benchmark
    * (the 100 TB operating point, where d08 shuffles the full corpus
    * gram set and d09 ships a few MB of filter instead). */
  def decontaminateBloom(
      train: DataFrame, benchmark: DataFrame, gram: Int = DecontamGram,
      fpp: Double = 0.01): DataFrame =
    decontaminateWithBloom(train, benchmark,
      buildDecontamBloom(benchmark, gram, fpp), gram)

  val decontaminateBloomQ: GraftQuery = GraftQuery(
    "d09_decontaminate_bloom",
    decontaminateQ.oracle.get) { (spark, sf) =>
    val docs = Tables.documents(spark, sf)
    // the filter build is a memoized lake artifact (named bench
    // lake_build entry); this row times probe + exact-join only
    decontaminateWithBloom(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0),
      graft.sources.SignatureLake.decontamBloomFilter(spark, sf))
  }

  /** d16 flags a document when at least this fraction of its distinct
    * grams appear in the benchmark — the thresholded overlap rule
    * (the GPT-3 appendix-C shape: n-gram collision rate, not mere
    * membership), vs d08's any-hit boolean. */
  val DecontamOverlapBar = 0.2

  /** Contamination OVERLAP report: per training document, the exact
    * fraction of its distinct [[DecontamGram]]-grams found in the
    * benchmark (`overlap` = n_hits/n_grams — a ratio of exact integers,
    * raw-double parity), the thresholded flag, and the ATTRIBUTION:
    * which benchmark document shares the most grams (ties → lower
    * bench doc_id). d08 answers "is it contaminated at all"; this is
    * the report an audit acts on — how badly, against what.
    *
    * Scale shape: same gram equi-join as d08 plus one join against the
    * benchmark's (gram → bench_doc) relation; candidate volume per
    * training doc is bounded by the BENCHMARK's size (the small side —
    * eval suites, not the corpus), and the argmax window partitions on
    * the training doc with ≤ |bench docs| rows each, never
    * corpus-wide. */
  def contaminationOverlap(
      train: DataFrame, benchmark: DataFrame, gram: Int = DecontamGram,
      bar: Double = DecontamOverlapBar): DataFrame = {
    val trainGrams = tokenShingles(train, gram)
    val benchGrams = tokenShingles(benchmark, gram)
      .select(col("doc_id").as("bench_doc"), col("shingle"))
    val perDoc = trainGrams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val hits = trainGrams
      .join(benchGrams.select(col("shingle")).distinct(), "shingle")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("shared").desc, col("bench_doc"))
    val top = trainGrams.join(benchGrams, "shingle")
      .groupBy(col("doc_id"), col("bench_doc"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"),
        col("bench_doc").as("top_bench_doc"), col("shared").as("top_shared"))
    val nGrams = coalesce(col("n_grams"), lit(0L))
    val nHits = coalesce(col("n_hits"), lit(0L))
    train.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .join(hits, Seq("doc_id"), "left")
      .join(top, Seq("doc_id"), "left")
      .select(col("doc_id"),
        nGrams.as("n_grams"), nHits.as("n_hits"),
        when(nGrams > 0, nHits.cast("double") / nGrams).as("overlap"),
        when(nGrams > 0, nHits.cast("double") / nGrams >= bar)
          .otherwise(lit(false)).as("contaminated"),
        col("top_bench_doc"), col("top_shared"))
  }

  val contaminationOverlapQ: GraftQuery = GraftQuery(
    "d16_decontaminate_overlap",
    s"""$decontamGramsCteSql,
       |bench AS (SELECT doc_id AS bench_doc, g FROM grams WHERE doc_id % 50 = 0),
       |bset AS (SELECT DISTINCT g FROM bench),
       |tg AS (SELECT doc_id, g FROM grams WHERE doc_id % 50 <> 0),
       |pd AS (SELECT doc_id, count(*) AS n_grams FROM tg GROUP BY doc_id),
       |hits AS (SELECT doc_id, count(*) AS n_hits FROM tg JOIN bset USING (g)
       |         GROUP BY doc_id),
       |top AS (SELECT doc_id, bench_doc AS top_bench_doc, shared AS top_shared
       |        FROM (SELECT tg.doc_id, b.bench_doc, count(*) AS shared,
       |                row_number() OVER (PARTITION BY tg.doc_id
       |                  ORDER BY count(*) DESC, b.bench_doc) AS rn
       |              FROM tg JOIN bench b USING (g)
       |              GROUP BY tg.doc_id, b.bench_doc) t
       |        WHERE rn = 1),
       |train AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0)
       |SELECT t.doc_id,
       |       CAST(coalesce(pd.n_grams, 0) AS BIGINT) AS n_grams,
       |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |       CASE WHEN coalesce(pd.n_grams, 0) > 0
       |            THEN CAST(coalesce(h.n_hits, 0) AS DOUBLE) / pd.n_grams
       |       END AS overlap,
       |       CASE WHEN coalesce(pd.n_grams, 0) > 0
       |            THEN CAST(coalesce(h.n_hits, 0) AS DOUBLE) / pd.n_grams
       |                   >= $DecontamOverlapBar
       |            ELSE false END AS contaminated,
       |       top.top_bench_doc,
       |       CAST(top.top_shared AS BIGINT) AS top_shared
       |FROM train t
       |LEFT JOIN pd USING (doc_id)
       |LEFT JOIN hits h USING (doc_id)
       |LEFT JOIN top USING (doc_id)""".stripMargin) { (spark, sf) =>
    val docs = Tables.documents(spark, sf)
    contaminationOverlap(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0))
  }

  /** Embedding near-dup report: per vector, the most similar other
    * vector among its banded-LSH candidates, with an is_dup flag at
    * 0.95 cosine. Multi-table banded LSH (SimilarityOps.cosineCandidates)
    * — bucket count scales with the corpus, no 64-bucket ceiling. */
  def embeddingBestMatch(emb: DataFrame): DataFrame = {
    val planes = planesForCorpus(emb.count())
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    SimilarityOps.cosineCandidates(emb, SimilarityOps.LshTables, planes)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("neighbor_id").as("best_match"),
        round(col("cos_sim"), 4).as("cos_sim"),
        (col("cos_sim") >= 0.95).as("is_dup"))
  }

  /** d06 contract floors, measured at the r9 tree: probe top-1 recall
    * 0.49 / 0.45 / 0.215 and mean best-cosine ratio 0.93 / 0.91 / 0.88
    * at sf0.001 / 0.01 / 0.1 (recall falls with corpus size as the
    * adaptive geometry trades it for bucket occupancy; the RATIO is
    * the scale-stable statistic — the detector's best match stays
    * within ~12% of the exact best even when it is not the argmax). */
  val EmbTop1RecallFloor = 0.10
  val EmbCosRatioFloor = 0.70

  /** d06 — hash-checked quality CONTRACT for the adaptive-geometry
    * embedding near-dup detector: on the s10 probe sample, score
    * [[embeddingBestMatch]] against the EXACT per-probe best neighbor
    * ([[SimilarityOps.knnGraphExact]] at k = 1 — the audit-tier
    * probe-sample kernel) on two axes: top-1 agreement ≥
    * [[EmbTop1RecallFloor]] and mean achieved-cosine ratio ≥
    * [[EmbCosRatioFloor]]. A probe with no LSH candidate contributes
    * ratio 0 (coalesce), a probe whose exact best cosine is ≤ 0
    * contributes 1 (vacuous — ratios of non-positive cosines are
    * meaningless). The oracle recomputes the probe count in closed
    * form and expects both booleans TRUE; a plane-count or bucketing
    * regression flips them red in the driver gate. The raw per-vector
    * report stays available as [[embeddingBestMatch]]. */
  val embeddingDupQ: GraftQuery = GraftQuery(
    "d06_dedup_embedding",
    s"""WITH ev AS (SELECT vec_id FROM embeddings),
      |q AS (SELECT count(*) AS n_probes FROM ev
      |      WHERE vec_id % ${SimilarityOps.GraphSampleMod} = 0),
      |n AS (SELECT count(*) AS n_corpus FROM ev)
      |SELECT CAST(CASE WHEN n.n_corpus >= 2 THEN q.n_probes ELSE 0 END
      |            AS BIGINT) AS n_probes,
      |       CAST($EmbTop1RecallFloor AS DOUBLE) AS recall_floor,
      |       CAST($EmbCosRatioFloor AS DOUBLE) AS ratio_floor,
      |       TRUE AS recall_within_floor,
      |       TRUE AS ratio_within_floor
      |FROM q, n""".stripMargin) { (spark, sf) =>
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val mod = SimilarityOps.GraphSampleMod
    val exact = SimilarityOps.knnGraphExact(emb, mod, 1)
      .select(col("src_id").as("vec_id"), col("dst_id").as("exact_best"),
        col("cos_sim").as("exact_cos"))
    val approx = embeddingBestMatch(emb)
      .filter(col("vec_id") % mod === 0)
      .select(col("vec_id"), col("best_match"), col("cos_sim"))
    exact.join(approx, Seq("vec_id"), "left")
      .agg(count(lit(1)).as("n_probes"),
        coalesce(sum(when(col("best_match") === col("exact_best"), 1L)
          .otherwise(0L)), lit(0L)).as("__top1"),
        avg(when(col("exact_cos") > 0,
          coalesce(col("cos_sim"), lit(0.0)) / col("exact_cos"))
          .otherwise(lit(1.0))).as("__ratio"))
      .select(col("n_probes"),
        lit(EmbTop1RecallFloor).as("recall_floor"),
        lit(EmbCosRatioFloor).as("ratio_floor"),
        (col("n_probes") === 0 ||
          col("__top1").cast("double") / col("n_probes") >= EmbTop1RecallFloor)
          .as("recall_within_floor"),
        (col("n_probes") === 0 || col("__ratio") >= EmbCosRatioFloor)
          .as("ratio_within_floor"))
  }

  /** d11 — dedup-guard coverage report: the exact integer funnel a
    * pipeline operator reads to see where candidate recall erodes. One
    * (stage, n) row per accounting line, all three guarded candidate
    * generators covered:
    *
    *  - `minhash_*`: hot-bucket count, rows dropped by the cap, rows
    *    kept, pair volume proposed from the kept buckets (Σ n·(n−1)/2
    *    over the bucket-size histogram — exactly [[bucketPairs]]'s
    *    output cardinality, derived WITHOUT materializing a pair),
    *    distinct candidate pairs, and exact-verified pairs (true
    *    n-gram Jaccard ≥ 0.6 — d05's kernel, so
    *    `minhash_pairs_verified` always equals d05's oracled row
    *    count: the report's exact-verify line is cross-checked by an
    *    oracled query).
    *  - `simhash_*`: hot pigeonhole blocks / rows dropped / kept, over
    *    the SAME band values the pair generator uses
    *    ([[pigeonholeBandVals]] is shared, not re-derived).
    *  - `ann_*`: hot sign-LSH buckets / rows dropped / kept for the
    *    s02/d06 embedding path at the corpus-adaptive plane count.
    *
    * Candidate semantics are hash-defined (xxhash64 signatures), so no
    * SQL oracle exists for the LSH lines — DedupSpec pins the funnel
    * instead: conservation (kept + dropped = total banded rows),
    * monotonicity (proposed ≥ distinct ≥ verified), equality of
    * `minhash_pairs_proposed` with the materialized candidate count,
    * and exact drop accounting on a planted boilerplate family. */
  /** d11 — hash-checked conservation CONTRACT over the production
    * (xxhash64) coverage funnel. The funnel's per-stage values are
    * hash-family-internal, but three classes of invariant are exact
    * closed-form integers an oracle CAN replay, so the gate row emits
    * those instead of the raw stages:
    *
    *  - conservation: kept + dropped banded rows per family ≡ an
    *    exact product — n_signed·bands (every signed doc emits
    *    exactly [[Bands]] band rows), n_docs·blocks (13 pigeonhole
    *    blocks per fingerprint), n_vecs·tables (4 sign-LSH tables) —
    *    so a lost or double-counted banded row anywhere in the guard
    *    accounting breaks an exact integer equality;
    *  - the exact-verify line: candidate pairs at true J ≥ 0.6 — the
    *    same count d05's oracle replays as all-pairs Jaccard (same
    *    candidates ⊇ truth license, same corpus);
    *  - monotonicity: proposed ≥ distinct ≥ verified, folded into a
    *    boolean the oracle expects TRUE.
    *
    * The full 12-line (stage, n) report stays available as
    * [[coverageReport]] with its DedupSpec funnel pins; d11p remains
    * the fully-replayed portable twin. */
  val coverageQ: GraftQuery = GraftQuery(
    "d11_dedup_coverage",
    s"""WITH d AS (SELECT count(*) FILTER (WHERE text IS NOT NULL) AS n_docs,
      |             count(*) FILTER (WHERE len(string_split(text, ' ')) >= 3)
      |               AS n_docs_signed
      |           FROM documents),
      |e AS (SELECT count(*) AS n_vecs FROM embeddings),
      |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |ss AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
      |         i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      |       FROM toks WHERE len(t) >= 3),
      |pj AS (SELECT len(list_intersect(a.s, b.s)) AS inter,
      |         len(a.s) AS la, len(b.s) AS lb
      |       FROM ss a JOIN ss b ON a.doc_id < b.doc_id),
      |v AS (SELECT coalesce(sum(CASE WHEN CAST(inter AS DOUBLE)
      |               / (la + lb - inter) >= 0.6 THEN 1 ELSE 0 END), 0)
      |        AS pairs_verified FROM pj)
      |SELECT CAST(d.n_docs AS BIGINT) AS n_docs,
      |       CAST(d.n_docs_signed AS BIGINT) AS n_docs_signed,
      |       CAST(e.n_vecs AS BIGINT) AS n_vecs,
      |       CAST(d.n_docs_signed * $Bands AS BIGINT) AS minhash_banded_rows,
      |       CAST(d.n_docs * ${SimhashMaxHamming + 1} AS BIGINT)
      |         AS simhash_banded_rows,
      |       CAST(e.n_vecs * ${SimilarityOps.LshTables} AS BIGINT)
      |         AS ann_banded_rows,
      |       CAST(v.pairs_verified AS BIGINT) AS pairs_verified,
      |       TRUE AS monotonic_ok
      |FROM d, e, v""".stripMargin) { (spark, sf) =>
    // minhash side off the lake families (r17, verdict item 4): the
    // band histogram reads minhash_prod_bands and the verified-pair
    // line reads lake candidates + shingle_sets — identical relations
    // by construction (d03-gated). The simhash and ann funnel legs
    // keep their inline derivations: d11's xxhash64 simhash
    // fingerprints and its corpus-sized ann plane count
    // (planesForCorpus) have no lake family at this geometry.
    coverageContract(Tables.documents(spark, sf),
      Tables.embeddings(spark, sf)
        .select(col("vec_id"), toDouble(col("embedding")).as("v")),
      bandRel = Some(graft.sources.SignatureLake.productionBandRows(spark, sf)),
      pairsRel = Some(ngramJaccardPairsFromLake(spark, sf, 0.0)))
  }

  /** The d11 contract relation: closed-form corpus counts (narrow
    * scans), per-family banded-row sums from [[coverageReport]]'s
    * guard lines (kept + dropped — the conservation side of the
    * equality the oracle states as a product), the exact-verify pair
    * count, and the funnel-monotonicity boolean. The three count
    * aggregates are one-row frames broadcast into a cross join (the
    * grand-total pattern, `Relational.scala`). */
  def coverageContract(docs: DataFrame, emb: DataFrame,
      bandRel: Option[DataFrame] = None,
      pairsRel: Option[DataFrame] = None): DataFrame = {
    def stage(s: String): Column =
      coalesce(max(when(col("stage") === s, col("n"))), lit(0L))
    val fun = coverageReport(docs, emb, bandRel, pairsRel).agg(
      (stage("minhash_rows_kept") + stage("minhash_rows_dropped"))
        .as("minhash_banded_rows"),
      (stage("simhash_rows_kept") + stage("simhash_rows_dropped"))
        .as("simhash_banded_rows"),
      (stage("ann_rows_kept") + stage("ann_rows_dropped"))
        .as("ann_banded_rows"),
      stage("minhash_pairs_verified").as("pairs_verified"),
      (stage("minhash_pairs_proposed") >= stage("minhash_pairs_distinct") &&
        stage("minhash_pairs_distinct") >= stage("minhash_pairs_verified"))
        .as("monotonic_ok"))
    val dCounts = docs.agg(
      count(when(col("text").isNotNull, 1)).as("n_docs"),
      count(when(size(split(col("text"), " ")) >= 3, 1)).as("n_docs_signed"))
    val vCount = emb.agg(count(lit(1)).as("n_vecs"))
    fun.crossJoin(broadcast(dCounts)).crossJoin(broadcast(vCount))
      .select(col("n_docs"), col("n_docs_signed"), col("n_vecs"),
        col("minhash_banded_rows"), col("simhash_banded_rows"),
        col("ann_banded_rows"), col("pairs_verified"), col("monotonic_ok"))
  }

  /** The funnel aggregation shared by d11 and d11p: hot buckets, rows
    * dropped by the cap, rows kept (+ caller extras). */
  private def guardAgg(buckets: DataFrame, cap: Int, prefix: String,
      extra: Seq[Column] = Nil): DataFrame = {
    val hot = col("bn") > cap
    // coalesce: sum over an EMPTY bucket relation (degenerate corpus
    // with no banded rows) is NULL; the report's contract is exact
    // integers, and conservation must read 0 = 0, not NULL
    val aggs = Seq(
      coalesce(sum(when(hot, 1L).otherwise(0L)), lit(0L))
        .as(s"${prefix}_hot_buckets"),
      coalesce(sum(when(hot, col("bn")).otherwise(0L)), lit(0L))
        .as(s"${prefix}_rows_dropped"),
      coalesce(sum(when(!hot, col("bn")).otherwise(0L)), lit(0L))
        .as(s"${prefix}_rows_kept")
    ) ++ extra
    buckets.agg(aggs.head, aggs.tail: _*)
  }

  private def sizes(banded: DataFrame, keys: Seq[String]): DataFrame =
    banded.groupBy(keys.map(col): _*).agg(count(lit(1)).as("bn"))

  /** @param bandRel pre-materialized bandKeys∘minhashSignatures (the
    *        `minhash_prod_bands` lake read-back); derived inline when
    *        absent
    *  @param pairsRel pre-built threshold-0 verified pairs
    *        ([[ngramJaccardPairsFromLake]]); derived inline when
    *        absent */
  def coverageReport(docs: DataFrame, emb: DataFrame,
      bandRel: Option[DataFrame] = None,
      pairsRel: Option[DataFrame] = None): DataFrame = {
    val mh = guardAgg(
      sizes(bandRel.getOrElse(bandKeys(minhashSignatures(docs))),
        Seq("band", "band_key")),
      MaxBandBucket, "minhash",
      extra = Seq(coalesce(sum(when(col("bn") <= MaxBandBucket,
        expr("bn * (bn - 1) div 2")).otherwise(0L)), lit(0L))
        .as("minhash_pairs_proposed")))
    // distinct + verified from ONE candidate subtree (threshold 0 keeps
    // every pair): a second bucketPairs subtree in the same plan would
    // duplicate the observe metric name, which Spark rejects; the
    // verified line thresholds the UNROUNDED jaccard — d05's filter
    val mhPairs = pairsRel.getOrElse(ngramJaccardPairs(docs, 0.0)).agg(
      count(lit(1)).as("minhash_pairs_distinct"),
      coalesce(sum(when(col("jaccard") >= 0.6, 1L).otherwise(0L)), lit(0L))
        .as("minhash_pairs_verified"))

    val sh = guardAgg(
      sizes(simhashFingerprints(docs).select(
        posexplode(array(pigeonholeBandVals(
          simhashLaneCols(SimhashLanes), SimhashMaxHamming): _*))
          .as(Seq("band", "band_val"))), Seq("band", "band_val")),
      MaxSimhashBucket, "simhash")

    val planes = planesForCorpus(emb.count())
    val ann = guardAgg(
      sizes(emb.select(
        posexplode(lshBandBuckets(
          col("v"), SimilarityOps.LshTables, planes, SimilarityOps.Dim))
          .as(Seq("table", "bucket"))), Seq("table", "bucket")),
      SimilarityOps.MaxBucket, "ann")

    Seq(mh, mhPairs, sh, ann)
      .map(df => df.unpivot(Array.empty, "stage", "n"))
      .reduce(_.unionByName(_))
  }

  /** d11p — the coverage report with every candidate generator drawn
    * from the PORTABLE families (d14's md5 min-lanes, d15's md5 bit
    * pool, literal-plane sign-LSH), which makes the ENTIRE funnel —
    * bucket histograms, cap drops, proposed/distinct/verified pair
    * counts — reproducible in ANSI SQL and therefore hash-CHECKED by
    * the driver's gate, not just spec-pinned (r7, verdict item 5).
    * d11 (xxhash64 generators) remains the production hot path;
    * d03/d06 are now the only hash-family-internal dedup rows.
    *
    * The funnel's inputs are MATERIALIZED once per run (the d12
    * lake-index pattern, r8 verdict item 2): the portable band-key,
    * simhash-fingerprint, and ann-bucket relations persist, every
    * funnel line reads the materialized input, and the funnel plan
    * carries ZERO md5 derivations of its own — where the r8 shape
    * re-derived each md5 generator from source per consumer (~12
    * scans, that round's most expensive bench row at 7.7 s). At
    * 100 TB the same funnel reads the signature tables the dedup jobs
    * already persist in the lake. The only remaining source pass is
    * the exact-verify shingle join (d05's kernel — inherent: the
    * verify reads text, not signatures). The 12-row funnel is
    * computed eagerly and returned as a local relation so the caches
    * drop at the end of this call, not at driver-consume time. */
  def portableCoverageReport(docs: DataFrame, emb: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val bandRel = portableBandKeys(portableSignatures(docs)).persist()
    val fps = portableSimhashFingerprints(docs).persist()
    val annBanded = emb.select(col("vec_id"),
      posexplode(lshBandBuckets(
        col("v"), PortableAnnTables, PortableAnnPlanes, SimilarityOps.Dim))
        .as(Seq("table", "bucket"))).persist()
    try {
      val out = portableFunnel(docs, bandRel, fps, annBanded)
      graft.functions.Relational.localize(spark, out.collect(), out.schema)
    } finally {
      bandRel.unpersist(); fps.unpersist(); annBanded.unpersist()
    }
  }

  /** The d11p funnel over its (materialized) inputs: band keys →
    * minhash guard lines + candidate pairs → exact verify;
    * fingerprints → simhash guard lines; ann buckets → ann guard
    * lines. Pure arithmetic over the inputs — PlanInvariantsSpec pins
    * that this plan computes no md5 of its own and reads each family
    * from its in-memory relation. */
  private[operators] def portableFunnel(
      docs: DataFrame, bandRel: DataFrame, fps: DataFrame,
      annBanded: DataFrame, setsRel: Option[DataFrame] = None): DataFrame = {
    val mh = guardAgg(
      sizes(bandRel, Seq("band", "band_key")),
      MaxBandBucket, "minhash",
      extra = Seq(coalesce(sum(when(col("bn") <= MaxBandBucket,
        expr("bn * (bn - 1) div 2")).otherwise(0L)), lit(0L))
        .as("minhash_pairs_proposed")))
    val cand = bucketPairs(bandRel,
        keyCols = Seq("band", "band_key"), memberCols = Seq("doc_id"),
        MaxBandBucket, metric = "portable_band_guard")
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val mhPairs = jaccardVerify(docs, cand, 0.0, setsRel)
      .agg(
        count(lit(1)).as("minhash_pairs_distinct"),
        coalesce(sum(when(col("jaccard") >= 0.6, 1L).otherwise(0L)), lit(0L))
          .as("minhash_pairs_verified"))
    val sh = guardAgg(
      sizes(fps.select(
        posexplode(array(pigeonholeBandVals(
          simhashLaneCols(SimhashLanes), SimhashMaxHamming): _*))
          .as(Seq("band", "band_val"))), Seq("band", "band_val")),
      MaxSimhashBucket, "simhash")
    val ann = guardAgg(
      sizes(annBanded, Seq("table", "bucket")),
      SimilarityOps.MaxBucket, "ann")
    Seq(mh, mhPairs, sh, ann)
      .map(df => df.unpivot(Array.empty, "stage", "n"))
      .reduce(_.unionByName(_))
  }

  /** The literal-plane sign-LSH bucket relation in SQL — one SELECT
    * per table over an `ev(vec_id, v DOUBLE[])` CTE, with the
    * [[graft.functions.VectorFunctions.hyperplanes]] constants
    * embedded as round-tripping double literals. Shared by the d11p
    * funnel, d06p pair generation, and s11's portable kNN so the three
    * can never disagree about what a bucket is. */
  private[graft] def portableAnnBucketsSql: String =
    (0 until PortableAnnTables).map { t =>
      val planes = graft.functions.VectorFunctions
        .hyperplanes(PortableAnnPlanes, SimilarityOps.Dim, 42L + 1000L * t)
      val bits = planes.zipWithIndex.map { case (p, i) =>
        val lits = p.map(_.toString).mkString(", ")
        s"(CASE WHEN list_dot_product(v, [$lits]) > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $t AS tbl, $bits AS bucket FROM ev"
    }.mkString(" UNION ALL ")

  /** d11p oracle: the full funnel in DuckDB. MinHash lines replay
    * d14's md5 band keys; the SimHash bucket histogram groups on BIT-
    * SUBSTRING block keys (a bijection of the engine's integer block
    * values — bucket sizes are partition-equal); the ann lines embed
    * the [[graft.functions.VectorFunctions.hyperplanes]] constants as
    * double literals (shortest-repr decimals round-trip to the exact
    * same double), with the sign test over `list_dot_product` ≡ the
    * engine's fold-left dot. */
  private def portableCoverageSql: String = {
    val nibs = (1 to 32)
      .map(j => s"(strpos('0123456789abcdef', substr(h, $j, 1)) - 1) AS n$j")
      .mkString(", ")
    val sums = (for { l <- 0 until SimhashLanes; w <- 0 until 64 } yield {
      val j = l * 16 + w / 4 + 1
      val b = w % 4
      s"sum(CASE WHEN ((n$j >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS s${l}_$w"
    }).mkString(", ")
    val bitChars = (for { l <- 0 until SimhashLanes; w <- 0 until 64 } yield
      s"CASE WHEN s${l}_$w > 0 THEN '1' ELSE '0' END").mkString(", ")
    val widths = pigeonholeWidths(64 * SimhashLanes, SimhashMaxHamming + 1)
    val starts = widths.scanLeft(0)(_ + _)
    val blockVals = widths.indices
      .map(i => s"(${i}, ${starts(i) + 1}, ${widths(i)})").mkString(", ")
    val annBuckets = portableAnnBucketsSql
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
      |         i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS shingle
      |       FROM toks WHERE len(t) >= 3),
      |mh AS (SELECT doc_id, p.i AS i, l.l AS l,
      |         min(substr(md5(CAST(p.i AS VARCHAR) || ':' || shingle),
      |                    l.l * 8 + 1, 8)) AS h
      |       FROM sh CROSS JOIN (SELECT unnest(range(0, $Bands)) AS i) p
      |            CROSS JOIN (SELECT unnest(range(0, $RowsPerBand)) AS l) l
      |       GROUP BY doc_id, p.i, l.l),
      |bd AS (SELECT doc_id, CAST(i AS INT) AS band,
      |         string_agg(h, '|' ORDER BY l) AS band_key
      |       FROM mh GROUP BY doc_id, i),
      |bs AS (SELECT band, band_key, count(*) AS bn FROM bd GROUP BY band, band_key),
      |mhf AS (SELECT
      |    coalesce(sum(CASE WHEN bn > $MaxBandBucket THEN 1 ELSE 0 END), 0) AS hot,
      |    coalesce(sum(CASE WHEN bn > $MaxBandBucket THEN bn ELSE 0 END), 0) AS dropped,
      |    coalesce(sum(CASE WHEN bn <= $MaxBandBucket THEN bn ELSE 0 END), 0) AS kept,
      |    coalesce(sum(CASE WHEN bn <= $MaxBandBucket THEN bn * (bn - 1) // 2 ELSE 0 END), 0) AS proposed
      |  FROM bs),
      |ok AS (SELECT band, band_key FROM bs WHERE bn <= $MaxBandBucket),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |         FROM bd a JOIN ok USING (band, band_key)
      |         JOIN bd b ON a.band = b.band AND a.band_key = b.band_key
      |          AND a.doc_id < b.doc_id),
      |ss AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
      |         i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      |       FROM toks WHERE len(t) >= 3),
      |pj AS (SELECT doc_a, doc_b, len(list_intersect(a.s, b.s)) AS inter,
      |         len(a.s) AS la, len(b.s) AS lb
      |       FROM cand JOIN ss a ON a.doc_id = cand.doc_a
      |                 JOIN ss b ON b.doc_id = cand.doc_b),
      |mhp AS (SELECT count(*) AS distinct_pairs,
      |          coalesce(sum(CASE WHEN CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.6
      |                            THEN 1 ELSE 0 END), 0) AS verified
      |        FROM pj),
      |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |hx AS (SELECT doc_id, md5(token) AS h FROM tok),
      |nib AS (SELECT doc_id, $nibs FROM hx),
      |s2 AS (SELECT doc_id, $sums FROM nib GROUP BY doc_id),
      |f AS (SELECT doc_id, concat($bitChars) AS fp FROM s2),
      |sbd AS (SELECT doc_id, u.b AS band, substr(fp, u.st, u.w) AS band_val
      |        FROM f CROSS JOIN (VALUES $blockVals) u(b, st, w)),
      |sbs AS (SELECT band, band_val, count(*) AS bn FROM sbd GROUP BY band, band_val),
      |shf AS (SELECT
      |    coalesce(sum(CASE WHEN bn > $MaxSimhashBucket THEN 1 ELSE 0 END), 0) AS hot,
      |    coalesce(sum(CASE WHEN bn > $MaxSimhashBucket THEN bn ELSE 0 END), 0) AS dropped,
      |    coalesce(sum(CASE WHEN bn <= $MaxSimhashBucket THEN bn ELSE 0 END), 0) AS kept
      |  FROM sbs),
      |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |ab AS ($annBuckets),
      |abz AS (SELECT tbl, bucket, count(*) AS bn FROM ab GROUP BY tbl, bucket),
      |anf AS (SELECT
      |    coalesce(sum(CASE WHEN bn > ${SimilarityOps.MaxBucket} THEN 1 ELSE 0 END), 0) AS hot,
      |    coalesce(sum(CASE WHEN bn > ${SimilarityOps.MaxBucket} THEN bn ELSE 0 END), 0) AS dropped,
      |    coalesce(sum(CASE WHEN bn <= ${SimilarityOps.MaxBucket} THEN bn ELSE 0 END), 0) AS kept
      |  FROM abz)
      |SELECT 'minhash_hot_buckets' AS stage, CAST(hot AS BIGINT) AS n FROM mhf
      |UNION ALL SELECT 'minhash_rows_dropped', CAST(dropped AS BIGINT) FROM mhf
      |UNION ALL SELECT 'minhash_rows_kept', CAST(kept AS BIGINT) FROM mhf
      |UNION ALL SELECT 'minhash_pairs_proposed', CAST(proposed AS BIGINT) FROM mhf
      |UNION ALL SELECT 'minhash_pairs_distinct', CAST(distinct_pairs AS BIGINT) FROM mhp
      |UNION ALL SELECT 'minhash_pairs_verified', CAST(verified AS BIGINT) FROM mhp
      |UNION ALL SELECT 'simhash_hot_buckets', CAST(hot AS BIGINT) FROM shf
      |UNION ALL SELECT 'simhash_rows_dropped', CAST(dropped AS BIGINT) FROM shf
      |UNION ALL SELECT 'simhash_rows_kept', CAST(kept AS BIGINT) FROM shf
      |UNION ALL SELECT 'ann_hot_buckets', CAST(hot AS BIGINT) FROM anf
      |UNION ALL SELECT 'ann_rows_dropped', CAST(dropped AS BIGINT) FROM anf
      |UNION ALL SELECT 'ann_rows_kept', CAST(kept AS BIGINT) FROM anf""".stripMargin
  }

  /** The registry row reads the session's [[graft.sources.SignatureLake]]
    * — the first consumer pays each family's one-time derivation, every
    * later read (including bench reps) is funnel-only arithmetic over
    * the materialized index, exactly the lake shape the 100 TB report
    * runs against. [[portableCoverageReport]] stays as the
    * self-contained form (derive → funnel → drop) for library callers
    * without a lake. */
  val portableCoverageQ: GraftQuery = GraftQuery(
    "d11p_coverage_portable", portableCoverageSql) { (spark, sf) =>
    // r17: the verify's shingle-set side now reads the shingle_sets
    // lake family too — the funnel's LAST inline corpus tokenization
    // is gone; every input is a materialized lake table
    val out = portableFunnel(Tables.documents(spark, sf),
      graft.sources.SignatureLake.portableBandKeys(spark, sf),
      graft.sources.SignatureLake.portableFingerprints(spark, sf),
      graft.sources.SignatureLake.portableAnnBuckets(spark, sf),
      setsRel = Some(graft.sources.SignatureLake.shingleSets(spark, sf)))
    graft.functions.Relational.localize(spark, out.collect(), out.schema)
  }

  /** Audit floor for d06p's emitted pairs: low enough that the fixed
    * corpus produces a non-vacuous verified set (the 0.95 dup bar
    * itself may match nothing on a random corpus — an empty gate row
    * proves nothing), high enough to stay bounded. */
  val PortableEmbAuditFloor = 0.3

  /** d06p — portable embedding near-dup pairs: the embedding family's
    * end-to-end hash-checked twin, completing the pattern d14/d15 set
    * for minhash/simhash. Candidates come from the FIXED literal-plane
    * sign-LSH geometry ([[portableAnnBucketsSql]] — the same buckets
    * d11p's funnel accounts), capped per bucket, deduped across
    * tables, then verified by exact cosine over the shared fold-left
    * dot kernel. Emits every verified pair at the audit floor with the
    * d06 dup verdict at 0.95; cos_sim ships RAW (identical IEEE
    * sequence both engines). d06 (corpus-adaptive planes) remains the
    * production path — its plane count follows n, which is exactly
    * what a fixed oracle text cannot replay. */
  def portableEmbeddingPairs(emb: DataFrame): DataFrame = {
    // bucketPairs, not a bucket self-join (r7 review): one evaluation
    // + one shuffle of the banded scan, cosine computed BEFORE the
    // pair-dedup so that shuffle carries one double, not two vectors
    val banded = emb
      .withColumn("nrm", norm(col("v")))
      .select(col("vec_id"), col("v"), col("nrm"),
        posexplode(lshBandBuckets(
          col("v"), PortableAnnTables, PortableAnnPlanes, SimilarityOps.Dim))
          .as(Seq("tbl", "bucket")))
    bucketPairs(banded, keyCols = Seq("tbl", "bucket"),
        memberCols = Seq("vec_id", "v", "nrm"),
        SimilarityOps.MaxBucket, metric = "portable_emb_guard")
      .select(
        least(col("a.vec_id"), col("b.vec_id")).as("vec_a"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("vec_b"),
        // decide-before-divide on zero norms (r8 ADVICE): 0/0 is NaN
        // in Spark (and NaN >= floor is TRUE under Spark ordering)
        // but NULL in DuckDB (row filtered) — pin cos_sim = 0.0 when
        // either norm is zero, the v05/v07 contract
        when(col("a.nrm") === 0 || col("b.nrm") === 0, lit(0.0))
          .otherwise(dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
          .as("cos_sim"))
      .dropDuplicates("vec_a", "vec_b")
      .filter(col("cos_sim") >= PortableEmbAuditFloor)
      .select(col("vec_a"), col("vec_b"), col("cos_sim"),
        (col("cos_sim") >= 0.95).as("is_dup"))
  }

  val portableEmbeddingDupQ: GraftQuery = GraftQuery(
    "d06p_dedup_embedding_portable",
    s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |ab AS ($portableAnnBucketsSql),
      |sz AS (SELECT tbl, bucket, count(*) AS bn FROM ab GROUP BY tbl, bucket),
      |ok AS (SELECT tbl, bucket FROM sz WHERE bn <= ${SimilarityOps.MaxBucket}),
      |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      |         FROM ab a JOIN ok USING (tbl, bucket)
      |         JOIN ab b ON a.tbl = b.tbl AND a.bucket = b.bucket
      |          AND a.vec_id < b.vec_id),
      |p AS (SELECT vec_a, vec_b,
      |        CASE WHEN sqrt(list_dot_product(ea.v, ea.v)) = 0
      |               OR sqrt(list_dot_product(eb.v, eb.v)) = 0 THEN 0.0
      |             ELSE list_dot_product(ea.v, eb.v)
      |          / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) END AS cos_sim
      |      FROM cand JOIN ev ea ON ea.vec_id = cand.vec_a
      |                JOIN ev eb ON eb.vec_id = cand.vec_b)
      |SELECT vec_a, vec_b, cos_sim, cos_sim >= 0.95 AS is_dup
      |FROM p WHERE cos_sim >= $PortableEmbAuditFloor""".stripMargin) { (spark, sf) =>
    portableEmbeddingPairs(Tables.embeddings(spark, sf)
      .select(col("vec_id"), toDouble(col("embedding")).as("v")))
  }

  /** d12 — incremental dedup: the job a production pipeline actually
    * runs on every ingest — a NEW batch (delta) deduped against the
    * EXISTING lake (corpus) AND within itself, one verdict per new
    * document with keep-first semantics:
    *
    *   exact_corpus > exact_batch > near_corpus > near_batch > new
    *
    * (an exact corpus copy outranks everything; a batch-internal
    * near-dup only drops against a SMALLER delta doc_id, so the first
    * occurrence in the batch stays 'new').
    *
    * Shape: the exact tiers are one text-keyed semi-join / grouped
    * first-id join; the near tier's candidates come from the ON-DISK
    * band index — the registry row derives signatures for the NEW
    * batch only and APPENDS them to the bucketed lake table
    * ([[graft.sources.SignatureLake.incrementalBandIndex]]), then
    * expands candidate pairs from the UPDATED index's bucketed scan
    * (zero exchange into the bucket aggregation — SignatureLakeSpec
    * pins the plan) and exact-verifies only pairs touching the delta.
    * Every membership test is a doc_id-keyed semi-join, co-partitioned
    * after the first shuffle. Nothing is corpus²: candidates stay
    * bucketed and capped. [[incrementalDedup]] remains the
    * self-contained (no-lake) form over the production xxhash64
    * family for library callers.
    *
    * Oracle: fully SQL-expressible — the near tier inherits d05's
    * candidates ⊇ truth agreement on the gate corpora (every
    * qualifying pair there has J ≥ 0.9, where banding recall is
    * ~0.9998 and hash-deterministic), so DuckDB recomputes it as
    * all-pairs Jaccard; the exact tiers and the precedence CASE are
    * literal. */
  def incrementalDedup(delta: DataFrame, corpus: DataFrame,
      threshold: Double = 0.6): DataFrame =
    incrementalVerdicts(delta, corpus,
      ngramJaccardPairs(
        delta.select(col("doc_id"), col("text"))
          .unionByName(corpus.select(col("doc_id"), col("text"))), threshold))

  /** Verdict assembly over a PRE-COMPUTED verified near-pair relation
    * (doc_a, doc_b) — shared by [[incrementalDedup]] (self-contained
    * production-hash path) and the registry row's lake path, which
    * sources candidates from the incrementally-APPENDED on-disk band
    * index ([[graft.sources.SignatureLake.incrementalBandIndex]])
    * instead of re-hashing the corpus. */
  private def incrementalVerdicts(delta: DataFrame, corpus: DataFrame,
      near: DataFrame): DataFrame = {
    val dIds = delta.select(col("doc_id"))
    val exactCorpus = delta
      .join(corpus.select(col("text")).distinct(), Seq("text"), "left_semi")
      .select(col("doc_id")).distinct().withColumn("_ec", lit(true))
    val exactBatch = delta
      .join(delta.groupBy(col("text")).agg(min(col("doc_id")).as("_first_id")), "text")
      .filter(col("doc_id") =!= col("_first_id"))
      .select(col("doc_id")).distinct().withColumn("_eb", lit(true))
    // both directions, then keep the delta-side endpoints
    val nearDelta = near.select(
      explode(array(
        struct(col("doc_a").as("doc_id"), col("doc_b").as("other")),
        struct(col("doc_b").as("doc_id"), col("doc_a").as("other")))).as("p"))
      .select(col("p.doc_id").as("doc_id"), col("p.other").as("other"))
      .join(dIds, Seq("doc_id"), "left_semi")
    val nearCorpus = nearDelta
      .join(corpus.select(col("doc_id").as("other")), Seq("other"), "left_semi")
      .select(col("doc_id")).distinct().withColumn("_nc", lit(true))
    val nearBatch = nearDelta
      .join(dIds.select(col("doc_id").as("other")), Seq("other"), "left_semi")
      .filter(col("other") < col("doc_id"))
      .select(col("doc_id")).distinct().withColumn("_nb", lit(true))
    dIds
      .join(exactCorpus, Seq("doc_id"), "left")
      .join(exactBatch, Seq("doc_id"), "left")
      .join(nearCorpus, Seq("doc_id"), "left")
      .join(nearBatch, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("_ec"), "exact_corpus")
          .when(col("_eb"), "exact_batch")
          .when(col("_nc"), "near_corpus")
          .when(col("_nb"), "near_batch")
          .otherwise("new").as("verdict"))
  }

  val incrementalQ: GraftQuery = GraftQuery(
    "d12_incremental_dedup",
    """WITH delta AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
      |corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
      |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
      |         i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      |       FROM toks WHERE len(t) >= 3),
      |-- d05's verified-pairs kernel, evaluated ONCE (MATERIALIZED: nd
      |-- reads np twice and nc/nb each read nd — inlining would redo
      |-- the quadratic intersect per consumer), with the intersection
      |-- computed once per pair and the pair join pre-restricted to
      |-- pairs touching the delta (the only ones the verdict tiers
      |-- consume; drops ~81% of the quadratic work at a 10% delta)
      |np AS MATERIALIZED (
      |  SELECT doc_a, doc_b FROM (
      |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |           len(list_intersect(a.s, b.s)) AS inter,
      |           len(a.s) AS la, len(b.s) AS lb
      |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |    WHERE a.doc_id % 10 = 0 OR b.doc_id % 10 = 0) p
      |  WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.6),
      |nd AS (SELECT doc_a AS doc_id, doc_b AS other FROM np
      |       UNION ALL SELECT doc_b, doc_a FROM np),
      |ec AS (SELECT DISTINCT d.doc_id FROM delta d JOIN corpus c ON d.text = c.text),
      |eb AS (SELECT DISTINCT d.doc_id FROM delta d JOIN
      |         (SELECT text, min(doc_id) AS fid FROM delta GROUP BY text) f
      |       ON d.text = f.text AND d.doc_id <> f.fid),
      |nc AS (SELECT DISTINCT nd.doc_id FROM nd JOIN delta USING (doc_id)
      |       WHERE nd.other % 10 <> 0),
      |nb AS (SELECT DISTINCT nd.doc_id FROM nd JOIN delta USING (doc_id)
      |       WHERE nd.other % 10 = 0 AND nd.other < nd.doc_id)
      |SELECT d.doc_id,
      |       CASE WHEN ec.doc_id IS NOT NULL THEN 'exact_corpus'
      |            WHEN eb.doc_id IS NOT NULL THEN 'exact_batch'
      |            WHEN nc.doc_id IS NOT NULL THEN 'near_corpus'
      |            WHEN nb.doc_id IS NOT NULL THEN 'near_batch'
      |            ELSE 'new' END AS verdict
      |FROM delta d
      |LEFT JOIN ec ON d.doc_id = ec.doc_id
      |LEFT JOIN eb ON d.doc_id = eb.doc_id
      |LEFT JOIN nc ON d.doc_id = nc.doc_id
      |LEFT JOIN nb ON d.doc_id = nb.doc_id""".stripMargin) { (spark, sf) =>
    val docs = Tables.documents(spark, sf)
    val delta = docs.filter(col("doc_id") % DocDeltaMod === BandDeltaRem)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    // derive the batch's signatures, APPEND to the on-disk index, read
    // the updated index back — the corpus side is never re-hashed
    val bands = graft.sources.SignatureLake
      .incrementalBandIndex(spark, sf, corpus, delta)
    val cand = bucketPairs(bands, keyCols = Seq("band", "band_key"),
        memberCols = Seq("doc_id"), MaxBandBucket, metric = "d12_inc_band_guard")
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      // only pairs touching the delta feed the verdict tiers — prune
      // before the pair-dedup shuffle and the exact verify (the md5
      // family's candidates ⊇ J≥0.6 truth license is d14's, measured
      // per scale in DedupSpec's license matrix)
      .filter(col("doc_a") % 10 === 0 || col("doc_b") % 10 === 0)
      .dropDuplicates("doc_a", "doc_b")
    // verify sets off the shingle_sets lake family (r17) — the
    // audited subject here is the APPEND path above, not the verify
    incrementalVerdicts(delta, corpus, jaccardVerify(docs, cand, 0.6,
      setsRel = Some(graft.sources.SignatureLake.shingleSets(spark, sf))))
  }

  // ------------------------------------------------------------------
  // d13: segment-level exact substring dedup (chunk granularity)
  // ------------------------------------------------------------------

  /** Chunk width for segment-level dedup. 16 tokens ≈ the paragraph /
    * line granularity the exact-substring-dedup practice works at
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL'22, approximated at fixed-chunk rather than
    * suffix-array granularity — the relational shape a shuffle engine
    * can execute at 100 TB). */
  val SegmentTokens = 16

  /** Segment-level exact dedup with document reconstruction: split
    * every document into fixed [[SegmentTokens]]-token chunks, keep
    * only the FIRST corpus-wide occurrence of each distinct chunk
    * (ordered by (doc_id, seg_idx)), and rebuild each document from
    * its surviving chunks. Removes boilerplate spans repeated across
    * documents — and repeated chunks within one document — while d01
    * only removes whole-document copies.
    *
    * Scale shape: one map-side-combinable min-aggregation keyed on the
    * chunk value picks the keeper, then a hash join back on the same
    * key (the exchange is reused — chunk rows shuffle once); a hot
    * chunk value (boilerplate repeated 10⁶ times) partial-aggregates
    * on the map side instead of sorting one giant window partition,
    * which is why this is NOT a row_number window. Reconstruction
    * regroups by doc_id: per-group state is bounded by document
    * length, never corpus size. */
  def segmentDedup(docs: DataFrame, w: Int = SegmentTokens): DataFrame = {
    val segs = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), ceil(size(col("tk")) / lit(w.toDouble)).cast("int") - 1),
        i => concat_ws(" ", slice(col("tk"), i * w + 1, lit(w))))))
      .select(col("doc_id"), col("pos").as("seg_idx"), col("col").as("seg"))
    val keeper = segs.groupBy(col("seg"))
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("k"))
    val kept = segs.join(keeper, "seg")
      .filter(struct(col("doc_id"), col("seg_idx")) === col("k"))
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_segs"),
        array_join(transform(
          array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
          x => x("seg")), " ").as("dedup_text"))
    docs.select(col("doc_id"), col("text"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("text").isNull, lit(0L))
          .otherwise(ceil(size(split(col("text"), " ")) / lit(w.toDouble)).cast("long"))
          .as("n_segs"),
        coalesce(col("kept_segs"), lit(0L)).as("kept_segs"),
        when(col("text").isNull, lit(null).cast("string"))
          .otherwise(coalesce(col("dedup_text"), lit(""))).as("dedup_text"))
  }

  val segmentDedupQ: GraftQuery = GraftQuery(
    "d13_segment_dedup",
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |              WHERE text IS NOT NULL),
      |s0 AS (SELECT doc_id, unnest(list_transform(
      |         range(0, CAST(ceil(len(t) / $SegmentTokens.0) AS INT)),
      |         i -> struct_pack(si := i,
      |                sg := array_to_string(
      |                  list_slice(t, i*$SegmentTokens + 1, i*$SegmentTokens + $SegmentTokens),
      |                  ' ')))) AS s
      |       FROM toks),
      |seg AS (SELECT doc_id, s.si AS seg_idx, s.sg AS seg FROM s0),
      |k AS (SELECT doc_id, seg_idx, seg,
      |        row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
      |      FROM seg),
      |r AS (SELECT doc_id, count(*) AS kept_segs,
      |        string_agg(seg, ' ' ORDER BY seg_idx) AS dedup_text
      |      FROM k WHERE rn = 1 GROUP BY doc_id)
      |SELECT d.doc_id,
      |       CASE WHEN d.text IS NULL THEN CAST(0 AS BIGINT)
      |            ELSE CAST(ceil(len(string_split(d.text, ' ')) / $SegmentTokens.0) AS BIGINT)
      |       END AS n_segs,
      |       CAST(coalesce(r.kept_segs, 0) AS BIGINT) AS kept_segs,
      |       CASE WHEN d.text IS NULL THEN NULL
      |            ELSE coalesce(r.dedup_text, '') END AS dedup_text
      |FROM documents d LEFT JOIN r USING (doc_id)""".stripMargin) { (spark, sf) =>
    segmentDedup(Tables.documents(spark, sf))
  }

  // ------------------------------------------------------------------
  // d14: portable-hash MinHash+LSH (the fully-oracled audit variant)
  // ------------------------------------------------------------------

  /** Hex lanes carved from each md5: the 32-hex-char digest splits
    * into 4 disjoint 8-char (32-bit) lanes, each an independent
    * permutation — the standard split-one-strong-hash-into-k-hashes
    * device, so the audit family costs NumHashes/4 md5 calls per
    * shingle, not NumHashes. */
  val PortableLanes = 4

  /** MinHash signature per doc over a PORTABLE hash family:
    * element p = min over shingles of an 8-hex-char lane of
    * md5((p/4) || ":" || shingle) — lexicographic min on fixed-width
    * lowercase hex equals numeric min on the lane value, and
    * md5-of-UTF8 is bit-identical across engines, so the whole
    * signature (and everything downstream of it) is reproducible in
    * ANSI SQL. d03's xxhash64 family is the production default
    * (codegen'd, far cheaper per gram); this family exists so the
    * near-dup pipeline has an end-to-end hash-matched oracle row
    * rather than only spec-pinned contracts. */
  def portableSignatures(docs: DataFrame): DataFrame =
    // ONE native kernel call per row ([[graft.functions.PortableMinHashSig]],
    // r17): tokenize → distinct 3-shingles → NumHashes/PortableLanes md5
    // digests per shingle → per-lane minima, where the text already is.
    // The r16 relational shape exploded one row per (doc, shingle),
    // evaluated 8 md5 + hex expressions per row, and min-aggregated 32
    // UTF8String lanes through a doc_id exchange — the signature
    // relation is now scan → project → filter with ZERO exchange, and
    // the lake build's only shuffle is the bucketed write's. Output is
    // bit-identical (same md5 family, same lane carving — gated by the
    // hash-checked d14/d17/d21/d23 oracle rows); docs without a
    // 3-shingle (null/short text) yield NULL and are filtered, exactly
    // the rows the old `size(toks) >= 3` filter dropped.
    // the signability filter runs on a CHEAP predicate BELOW the
    // kernel projection (the old tokenShingles filter, size(split) >=
    // 3 — null text gives size -1): a `filter(sig.isNotNull)` ABOVE it
    // would be pushed through the alias and evaluate the kernel TWICE
    // per row (the guide §4.4 duplication, observed in the d17 plan
    // pin), so the kernel must never be the filter's subject
    docs.filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"),
        call_function("graft_portable_minhash_sig", col("text"),
          lit(NumHashes / PortableLanes), lit(PortableLanes)).as("sig"))

  /** d03's 8×4 banding geometry over a portable signature column: one
    * array element per band, the '|'-joined run of hex minima (ORDER
    * BY the permutation index, mirrored exactly by the d14/d17
    * oracles' string_agg). The SINGLE definition of the portable band
    * key — both consumers posexplode this column, so the cross-engine
    * contract cannot drift between them. */
  private def portableBandCols: Column =
    array((0 until Bands).map { b =>
      concat_ws("|", (0 until RowsPerBand).map(r =>
        col("sig")(b * RowsPerBand + r)): _*)
    }: _*)

  def portableBandKeys(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), posexplode(portableBandCols).as(Seq("band", "band_key")))

  /** Candidate pairs from the portable banding — same bounded
    * within-bucket expansion and hot-bucket cap as d03 (the cap is in
    * the oracle too, so parity holds by construction even on
    * boilerplate corpora). */
  def portableCandidatePairs(docs: DataFrame, maxBucket: Int = MaxBandBucket): DataFrame =
    candidatePairsFromBands(portableBandKeys(portableSignatures(docs)), maxBucket)

  /** The candidate expansion alone, over an ALREADY-DERIVED portable
    * band-key relation — the serve half of [[portableCandidatePairs]],
    * split out so consumers that are not auditing the derivation
    * itself (d32) can run it over the materialized
    * [[graft.sources.SignatureLake.portableBandKeys]] family instead
    * of re-hashing the corpus (the d17/d22 lake-serve pattern; d14
    * stays the self-contained row that keeps the honest derivation
    * measured). Reading the bucketed lake table also makes the
    * band-key aggregation exchange-free — the (band, band_key)
    * distribution is paid once at lake-write time. */
  def candidatePairsFromBands(bandRel: DataFrame,
      maxBucket: Int = MaxBandBucket): DataFrame =
    bucketPairs(bandRel,
      keyCols = Seq("band", "band_key"), memberCols = Seq("doc_id"),
      maxBucket, metric = "portable_band_guard")
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")

  /** Portable MinHash→LSH→exact-Jaccard near-dup: identical contract
    * to d03+d05 (0.6 threshold, 8×4 banding, bucket cap) but every
    * stage — hash family, band keys, bucket cap, candidate set, exact
    * verify — is replayed verbatim by the DuckDB oracle, so this row
    * is hash-CHECKED, not spec-pinned. The md5 family costs ~10× d03's
    * xxhash64 per gram; run d14 as the periodic audit / acceptance
    * query and d03 in the hot path. */
  /** The d14 oracle's CTE chain (portable md5 MinHash → banding →
    * capped candidates → exact-Jaccard inputs), ending at `p(doc_a,
    * doc_b, inter, la, lb)` — shared with d21 so the two texts can
    * never state a different near-dup pipeline. */
  /** The portable band-key derivation alone (md5 MinHash → 8×4
    * banding), ending at `bd(doc_id, band, band_key)` — the prefix of
    * [[portableNearDupCtes]], shared with the d23 lake-append
    * conservation row so the oracle's notion of "the full index"
    * cannot drift from the near-dup pipeline's. */
  private def portableBandCtesWhere(pred: String): String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |         WHERE $pred),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
      |         i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS shingle
      |       FROM toks WHERE len(t) >= 3),
      |mh AS (SELECT doc_id, p.i AS i, l.l AS l,
      |         min(substr(md5(CAST(p.i AS VARCHAR) || ':' || shingle),
      |                    l.l * 8 + 1, 8)) AS h
      |       FROM sh CROSS JOIN (SELECT unnest(range(0, 8)) AS i) p
      |            CROSS JOIN (SELECT unnest(range(0, 4)) AS l) l
      |       GROUP BY doc_id, p.i, l.l),
      |bd AS (SELECT doc_id, CAST(i AS INT) AS band,
      |         string_agg(h, '|' ORDER BY l) AS band_key
      |       FROM mh GROUP BY doc_id, i)""".stripMargin

  private def portableBandCtes: String = portableBandCtesWhere("TRUE")

  private def portableNearDupCtes: String =
    s"""$portableBandCtes,
      |ok AS (SELECT band, band_key FROM bd GROUP BY band, band_key
      |       HAVING count(*) <= 256),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |         FROM bd a JOIN ok USING (band, band_key)
      |         JOIN bd b ON a.band = b.band AND a.band_key = b.band_key
      |          AND a.doc_id < b.doc_id),
      |ss AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
      |         i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      |       FROM toks WHERE len(t) >= 3),
      |p AS (SELECT doc_a, doc_b, len(list_intersect(a.s, b.s)) AS inter,
      |        len(a.s) AS la, len(b.s) AS lb
      |      FROM cand JOIN ss a ON a.doc_id = cand.doc_a
      |                JOIN ss b ON b.doc_id = cand.doc_b)""".stripMargin

  val portableMinhashQ: GraftQuery = GraftQuery(
    "d14_dedup_minhash_portable",
    s"""WITH $portableNearDupCtes
      |SELECT doc_a, doc_b,
      |       CAST(inter AS DOUBLE) / (la + lb - inter) AS jaccard
      |FROM p
      |WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.6""".stripMargin) {
    (spark, sf) =>
      val docs = Tables.documents(spark, sf)
      jaccardVerify(docs, portableCandidatePairs(docs), 0.6)
  }

  // ------------------------------------------------------------------
  // d15: portable-hash SimHash (the fully-oracled audit variant)
  // ------------------------------------------------------------------

  /** 128-bit SimHash fingerprint over a PORTABLE hash family: each
    * token's bit pool is its md5 digest — 32 hex nibbles = 128 bits,
    * exactly the two lanes, one digest per token (d14's
    * split-one-strong-hash device applied to the bit pool instead of
    * min-lanes). Bit i of lane l is bit (i % 4) of nibble
    * l·16 + i/4 — a fixed permutation of the digest, which Hamming
    * distance is invariant under, and one both engines state
    * identically. Same majority aggregation as [[simhashFingerprints]]
    * (one shuffle, 128 map-side-combinable sums); the md5 family costs
    * ~an md5 + 32 nibble parses per TOKEN vs one codegen'd xxhash64 —
    * d04 stays the hot path, this row is the audit/acceptance variant
    * that gives the simhash family an end-to-end hash-CHECKED oracle
    * row (d04 itself is no_oracle: xxhash64 has no ANSI twin). */
  def portableSimhashFingerprints(docs: DataFrame): DataFrame = {
    // ONE native kernel call per row ([[graft.functions.PortableSimhashFp]],
    // r17): per-token counts → one md5 bit pool per DISTINCT token →
    // 128 ±count bit sums → two majority lanes, where the text already
    // is. The r16 relational shape grouped (doc, token) through an
    // exchange, parsed 32 conv(substring) nibbles per distinct token,
    // and folded 128 conditional sum aggregates through a second
    // doc_id exchange — the fingerprint relation is now scan → project
    // → filter with ZERO exchange. Output is bit-identical (same md5
    // bit pool, same majority rule — gated by the hash-checked d15
    // oracle row); null-text docs yield NULL and are filtered, exactly
    // the rows the old explode dropped.
    // null-text docs are dropped by a cheap filter BELOW the kernel
    // projection (never `filter(fp.isNotNull)` above it — alias
    // pushdown would evaluate the kernel twice per row, guide §4.4);
    // the two lane extractions above one kernel projection stay ONE
    // evaluation (CollapseProject keeps multi-referenced non-cheap
    // expressions un-inlined — the MinHashBandKeys precedent)
    val fp = call_function("graft_portable_simhash", col("text"))
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), fp.as("fp"))
      .select(col("doc_id") +: (0 until SimhashLanes).map(l =>
        col("fp").getItem(l).as(s"sh$l")): _*)
  }

  /** d15 oracle: same md5 bit pool, but verified by ALL-PAIRS Hamming
    * over BIT-typed fingerprints — an independent formulation, not a
    * banding transcription. The pigeonhole blocking the engine runs is
    * recall-EXACT at the radius (any pair within maxHamming agrees on
    * ≥1 block), so engine pairs ≡ all-pairs-filter pairs whenever no
    * bucket exceeds the cap; DedupSpec asserts the guard metric is
    * zero on the harness corpus at both gate scales, which is what
    * licenses the simpler oracle. */
  /** The d15 oracle's CTE chain (md5 bit pool → majority fingerprint →
    * all-pairs BIT Hamming), ending at `p(doc_a, doc_b, hamming)` —
    * shared with the d04 recall contract so the two texts can never
    * state a different portable fingerprint. */
  private def portableSimhashCtes: String = {
    val nibs = (1 to 32)
      .map(j => s"(strpos('0123456789abcdef', substr(h, $j, 1)) - 1) AS n$j")
      .mkString(",\n      |         ")
    val sums = (for { l <- 0 until SimhashLanes; w <- 0 until 64 } yield {
      val j = l * 16 + w / 4 + 1
      val b = w % 4
      s"sum(CASE WHEN ((n$j >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS s${l}_$w"
    }).mkString(",\n      |         ")
    val bitChars = (for { l <- 0 until SimhashLanes; w <- 0 until 64 } yield
      s"CASE WHEN s${l}_$w > 0 THEN '1' ELSE '0' END").mkString(", ")
    s"""tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |             FROM documents),
      |hx AS (SELECT doc_id, md5(token) AS h FROM tok),
      |nib AS (SELECT doc_id,
      |         $nibs
      |        FROM hx),
      |s AS (SELECT doc_id,
      |         $sums
      |      FROM nib GROUP BY doc_id),
      |f AS (SELECT doc_id, CAST(concat($bitChars) AS BIT) AS fp FROM s),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |        CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
      |      FROM f a JOIN f b ON a.doc_id < b.doc_id)""".stripMargin
  }

  private def portableSimhashSql: String =
    s"""WITH $portableSimhashCtes
      |SELECT doc_a, doc_b, hamming FROM p WHERE hamming <= $SimhashMaxHamming"""
      .stripMargin

  /** Portable SimHash near-dup pairs: d04's contract (Hamming ≤ 12
    * over 128 bits, same [[simhashPairsMulti]] pigeonhole blocking,
    * same hot-bucket cap) over the md5 bit pool. */
  val portableSimhashQ: GraftQuery = GraftQuery(
    "d15_dedup_simhash_portable", portableSimhashSql) { (spark, sf) =>
    simhashPairsMulti(
      portableSimhashFingerprints(Tables.documents(spark, sf)),
      simhashLaneCols(SimhashLanes), SimhashMaxHamming)
  }

  /** MinHash estimator calibration (d17): for every PORTABLE-family
    * candidate pair, the signature-estimated Jaccard (lane-agreement
    * fraction) next to the exact shingle-set Jaccard and the absolute
    * estimation error — the acceptance report that tells you whether
    * 32 permutations are enough before trusting d03's estimate as a
    * dedup threshold at 100 TB (expected |err| ≈ √(J(1−J)/32) ≈ 0.09
    * at J=0.6; a corpus that blows that band needs more permutations,
    * not a lower threshold). Shape: the candidate set is the banding's
    * (bounded buckets, cap in both engines), signatures and shingle
    * sets ride two hash joins keyed on doc id — no all-pairs stage
    * anywhere. Every emitted double is a single IEEE op on exact
    * integers (matches/32 is a power-of-two division, inter/union one
    * division, err one subtraction), so the row hashes identically at
    * any parallelism and in both engines with NO rounding needed. */
  /** @param sigs the portable signature relation — defaults to a
    *        fresh derivation; the registry row passes the
    *        [[graft.sources.SignatureLake]]'s materialized family so
    *        the calibration report reads the lake index instead of
    *        re-hashing the corpus (the d11p pattern; the self-
    *        contained d14 row keeps the honest derivation measured) */
  def minhashCalibration(docs: DataFrame, sigs: DataFrame = null): DataFrame = {
    // ONE signature computation feeds both the banding and the lane
    // agreement: the long-array signature rides bucketPairs as a
    // member column (cosineCandidates' pattern — 32 longs per row
    // through one bounded pair expansion beats re-running the md5
    // family per consumer: a naive sigs-join-sigs formulation plans
    // the 8-digests-per-shingle pass three times, no exchange reuse),
    // and matches is counted BEFORE the pair-dedup so that shuffle
    // carries one long (d03's argument).
    val sigRel = Option(sigs).getOrElse(portableSignatures(docs))
    val banded = sigRel.select(col("doc_id"),
      transform(col("sig"), h => conv(h, 16, 10).cast("long")).as("sigl"),
      posexplode(portableBandCols).as(Seq("band", "band_key")))
    val matches = call_function("graft_eq_count", col("a.sigl"), col("b.sigl"))
    val cand = bucketPairs(banded,
      keyCols = Seq("band", "band_key"), memberCols = Seq("doc_id", "sigl"),
      MaxBandBucket, metric = "calibration_band_guard")
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
        matches.cast("long").as("matches"))
      // lane agreement is symmetric, so every colliding band of a pair
      // carries the same count — max() is just the dedup
      .groupBy(col("doc_a"), col("doc_b")).agg(max(col("matches")).as("matches"))
    val sets = shingles(docs).groupBy(col("doc_id"))
      .agg(collect_set(col("shingle")).as("sh"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("matches"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("inter"),
        size(array_union(col("sh_a"), col("sh_b"))).cast("long").as("uni"))
      .withColumn("est_jaccard", col("matches").cast("double") / NumHashes)
      .withColumn("exact_jaccard", col("inter").cast("double") / col("uni"))
      .withColumn("abs_err", abs(col("est_jaccard") - col("exact_jaccard")))
  }

  val minhashCalibrationQ: GraftQuery = GraftQuery(
    "d17_minhash_calibration",
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
      |         i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS shingle
      |       FROM toks WHERE len(t) >= 3),
      |mh AS (SELECT doc_id, p.i AS i, l.l AS l,
      |         min(substr(md5(CAST(p.i AS VARCHAR) || ':' || shingle),
      |                    l.l * 8 + 1, 8)) AS h
      |       FROM sh CROSS JOIN (SELECT unnest(range(0, 8)) AS i) p
      |            CROSS JOIN (SELECT unnest(range(0, 4)) AS l) l
      |       GROUP BY doc_id, p.i, l.l),
      |bd AS (SELECT doc_id, CAST(i AS INT) AS band,
      |         string_agg(h, '|' ORDER BY l) AS band_key
      |       FROM mh GROUP BY doc_id, i),
      |ok AS (SELECT band, band_key FROM bd GROUP BY band, band_key
      |       HAVING count(*) <= $MaxBandBucket),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |         FROM bd a JOIN ok USING (band, band_key)
      |         JOIN bd b ON a.band = b.band AND a.band_key = b.band_key
      |          AND a.doc_id < b.doc_id),
      |m AS (SELECT cand.doc_a, cand.doc_b,
      |        sum(CASE WHEN a.h = b.h THEN 1 ELSE 0 END) AS matches
      |      FROM cand JOIN mh a ON a.doc_id = cand.doc_a
      |                JOIN mh b ON b.doc_id = cand.doc_b
      |                 AND a.i = b.i AND a.l = b.l
      |      GROUP BY cand.doc_a, cand.doc_b),
      |ss AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
      |         i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      |       FROM toks WHERE len(t) >= 3),
      |p AS (SELECT m.doc_a, m.doc_b, m.matches,
      |        len(list_intersect(a.s, b.s)) AS inter,
      |        len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS uni
      |      FROM m JOIN ss a ON a.doc_id = m.doc_a
      |             JOIN ss b ON b.doc_id = m.doc_b)
      |SELECT doc_a, doc_b, CAST(matches AS BIGINT) AS matches,
      |       CAST(inter AS BIGINT) AS inter, CAST(uni AS BIGINT) AS uni,
      |       CAST(matches AS DOUBLE) / $NumHashes AS est_jaccard,
      |       CAST(inter AS DOUBLE) / uni AS exact_jaccard,
      |       abs(CAST(matches AS DOUBLE) / $NumHashes
      |           - CAST(inter AS DOUBLE) / uni) AS abs_err
      |FROM p""".stripMargin) { (spark, sf) =>
    minhashCalibration(Tables.documents(spark, sf),
      graft.sources.SignatureLake.portableSignatures(spark, sf))
  }

  /** Cross-source near-dup overlap matrix (d18): verified near-dup
    * pair volume per (source, source) cell — the provenance report
    * that tells you WHICH feeds are re-crawling each other (off-
    * diagonal mass) vs templating internally (diagonal mass), i.e.
    * where to point source-level dedup or drop a mirror feed
    * entirely. Composition: d05's verified pairs (banded candidates +
    * exact Jaccard, never all-pairs) joined twice against the
    * doc→source projection — two hash joins on doc id whose probe side
    * is the verified pair set (tiny next to the corpus), then a
    * map-side-combinable count per unordered source pair. */
  def sourceOverlap(docs: DataFrame, threshold: Double = 0.6,
      pairsRel: Option[DataFrame] = None): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    pairsRel.getOrElse(ngramJaccardPairs(docs, threshold))
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  val sourceOverlapQ: GraftQuery = GraftQuery(
    "d18_source_overlap",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id,
      |         list_distinct(list_transform(range(1, len(t) - 1),
      |           i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      |       FROM toks WHERE len(t) >= 3),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |        len(list_intersect(a.s, b.s)) AS inter, len(a.s) AS la, len(b.s) AS lb
      |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
      |v AS (SELECT doc_a, doc_b FROM p
      |      WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.6)
      |SELECT least(da.source, db.source) AS source_a,
      |       greatest(da.source, db.source) AS source_b,
      |       CAST(count(*) AS BIGINT) AS n_pairs
      |FROM v JOIN documents da ON da.doc_id = v.doc_a
      |       JOIN documents db ON db.doc_id = v.doc_b
      |GROUP BY source_a, source_b""".stripMargin) { (spark, sf) =>
    // verified pairs off the lake families (r17): candidates from
    // minhash_prod_bands, verify sets from shingle_sets — this row is
    // a provenance AGGREGATION over d05's pairs, not an audit of the
    // derivation
    sourceOverlap(Tables.documents(spark, sf),
      pairsRel = Some(ngramJaccardPairsFromLake(spark, sf, 0.6)))
  }

  // ── KMV distinct / set-overlap sketches (d24, d25) ─────────────────

  /** KMV sketch size. Chosen so the gate exercises BOTH estimator
    * regimes: per-source shingle sets are ~1.1–1.5k members at
    * sf0.001/0.01 (under capacity — the sketch IS the set and the
    * estimate is exact) and ~10k at sf0.1 (estimating, measured
    * relative error ≈ 1/√(k−2) ≈ 2%). */
  val KmvK = 2048

  /** 2⁶⁰ as an exact double — the KMV normalization base: the first
    * 15 hex chars of an md5 digest read as a 60-bit integer over
    * 16¹⁵. A power of two, so the constant and the (k−1)·2⁶⁰ product
    * are both exactly representable and the estimator stays ONE IEEE
    * division in both engines. */
  private val Kmv2p60 = 1152921504606846976.0

  /** Distinct (source, 3-shingle) pairs — d05's shingle convention
    * lifted to the source grain: one corpus scan, per-doc
    * `array_distinct`, then one hash aggregation keyed on the pair
    * (map-side combinable).
    * @param setsRel pre-materialized per-doc shingle sets
    *        ([[shingleSets]] — the `shingle_sets` lake read-back);
    *        when present the tokenize + per-doc distinct pass is
    *        replaced by a doc_id-bucketed scan + explode + a doc-keyed
    *        join to the (doc_id, source) projection — the SAME
    *        relation by construction (per-doc distinct sets exploded
    *        and re-distincted at the source grain ≡ the inline
    *        derivation; d24/d25 re-evaluate this subtree 2–4× per
    *        plan, and each re-evaluation becomes a table scan instead
    *        of a corpus re-tokenization). Only valid at n = 3 (the
    *        lake family's width — enforced). */
  private[graft] def sourceShingles(docs: DataFrame, n: Int = 3,
      setsRel: Option[DataFrame] = None): DataFrame =
    setsRel match {
      case Some(sets) =>
        require(n == 3, s"shingle_sets lake family is 3-token shingles, asked n=$n")
        sets.join(docs.select(col("doc_id"), col("source")), "doc_id")
          .select(col("source"), explode(col("sh")).as("shingle"))
          .distinct()
      case None =>
        docs
          .select(col("source"), split(col("text"), " ").as("toks"))
          .filter(size(col("toks")) >= n)
          .select(col("source"), explode(array_distinct(
            transform(sequence(lit(0), size(col("toks")) - n),
              i => concat_ws(" ", slice(col("toks"), i + 1, lit(n)))))).as("shingle"))
          .distinct()
    }

  /** Shared oracle prefix for the KMV rows: the d18 tokenization
    * replayed at the source grain, then the per-source bottom-k of
    * distinct md5 digests — the exact sketch `graft_kmv` builds,
    * recomputed as ORDER BY hh LIMIT k (lexicographic min on
    * fixed-width lowercase hex == numeric min, the portable-tier
    * device). */
  private def kmvSketchSql(k: Int): String =
    s"""toks AS (SELECT source, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT DISTINCT source, concat_ws(' ', t[i], t[i+1], t[i+2]) AS s
      |       FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
      |       WHERE len(t) >= 3),
      |h AS (SELECT DISTINCT source, md5(s) AS hh FROM sh),
      |r AS (SELECT source, hh,
      |        row_number() OVER (PARTITION BY source ORDER BY hh) AS rk
      |      FROM h)""".stripMargin

  /** Per-source distinct-shingle cardinality via the mergeable KMV
    * bottom-k sketch (d24) — the set-cardinality member of the sketch
    * family (next to q22's HLL distinct, q24's quantiles, q54's
    * SpaceSaving counts), and the one whose gate row needs NO contract
    * boolean: the md5 digest family makes the sketch bit-replayable,
    * so the oracle rebuilds the identical sketch and the identical
    * estimate.
    *
    * 100 TB shape: the production path is ONE aggregation with O(k)
    * state per group and map-side partials — no distinct shuffle at
    * all (KMV dedupes by construction), which is the whole point next
    * to the exact side's (source, shingle) distinct whose shuffle
    * carries every unique shingle instance. The gate row carries both
    * sides because it is an audit: `n_exact` is the truth the
    * estimator is scored against, and `rel_err` is emitted, not
    * asserted (KMV's error is probabilistic — the planted-fixture
    * KmvSketchSpec pins accuracy; under capacity exactness is a
    * theorem and IS asserted via `under_cap_exact`). */
  def kmvVocab(docs: DataFrame, k: Int = KmvK,
      setsRel: Option[DataFrame] = None): DataFrame = {
    val perSource = sourceShingles(docs, setsRel = setsRel)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_exact"),
        call_function("graft_kmv", md5(col("shingle")), lit(k)).as("sk"))
    // 0-based get: null while the sketch is under capacity (ANSI-safe)
    val kth = get(col("sk"), lit(k - 1))
    perSource
      .withColumn("n_sketch", size(col("sk")).cast("long"))
      .withColumn("kth_hash", kth)
      .withColumn("kth_h60", conv(substring(kth, 1, 15), 16, 10).cast("long"))
      .withColumn("est_distinct",
        when(col("n_sketch") < k, col("n_sketch").cast("double"))
          .otherwise(lit((k - 1).toDouble) * Kmv2p60 / col("kth_h60").cast("double")))
      .select(col("source"), lit(k.toLong).as("k"), col("n_exact"),
        col("n_sketch"), col("kth_hash"), col("kth_h60"), col("est_distinct"),
        abs(col("est_distinct") / col("n_exact").cast("double") - 1.0d).as("rel_err"),
        (col("n_exact") >= k || col("n_sketch") === col("n_exact"))
          .as("under_cap_exact"))
  }

  val kmvVocabQ: GraftQuery = GraftQuery(
    "d24_kmv_vocab",
    s"""WITH ${kmvSketchSql(KmvK)},
      |ex AS (SELECT source, count(*) AS n_exact FROM sh GROUP BY 1),
      |nd AS (SELECT source, count(*) AS ndh FROM h GROUP BY 1),
      |ag AS (SELECT source, max(CASE WHEN rk = $KmvK THEN hh END) AS kth
      |       FROM r GROUP BY 1),
      |b AS (SELECT nd.source, least(nd.ndh, $KmvK) AS n_sketch, ag.kth,
      |        CASE WHEN ag.kth IS NULL THEN NULL ELSE
      |          CAST(list_sum(list_transform(range(15),
      |            i -> (strpos('0123456789abcdef', substr(ag.kth, CAST(i + 1 AS INT), 1)) - 1)
      |                 * CAST(power(16, 14 - i) AS BIGINT))) AS BIGINT) END AS h60
      |      FROM nd JOIN ag ON ag.source = nd.source),
      |o AS (SELECT b.source, ex.n_exact, b.n_sketch, b.kth, b.h60,
      |        CASE WHEN b.n_sketch < $KmvK THEN CAST(b.n_sketch AS DOUBLE)
      |             ELSE CAST(${KmvK - 1} AS DOUBLE) * 1152921504606846976.0
      |                  / b.h60 END AS est
      |      FROM b JOIN ex ON ex.source = b.source)
      |SELECT source,
      |       CAST($KmvK AS BIGINT) AS k,
      |       CAST(n_exact AS BIGINT) AS n_exact,
      |       CAST(n_sketch AS BIGINT) AS n_sketch,
      |       kth AS kth_hash,
      |       h60 AS kth_h60,
      |       est AS est_distinct,
      |       abs(est / CAST(n_exact AS DOUBLE) - 1.0) AS rel_err,
      |       (n_exact >= $KmvK OR n_sketch = n_exact) AS under_cap_exact
      |FROM o""".stripMargin) { (spark, sf) =>
    // the (source, shingle) universe is served off the shingle_sets
    // lake family (r17, the d32 lake-serve pattern): the sketch's
    // input was previously re-tokenized from text per execution —
    // this row was the single most expensive row in the calm r16
    // window (22.7 s at 8 cores)
    kmvVocab(Tables.documents(spark, sf),
      setsRel = Some(graft.sources.SignatureLake.shingleSets(spark, sf)))
  }

  /** Cross-source content-overlap matrix from KMV sketches (d25) —
    * d18's provenance question ("which feeds re-crawl each other")
    * answered at sketch cost: the bottom-k of a UNION is computable
    * from the two bottom-k's alone, and every member of that union
    * sketch that lies in both sets is, by the KMV threshold argument,
    * in both per-source sketches — so `|bottom-k(A∪B) ∩ A ∩ B| / k'`
    * estimates J(A,B) from 2·k digests per pair, independent of corpus
    * size (Beyer et al., SIGMOD'07). The exact Jaccard rides along as
    * the audit truth (one equi-join on the shingle), and `abs_err` is
    * emitted, not asserted — d17's report shape.
    *
    * 100 TB shape: per-source sketches are one O(k)-state aggregation;
    * the pair stage touches S·(S−1)/2 · 2k digest rows (S = #sources)
    * — corpus-independent — and the bounded source-pair relation is
    * broadcast. The exact side is the one corpus-scale join, present
    * here because the row is an audit; the production estimate-only
    * path drops it. */
  def kmvOverlap(docs: DataFrame, k: Int = KmvK,
      setsRel: Option[DataFrame] = None): DataFrame = {
    val shingleSets = sourceShingles(docs, setsRel = setsRel)
    val sk = shingleSets
      .groupBy(col("source"))
      .agg(call_function("graft_kmv", md5(col("shingle")), lit(k)).as("sk"))
    val e = sk.select(col("source"), explode(col("sk")).as("h"))
    val srcs = sk.select(col("source"))
    // bounded |S|² pair relation — broadcast by construction; the
    // INNER broadcast hint matters too (r17): behind the lake-served
    // shingle join the planner loses the tiny-side size estimate and
    // planned this non-equi self-join as a CartesianProduct — the
    // explicit hint pins BroadcastNestedLoopJoin (guide §3.1: use the
    // hint when you know a side is small and estimates are wrong)
    val pairs = broadcast(srcs.select(col("source").as("source_a"))
      .join(broadcast(srcs.select(col("source").as("source_b"))),
        col("source_a") < col("source_b")))
    val memb = e.join(pairs, col("source") === col("source_a"))
      .select(col("source_a"), col("source_b"), col("h"),
        lit(1).as("ina"), lit(0).as("inb"))
      .unionAll(e.join(pairs, col("source") === col("source_b"))
        .select(col("source_a"), col("source_b"), col("h"),
          lit(0).as("ina"), lit(1).as("inb")))
      .groupBy(col("source_a"), col("source_b"), col("h"))
      .agg(max(col("ina")).as("ina"), max(col("inb")).as("inb"))
    val est = memb
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source_a"), col("source_b")).orderBy(col("h"))))
      .filter(col("rk") <= k)
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_union_k"),
        sum(when(col("ina") === 1 && col("inb") === 1, 1L).otherwise(0L))
          .as("n_both"))
    val cnt = shingleSets.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = shingleSets.select(col("source").as("source_a"), col("shingle"))
      .join(shingleSets.select(col("source").as("source_b"), col("shingle")),
        "shingle")
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("inter"))
    val uni = col("na") + col("nb") - col("inter")
    est
      .join(inter, Seq("source_a", "source_b"), "left")
      .join(cnt.select(col("source").as("source_a"), col("n").as("na")), "source_a")
      .join(cnt.select(col("source").as("source_b"), col("n").as("nb")), "source_b")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .select(col("source_a"), col("source_b"), lit(k.toLong).as("k"),
        col("n_union_k"), col("n_both"), col("inter"), uni.as("uni"),
        (col("n_both").cast("double") / col("n_union_k")).as("jac_kmv"),
        (col("inter").cast("double") / uni).as("jac_exact"))
      .withColumn("abs_err", abs(col("jac_kmv") - col("jac_exact")))
  }

  val kmvOverlapQ: GraftQuery = GraftQuery(
    "d25_kmv_overlap",
    s"""WITH ${kmvSketchSql(KmvK)},
      |sk AS (SELECT source, hh FROM r WHERE rk <= $KmvK),
      |srcs AS (SELECT DISTINCT source FROM sh),
      |pr AS (SELECT a.source AS sa, b.source AS sb
      |       FROM srcs a JOIN srcs b ON a.source < b.source),
      |m AS (SELECT pr.sa, pr.sb, s.hh,
      |        max(CASE WHEN s.source = pr.sa THEN 1 ELSE 0 END) AS ina,
      |        max(CASE WHEN s.source = pr.sb THEN 1 ELSE 0 END) AS inb
      |      FROM pr JOIN sk s ON s.source = pr.sa OR s.source = pr.sb
      |      GROUP BY 1, 2, 3),
      |ru AS (SELECT sa, sb, ina, inb,
      |         row_number() OVER (PARTITION BY sa, sb ORDER BY hh) AS rk
      |       FROM m),
      |km AS (SELECT sa, sb, count(*) AS n_union_k,
      |         sum(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END) AS n_both
      |       FROM ru WHERE rk <= $KmvK GROUP BY 1, 2),
      |c AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
      |iv AS (SELECT a.source AS sa, b.source AS sb, count(*) AS inter
      |       FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
      |       GROUP BY 1, 2),
      |o AS (SELECT km.sa, km.sb, km.n_union_k, km.n_both,
      |        coalesce(iv.inter, 0) AS inter,
      |        ca.n + cb.n - coalesce(iv.inter, 0) AS uni
      |      FROM km LEFT JOIN iv ON iv.sa = km.sa AND iv.sb = km.sb
      |        JOIN c ca ON ca.source = km.sa
      |        JOIN c cb ON cb.source = km.sb)
      |SELECT sa AS source_a, sb AS source_b,
      |       CAST($KmvK AS BIGINT) AS k,
      |       CAST(n_union_k AS BIGINT) AS n_union_k,
      |       CAST(n_both AS BIGINT) AS n_both,
      |       CAST(inter AS BIGINT) AS inter,
      |       CAST(uni AS BIGINT) AS uni,
      |       CAST(n_both AS DOUBLE) / n_union_k AS jac_kmv,
      |       CAST(inter AS DOUBLE) / uni AS jac_exact,
      |       abs(CAST(n_both AS DOUBLE) / n_union_k
      |           - CAST(inter AS DOUBLE) / uni) AS abs_err
      |FROM o""".stripMargin) { (spark, sf) =>
    // shingle universe off the shingle_sets lake family (r17): this
    // plan re-evaluates the (source, shingle) subtree FOUR times
    // (sketch, counts, both exact-intersection sides) — each was a
    // full corpus re-tokenization, now a bucketed table scan
    kmvOverlap(Tables.documents(spark, sf),
      setsRel = Some(graft.sources.SignatureLake.shingleSets(spark, sf)))
  }

  /** @param setsRel pre-materialized per-doc shingle sets (the
    *        `shingle_sets` lake read-back — identical relation to the
    *        inline derivation, d23-gated); derived inline when absent
    *        (the self-contained audit rows d05/d14 keep the honest
    *        derivation). */
  private[operators] def jaccardVerify(docs: DataFrame, pairs: DataFrame,
      threshold: Double, setsRel: Option[DataFrame] = None): DataFrame = {
    val sets = setsRel.getOrElse(shingles(docs).groupBy(col("doc_id"))
      .agg(collect_set(col("shingle")).as("sh")))
    // raw quotient (r7 audit): a ratio of exact integers is the same
    // IEEE division in both engines; a terminal round(,3) was the one
    // op whose shortest-string tie convention could diverge — and
    // with it gone, the filter and the emitted value are ONE column
    val jac = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
      size(array_union(col("sh_a"), col("sh_b")))
    pairs.select(col("doc_a"), col("doc_b"))
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("jaccard", jac)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** The Jaccard thresholds d19 sweeps — floored at d05's 0.6 contract
    * (below the floor the banding's recall leaves oracle-equality
    * territory; the floor itself carries d05's per-scale license). */
  val ThresholdCurve: Seq[Double] = Seq(0.6, 0.7, 0.8, 0.9, 0.95)

  /** d19 — dedup threshold sensitivity: how many verified near-dup
    * pairs (and how many affected documents) survive each candidate
    * Jaccard threshold — the one-page answer to "what does moving the
    * dup bar cost", read before re-running a corpus-wide dedup under a
    * new threshold. A curve that is flat across the sweep (as on the
    * harness corpus, whose near-dups are all J ≥ 0.85) says the
    * threshold choice is free; a steep segment locates the boilerplate
    * cliff.
    *
    * Counts are exact longs; thresholds are the SAME literal sequence
    * in both texts (cast to DOUBLE in SQL so the emitted column kinds
    * match), and the compare runs against d05's raw exact-integer
    * Jaccard quotient — nothing rounds.
    *
    * Scale shape: one d05 kernel pass (bucketed, capped — never all
    * pairs), then a |thresholds|× broadcast expansion of the verified
    * PAIR table (pairs ≪ corpus) and two map-side-combinable
    * aggregations on it. The oracle recomputes all-pairs truth, which
    * agrees under d05's per-scale license. */
  def thresholdCurve(docs: DataFrame,
      pairsRel: Option[DataFrame] = None): DataFrame = {
    val spark = docs.sparkSession
    val thDf = broadcast(spark.range(1)
      .select(explode(typedLit(ThresholdCurve)).as("threshold")))
    // ONE consumer of the d05 kernel (separate pair/doc aggregations
    // would re-run the whole candidate+verify pipeline per branch —
    // plan-audited): explode both endpoints first, then each pair
    // contributes exactly two rows, so n_pairs = count/2 and n_docs =
    // countDistinct come from the same aggregation
    val agg = pairsRel.getOrElse(ngramJaccardPairs(docs, ThresholdCurve.min))
      .crossJoin(thDf)
      .filter(col("jaccard") >= col("threshold"))
      .select(col("threshold"),
        explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .groupBy(col("threshold"))
      .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
        countDistinct(col("d")).as("n_docs"))
    thDf
      .join(agg, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
  }

  val thresholdCurveQ: GraftQuery = GraftQuery(
    "d19_threshold_curve",
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id,
      |         list_distinct(list_transform(range(1, len(t) - 1),
      |           i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      |       FROM toks WHERE len(t) >= 3),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |        CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
      |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
      |pf AS (SELECT * FROM p WHERE jaccard >= ${ThresholdCurve.min}),
      |th AS (SELECT unnest(CAST([${ThresholdCurve.mkString(", ")}] AS DOUBLE[])) AS threshold),
      |tag AS (SELECT th.threshold, pf.doc_a, pf.doc_b
      |        FROM th JOIN pf ON pf.jaccard >= th.threshold),
      |agg AS (SELECT threshold, count(*) AS n_pairs FROM tag GROUP BY 1),
      |da AS (SELECT threshold, count(DISTINCT d) AS n_docs
      |       FROM (SELECT threshold, unnest([doc_a, doc_b]) AS d FROM tag)
      |       GROUP BY 1)
      |SELECT th.threshold,
      |       CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
      |       CAST(coalesce(n_docs, 0) AS BIGINT) AS n_docs
      |FROM th LEFT JOIN agg USING (threshold)
      |        LEFT JOIN da USING (threshold)""".stripMargin) { (spark, sf) =>
    // verified pairs off the lake families (r17, the d18 move): the
    // sweep is a consumer of d05's pairs, not a derivation audit
    thresholdCurve(Tables.documents(spark, sf),
      pairsRel = Some(ngramJaccardPairsFromLake(spark, sf, ThresholdCurve.min)))
  }

  /** Delta-slice modulus for d20 (every 10th vec_id is "new", the rest
    * are the lake — d12's slice convention on the embedding table). */
  val IncEmbMod = 10

  /** d06's dup bar, shared by d20's verdict tier. */
  val EmbDupTau = 0.95

  /** d20 — incremental EMBEDDING dedup: the semantic twin of d12's
    * text job, and the one a production ingest actually runs per
    * batch — each NEW vector (the delta slice) against the EXISTING
    * lake only, one verdict per delta vector:
    *
    *   dup (best lake cosine ≥ [[EmbDupTau]]) > candidate (a bucket
    *   collision below the bar — the "review" tier) > new (no lake
    *   candidate shares a bucket).
    *
    * Candidates come from the portable literal-plane kernel
    * ([[SimilarityOps.cosPairs]]) with BOTH endpoints filtered inside
    * the pair expansion — delta on the left, lake on the right — so
    * the job costs 1/mod of the full pair volume and never compares
    * delta×delta or lake×lake (d12's production note applies
    * verbatim: at scale the lake side's bucket rows are the
    * PERSISTED index — [[graft.sources.SignatureLake]] — not a
    * re-derivation). Fully hash-checked: fixed geometry, pinned
    * cosine, rank-1 tie to the smaller lake id. */
  val incrementalEmbeddingQ: GraftQuery = GraftQuery(
    "d20_incremental_embedding",
    s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |ab AS ($portableAnnBucketsSql),
      |sz AS (SELECT tbl, bucket, count(*) AS bn FROM ab GROUP BY tbl, bucket),
      |ok AS (SELECT tbl, bucket FROM sz WHERE bn <= ${SimilarityOps.MaxBucket}),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM ev),
      |cand AS (SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id
      |         FROM ab a JOIN ok USING (tbl, bucket)
      |         JOIN ab b ON a.tbl = b.tbl AND a.bucket = b.bucket
      |         WHERE a.vec_id % $IncEmbMod = 0 AND b.vec_id % $IncEmbMod <> 0),
      |p AS (SELECT c.vec_id, c.neighbor_id,
      |        CASE WHEN na.nrm = 0 OR nb.nrm = 0 THEN 0.0
      |             ELSE list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm) END AS cos_sim
      |      FROM cand c JOIN n na ON na.vec_id = c.vec_id
      |                  JOIN n nb ON nb.vec_id = c.neighbor_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
      |               ORDER BY cos_sim DESC, neighbor_id) AS rn FROM p),
      |b1 AS (SELECT vec_id, neighbor_id AS best_match, cos_sim
      |       FROM r WHERE rn = 1)
      |SELECT d.vec_id, b1.best_match, b1.cos_sim,
      |       CASE WHEN b1.cos_sim >= $EmbDupTau THEN 'dup'
      |            WHEN b1.cos_sim IS NOT NULL THEN 'candidate'
      |            ELSE 'new' END AS verdict
      |FROM (SELECT vec_id FROM ev WHERE vec_id % $IncEmbMod = 0) d
      |LEFT JOIN b1 USING (vec_id)""".stripMargin) { (spark, sf) =>
    // candidates come off the incrementally-MAINTAINED on-disk posting
    // index (base build + delta append — the d12 lake pattern on the
    // embedding side; d26 proves append ≡ rebuild, so the oracle's
    // from-scratch replay still matches). The self-contained
    // derivation stays available below for spec fixtures.
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val postings = graft.sources.SignatureLake.incrementalAnnPostings(
      spark, sf,
      base = emb.filter(col("vec_id") % IncEmbMod =!= 0),
      delta = emb.filter(col("vec_id") % IncEmbMod === 0))
    incrementalEmbedding(emb, postings = Some(postings))
  }

  /** The d20 verdict relation over any embedding frame. Pass
    * `postings` (a (vec_id, tbl, bucket, v, nrm) posting relation —
    * [[graft.sources.SignatureLake.incrementalAnnPostings]]'s
    * read-back) to source candidates from the persisted index instead
    * of re-hashing `emb`; the verdicts are identical (the literal
    * planes are deterministic per row, so base∪delta postings ≡
    * full-corpus postings — d26 gates exactly that). */
  def incrementalEmbedding(emb: DataFrame, mod: Int = IncEmbMod,
      tau: Double = EmbDupTau, postings: Option[DataFrame] = None): DataFrame = {
    val srcFilter = col("a.vec_id") % mod === 0 && col("b.vec_id") % mod =!= 0
    val best = postings.fold(
        SimilarityOps.cosPairs(emb, PortableAnnTables, PortableAnnPlanes,
          metric = "inc_emb_guard", srcFilter = srcFilter))(p =>
        SimilarityOps.cosPairsFromPostings(p,
          metric = "inc_emb_guard", srcFilter = srcFilter))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("cos_sim").desc, col("neighbor_id"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("neighbor_id").as("best_match"), col("cos_sim"))
    emb.select(col("vec_id")).filter(col("vec_id") % mod === 0)
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("best_match"), col("cos_sim"),
        when(col("cos_sim") >= tau, "dup")
          .when(col("cos_sim").isNotNull, "candidate")
          .otherwise("new").as("verdict"))
  }

  /** Embedding-agreement bar for d21: a lexical near-dup pair whose
    * embedding cosine sits below this disagrees across modalities. */
  val EmbAgreeTau = 0.5

  /** d21 — text↔embedding consistency audit: every VERIFIED lexical
    * near-dup pair (d14's portable pipeline, Jaccard ≥ 0.6) scored by
    * its embedding cosine — the cross-modal sanity check a pipeline
    * runs on its encoder: documents that are near-copies in token
    * space should embed near each other, and a pair where the two
    * modalities DISAGREE (high Jaccard, low cosine) is a broken
    * encoder, a stale embedding, or an id misalignment between the
    * text and vector stores. Emits the pair with both similarities
    * and the agreement verdict at [[EmbAgreeTau]].
    *
    * Scale shape: the verified-pair table is tiny (≪ corpus — it
    * already passed banding AND the exact verify); recovering the two
    * endpoint vectors is two id-equi-joins against the embeddings
    * table, co-partitioned after the first shuffle — never a pair
    * expansion of the embedding side. Cosine carries the standard
    * zero-norm pin; doc_id ↔ vec_id is the harness's shared id domain
    * (the same join a production lake does between its text and
    * vector tables). */
  val textEmbeddingConsistencyQ: GraftQuery = GraftQuery(
    "d21_text_embedding_consistency",
    s"""WITH $portableNearDupCtes,
      |vp AS (SELECT doc_a, doc_b,
      |         CAST(inter AS DOUBLE) / (la + lb - inter) AS jaccard
      |       FROM p
      |       WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.6),
      |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM ev),
      |c AS (SELECT vp.doc_a, vp.doc_b, vp.jaccard,
      |        CASE WHEN na.nrm = 0 OR nb.nrm = 0 THEN 0.0
      |             ELSE list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm) END AS cos_sim
      |      FROM vp JOIN n na ON na.vec_id = vp.doc_a
      |              JOIN n nb ON nb.vec_id = vp.doc_b)
      |SELECT doc_a, doc_b, jaccard, cos_sim,
      |       cos_sim >= $EmbAgreeTau AS embedding_agrees
      |FROM c""".stripMargin) { (spark, sf) =>
    // verified pairs come off the SignatureLake's materialized band
    // keys (the d12/d17 lake-index pattern; d23 proves lake ≡ fresh
    // derivation, so the oracle's from-scratch replay still matches —
    // d14 keeps the honest end-to-end derivation cost measured)
    val pairs = lakeVerifiedPairs(spark, sf, 0.6, "d21_truth_band_guard")
    val n = Tables.embeddings(spark, sf)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    pairs
      .join(n.select(col("vec_id").as("doc_a"), col("v").as("va"),
        col("nrm").as("na")), "doc_a")
      .join(n.select(col("vec_id").as("doc_b"), col("v").as("vb"),
        col("nrm").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        when(col("na") === 0 || col("nb") === 0, lit(0.0))
          .otherwise(dot(col("va"), col("vb")) / (col("na") * col("nb")))
          .as("cos_sim"))
      .withColumn("embedding_agrees", col("cos_sim") >= EmbAgreeTau)
  }

  /** Containment verify threshold (d22): inter/min(|A|,|B|) ≥ 0.9 —
    * the asymmetric overlap that catches excerpt/quote duplication
    * (doc B ⊂ doc A), which symmetric Jaccard structurally misses:
    * a 10-shingle excerpt inside a 100-shingle article has
    * containment 1.0 but Jaccard 0.1, far below any near-dup bar. */
  val ContainmentBar = 0.9

  /** d22 — containment (excerpt) dedup: pairs whose smaller shingle
    * set is ≥ [[ContainmentBar]] contained in the larger, labeled
    * `excerpt` when symmetric Jaccard is below d05's 0.6 near-dup bar
    * (a true subset relation, the quote/boilerplate-reuse case) and
    * `near_dup` otherwise. MinHash banding cannot propose these —
    * banding recall tracks JACCARD, which containment decouples from —
    * so candidates come from a SAMPLED-SHINGLE inverted index: a
    * shingle is an index key iff its md5 leads with nibble < 8 (an
    * exact 1/2 universe sample — portable, so the ORACLE REPLAYS the
    * sampling, the capped buckets, and the verify verbatim; no recall
    * license needed), pairs expand within capped buckets
    * ([[bucketPairs]] — one shuffle, drop metric, never a cross
    * product), and the exact set compare runs only on candidates.
    *
    * Miss probability for a true pair is (1/2)^(shared shingles) —
    * IDENTICAL in both engines (deterministic md5 sampling), so even
    * a missed pair cannot diverge the row. 100 TB shape: sampling
    * halves the index; the cap bounds boilerplate keys; the verify
    * joins ride doc_id hash joins. Production systems sample rarer
    * (1/8, 1/16) as density grows — the rate is one literal in both
    * texts. */
  /** The SAMPLED-shingle inverted-index relation (doc_id, shingle) —
    * what d22's candidate generation reads; materialized as the
    * `shingle_index` lake family (a deployment stores this beside
    * the corpus like every other signature family). */
  def sampledShingles(docs: DataFrame): DataFrame =
    shingles(docs).filter(substring(md5(col("shingle")), 1, 1) < "8")

  /** Per-doc shingle SET relation (doc_id, sh: array<string>) — the
    * exact-verify side table; materialized as the `shingle_sets`
    * lake family. */
  def shingleSets(docs: DataFrame): DataFrame =
    shingles(docs).groupBy(col("doc_id"))
      .agg(collect_set(col("shingle")).as("sh"))

  /** @param index pre-materialized [[sampledShingles]] (the lake
    *        read-back); derived inline when absent
    *  @param setsRel pre-materialized [[shingleSets]]; same rule */
  def containmentPairs(docs: DataFrame,
      threshold: Double = ContainmentBar,
      index: Option[DataFrame] = None,
      setsRel: Option[DataFrame] = None): DataFrame = {
    val sampled = index.getOrElse(sampledShingles(docs))
    val cand = bucketPairs(sampled, keyCols = Seq("shingle"),
      memberCols = Seq("doc_id"), MaxBandBucket,
      metric = "containment_shingle_guard")
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val sets = setsRel.getOrElse(shingleSets(docs))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    val containment = inter / least(size(col("sh_a")), size(col("sh_b")))
    val jac = inter / size(array_union(col("sh_a"), col("sh_b")))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("containment", containment)
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("containment"),
        when(jac < 0.6, "excerpt").otherwise("near_dup").as("kind"))
  }

  val containmentQ: GraftQuery = GraftQuery(
    "d22_containment_dedup",
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
      |         i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS shingle
      |       FROM toks WHERE len(t) >= 3),
      |samp AS (SELECT doc_id, shingle FROM sh
      |         WHERE substr(md5(shingle), 1, 1) < '8'),
      |bs AS (SELECT shingle, count(*) AS bn FROM samp GROUP BY shingle),
      |ok AS (SELECT shingle FROM bs WHERE bn <= $MaxBandBucket),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |         FROM samp a JOIN ok USING (shingle)
      |         JOIN samp b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
      |ss AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
      |         i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      |       FROM toks WHERE len(t) >= 3),
      |p AS (SELECT doc_a, doc_b,
      |        CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) AS inter,
      |        len(a.s) AS la, len(b.s) AS lb
      |      FROM cand JOIN ss a ON a.doc_id = cand.doc_a
      |                JOIN ss b ON b.doc_id = cand.doc_b)
      |SELECT doc_a, doc_b,
      |       inter / least(la, lb) AS containment,
      |       CASE WHEN inter / (la + lb - inter) < 0.6
      |            THEN 'excerpt' ELSE 'near_dup' END AS kind
      |FROM p
      |WHERE inter / least(la, lb) >= $ContainmentBar""".stripMargin) {
    (spark, sf) =>
      // serve off the materialized shingle families: the row times
      // candidate expansion + exact verify; the index/sets derivation
      // is a named lake_build (r15 — the r14 audit's attribution nit
      // on the two heaviest rows)
      containmentPairs(Tables.documents(spark, sf),
        index = Some(graft.sources.SignatureLake.shingleIndex(spark, sf)),
        setsRel = Some(graft.sources.SignatureLake.shingleSets(spark, sf)))
  }

  // ------------------------------------------------------------------
  // d23: lake-append conservation (the incremental index is the index)
  // ------------------------------------------------------------------

  /** d23 — lake-append conservation: the incrementally-maintained
    * on-disk band index (corpus build + delta APPEND — exactly d12's
    * ingest path) must equal the full-corpus derivation, row for row.
    * The full side is the SHARED lake family — materialized once per
    * session by the one-shot path, independent of the append path
    * under audit — which is also the shape of the production audit (an
    * incremental index is checked against the index, not against a
    * re-hash of the corpus). The engine full-outer-joins the two
    * bucketed tables on the (doc_id, band) primary key and emits the
    * index size plus an every-row-matches boolean; the oracle replays
    * the full derivation (the shared band CTEs) and expects the same
    * count with `matches_full = TRUE`. An append path that dropped,
    * duplicated, or corrupted rows (SaveMode.Append also validates the
    * bucket spec, so it can never silently de-bucket the index) flips
    * the boolean or the count and the row goes red in the driver
    * gate. */
  val lakeAppendQ: GraftQuery = GraftQuery(
    "d23_lake_append",
    s"""WITH $portableBandCtes
      |SELECT CAST(count(*) AS BIGINT) AS n_bands, TRUE AS matches_full
      |FROM bd""".stripMargin) { (spark, sf) =>
    val docs = Tables.documents(spark, sf)
    val inc = graft.sources.SignatureLake.incrementalBandIndex(spark, sf,
      docs.filter(col("doc_id") % 10 =!= 0), docs.filter(col("doc_id") % 10 === 0))
    val full = graft.sources.SignatureLake.portableBandKeys(spark, sf)
    inc.withColumnRenamed("band_key", "bk_inc")
      .join(full.withColumnRenamed("band_key", "bk_full"),
        Seq("doc_id", "band"), "full_outer")
      .agg(
        coalesce(sum(when(col("bk_inc").isNotNull, 1L).otherwise(0L)), lit(0L))
          .as("n_bands"),
        (coalesce(sum(when(col("bk_inc") <=> col("bk_full"), 0L).otherwise(1L)),
          lit(0L)) === 0L).as("matches_full"))
  }

  /** d26 — ANN-lake-append conservation: d23's invariant on the
    * EMBEDDING side. The incrementally-maintained posting index (base
    * build + delta APPEND with the frozen literal-plane quantizer —
    * exactly d20's ingest path,
    * [[graft.sources.SignatureLake.incrementalAnnPostings]]) must
    * equal the full-corpus assignment, posting for posting. The full
    * side is the SHARED ann_buckets lake family — materialized
    * independently of the append path under audit, the
    * index-checked-against-index shape of a production conservation
    * audit. The engine full-outer-joins the two bucketed tables on the
    * (vec_id, tbl) primary key (one bucket per vector per hash table)
    * and emits the posting count plus an every-bucket-matches boolean;
    * the oracle replays the full literal-plane assignment and expects
    * the same count with `matches_full = TRUE`. An append that
    * dropped, duplicated, or mis-assigned vectors flips the boolean or
    * the count and the row goes red in the driver gate. */
  val annLakeAppendQ: GraftQuery = GraftQuery(
    "d26_ann_lake_append",
    s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |ab AS ($portableAnnBucketsSql)
      |SELECT CAST(count(*) AS BIGINT) AS n_postings, TRUE AS matches_full
      |FROM ab""".stripMargin) { (spark, sf) =>
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val inc = graft.sources.SignatureLake.incrementalAnnPostings(spark, sf,
      base = emb.filter(col("vec_id") % IncEmbMod =!= 0),
      delta = emb.filter(col("vec_id") % IncEmbMod === 0))
    val full = graft.sources.SignatureLake.portableAnnBuckets(spark, sf)
      .select(col("vec_id"), col("table").as("tbl"),
        col("bucket").as("bucket_full"))
    inc.select(col("vec_id"), col("tbl"), col("bucket").as("bucket_inc"))
      .join(full, Seq("vec_id", "tbl"), "full_outer")
      .agg(
        coalesce(sum(when(col("bucket_inc").isNotNull, 1L).otherwise(0L)),
          lit(0L)).as("n_postings"),
        (coalesce(sum(when(col("bucket_inc") <=> col("bucket_full"), 0L)
          .otherwise(1L)), lit(0L)) === 0L).as("matches_full"))
  }

  // ------------------------------------------------------------------
  // d27: exact-substring dedup at ARBITRARY offsets (span granularity)
  // ------------------------------------------------------------------

  /** Minimum repeated-span length for d27. Lee et al. use 50 tokens on
    * web corpora; the harness documents run 10–100 tokens, so 15 keeps
    * the operator exercised at every sf. The span theorem below holds
    * for any L. */
  val MinSpanTokens = 15

  /** Exact-substring dedup at arbitrary offsets — the span-granularity
    * operator d13's fixed 16-token chunks approximate (a shared span
    * straddling a chunk boundary is invisible to d13; this catches it
    * at ANY offset). Semantics are Lee et al.'s ExactSubstr
    * (reference: "Deduplicating Training Data Makes Language Models
    * Better", ACL'22, §4.1): every maximal token span of length ≥ L
    * repeated anywhere in the corpus (across documents or within one)
    * is removed from every occurrence.
    *
    * The relational reduction replacing their suffix array: token
    * position p of doc d is COVERED iff some L-gram starting in
    * (p−L, p] occurs ≥ 2 times corpus-wide. A repeated span of length
    * s ≥ L contributes s−L+1 duplicated L-grams whose cover-union is
    * exactly the span, and no position outside a ≥L repeated span can
    * be covered (its surrounding L-grams are all unique) — so
    * covered-position union ≡ union of maximal repeated spans, with no
    * extension step and no per-node suffix array. Spans are then
    * recovered by a per-doc interval union (running-max window), and
    * the surviving text by an anti-join on covered positions.
    *
    * Scale shape: every relation is linear in corpus tokens (grams:
    * one row per position carrying one md5; the duplicate filter is a
    * map-combined count on the hash — uniform key space, no skew; the
    * anchor join reuses the same key), except `covered`, which is
    * O(duplicated-volume · L) — proportional to the text being
    * REMOVED, the honest cost of span reconstruction. Windows
    * partition by doc_id (bounded by document length). md5 is the
    * portability choice; a production run swaps xxhash64 into the same
    * plan (the d03-vs-d14 trade) and, if gram hashing ever dominates,
    * a rolling Rabin–Karp gram hash — the plan shape is unchanged. */
  /** (doc_id, tk): token arrays of the non-null docs. */
  private def tokenArrays(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))

  /** (doc_id, pos, h): md5 of the L-token window at EVERY offset —
    * the span families' gram relation (one row per position, linear
    * in corpus tokens). */
  private def spanGrams(toks: DataFrame, L: Int): DataFrame =
    toks
      .filter(size(col("tk")) >= L)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), size(col("tk")) - L),
        i => md5(concat_ws(" ", slice(col("tk"), i + 1, lit(L)))))))
      .select(col("doc_id"), col("pos"), col("col").as("h"))

  /** The span-gram relation over a document frame — what the
    * `span_grams` lake family materializes
    * ([[graft.sources.SignatureLake.spanGrams]]); consumers that are
    * not auditing the derivation itself pass the lake read-back into
    * [[exactSubstringDedup]] / [[substringDecontaminate]] instead of
    * re-hashing the corpus per report (the d32 lake-serve pattern). */
  def spanGramRelation(docs: DataFrame, minSpan: Int = MinSpanTokens): DataFrame =
    spanGrams(tokenArrays(docs), minSpan)

  /** Shared span-coverage tail of d27/d30: given anchor rows
    * (doc_id, pos) marking flagged-L-gram start positions, recover
    * merged span structure (per-doc interval union via a running-max
    * window), the covered-position set, and the surviving text, and
    * emit one report row per doc in `docs`. One definition so the two
    * consumers cannot drift on span semantics. */
  private def spanCoverage(docs: DataFrame, toks: DataFrame,
      anchors: DataFrame, L: Int): DataFrame = {
    // per-doc interval union of [pos, pos+L): a new span starts where
    // pos exceeds the running max end of every earlier anchor
    val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = anchors
      .withColumn("prev_end", max(col("pos") + L).over(wPrev))
      .withColumn("brk",
        when(col("prev_end").isNull || col("pos") > col("prev_end"), 1L)
          .otherwise(0L))
      .withColumn("span_id", sum(col("brk")).over(wRun))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + L).as("e"))
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("e") - col("s")).as("n_covered"))
    // covered positions unfold from the MERGED spans, not the anchors:
    // spans are disjoint by construction, so the explode emits each
    // position exactly once (no distinct shuffle over the O(dup·L)
    // anchor-cover multiset) and its input is the tiny span relation
    val covered = spans
      .select(col("doc_id"),
        explode(sequence(col("s"), col("e") - 1)).as("cpos"))
    val tokRows = toks.select(col("doc_id"), posexplode(col("tk")).as(Seq("pos", "tok")))
    val kept = tokRows.join(covered,
        tokRows("doc_id") === covered("doc_id") && tokRows("pos") === covered("cpos"),
        "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("tok")))),
        x => x("tok")), " ").as("dedup_text"))
    docs.select(col("doc_id"), col("text"))
      .join(perDoc, Seq("doc_id"), "left")
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("text").isNull, lit(0L))
          .otherwise(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).cast("long").as("n_dup_spans"),
        coalesce(col("n_covered"), lit(0L)).cast("long").as("n_covered"),
        when(col("text").isNull, lit(null).cast("string"))
          .otherwise(coalesce(col("dedup_text"), lit(""))).as("dedup_text"))
  }

  /** @param gramRel pre-materialized [[spanGramRelation]] of `docs`
    *        (the `span_grams` lake read-back, doc_id-sliced to match
    *        `docs` — gram rows are row-local, so a doc slice of the
    *        full table IS the slice's gram relation); derived inline
    *        when absent. Reading the h-bucketed lake table makes the
    *        duplicate-gram aggregation and the anchor join
    *        exchange-free on the gram side. */
  def exactSubstringDedup(docs: DataFrame, minSpan: Int = MinSpanTokens,
      gramRel: Option[DataFrame] = None): DataFrame = {
    val L = minSpan
    val toks = tokenArrays(docs)
    val grams = gramRel.getOrElse(spanGrams(toks, L))
    val dup = grams.groupBy(col("h")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2).select("h")
    val anchors = grams.join(dup, "h").select(col("doc_id"), col("pos"))
    spanCoverage(docs, toks, anchors, L)
  }

  /** d30's relation: span-level DECONTAMINATION — d27's coverage
    * kernel with the anchor rule "this L-gram occurs in the eval set"
    * instead of "occurs ≥2 times anywhere". A train position is
    * contaminated iff some L-gram starting in (p−L, p] appears in any
    * benchmark doc; contaminated spans are removed from the TRAIN side
    * only (the eval set is read-only truth). The benchmark gram-hash
    * set is deduplicated and broadcast (d08's small-side convention —
    * a benchmark suite is MBs against a 100 TB corpus), so the train
    * side never shuffles on the gram key. */
  /** @param trainGrams / @param benchGrams pre-materialized
    *        [[spanGramRelation]]s of the two sides (the `span_grams`
    *        lake read-back, doc_id-sliced — see [[exactSubstringDedup]]);
    *        derived inline when absent. */
  def substringDecontaminate(train: DataFrame, benchmark: DataFrame,
      minSpan: Int = MinSpanTokens,
      trainGrams: Option[DataFrame] = None,
      benchGrams: Option[DataFrame] = None): DataFrame = {
    val L = minSpan
    val toks = tokenArrays(train)
    val evalHashes = benchGrams.getOrElse(spanGrams(tokenArrays(benchmark), L))
      .select(col("h")).distinct()
    val anchors = trainGrams.getOrElse(spanGrams(toks, L))
      .join(broadcast(evalHashes), "h")
      .select(col("doc_id"), col("pos"))
    spanCoverage(train, toks, anchors, L)
      .select(col("doc_id"), col("n_tokens"),
        col("n_dup_spans").as("n_contam_spans"),
        col("n_covered").as("n_contam_tokens"),
        col("dedup_text").as("clean_text"))
  }

  /** The span families' gram CTEs over a named toks relation —
    * `$gName(doc_id, pos, h)`. Shared by the d27 and d30 oracles so
    * the two texts cannot state a different gram. */
  private def spanGramCtesSql(L: Int, toksName: String, gName: String): String =
    s"""${gName}0 AS (SELECT doc_id, unnest(list_transform(range(0, len(t) - ${L - 1}),
      |         i -> struct_pack(pos := i,
      |                h := md5(array_to_string(list_slice(t, i + 1, i + $L), ' '))))) AS u
      |       FROM $toksName WHERE len(t) >= $L),
      |$gName AS (SELECT doc_id, CAST(u.pos AS INT) AS pos, u.h AS h FROM ${gName}0)""".stripMargin

  /** The shared span-coverage oracle CTE block (suffixed so two
    * instances can chain in one text — p04): given `$a(doc_id, pos)`
    * anchors and `$toks(doc_id, t)` token arrays, derives
    * `pd$sfx(doc_id, n_dup_spans, n_covered)` and
    * `kept$sfx(doc_id, dedup_text)`. Mirrors [[spanCoverage]],
    * covered positions unfolded from the merged (disjoint) spans. One
    * definition so the d27/d30/p04 oracles cannot drift on span
    * semantics. */
  private def spanCoverageCtesSql(L: Int, a: String, toks: String,
      sfx: String): String =
    s"""m$sfx AS (SELECT doc_id, pos,
      |        max(pos + $L) OVER (PARTITION BY doc_id ORDER BY pos
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      |      FROM $a),
      |b$sfx AS (SELECT doc_id, pos,
      |        CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END AS brk
      |      FROM m$sfx),
      |w$sfx AS (SELECT doc_id, pos,
      |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id FROM b$sfx),
      |sp$sfx AS (SELECT doc_id, span_id, min(pos) AS s, max(pos) + $L AS e
      |       FROM w$sfx GROUP BY 1, 2),
      |pd$sfx AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans,
      |         CAST(sum(e - s) AS BIGINT) AS n_covered FROM sp$sfx GROUP BY 1),
      |cov$sfx AS (SELECT doc_id, unnest(range(s, e)) AS cpos FROM sp$sfx),
      |tok$sfx AS (SELECT doc_id, CAST(u.pos AS INT) AS pos, u.tok AS tok FROM
      |  (SELECT doc_id, unnest(list_transform(range(0, len(t)),
      |     i -> struct_pack(pos := i, tok := t[i + 1]))) AS u FROM $toks) z),
      |kept$sfx AS (SELECT tk.doc_id,
      |           string_agg(tk.tok, ' ' ORDER BY tk.pos) AS dedup_text
      |         FROM tok$sfx tk LEFT JOIN cov$sfx cv
      |           ON cv.doc_id = tk.doc_id AND cv.cpos = tk.pos
      |         WHERE cv.cpos IS NULL GROUP BY tk.doc_id)""".stripMargin

  /** One-stage final SELECT over [[spanCoverageCtesSql]] (sfx "") —
    * the d27/d30 report shape. */
  private def spanCoverageOracleSql(L: Int, docPred: String,
      spansName: String, coveredName: String, textName: String): String =
    s"""${spanCoverageCtesSql(L, "a", "toks", "")}
      |SELECT d.doc_id,
      |       CASE WHEN d.text IS NULL THEN CAST(0 AS BIGINT)
      |            ELSE CAST(len(string_split(d.text, ' ')) AS BIGINT) END AS n_tokens,
      |       CAST(coalesce(pd.n_dup_spans, 0) AS BIGINT) AS $spansName,
      |       CAST(coalesce(pd.n_covered, 0) AS BIGINT) AS $coveredName,
      |       CASE WHEN d.text IS NULL THEN NULL
      |            ELSE coalesce(k.dedup_text, '') END AS $textName
      |FROM documents d LEFT JOIN pd USING (doc_id)
      |                 LEFT JOIN kept k ON k.doc_id = d.doc_id
      |WHERE $docPred""".stripMargin

  val exactSubstringQ: GraftQuery = GraftQuery(
    "d27_exact_substring", {
      val L = MinSpanTokens
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |              WHERE text IS NOT NULL),
        |${spanGramCtesSql(L, "toks", "g")},
        |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
        |a AS (SELECT doc_id, pos FROM g JOIN dup USING (h)),
        |${spanCoverageOracleSql(L, "TRUE", "n_dup_spans", "n_covered", "dedup_text")}""".stripMargin
    }) { (spark, sf) =>
    // gram index served off the h-bucketed span_grams lake family
    // (r17): the duplicate-gram aggregation and anchor join read the
    // materialized index; the only remaining source pass is the span
    // reconstruction (text, not grams — inherent)
    exactSubstringDedup(Tables.documents(spark, sf),
      gramRel = Some(graft.sources.SignatureLake.spanGrams(spark, sf)))
  }

  /** d30 — span-level decontamination (the d08/d09/d16 ladder at SPAN
    * granularity): d08 flags a train doc that shares any 5-gram with
    * the eval set; d30 locates and REMOVES the contaminated spans
    * themselves, keeping the rest of the document — the operator a
    * pipeline runs when whole-doc drops would cost too much good text.
    * Anchor rule: a train position is contaminated iff some
    * [[MinSpanTokens]]-gram starting within (p−L, p] occurs in ANY
    * benchmark doc (d08's every-50th-doc eval slice). Same coverage
    * kernel and oracle tail as d27, so the two rows cannot drift on
    * span semantics; the benchmark gram-hash set broadcasts (a
    * benchmark suite is MBs against a 100 TB train corpus), so the
    * train side never shuffles on the gram key. */
  val substringDecontaminateQ: GraftQuery = GraftQuery(
    "d30_substring_decontaminate", {
      val L = MinSpanTokens
      s"""WITH toksall AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |                 WHERE text IS NOT NULL),
        |${spanGramCtesSql(L, "toksall", "ga")},
        |ev AS (SELECT DISTINCT h FROM ga WHERE doc_id % 50 = 0),
        |a AS (SELECT doc_id, pos FROM ga JOIN ev USING (h)
        |      WHERE doc_id % 50 <> 0),
        |toks AS (SELECT doc_id, t FROM toksall WHERE doc_id % 50 <> 0),
        |${spanCoverageOracleSql(L, "d.doc_id % 50 <> 0",
            "n_contam_spans", "n_contam_tokens", "clean_text")}""".stripMargin
    }) { (spark, sf) =>
    val docs = Tables.documents(spark, sf)
    // both gram sides come off the span_grams lake family (r17):
    // gram rows are per-doc row-local, so the doc_id slices of the
    // full table ARE the slices' gram relations
    val grams = graft.sources.SignatureLake.spanGrams(spark, sf)
    substringDecontaminate(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0),
      trainGrams = Some(grams.filter(col("doc_id") % 50 =!= 0)),
      benchGrams = Some(grams.filter(col("doc_id") % 50 === 0)))
  }

  /** p04 — the span-REWRITING curation funnel: where p03's stages
    * FILTER documents, this one composes the stages that rewrite
    * text — exact-substring dedup (d27) WITHIN the train slice, then
    * span decontamination (d30) of the CLEANED train text against the
    * ORIGINAL eval docs. The stage order and scoping are the
    * production semantics: stage 1 must not see the eval set (a
    * corpus-global dedup would silently launder eval-shared spans out
    * as "duplicates", leaving decontamination vacuously green and the
    * audit trail wrong about WHY each token left), and the eval set
    * is read-only truth — its grams come from the original text. Per
    * train doc: raw token count, tokens after span dedup, tokens
    * after decontamination (both by EXACT arithmetic from the stage
    * reports — re-splitting a fully-deduped empty string would count
    * a phantom token), and the final text. Stage 1's output is
    * eagerly localCheckpointed (p03's materialization-barrier lesson:
    * stage 2 consumes stage 1's OUTPUT TEXT, so without the barrier
    * the d27 kernel chain re-evaluates inside stage 2 and again in
    * the final join — and a production funnel writes this stage
    * boundary to the lake anyway). The oracle chains two instances of
    * the shared coverage CTE block, so a drift in span semantics
    * breaks d27, d30, and p04 together. */
  val spanFunnelQ: GraftQuery = GraftQuery(
    "p04_span_funnel", {
      val L = MinSpanTokens
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |              WHERE text IS NOT NULL AND doc_id % 50 <> 0),
        |${spanGramCtesSql(L, "toks", "g")},
        |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
        |a1 AS (SELECT doc_id, pos FROM g JOIN dup USING (h)),
        |${spanCoverageCtesSql(L, "a1", "toks", "1")},
        |r1 AS (SELECT d.doc_id,
        |         CASE WHEN d.text IS NULL THEN CAST(0 AS BIGINT)
        |              ELSE CAST(len(string_split(d.text, ' ')) AS BIGINT) END AS n_tokens,
        |         CAST(coalesce(pd1.n_covered, 0) AS BIGINT) AS cov1,
        |         CASE WHEN d.text IS NULL THEN NULL
        |              ELSE coalesce(k1.dedup_text, '') END AS cleaned
        |       FROM documents d LEFT JOIN pd1 USING (doc_id)
        |                        LEFT JOIN kept1 k1 ON k1.doc_id = d.doc_id
        |       WHERE d.doc_id % 50 <> 0),
        |toks2 AS (SELECT doc_id, string_split(cleaned, ' ') AS t FROM r1
        |          WHERE cleaned IS NOT NULL),
        |${spanGramCtesSql(L, "toks2", "g2")},
        |toksE AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |          WHERE text IS NOT NULL AND doc_id % 50 = 0),
        |${spanGramCtesSql(L, "toksE", "ge")},
        |evg AS (SELECT DISTINCT h FROM ge),
        |a2 AS (SELECT doc_id, pos FROM g2 JOIN evg USING (h)),
        |${spanCoverageCtesSql(L, "a2", "toks2", "2")}
        |SELECT r1.doc_id, r1.n_tokens,
        |       r1.n_tokens - r1.cov1 AS n_after_dedup,
        |       r1.n_tokens - r1.cov1 - CAST(coalesce(pd2.n_covered, 0) AS BIGINT)
        |         AS n_after_decontam,
        |       CASE WHEN r1.cleaned IS NULL THEN NULL
        |            ELSE coalesce(k2.dedup_text, '') END AS final_text
        |FROM r1 LEFT JOIN pd2 ON pd2.doc_id = r1.doc_id
        |        LEFT JOIN kept2 k2 ON k2.doc_id = r1.doc_id""".stripMargin
    }) { (spark, sf) =>
    spanCurationFunnel(Tables.documents(spark, sf),
      gramRel = Some(graft.sources.SignatureLake.spanGrams(spark, sf)))
  }

  /** The p04 relation over any (doc_id, text) frame (eval slice =
    * d08's every-50th convention).
    * @param gramRel pre-materialized [[spanGramRelation]] of `docs`
    *        (the span_grams lake read-back) feeding stage 1's dedup
    *        and stage 2's EVAL side; stage 2's train grams are over
    *        stage 1's REWRITTEN text and always derive inline. */
  def spanCurationFunnel(docs: DataFrame,
      gramRel: Option[DataFrame] = None): DataFrame = {
    val train1 = exactSubstringDedup(docs.filter(col("doc_id") % 50 =!= 0),
        gramRel = gramRel.map(_.filter(col("doc_id") % 50 =!= 0)))
      .select(col("doc_id"), col("n_tokens"), col("n_covered"),
        col("dedup_text"))
      .localCheckpoint()
    val stage2 = substringDecontaminate(
      train1.select(col("doc_id"), col("dedup_text").as("text")),
      docs.filter(col("doc_id") % 50 === 0),
      benchGrams = gramRel.map(_.filter(col("doc_id") % 50 === 0)))
    train1
      .join(stage2.select(col("doc_id"), col("n_contam_tokens"),
        col("clean_text")), Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - col("n_covered")).as("n_after_dedup"),
        (col("n_tokens") - col("n_covered") - col("n_contam_tokens"))
          .as("n_after_decontam"),
        col("clean_text").as("final_text"))
  }

  // ------------------------------------------------------------------
  // d28/d29: tombstone-delete conservation (the missing third of index
  // maintenance — build ✓, append ✓, DELETE)
  // ------------------------------------------------------------------

  /** The agreement aggregate shared by the delete-conservation rows:
    * full-outer join `side` (a post-delete index) against `full` (the
    * independent rebuild-without-deleted) on the family's primary key
    * and emit (row count of `side`, every-row-matches boolean) — the
    * d23 device pointed at the delete lifecycle. */
  private[operators] def deleteAgreement(side: DataFrame, full: DataFrame,
      keys: Seq[String], valueCol: String,
      nName: String, okName: String): DataFrame =
    side.withColumnRenamed(valueCol, "__vs")
      .join(full.withColumnRenamed(valueCol, "__vf"), keys, "full_outer")
      .agg(
        coalesce(sum(when(col("__vs").isNotNull, 1L).otherwise(0L)), lit(0L))
          .as(nName),
        (coalesce(sum(when(col("__vs") <=> col("__vf"), 0L).otherwise(1L)),
          lit(0L)) === 0L).as(okName))

  /** d28 — band-index tombstone-delete conservation: the full
    * maintenance lifecycle (d12's build + append, then a takedown
    * batch tombstoning every doc with `doc_id % 7 == 3` — a slice
    * cutting across base AND delta — and the physical rewrite) must
    * leave exactly the index a from-scratch derivation over the
    * surviving corpus would build. BOTH serving tiers are gated: the
    * tombstone-masked view (what queries see between takedown and the
    * maintenance window) and the rewritten generation (tombstoned rows
    * physically gone) each full-outer-join the independent full-lake
    * family filtered by the delete predicate — the family never saw a
    * tombstone, so agreement is evidence, not circularity. A delete
    * that missed a row, took an extra one, or a rewrite that dropped a
    * survivor flips a boolean or the count. The oracle rebuilds the
    * band derivation over the surviving documents. */
  val bandLakeDeleteQ: GraftQuery = GraftQuery(
    "d28_band_lake_delete",
    s"""WITH ${portableBandCtesWhere(s"doc_id % $TombMod <> $TombRem")}
      |SELECT CAST(count(*) AS BIGINT) AS n_bands,
      |       TRUE AS matches_full, TRUE AS compact_matches
      |FROM bd""".stripMargin) { (spark, sf) =>
    val docs = Tables.documents(spark, sf)
    val lake = graft.sources.SignatureLake.tombstonedBandIndex(spark, sf,
      base = docs.filter(col("doc_id") % DocDeltaMod =!= BandDeltaRem),
      delta = docs.filter(col("doc_id") % DocDeltaMod === BandDeltaRem),
      deleted = docs.filter(col("doc_id") % TombMod === TombRem)
        .select("doc_id"))
    val full = graft.sources.SignatureLake.portableBandKeys(spark, sf)
      .filter(col("doc_id") % TombMod =!= TombRem)
    deleteAgreement(lake.compacted, full, Seq("doc_id", "band"), "band_key",
        "n_bands", "compact_matches")
      .crossJoin(broadcast(
        deleteAgreement(lake.served, full, Seq("doc_id", "band"), "band_key",
          "n_served", "matches_full").select("matches_full")))
      .select(col("n_bands"), col("matches_full"), col("compact_matches"))
  }

  /** d29 — ANN-posting tombstone-delete conservation: d28's invariant
    * on the embedding side (d20's build + append writes, vec-id
    * tombstones, physical rewrite), gated against the shared
    * ann_buckets family filtered by the delete predicate; the oracle
    * replays the literal-plane assignment over surviving vectors. */
  val annLakeDeleteQ: GraftQuery = GraftQuery(
    "d29_ann_lake_delete",
    s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |ab AS ($portableAnnBucketsSql)
      |SELECT CAST(count(*) AS BIGINT) AS n_postings,
      |       TRUE AS matches_full, TRUE AS compact_matches
      |FROM ab WHERE vec_id % $TombMod <> $TombRem""".stripMargin) { (spark, sf) =>
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val lake = graft.sources.SignatureLake.tombstonedAnnPostings(spark, sf,
      base = emb.filter(col("vec_id") % IncEmbMod =!= 0),
      delta = emb.filter(col("vec_id") % IncEmbMod === 0),
      deleted = emb.filter(col("vec_id") % TombMod === TombRem)
        .select("vec_id"))
    val full = graft.sources.SignatureLake.portableAnnBuckets(spark, sf)
      .filter(col("vec_id") % TombMod =!= TombRem)
      .select(col("vec_id"), col("table").as("tbl"), col("bucket"))
    def side(df: DataFrame) = df.select(col("vec_id"), col("tbl"), col("bucket"))
    deleteAgreement(side(lake.compacted), full, Seq("vec_id", "tbl"), "bucket",
        "n_postings", "compact_matches")
      .crossJoin(broadcast(
        deleteAgreement(side(lake.served), full, Seq("vec_id", "tbl"), "bucket",
          "n_served", "matches_full").select("matches_full")))
      .select(col("n_postings"), col("matches_full"), col("compact_matches"))
  }

  // ------------------------------------------------------------------
  // d31 — SemDeDup: cluster-scoped semantic dedup (Abbas et al. 2023)
  // ------------------------------------------------------------------

  /** SemDeDup near-dup bar: within-cluster cosine above this marks a
    * semantic duplicate. On the hashed-BoW text embedding the corpus
    * separates cleanly — unrelated same-vocabulary docs top out ~0.89,
    * true near-copies sit ≥ 0.98 — so 0.95 splits the two populations
    * with margin on both sides at every sf. */
  val SemDedupTau = 0.95

  /** Hashed bag-of-words dimensionality for [[semDedup]]. */
  val SemDedupDims = 64

  /** Deterministic text embedding for d31: the hashing-trick
    * bag-of-words — token → md5-prefix dim, term-frequency weights,
    * dense `array<double>`. Integer-valued components, so every dot
    * product downstream is an EXACT integer (order-independent — no
    * float-summation parity risk) and only the terminal sqrt/divide
    * is IEEE, shared formula-for-formula with the oracle. Built as
    * an EXPLODED token histogram (codegen md5 per token, map-side
    * combined groupBy, densified once per doc) — one narrow shuffle
    * keyed by doc_id, no UDF anywhere. */
  /** d31 — SemDeDup (arXiv:2303.09540): embed → cluster → prune
    * within-cluster semantic duplicates, keeping the cluster's most
    * OUTLYING copy (lowest cosine to its centroid — the paper's rule:
    * near-centroid redundancy goes, diversity stays; ties break to
    * the smaller doc_id). The candidate structure is what makes this
    * the 100 TB semantic-dedup shape: pairs are generated per CELL
    * (an equi-join on the assignment cell, O(n·cellsize) with
    * ceil(sqrt(n)) cells), never corpus-wide — a pair split across
    * cells is deliberately missed, which is the documented recall
    * trade every SemDeDup deployment makes.
    *
    * Removal is a dominance rule, not a sequential greedy pass: x is
    * removed iff SOME same-cell y with cos(x,y) > τ ranks better
    * ((cent_sim, id) lexicographic). The minimum of every dup
    * component survives (nothing beats it), so the kept set is never
    * empty per component, and the rule is one relational EXISTS —
    * embarrassingly parallel where the paper's in-cluster loop is
    * not.
    *
    * Embeddings are the deterministic hashed BoW (md5-token histogram) and
    * the codebook is the first-ceil(sqrt(n)) convention (s03), so the
    * ENTIRE pipeline — embed, assign (argmax dot, ties to higher
    * cell), centroid cosine, pair cosine, dominance — replays in the
    * oracle bit-for-bit: integer dots, one sqrt, one divide, same
    * fold order (`list_dot_product` ≡ the codegen fold). Production
    * swaps real encoder vectors and the trained k-means codebook
    * (s04) into the same plan; only the embed stage changes. */
  def semDedup(docs: DataFrame, tau: Double = SemDedupTau): DataFrame = {
    val withV = semDedupEmbed(docs)
    val cb = semDedupCodebook(withV, withV.count())
    semDedupPrune(semDedupAssign(withV, cb), tau)
  }

  /** The hashed-BoW embedding stage (doc_id, v, nrm). The embedding
    * runs EXPLODED (codegen md5 per token, map-combined histogram),
    * not as a row-local higher-order 64×filter lambda, which
    * evaluates interpreted (measured: the lambda shape cost ~37 s at
    * sf0.1 across this plan's consumers; exploded + checkpointed it
    * is ~2 s). The eager localCheckpoint is the p03 barrier lesson:
    * withV feeds FOUR consumers (sizing count, codebook collect,
    * both sides of the within-cell pair join). Null-text docs are
    * excluded EXPLICITLY (the repo-wide d05/d14/s27 convention) —
    * explode would drop them silently, and the stated population
    * must match the oracle's. Row-local per document, so a delta
    * batch embeds independently of the corpus (d33's append path). */
  private[graft] def semDedupEmbed(docs: DataFrame): DataFrame = {
    val hist = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("tk"))
      .select(col("doc_id"),
        (conv(substring(md5(col("tk")), 1, 8), 16, 10).cast("long")
          % SemDedupDims).as("d"))
      .groupBy(col("doc_id"), col("d")).agg(count(lit(1)).as("c"))
    hist
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("d"), col("c")))).as("m"))
      .select(col("doc_id"), expr(
        s"""transform(sequence(0, ${SemDedupDims - 1}), d ->
           |  CAST(coalesce(element_at(m, CAST(d AS BIGINT)), 0) AS DOUBLE))""".stripMargin)
        .as("v"))
      .withColumn("nrm", norm(col("v")))
      .localCheckpoint()
  }

  /** First-⌈√n⌉ normalized codebook over the embed relation (the
    * s03/s04 convention; `n` sizes it — the TRAINING population, so
    * d33 passes its base count, not the full corpus's). */
  private[graft] def semDedupCodebook(withV: DataFrame, n: Long): Array[Array[Double]] =
    withV.orderBy(col("doc_id")).limit(SimilarityOps.cellsForCorpus(n))
      .select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray)
      .map { v =>
        val nn = math.sqrt(v.map(x => x * x).sum)
        v.map(_ / (if (nn == 0.0) 1.0 else nn))
      }

  /** Assign under an EXPLICIT (frozen) codebook and attach the
    * own-centroid cosine — (doc_id, cell, v, nrm, cent_sim), the
    * semantic-cell lake's row format. */
  private[graft] def semDedupAssign(withV: DataFrame,
      cb: Array[Array[Double]]): DataFrame = {
    val spark = withV.sparkSession
    import spark.implicits._
    val cbId = graft.functions.CodebookRegistry.register(
      spark.sparkContext.broadcast(cb))
    // Dataset construction analyzes eagerly; the expression holds the
    // broadcast once built, so the registry entry can go (ivfParts).
    val assigned =
      try withV.withColumn("cell",
        element_at(call_function("graft_cell_probes", col("v"), lit(cbId), lit(1)), 1)
          .cast("long"))
      finally graft.functions.CodebookRegistry.unregister(cbId)
    // own-centroid cosine: the tiny (cell, centroid) relation
    // broadcasts; cent_sim = dot(v, ĉ)/|v| — the keep-rule key
    val cbDf = cb.zipWithIndex
      .map { case (v, i) => (i.toLong, v.toSeq) }.toSeq.toDF("cell", "cv")
    assigned.join(broadcast(cbDf), Seq("cell"))
      .withColumn("cent_sim", dot(col("v"), col("cv")) / col("nrm"))
      .select(col("doc_id"), col("cell"), col("v"), col("nrm"), col("cent_sim"))
  }

  /** The within-cell dominance prune over any assigned relation
    * (inline or lake-served) — (doc_id, cell, cent_sim, removed). */
  private[graft] def semDedupPrune(withCent: DataFrame,
      tau: Double = SemDedupTau): DataFrame = {
    val rhs = withCent.select(col("cell"), col("doc_id").as("y"),
      col("v").as("vy"), col("nrm").as("ny"), col("cent_sim").as("cy"))
    val beaten = withCent.join(rhs, Seq("cell"))
      .filter(col("doc_id") =!= col("y"))
      .filter(dot(col("v"), col("vy")) / (col("nrm") * col("ny")) > tau)
      .filter(col("cy") < col("cent_sim") ||
        (col("cy") === col("cent_sim") && col("y") < col("doc_id")))
      .select(col("doc_id")).distinct()
      .withColumn("__beaten", lit(true))
    withCent.join(beaten, Seq("doc_id"), "left")
      .select(col("doc_id"), col("cell"), col("cent_sim"),
        coalesce(col("__beaten"), lit(false)).as("removed"))
  }

  /** The SemDeDup oracle chain (embed → codebook → assign → centroid
    * cosine → dominance), ending at `cent`/`beaten`. `cbPred`
    * restricts the codebook's TRAINING population (d31 trains on the
    * full corpus, d33 on the base slice — the frozen-quantizer
    * convention); assignment and pruning always run over every doc.
    * ONE generator shared by both rows, so the two texts cannot
    * state a different geometry. */
  /** @param popPred restricts the ASSIGNED/PRUNED population (d35
    *        passes the takedown survivors); the codebook still trains
    *        on `cbPred` alone — a frozen quantizer keeps the centroid
    *        directions it learned before a takedown arrived (the
    *        s22/d33 cells-never-move convention; a retrain is the
    *        separately-priced rebuild). */
  private def semDedupOracleCtes(cbPred: String,
      popPred: String = "TRUE"): String =
    s"""dims AS (SELECT doc_id,
      |    list_transform(string_split(text, ' '),
      |      t -> ('0x' || substr(md5(t), 1, 8))::BIGINT % $SemDedupDims) AS ds
      |  FROM documents WHERE text IS NOT NULL),
      |dense AS (SELECT doc_id,
      |    list_transform(range(0, $SemDedupDims),
      |      d -> CAST(len(list_filter(ds, x -> x = d)) AS DOUBLE)) AS v
      |  FROM dims),
      |n AS (SELECT doc_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM dense),
      |np AS (SELECT * FROM n WHERE $popPred),
      |tot AS (SELECT count(*) AS c FROM n WHERE $cbPred),
      |cb AS (SELECT CAST(rn - 1 AS BIGINT) AS cell,
      |    list_transform(v, x -> x / CASE WHEN nrm = 0 THEN 1.0 ELSE nrm END) AS cv
      |  FROM (SELECT doc_id, v, nrm,
      |          row_number() OVER (ORDER BY doc_id) AS rn FROM n
      |        WHERE $cbPred) t, tot
      |  WHERE rn <= greatest(4, least(65536, CAST(ceil(sqrt(tot.c)) AS BIGINT)))),
      |scores AS (SELECT np.doc_id, cb.cell, list_dot_product(np.v, cb.cv) AS score
      |  FROM np CROSS JOIN cb),
      |assign AS (SELECT doc_id, cell, score FROM (
      |    SELECT doc_id, cell, score, row_number() OVER (PARTITION BY doc_id
      |      ORDER BY score DESC, cell DESC) AS r FROM scores) t WHERE r = 1),
      |cent AS (SELECT a.doc_id, a.cell, a.score / np.nrm AS cent_sim
      |  FROM assign a JOIN np ON np.doc_id = a.doc_id),
      |beaten AS (SELECT DISTINCT ca.doc_id
      |  FROM cent ca JOIN cent cb2 ON ca.cell = cb2.cell AND ca.doc_id <> cb2.doc_id
      |  JOIN np nx ON nx.doc_id = ca.doc_id
      |  JOIN np ny ON ny.doc_id = cb2.doc_id
      |  WHERE list_dot_product(nx.v, ny.v) / (nx.nrm * ny.nrm) > $SemDedupTau
      |    AND (cb2.cent_sim < ca.cent_sim OR
      |         (cb2.cent_sim = ca.cent_sim AND cb2.doc_id < ca.doc_id)))""".stripMargin

  val semDedupQ: GraftQuery = GraftQuery(
    "d31_semdedup",
    s"""WITH ${semDedupOracleCtes("TRUE")}
      |SELECT c.doc_id, c.cell, c.cent_sim,
      |       (b.doc_id IS NOT NULL) AS removed
      |FROM cent c LEFT JOIN beaten b ON b.doc_id = c.doc_id""".stripMargin) {
    (spark, sf) => semDedup(Tables.documents(spark, sf))
  }

  /** d33 — INCREMENTAL SemDeDup: the semantic-cell index joins the
    * incremental-maintenance matrix (band keys d12/d23/d28, ANN d26,
    * IVF s20–s22, terms st15, chunks st16 — and now d31's family).
    * The base 9/10 of the corpus embeds once, trains the
    * first-⌈√n_base⌉ codebook, and writes cell-bucketed assignment
    * rows; the delta slice (doc_id % 10 == 7) embeds INDEPENDENTLY
    * (the hashed BoW is row-local) and appends under the SAME frozen
    * codebook — cells never move under an append, only cell
    * populations grow, exactly the s20 frozen-quantizer contract.
    * The dominance prune then serves off the lake read-back: a new
    * near-copy of an old doc lands in the old doc's cell and one of
    * the two is pruned by the same replayable rule. The oracle
    * re-derives the whole base-frozen chain bit-for-bit
    * ([[semDedupOracleCtes]] with the codebook population restricted
    * to the base slice); `n_delta` pins delta docs present in the
    * served relation (non-vacuous at every sf). 100 TB shape: an
    * ingest batch pays embed + assign on ITS OWN rows plus the
    * in-cell prune; a retrain (new codebook) is a rebuild, a
    * different operation with a different cost class. */
  val semDedupIncrementalQ: GraftQuery = GraftQuery(
    "d33_semdedup_incremental",
    s"""WITH ${semDedupOracleCtes(s"doc_id % $DocDeltaMod <> $DocDeltaRem")},
      |res AS (SELECT c.doc_id, c.cell, c.cent_sim,
      |          (b.doc_id IS NOT NULL) AS removed
      |        FROM cent c LEFT JOIN beaten b ON b.doc_id = c.doc_id)
      |SELECT r.*, (SELECT CAST(count(*) AS BIGINT) FROM res
      |             WHERE doc_id % $DocDeltaMod = $DocDeltaRem) AS n_delta
      |FROM res r""".stripMargin) { (spark, sf) =>
    val docs = Tables.documents(spark, sf)
    val isDelta = col("doc_id") % DocDeltaMod === DocDeltaRem
    val lake = graft.sources.SignatureLake.incrementalSemCells(
      spark, sf, docs.filter(!isDelta), docs.filter(isDelta))
    val served = semDedupPrune(lake)
    served.crossJoin(broadcast(
      served.filter(col("doc_id") % DocDeltaMod === DocDeltaRem)
        .agg(count(lit(1)).as("n_delta"))))
  }

  /** d35 — SEMANTIC-CELL tombstone delete, gated at PRUNE level: the
    * last index family to gain its delete leg (bands d28, ANN d29,
    * IVF s22, terms d34/st17). A takedown against a dedup index has
    * sharper semantics than against a retrieval index: deleting a
    * cell's dominance KEEPER must PROMOTE the documents it was
    * suppressing (their near-dup witness is gone), so row-level
    * conservation alone would pass an index that keeps pruning docs
    * on the authority of deleted content. Gated here:
    *
    *  - the emitted relation is d31's full prune verdict served off
    *    the tombstone-MASKED lake (the d33 build+append lifecycle,
    *    then doc-id tombstones) — the dominance compare runs over
    *    survivors only;
    *  - `matches_rebuild` pins it equal, doc-for-doc (cell, cent_sim,
    *    removed), to a from-scratch embed→assign→prune over the
    *    surviving corpus under the SAME frozen base codebook (the
    *    independent rebuild never saw a tombstone; cells never move
    *    on delete — a retrain is the separately-priced rebuild);
    *  - `compact_matches` pins the physically rewritten generation's
    *    (doc_id → cell, cent_sim) rows to the survivor rebuild's
    *    assignment.
    *
    * The oracle replays the base-frozen chain with the pruned
    * POPULATION restricted to survivors ([[semDedupOracleCtes]]'s
    * popPred) — bit-for-bit, including every promotion. The spec
    * proves promotion has teeth on a constructed fixture (delete the
    * keeper → its duplicate flips to kept). */
  val semCellDeleteQ: GraftQuery = GraftQuery(
    "d35_semcell_lake_delete",
    s"""WITH ${semDedupOracleCtes(s"doc_id % $DocDeltaMod <> $DocDeltaRem",
         s"doc_id % $TombMod <> $TombRem")}
      |SELECT c.doc_id, c.cell, c.cent_sim,
      |       (b.doc_id IS NOT NULL) AS removed,
      |       TRUE AS matches_rebuild, TRUE AS compact_matches
      |FROM cent c LEFT JOIN beaten b ON b.doc_id = c.doc_id""".stripMargin) {
    (spark, sf) =>
    val docs = Tables.documents(spark, sf)
    val isDelta = col("doc_id") % DocDeltaMod === DocDeltaRem
    val deleted = docs.filter(col("doc_id") % TombMod === TombRem)
      .select("doc_id")
    val lake = graft.sources.SignatureLake.tombstonedSemCells(spark, sf,
      docs.filter(!isDelta), docs.filter(isDelta), deleted)
    val served = semDedupPrune(lake.served)
    // independent rebuild: survivors embedded and assigned from
    // scratch under the SAME frozen base codebook, pruned fresh.
    // ONE survivor assignment feeds both gate legs — semDedupEmbed
    // checkpoints eagerly, so a second derivation would re-run the
    // row's dominant kernel, not fuse with the first
    val bv = semDedupEmbed(docs.filter(!isDelta))
    val cb = semDedupCodebook(bv, bv.count())
    val survivorAssign = semDedupAssign(
      semDedupEmbed(docs.filter(col("doc_id") % TombMod =!= TombRem)), cb)
      .localCheckpoint()
    val rebuilt = semDedupPrune(survivorAssign)
    def verdicts(df: DataFrame) = df.select(col("doc_id"),
      struct(col("cell"), col("cent_sim"), col("removed")).as("vv"))
    val serveOk = deleteAgreement(verdicts(served), verdicts(rebuilt),
      Seq("doc_id"), "vv", "n_served", "matches_rebuild")
      .select("matches_rebuild")
    val compactOk = deleteAgreement(
      lake.compacted.select(col("doc_id"),
        struct(col("cell"), col("cent_sim")).as("vv")),
      survivorAssign
        .select(col("doc_id"), struct(col("cell"), col("cent_sim")).as("vv")),
      Seq("doc_id"), "vv", "n_rows", "compact_matches")
      .select("compact_matches")
    served
      .crossJoin(broadcast(serveOk))
      .crossJoin(broadcast(compactOk))
  }

  // ------------------------------------------------------------------
  // d32: edit-distance (Levenshtein) verify on banded candidates
  // ------------------------------------------------------------------

  /** Character-level edit-distance cap for d32. Measured on the gate
    * corpus: planted near-dups sit at distance ≤ 8 (relative ≤ 0.017)
    * while the closest non-duplicate candidate pair is ≥ 38 edits
    * (relative ≥ 0.53) — 24 splits the two populations with 3×/1.6×
    * margin on both sides. */
  val MaxEditDist = 24

  /** Fuzzy dedup with an EDIT-DISTANCE verify — the classic
    * record-linkage final filter (d05 verifies set overlap; this row
    * verifies sequence identity, which catches transpositions and
    * in-token typos that shingle Jaccard scores the same as genuine
    * divergence). Candidates come from the portable MinHash banding
    * (d14's md5 family — replayed verbatim by the oracle, so the row
    * is hash-checked end to end), and the verify runs ONLY on capped
    * banded candidates — never all pairs: Levenshtein is O(|a|·|b|)
    * per pair, the one cost class that must not meet a quadratic pair
    * set at 100 TB. The engine passes `maxDist` to Spark's thresholded
    * `levenshtein`, which runs the banded DP in O(maxDist·|a|) and
    * early-exits with -1 above the cap — at the 24-char cap that is
    * ~10× less work per verified pair than the full matrix on this
    * corpus, and the bound is independent of document length.
    * `rel_dist` is an IEEE division of two exact integers (oracle
    * parity is bit-exact, per the verify discipline). */
  /** @param bands the portable band-key relation — defaults to a fresh
    *        derivation; the registry row passes the
    *        [[graft.sources.SignatureLake]]'s materialized family so
    *        the verify reads the lake index instead of re-hashing the
    *        corpus (the d17 serve pattern; the candidate set is
    *        IDENTICAL — d23 hash-gates lake == from-scratch — so the
    *        emitted pairs cannot move).
    *        INVARIANT (caller-owned): `bands` must be the band-key
    *        relation OF `docs` — a relation derived from a different
    *        corpus would silently drop or alter pairs through the
    *        inner candidate joins, with no error. Every current caller
    *        passes the full documents table on both sides; a future
    *        caller slicing one side must slice the other identically
    *        (gram/band rows are per-doc, so a doc_id filter on the
    *        lake table is the correct slice — the d30 convention). */
  def editDistancePairs(docs: DataFrame, maxDist: Int = MaxEditDist,
      bands: DataFrame = null): DataFrame = {
    val cand = candidatePairsFromBands(
      Option(bands).getOrElse(portableBandKeys(portableSignatures(docs))))
    val ta = docs.select(col("doc_id").as("doc_a"), col("text").as("__ta"))
    val tb = docs.select(col("doc_id").as("doc_b"), col("text").as("__tb"))
    cand.join(ta, "doc_a").join(tb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("__ta"), col("__tb"), maxDist).as("__d"),
        greatest(length(col("__ta")), length(col("__tb"))).as("__m"))
      // thresholded levenshtein reports -1 for "above the cap" — the
      // >= 0 leg is the actual distance filter, not a sanity check
      .filter(col("__d") >= 0 && col("__d") <= maxDist)
      .select(col("doc_a"), col("doc_b"),
        col("__d").cast("long").as("edit_dist"),
        (col("__d").cast("double") / col("__m")).as("rel_dist"))
  }

  val editDistanceQ: GraftQuery = GraftQuery(
    "d32_dedup_edit_distance",
    s"""WITH $portableNearDupCtes
      |SELECT c.doc_a, c.doc_b,
      |       CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
      |       CAST(levenshtein(a.text, b.text) AS DOUBLE)
      |         / greatest(len(a.text), len(b.text)) AS rel_dist
      |FROM cand c JOIN documents a ON a.doc_id = c.doc_a
      |            JOIN documents b ON b.doc_id = c.doc_b
      |WHERE levenshtein(a.text, b.text) <= $MaxEditDist""".stripMargin) {
    (spark, sf) =>
      editDistancePairs(Tables.documents(spark, sf),
        bands = graft.sources.SignatureLake.portableBandKeys(spark, sf))
  }

  // ------------------------------------------------------------------
  // d38: the compaction crossover generalized across index families
  // ------------------------------------------------------------------

  /** d38 — d37's merge-on-read vs copy-on-write crossover GENERALIZED
    * to all six tombstoned index families (bands d28, ANN d29, IVF
    * s22, terms d34/st17, semantic cells d35, chunks d36): the masked
    * serve's read tax is identical in SHAPE everywhere — scan the full
    * index, anti-join the tombstones — but its SIZE is per-family,
    * because each family stores a different row multiplicity per
    * deleted id (bands store [[Bands]] rows per doc with ≥1 shingle,
    * ANN [[PortableAnnTables]] rows per vector, IVF and semantic
    * cells one row per id, term postings one row per DISTINCT TERM of
    * the doc, chunk digests one row per content-defined chunk — the
    * last two are the non-uniform ones where doc-level fractions
    * mis-price the scan tax). Per family × [[graft.operators.SimilarityOps.CompactDeleteMods]]
    * delete fraction, the row measures exact read amplification
    * (index rows / live rows — exact longs, one IEEE division off the
    * family's own lake relation), applies the
    * [[graft.operators.SimilarityOps.CompactAmpFloor]] advisory, and
    * emits the acted-on amplification. Scale shape: one aggregate
    * pass per family over a memoized lake read-back (bands/ANN/IVF/
    * semcells/terms are bucketed-table scans; chunks pay the m13
    * kernel once), both delete fractions counted in the SAME pass
    * (conditional sums), never a per-fraction re-scan. Decision rule
    * at 100 TB: compact family-by-family — a takedown batch that
    * leaves band read-amp at 1.02 can put chunk read-amp past the
    * floor when the deleted docs were the long ones. */
  // LAZY (with `all` below) to break an object-initialization cycle:
  // this oracle reads SimilarityOps.CompactDeleteMods at construction,
  // and SimilarityOps' own initializer reaches back into DedupOps
  // (portableAnnBucketsSql from s10) BEFORE those constants are
  // assigned — a consumer that touches SimilarityOps first would
  // observe null mid-<clinit> (SimilaritySpec did). Deferring to
  // first registry access runs after both objects are fully built.
  lazy val familyCompactionQ: GraftQuery = GraftQuery(
    "d38_family_compaction_sweep", {
      import SimilarityOps.{CompactAmpFloor, CompactDeleteMods}
      val rels = Seq(
        "ann_postings" -> "(SELECT vec_id AS id FROM ab)",
        "band_keys" -> "(SELECT doc_id AS id FROM bd)",
        "chunk_digests" -> "(SELECT doc_id AS id FROM ce)",
        // IVF cell assignment is a row-preserving map of the embedding
        // table (every vector lands in exactly one cell), so its
        // cardinality IS the vector count; same for the semantic-cell
        // family over non-null-text documents
        "ivf_postings" -> "(SELECT vec_id AS id FROM embeddings)",
        "semantic_cells" ->
          "(SELECT doc_id AS id FROM documents WHERE text IS NOT NULL)",
        "term_postings" -> "(SELECT doc_id AS id FROM tposts)")
      val legs = for { (fam, rel) <- rels; m <- CompactDeleteMods } yield
        s"""SELECT '$fam' AS family, CAST($m AS BIGINT) AS del_mod,
           |       t.n_index, t.n_live, t.n_index - t.n_live AS n_tomb_rows,
           |       CAST(t.n_index AS DOUBLE) / t.n_live AS read_amp,
           |       CAST(t.n_index AS DOUBLE) / t.n_live > $CompactAmpFloor
           |         AS advise_compact,
           |       CASE WHEN CAST(t.n_index AS DOUBLE) / t.n_live > $CompactAmpFloor
           |            THEN 1.0
           |            ELSE CAST(t.n_index AS DOUBLE) / t.n_live END AS amp_after
           |FROM (SELECT CAST(count(*) AS BIGINT) AS n_index,
           |        CAST(sum(CASE WHEN id % $m <> 0 THEN 1 ELSE 0 END)
           |          AS BIGINT) AS n_live
           |      FROM $rel t0) t""".stripMargin
      s"""WITH ${portableBandCtesWhere("TRUE")},
        |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ab AS ($portableAnnBucketsSql),
        |tposts AS (SELECT doc_id, unnest(list_distinct(t)) AS term
        |           FROM toks WHERE t IS NOT NULL),
        |${MultimodalOps.cdcChunkCtes("TRUE")}
        |${legs.mkString("\nUNION ALL\n")}""".stripMargin
    }) { (spark, sf) =>
    import SimilarityOps.{CompactAmpFloor, CompactDeleteMods}
    val docs = Tables.documents(spark, sf)
    val isDelta = col("doc_id") % DocDeltaMod === DocDeltaRem
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val fams: Seq[(String, DataFrame, String)] = Seq(
      ("ann_postings",
        graft.sources.SignatureLake.portableAnnBuckets(spark, sf), "vec_id"),
      ("band_keys",
        graft.sources.SignatureLake.portableBandKeys(spark, sf), "doc_id"),
      ("chunk_digests",
        MultimodalOps.cdcChunks(MultimodalOps.asCdcPayloads(spark, sf)),
        "doc_id"),
      ("ivf_postings",
        graft.sources.SignatureLake.incrementalIvfPostings(spark, sf,
          emb.filter(col("vec_id") % 10 =!= 0),
          emb.filter(col("vec_id") % 10 === 0)), "vec_id"),
      ("semantic_cells",
        graft.sources.SignatureLake.incrementalSemCells(spark, sf,
          docs.filter(!isDelta), docs.filter(isDelta)), "doc_id"),
      ("term_postings",
        graft.sources.SignatureLake.termImpacts(spark, sf), "doc_id"))
    fams.map { case (name, rel, idCol) =>
      // BOTH delete fractions in one pass over the family relation
      val liveCols = CompactDeleteMods.map(m =>
        sum(when(col(idCol) % m =!= 0, 1L).otherwise(0L)).as(s"__l$m"))
      val amp = col("n_index").cast("double") / col("n_live")
      rel.agg(count(lit(1)).as("n_index"), liveCols: _*)
        .select(lit(name).as("family"), col("n_index"),
          explode(array(CompactDeleteMods.map(m =>
            struct(lit(m.toLong).as("del_mod"), col(s"__l$m").as("n_live"))): _*))
            .as("__x"))
        .select(col("family"), col("__x.del_mod").as("del_mod"),
          col("n_index"), col("__x.n_live").as("n_live"))
        .select(col("family"), col("del_mod"), col("n_index"), col("n_live"),
          (col("n_index") - col("n_live")).as("n_tomb_rows"),
          amp.as("read_amp"),
          (amp > CompactAmpFloor).as("advise_compact"),
          when(amp > CompactAmpFloor, lit(1.0)).otherwise(amp).as("amp_after"))
    }.reduce(_ unionByName _)
  }

  lazy val all: Seq[GraftQuery] = Seq(
    exactQ, tokenSetQ, minhashQ, simhashQ, ngramJaccardQ, clustersQ,
    clusterRepsQ, decontaminateQ, decontaminateBloomQ, embeddingDupQ,
    coverageQ, portableCoverageQ, portableEmbeddingDupQ, incrementalQ,
    segmentDedupQ, portableMinhashQ,
    portableSimhashQ, contaminationOverlapQ, leakageSafeSplitQ,
    minhashCalibrationQ, sourceOverlapQ, thresholdCurveQ,
    incrementalEmbeddingQ, textEmbeddingConsistencyQ, containmentQ,
    lakeAppendQ, annLakeAppendQ, kmvVocabQ, kmvOverlapQ,
    exactSubstringQ, bandLakeDeleteQ, annLakeDeleteQ,
    substringDecontaminateQ, spanFunnelQ, semDedupQ, editDistanceQ,
    semDedupIncrementalQ, semCellDeleteQ, familyCompactionQ)
}
