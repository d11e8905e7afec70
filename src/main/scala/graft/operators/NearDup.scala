package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import graft.sources.Tables
import graft.functions.TextFns
import graft.expressions.{CharShingles, MinHashBandKeys, MinHashJaccard, MinHashSig, SimHashSig, WordShingles, WordShinglesAll}

/** Text near-duplicate detection at corpus scale (SURVEY.md §2 rows 22-24):
  * MinHash-LSH, SimHash, and n-gram Jaccard — the dedup family a training
  * -data pipeline runs before anything else.
  *
  * All three share one scale shape: per-doc signatures are native one-pass
  * kernels (graft.expressions — no shuffle, no interpreted lambdas);
  * candidate generation is an equi-join on LSH band/chunk keys (shuffle-
  * partitionable, never an O(n²) cross join); exact verification (true
  * Jaccard / hamming) touches candidate pairs only. Output is one summary
  * row per document, so downstream filtering is a plain column predicate.
  */
object NearDup {

  /** Distinct word n-shingles (native kernel). */
  def wordShingles(text: Column, n: Int): Column =
    Bridge.column(WordShingles(Bridge.expression(TextFns.wsTokens(TextFns.foldCase(text))), n))

  /** ALL word n-shingles in position order (duplicates kept). */
  def wordShinglesAll(text: Column, n: Int): Column =
    Bridge.column(WordShinglesAll(Bridge.expression(TextFns.wsTokens(TextFns.foldCase(text))), n))

  /** Distinct character n-grams (native kernel). */
  def charShingles(text: Column, n: Int): Column =
    Bridge.column(CharShingles(Bridge.expression(TextFns.foldCase(text)), n))

  /** MinHash signature (native kernel; one hash per shingle + affine perms). */
  def minhashSig(shingles: Column, numPerm: Int): Column =
    Bridge.column(MinHashSig(Bridge.expression(shingles), numPerm))

  /** 64-bit SimHash packed in a long (native kernel). */
  def simhashSig(toks: Column): Column =
    Bridge.column(SimHashSig(Bridge.expression(toks)))

  /** LSH band keys over a MinHash signature (bands × rowsPerBand = perms). */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      xxhash64(b, slice(sig, b * lit(rowsPerBand) + 1, lit(rowsPerBand))))

  /** Fused shingles → minhash → band keys (native kernel; see
    * [[graft.expressions.MinHashBandKeys]] for why fusion matters). */
  def minhashBandKeys(shingles: Column, bands: Int, rowsPerBand: Int): Column =
    Bridge.column(MinHashBandKeys(Bridge.expression(shingles), bands, rowsPerBand))

  /** Unbiased Jaccard estimate from two MinHash signatures (native kernel;
    * SE = √(J(1−J)/perms)). */
  def minhashJaccard(a: Column, b: Column): Column =
    Bridge.column(MinHashJaccard(Bridge.expression(a), Bridge.expression(b)))

  /** Chunk keys for hamming-banding a packed SimHash (pigeonhole: sigs
    * within hamming distance < #chunks share at least one chunk). */
  def simhashChunkKeys(sig: Column, chunks: Int = 4, chunkBits: Int = 16): Column =
    array((0 until chunks).map(c =>
      xxhash64(lit(c), shiftright(sig, c * chunkBits).bitwiseAND(lit((1L << chunkBits) - 1)))): _*)

  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b)).cast("long")

  /** Generic LSH near-dup summary.
    *
    * @param base    (id, sig, keys) — `sig` is whatever the verifier needs
    * @param simExpr exact similarity between sig_a and sig_b (higher=closer)
    * @param thr     duplicate threshold on that similarity
    * @return one row per id: candidate count, best match, best similarity
    */
  /** Hot-bucket cap: band keys shared by more than this many docs are
    * dropped before pairing. Degenerate buckets (boilerplate shingles) are
    * what turns LSH quadratic; genuinely identical docs are the job of
    * dedup_exact, which runs before near-dup in the pipeline. */
  private val MaxBucket = 64

  /** Session-scoped cache of persisted signature bases. Several operators
    * share one base (dedup_minhash + dedup_clusters read the same word-3
    * signatures); memoizing the persisted DataFrame means one scan+persist
    * per (session, corpus, signature kind) instead of one per query — and
    * no CacheManager "already cached" re-persist noise. A
    * [[graft.SessionCache]] scratch entry: held until [[releaseCache]]
    * (or session end); entries are kilobytes/doc. */
  private val baseMemo =
    graft.SessionCache.scratch[Product, DataFrame](_.unpersist())

  /** Build wide, cache narrow ([[Shuffles.compactCached]]): the kernel
    * projection runs at full session parallelism (distinctEntities), then
    * the persisted copy is compacted to ~50k docs per partition (sig+keys
    * ≈ 1.3 KB/doc, so ~64 MB partitions). The base is re-read ~6× per
    * summary (key explode, count filter, two sig joins, left-join spine)
    * and every re-read launches one task per cached partition — so the
    * CACHE layout must track data volume, not the session's shuffle
    * fan-out, while one giant partition would serialize the signature
    * kernels at build time. The compaction shuffle moves signatures, not
    * text — ~1% of corpus bytes; at cluster scale it is a no-op and no
    * second cache is built. */
  private def memoBase(spark: SparkSession, key: Product)(build: => DataFrame): DataFrame =
    baseMemo(spark, key)(
      Shuffles.compactCached(build.persist(), _.rdd.getNumPartitions))

  /** Releases the whole scratch lifetime of `spark`
    * ([[graft.SessionCache.releaseScratch]]), not only signature bases. */
  def releaseCache(spark: SparkSession): Unit =
    graft.SessionCache.releaseScratch(spark)

  /** LSH candidate pairs with exact similarity — shared by the per-doc
    * summaries and the cluster operator. `base` must be persisted by the
    * caller (it is referenced ~6 times downstream). */
  private[graft] def scoredPairs(base: DataFrame,
      simExpr: (Column, Column) => Column): DataFrame = {
    val allKeys = base.select(col("id"), explode(col("keys")).as("key"))
    val keyCounts = allKeys.groupBy("key").agg(count("*").as("kn"))
    // kn >= 2, not just <= MaxBucket: a band key held by ONE doc (the vast
    // majority of keys in a mostly-unique corpus) can never produce a
    // pair, so it must not ride the self-join's sort/probe. This is the
    // self-join twin of the decontaminate bloom pre-filter — a membership
    // sketch is useless here (every key is in its own corpus's set), but
    // the count filter drops the same can't-match rows exactly.
    val exploded = allKeys.join(
        keyCounts.where(col("kn") >= 2 && col("kn") <= MaxBucket), "key")
      .select(col("id"), col("key"))
    val pairs = exploded.as("l")
      .join(exploded.as("r"), col("l.key") === col("r.key") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
    val sigs = base.select(col("id"), col("sig"))
    pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("sim", round(simExpr(col("sig_a"), col("sig_b")), 6))
  }

  /** `base` must already be persisted (callers go through [[memoBase]] —
    * it is referenced several times downstream). */
  private[graft] def lshSummary(base: DataFrame, simExpr: (Column, Column) => Column,
      thr: Double): DataFrame = {
    val scored = scoredPairs(base, simExpr)
    // fold pairs into per-doc rows (both directions), keep the best match
    val perDoc = scored.select(col("id_a").as("id"), col("id_b").as("other"), col("sim"))
      .unionAll(scored.select(col("id_b").as("id"), col("id_a").as("other"), col("sim")))
      .groupBy("id")
      .agg(count("*").as("n_candidates"),
        max(struct(col("sim"), col("other"))).as("best"))
      .select(col("id"), col("n_candidates"),
        col("best.other").as("best_match_id"), col("best.sim").as("best_sim"))
    base.select(col("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("best_match_id"), col("best_sim"),
        coalesce(col("best_sim") >= thr, lit(false)).as("is_dup"))
  }

  /** Exact set Jaccard — for re-scoring candidate pairs when the estimator
    * isn't enough; not used on the main LSH path (it would force the raw
    * shingle arrays through the candidate shuffle). */
  def exactJaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double")

  /** MinHash-LSH near-dup over word 3-shingles; 128 perms, 32×4 bands
    * (catches Jaccard ≳ 0.5 with high probability), candidate similarity
    * from the 128-perm signatures (SE ≈ 0.035).
    *
    * Signature-based verify, deliberately: the persisted/shuffled state is
    * a 1 KB signature per doc, not the raw shingle set (~10× doc size) —
    * at 100 TB the candidate join moves kilobytes per doc, and the
    * estimator is deterministic, so outputs are still stable run-to-run.
    * Exact set Jaccard remains available as [[exactJaccard]] for a
    * re-score of flagged pairs. */
  def dedupMinhash(spark: SparkSession, dir: String, thr: Double = 0.8): DataFrame =
    lshSummary(word3Base(spark, dir), minhashJaccard, thr)

  /** Shared word-3-shingle signature base (dedup_minhash, dedup_clusters,
    * train_test_split all read it) — memoized + persisted per session. */
  private[graft] def word3Base(spark: SparkSession, dir: String): DataFrame =
    memoBase(spark, ("word3", dir)) {
      val sh = wordShingles(col("text"), 3)
      // at-least-once delivery collapses to the distinct document entity
      // before signatures — a redelivered copy must not inflate band-key
      // counts against the hot-bucket cap. distinctEntities, not a bare
      // .distinct(): the signature kernels (and the persisted base every
      // family member re-reads) must not inherit a byte-coalesced
      // single-partition layout.
      Shuffles.distinctEntities(
          Tables.documents(spark, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id").as("id"),
          minhashSig(sh, 128).as("sig"),
          minhashBandKeys(sh, 32, 4).as("keys"))
    }

  /** SimHash near-dup: packed 64-bit sigs, 4×16-bit hamming bands;
    * similarity is 1 - hamming/64 so the threshold reads like the others
    * (0.95 ≈ ≤3 differing bits). */
  def dedupSimhash(spark: SparkSession, dir: String, thr: Double = 0.95): DataFrame = {
    val base = memoBase(spark, ("simhash", dir)) {
      // same distinct-entity contract (and parallelism rationale) as the
      // word-3 base
      Shuffles.distinctEntities(
          Tables.documents(spark, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id").as("id"),
          simhashSig(TextFns.wsTokens(TextFns.foldCase(col("text")))).as("sig"))
        // xxhash64 HASH-SKIPS a NULL argument rather than returning NULL,
        // so unguarded chunk keys would give every NULL-text doc the same
        // four keys and pair the whole NULL set at NaN similarity; the
        // signature-less contract is "no signature, no candidates", same
        // as the minhash paths' null-intolerant kernels
        .withColumn("keys",
          when(col("sig").isNotNull, simhashChunkKeys(col("sig"))))
    }
    lshSummary(base,
      (a, b) => lit(1.0) - hamming(a, b).cast("double") / lit(64.0), thr)
  }

  /** Connected-component labels of the word-3 MinHash dup graph — the
    * expensive iterative piece behind [[dedupClusters]] and
    * `Corpus.trainTestSplit`, memoized + persisted per (session, corpus,
    * threshold) like the signature bases: the LSH candidate join and the
    * multi-round CC loop (driver-synchronized jobs) run ONCE per session,
    * and every consumer is a join/projection over the 2-long-per-doc
    * labels relation. Released via [[releaseCache]]. */
  def clusterLabels(spark: SparkSession, dir: String, thr: Double = 0.8): DataFrame =
    memoBase(spark, ("cc", dir, thr)) {
      val base = word3Base(spark, dir)
      val dupEdges = scoredPairs(base, minhashJaccard).where(col("sim") >= thr)
        .select(col("id_a"), col("id_b"))
      Cluster.connectedComponents(dupEdges, base.select(col("id")))
    }

  /** Near-dup clustering: MinHash-LSH pairs above `thr` → connected
    * components → one row per doc with its canonical cluster id (min doc_id
    * of the component) and cluster size. Downstream dedup = `keep rows
    * where doc_id == cluster_id`. */
  def dedupClusters(spark: SparkSession, dir: String, thr: Double = 0.8): DataFrame = {
    val labels = clusterLabels(spark, dir, thr)
    val sizes = labels.groupBy(col("cluster")).agg(count("*").as("cluster_size"))
    labels.join(sizes, "cluster")
      .select(col("id").as("doc_id"), col("cluster").as("cluster_id"),
        col("cluster_size"), (col("id") === col("cluster")).as("is_canonical"))
  }

  /** Containment detection: flags documents whose content is (near-)
    * embedded inside another document — quotes, mirrored articles,
    * re-posts with added boilerplate. Symmetric near-dup (Jaccard) misses
    * these: a short doc fully contained in a long one has low Jaccard but
    * containment ≈ 1. Asymmetric by construction:
    * containment(A→B) = |fp(A) ∩ fp(B)| / |fp(A)|, over winnowing
    * fingerprints (Schleimer '03 guarantees matches of ≥ noiseThreshold
    * chars share a fingerprint).
    *
    * Scale shape: per-doc fingerprints are a native one-pass kernel;
    * candidate pairs come from an equi-join on fingerprint values with
    * the same hot-bucket cap as the LSH paths (a boilerplate fingerprint
    * shared by half the corpus must not go quadratic); the pair
    * aggregation is count-only (8 bytes through the shuffle per shared
    * fingerprint). One summary row per doc. Both the numerator AND the
    * denominator are computed over the capped fingerprint set, so the
    * ratio is a true containment of the visible universe (a raw-count
    * denominator would understate containment for docs sharing hot
    * fingerprints). The emitted `n_fps` stays the doc's raw fingerprint
    * count, for reference.
    */
  /** MinHash calibration harness — the measured "how good is the
    * estimator" eval for the signature family (retrieval_eval's pairing
    * for the dedup leg): for every LSH candidate pair, the 128-perm
    * signature estimate is compared against the EXACT shingle-set
    * Jaccard, histogrammed into 0.05-wide error bands, with the
    * at-threshold confusion counts (estimate-positive / exact-positive /
    * both) that tell an operator what a 0.8 signature cut actually
    * means in exact terms. The theory says SE ≈ √(J(1−J)/128) ≈ 0.035 —
    * this measures it on the corpus of record.
    *
    * Scale: estimates ride the capped candidate-pair relation; the raw
    * shingle SETS join only for matched pair ids (pairs are hot-bucket
    * capped, so shingle arrays shuffle for candidates only, never
    * corpus-wide — the family rule). All counts integer; the exact
    * Jaccard is one division of integers; the band floor runs on
    * identical IEEE inputs in both engines. */
  def minhashCalibration(spark: SparkSession, dir: String,
      thr: Double = 0.8): DataFrame =
    minhashCalibrationCore(word3Base(spark, dir),
      Tables.documents(spark, dir), thr)

  /** Unmemoized fixture twin: base and sets from THIS relation. */
  private[graft] def minhashCalibrationFrom(docs: DataFrame,
      thr: Double): DataFrame = {
    val sh = wordShingles(col("text"), 3)
    val base = Shuffles.distinctEntities(
        docs.select(col("doc_id"), col("text")))
      .select(col("doc_id").as("id"), minhashSig(sh, 128).as("sig"),
        minhashBandKeys(sh, 32, 4).as("keys"))
      .persist()
    try minhashCalibrationCore(base, docs, thr)
      .localCheckpoint(true) // materialize before the base unpersists
    finally { base.unpersist(); () }
  }

  private def minhashCalibrationCore(base: DataFrame, docs: DataFrame,
      thr: Double): DataFrame = {
    val pairs = scoredPairs(base, minhashJaccard)
      .select(col("id_a"), col("id_b"), col("sim"))
    val sets = Shuffles.distinctEntities(
        docs.select(col("doc_id"), col("text")))
      .where(col("text").isNotNull)
      .select(col("doc_id").as("id"),
        array_distinct(wordShingles(col("text"), 3)).as("sh"))
    val j = pairs
      .join(sets.select(col("id").as("id_a"), col("sh").as("sha")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("shb")), "id_b")
      .withColumn("exact", exactJaccard(col("sha"), col("shb")))
    j.select(
        floor(abs(col("sim") - col("exact")) / lit(0.05)).cast("long")
          .as("err_band"),
        (col("sim") >= thr).as("ep"), (col("exact") >= thr).as("xp"))
      .groupBy(col("err_band"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("ep"), 1L).otherwise(0L)).as("n_est_dup"),
        sum(when(col("xp"), 1L).otherwise(0L)).as("n_exact_dup"),
        sum(when(col("ep") && col("xp"), 1L).otherwise(0L)).as("n_both"))
  }

  /** Golden-record selection — the entity-resolution step AFTER
    * clustering: per near-dup cluster, elect the canonical SURVIVOR by a
    * real merge policy (keep the longest member — richest text wins, the
    * standard ER survivorship rule) instead of dedup_clusters' min-id
    * convention, plus the merge evidence a steward reviews (member
    * count, distinct sources). Reuses the memoized cluster labels; the
    * election window runs per cluster (clusters are capped-candidate
    * components, never corpus-sized) with a pinned NULLS LAST order so
    * both engines seat the same survivor. One row per cluster. */
  def goldenRecords(spark: SparkSession, dir: String,
      thr: Double = 0.8): DataFrame = {
    val labels = clusterLabels(spark, dir, thr)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"), col("source")).distinct()
    val j = labels.join(docs, labels("id") === docs("doc_id"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))
      .orderBy(col("n_chars").desc_nulls_last, col("doc_id"))
    val rep = j.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("cluster"), col("doc_id").as("rep_doc_id"),
        col("n_chars").as("rep_n_chars"))
    val agg = j.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        countDistinct(col("source")).as("n_sources"))
    rep.join(agg, "cluster")
      .select(col("cluster").as("cluster_id"), col("rep_doc_id"),
        col("rep_n_chars"), col("n_members"), col("n_sources"))
  }

  def dedupContainment(spark: SparkSession, dir: String, thr: Double = 0.8,
      k: Int = 5, w: Int = 4): DataFrame =
    // the corpus path memoizes its fingerprint base like every other
    // signature family member — the base is re-read ~5× downstream
    containmentSummary(
      memoBase(spark, ("winnow", k, w, dir)) {
        winnowBase(Tables.documents(spark, dir), k, w)
      }, thr)

  private[graft] def dedupContainmentFrom(docs: DataFrame, thr: Double = 0.8,
      k: Int = 5, w: Int = 4): DataFrame =
    containmentSummary(winnowBase(docs, k, w), thr)

  /** (id, fps, n_fps) winnow-fingerprint relation over distinct doc
    * entities — the containment family's signature base. */
  private def winnowBase(docs: DataFrame, k: Int, w: Int): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    val fpsCol = Bridge.column(graft.expressions.WinnowFingerprints(
      Bridge.expression(TextFns.foldCase(col("text"))), k, w))
    // same distinct-entity contract (and parallelism rationale) as the
    // signature bases
    Shuffles.distinctEntities(
        docs.select(col("doc_id"), col("text")))
      .select(col("doc_id").as("id"), fpsCol.as("fps"))
      .withColumn("n_fps", size(col("fps")).cast("long"))
  }

  private def containmentSummary(base: DataFrame, thr: Double): DataFrame = {
    val ex = base.select(col("id"), explode(col("fps")).as("fp"))
    val fpCounts = ex.groupBy("fp").agg(count("*").as("fn"))
    val capped = ex.join(fpCounts.where(col("fn") <= MaxBucket), "fp")
      .select(col("id"), col("fp"))
    // the denominator is the doc's CAPPED fingerprint count, not its raw
    // n_fps: hot fingerprints (> MaxBucket docs) are invisible to the
    // numerator join, so a raw denominator would systematically understate
    // containment exactly for boilerplate-heavy embedded docs — the
    // "re-post with added boilerplate" case this operator targets.
    // Numerator and denominator must see the same fingerprint universe.
    val cappedN = capped.groupBy(col("id")).agg(count("*").as("n_fps_capped"))
    // the PAIR join additionally drops singleton fingerprints (fn = 1
    // can never match another doc) — but only after cappedN: singletons
    // DO belong in the containment denominator, they're real content the
    // candidate container fails to share
    val pairable = ex.join(
        fpCounts.where(col("fn") >= 2 && col("fn") <= MaxBucket), "fp")
      .select(col("id"), col("fp"))
    // directed pairs: (a contained-in b) and (b contained-in a) are
    // different questions — both directions fall out of the same join
    val shared = pairable.as("l")
      .join(pairable.select(col("id").as("rid"), col("fp")).as("r"),
        col("l.fp") === col("r.fp") && col("l.id") =!= col("r.rid"))
      .groupBy(col("l.id").as("id"), col("r.rid").as("container_id"))
      .agg(count("*").as("n_shared"))
      .join(cappedN, "id")
      .withColumn("containment",
        round(col("n_shared").cast("double") / col("n_fps_capped").cast("double"), 6))
    val best = org.apache.spark.sql.expressions.Window.partitionBy("id")
      .orderBy(col("containment").desc, col("container_id"))
    val top = shared.withColumn("rk", row_number().over(best))
      .where(col("rk") === 1)
      .select(col("id"), col("container_id").as("best_container_id"),
        col("containment"))
    base.select(col("id"), col("n_fps"))
      .join(top, Seq("id"), "left")
      .select(col("id").as("doc_id"), col("n_fps"),
        col("best_container_id"), col("containment"),
        coalesce(col("containment") >= thr, lit(false)).as("is_contained"))
  }

  /** Incremental near-dup: flag documents of a NEW batch that near-
    * duplicate an already-indexed corpus — the daily-increment shape of a
    * production pipeline. Re-running a full self-join dedup re-pays the
    * whole corpus on every increment; here the corpus pays signature work
    * ONCE (the persisted word-3 signature base doubles as the index — the
    * signature twin of `IncidentPipeline.appendIndex`'s accumulating
    * vector store) and each increment pays work proportional to ITS OWN
    * size:
    *   - batch signatures/band keys: one kernel pass over the batch only;
    *   - the corpus side is pre-filtered by the batch's band-key set
    *     BEFORE any corpus-side shuffle (broadcast left-semi on the
    *     |batch|×bands distinct keys — kilobytes for a daily increment),
    *     so indexed rows that can't possibly match never leave the scan;
    *   - the hot-bucket cap is measured on the MATCHED corpus side: a
    *     batch key landing in a boilerplate bucket (> MaxBucket indexed
    *     docs) is dropped, bounding per-key fan-out exactly like the
    *     self-join paths. No kn≥2 floor here — a key held once on EACH
    *     side still pairs (the floor is self-join-only logic).
    * Output: one row per batch doc — `is_dup` means "already represented
    * in the index; drop before appending". If an increment is ever
    * corpus-sized, the broadcast pre-filter should be skipped (it buys
    * nothing) and the plain capped equi-join remains the fallback shape.
    *
    * Precisely: everything that SHUFFLES is increment-sized (semi-join
    * survivors, candidate pairs, scored rows). The corpus contributes one
    * shuffle-free probe scan of the persisted key index per increment —
    * and the durable form of that index ([[writeSignatureIndex]]) is
    * band-key-bucketed, so the scan partition-prunes to the buckets the
    * batch actually touches instead of reading the whole key relation.
    */
  def dedupIncremental(spark: SparkSession, dir: String, thr: Double = 0.8,
      batchMod: Int = 10): DataFrame = {
    val base = word3Base(spark, dir)
    // deterministic batch membership (~1/batchMod of the corpus), so the
    // query is reproducible and the "index" is the same rows every run;
    // md5-based so the SQL oracle replays the exact member set
    val isBatch = org.apache.spark.sql.graft.Bridge.column(
      graft.expressions.Md5LowerMod(org.apache.spark.sql.graft.Bridge.expression(
        col("id").cast("string")), batchMod.toLong)) === 0
    dedupIncrementalFrom(base.where(isBatch), base.where(!isBatch), thr)
  }

  /** Bucket fan of the durable key index: band keys hash-partition into
    * this many directories, so an increment's read prunes to the buckets
    * its own keys land in. Band keys are uniform hashes, so pruning bites
    * exactly when it should — the interactive / small-increment case
    * (|batch keys| ≪ buckets); a corpus-sized batch touches every bucket
    * and correctly degrades to the full scan. */
  val IndexBuckets = 256

  /** Persist the corpus word-3 signature base as an on-disk index — the
    * durable form of the session memo, so increments in LATER jobs (or on
    * other clusters) never re-sign the corpus. ~1 KB/doc. Two relations:
    * `docs` (id, sig) for verification, and `keys` (id, key) directory-
    * partitioned by `kb = pmod(key, IndexBuckets)` — the probe side of an
    * increment is a PARTITION-PRUNED scan (the batch's touched buckets
    * are a literal predicate), not a full corpus key scan. One file per
    * non-empty bucket (repartition on kb before the partitioned write). */
  def writeSignatureIndex(spark: SparkSession, dir: String,
      indexPath: String): Unit =
    writeSignatureIndexFrom(word3Base(spark, dir), indexPath)

  /** Same writer over an arbitrary (id, sig, keys) signature relation —
    * the entry point when the corpus isn't the standard documents table
    * (a streaming sink's accumulated state, a replicated scale probe).
    *
    * The index is TWO relations that must stay consistent as a pair
    * (`docs` for verification, `keys` for candidate probing): both are
    * written into one tmp directory, marked complete with a root-level
    * _SUCCESS (the sub-stores' own markers only cover themselves), and
    * promoted with the same rename-aside swap every other durable store
    * here uses — a crash mid-write leaves either the old complete index
    * or the new complete index, never new docs over old keys. */
  def writeSignatureIndexFrom(base: DataFrame, indexPath: String): Unit =
    // the shared publish protocol (IO.publishStore): writer-entry
    // healing, both relations under ONE tmp, root _SUCCESS, rename-aside
    // swap — tmp never survives healing, so the writes start clean
    graft.sources.IO.publishStore(base.sparkSession, indexPath,
        "__index_tmp") { tmp =>
      // a crashed erasure's COMPLETE tmp promotes into the OLD
      // generation first (the family's writer-entry contract) — the
      // rebuild supersedes the store either way
      recoverSigErase(new org.apache.hadoop.fs.Path(indexPath)
        .getFileSystem(base.sparkSession.sparkContext.hadoopConfiguration),
        new org.apache.hadoop.fs.Path(indexPath))
      base.select(col("id"), col("sig"))
        .write.mode("overwrite").parquet(s"$tmp/docs")
      base.select(col("id"), explode(col("keys")).as("key"))
        .withColumn("kb", pmod(col("key"), lit(IndexBuckets.toLong)))
        .repartition(col("kb"))
        .write.mode("overwrite").partitionBy("kb").parquet(s"$tmp/keys")
    }

  /** The increment's key-index scan: partition-pruned to the buckets the
    * batch's own band keys touch. `touched` is ≤ IndexBuckets values — a
    * dimension-sized driver list, the partition-pruning analog of a
    * predicate the user typed. Exposed for the pruning spec. Erased
    * subjects drop here (broadcast anti-join), BEFORE the hot-bucket
    * count — a tombstoned doc must neither pair nor push a bucket over
    * the cap a store built without it would stay under. */
  private[graft] def prunedKeyIndex(spark: SparkSession, indexPath: String,
      batch: DataFrame): DataFrame = {
    val touched = batch
      .select(explode(col("keys")).as("key"))
      .select(pmod(col("key"), lit(IndexBuckets.toLong)).as("kb"))
      .distinct().collect().map(_.getLong(0))
    val raw = readSigKeys(spark, indexPath)
      .where(col("kb").isin(touched.toIndexedSeq: _*))
      .select(col("id"), col("key"))
    sigTombstones(spark, indexPath)
      .map(t => raw.join(broadcast(t), Seq("id"), "left_anti"))
      .getOrElse(raw)
  }

  /** The two store relations with EMPTY-corpus fallbacks (the lex
    * readPostings contract): an empty corpus writes a keys dir with no
    * data files (partitionBy of zero rows) and possibly a part-less docs
    * dir — schema inference fails there, and the correct serving input
    * is the empty relation with the store's canonical schema. */
  private def readSigKeys(spark: SparkSession, indexPath: String): DataFrame =
    try spark.read.parquet(s"$indexPath/keys") catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
        import org.apache.spark.sql.types._
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("id", LongType),
            StructField("key", LongType), StructField("kb", IntegerType))))
    }

  private[graft] def readSigDocs(spark: SparkSession, indexPath: String): DataFrame =
    try spark.read.parquet(s"$indexPath/docs") catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
        import org.apache.spark.sql.types._
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("id", LongType),
            StructField("sig", ArrayType(LongType)))))
    }

  /** The tombstone relation of a signature store, if any subject was
    * erased and not yet compacted away — request-sized, broadcast.
    * Discovery goes through [[graft.sources.StoreProtocol.tombstones]]
    * (the path's own Hadoop filesystem — never java.io.File, which
    * silently answers "no tombstones" on a remote store and serves
    * erased subjects). */
  private def sigTombstones(spark: SparkSession,
      indexPath: String): Option[DataFrame] =
    graft.sources.StoreProtocol.tombstones(spark, indexPath, "id")

  /** GDPR-article-17 erasure for the signature index — the near-dup
    * store's governance leg (the z-table / lexical / IVF siblings; a
    * subject's MinHash signatures are derived personal data): erasure
    * lands as a TOMBSTONE every serve anti-joins before the hot-bucket
    * count, and [[compactSignatureIndex]] makes it physical. The store
    * has no corpus constants to adjust (unlike the lexical index) —
    * the verdict math is per-pair, so dropping the subject's key and
    * signature rows IS the whole erasure. Idempotent by content key;
    * crash contract = the family's (COMPLETE tmp + persisted key,
    * promote under deterministic names, resume at writer entries). */
  def eraseSignatureDocs(spark: SparkSession, indexPath: String,
      subjects: DataFrame): Unit = {
    val p = new org.apache.hadoop.fs.Path(indexPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.IO.recoverStore(fs, p,
      new org.apache.hadoop.fs.Path(indexPath + "__index_tmp"))
    recoverSigErase(fs, p)
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$indexPath/docs")),
      s"cannot erase from a missing signature index at $indexPath")
    val fresh0 = subjects.select(col("doc_id").as("id"))
      .where(col("id").isNotNull).distinct()
    val fresh = sigTombstones(spark, indexPath)
      .map(t => fresh0.join(broadcast(t), Seq("id"), "left_anti"))
      .getOrElse(fresh0).localCheckpoint()
    if (fresh.isEmpty) return // fully-replayed or empty request: no-op
    val key = graft.sources.StoreProtocol.contentKey(fresh,
      expr("xxhash64(CAST(id AS STRING))"))
    graft.sources.StoreProtocol.publishKeyed(fs, p, "__erase_tmp", "KEY",
      "ers", key, SigEraseSubs) { tmp =>
      fresh.coalesce(1).write.mode("overwrite").parquet(s"$tmp/tombstones")
    }
  }

  private val SigEraseSubs = Seq(("tombstones", "tombstones"))

  /** WRITER-entry healing for a crashed erasure promote — the shared
    * content-keyed contract ([[graft.sources.StoreProtocol]]). */
  private def recoverSigErase(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Unit =
    graft.sources.StoreProtocol.recoverKeyedPromote(fs, p, "__erase_tmp",
      "KEY") { (tmp, key) =>
      graft.sources.StoreProtocol.promoteKeyed(fs, tmp, p, "ers", key,
        SigEraseSubs)
      fs.delete(tmp, true)
    }

  /** Physical compaction of the signature store: a full-generation
    * rewrite (the lexical pattern — an erased doc's key rows scatter
    * across every kb bucket, and the docs relation is flat, so there is
    * no per-directory increment to exploit) of both relations without
    * the tombstoned subjects, published through the shared tmp +
    * _SUCCESS + rename-aside protocol; the generation swap retires the
    * tombstones wholesale. A crash leaves the old complete generation
    * with its tombstones intact — serving stays post-erasure correct
    * throughout. */
  def compactSignatureIndex(spark: SparkSession, indexPath: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(indexPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // heal a crashed generation swap FIRST (the erase entry does the
    // same): without it a store mid-swap fails the require below instead
    // of healing at this writer entry
    graft.sources.IO.recoverStore(fs, p,
      new org.apache.hadoop.fs.Path(indexPath + "__index_tmp"))
    recoverSigErase(fs, p)
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$indexPath/docs")),
      s"cannot compact a missing signature index at $indexPath")
    val tombs = sigTombstones(spark, indexPath)
    def minus(df: DataFrame): DataFrame =
      tombs.map(t => df.join(broadcast(t), Seq("id"), "left_anti"))
        .getOrElse(df)
    // force the filtered inputs BEFORE the swap: their plans read the
    // generation the swap replaces
    val docs = minus(readSigDocs(spark, indexPath)).localCheckpoint()
    val keys = minus(readSigKeys(spark, indexPath)
      .select(col("id"), col("key"), col("kb"))).localCheckpoint()
    graft.sources.IO.publishStore(spark, indexPath, "__index_tmp") { tmp =>
      docs.write.mode("overwrite").parquet(s"$tmp/docs")
      keys.repartition(col("kb"))
        .write.mode("overwrite").partitionBy("kb").parquet(s"$tmp/keys")
    }
  }

  /** Incremental near-dup of arbitrary new documents (doc_id, text)
    * against a [[writeSignatureIndex]] store: the batch pays one kernel
    * pass, the index is only read — and only the band-key buckets the
    * batch touches are read at all ([[prunedKeyIndex]]). The production
    * entry point of the incremental contract ([[dedupIncremental]] is its
    * self-contained single-corpus twin for the driver harness). */
  private val erasedSigMemo = graft.SessionCache.store[String, String]

  /** Store for `dedup_incremental_erased`: the CORPUS side of
    * [[dedupIncremental]]'s deterministic split (md5(id) mod 10 ≠ 0)
    * persisted as a durable signature index, then every doc of the
    * subject set (doc_id ≡ 8 mod 9) erased via [[eraseSignatureDocs]],
    * the request replayed verbatim (content-keyed no-op). */
  private def erasedSigPath(spark: SparkSession, dir: String): String =
    erasedSigMemo(spark, dir) {
      val path = graft.SessionCache.storePath("graft_sig_ers", dir)
      val base = word3Base(spark, dir)
      val isBatch = org.apache.spark.sql.graft.Bridge.column(
        graft.expressions.Md5LowerMod(org.apache.spark.sql.graft.Bridge
          .expression(col("id").cast("string")), 10L)) === 0
      writeSignatureIndexFrom(base.where(!isBatch), path)
      val subjects = Tables.documents(spark, dir)
        .where(pmod(col("doc_id"), lit(9L)) === 8L).select(col("doc_id"))
      eraseSignatureDocs(spark, path, subjects)
      eraseSignatureDocs(spark, path, subjects) // replayed request: no-op
      path
    }

  /** The registered signature-store erasure query: [[dedupIncremental]]'s
    * batch served against the ERASED durable index — tombstoned corpus
    * docs neither pair nor count toward the hot-bucket cap, exactly as
    * if the index had been built without them. Also the first registered
    * entry to serve the incremental contract from the DURABLE store (the
    * self-contained twin splits in memory). */
  def dedupIncrementalErased(spark: SparkSession, dir: String,
      thr: Double = 0.8): DataFrame = {
    val isBatch = org.apache.spark.sql.graft.Bridge.column(
      graft.expressions.Md5LowerMod(org.apache.spark.sql.graft.Bridge
        .expression(col("doc_id").cast("string")), 10L)) === 0
    dedupIncrementalAgainst(spark, erasedSigPath(spark, dir),
      Shuffles.distinctEntities(Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))).where(isBatch), thr)
  }

  def dedupIncrementalAgainst(spark: SparkSession, indexPath: String,
      newDocs: DataFrame, thr: Double = 0.8): DataFrame = {
    val sh = wordShingles(col("text"), 3)
    // eager persist: the signature kernels — the batch's dominant
    // compute — run ONCE here, not once for the touched-bucket collect
    // and again for the scoring plan ("batch pays one kernel pass" is the
    // contract). persist, NOT localCheckpoint, for the COMPUTE phase: a
    // lost executor recomputes partitions from lineage instead of failing
    // the increment. The cache entry is explicitly released below —
    // Dataset.persist pins the plan in the session CacheManager until an
    // unpersist; nothing frees it on GC.
    // NULL-text docs STAY in the report universe (NULL sig/keys — they
    // probe nothing and pair with nothing, but the verdict relation
    // reports them with n_candidates 0): the word3Base/self-contained
    // twin and the SQL oracle both report every batch entity, and a
    // text filter here silently shrank the served universe on corpora
    // with NULL documents (the combined/null probe axes caught it).
    val wide = newDocs
      .select(col("doc_id").as("id"),
        minhashSig(sh, 128).as("sig"),
        minhashBandKeys(sh, 32, 4).as("keys"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var batch = wide
    try {
      // materialize while the plan is this narrow, then cache compacted
      // to a size-proportionate partition count (the memoBase policy,
      // r20): the signature kernels run at full fan-out during the
      // count; the touched-bucket collect and the scoring plan then
      // re-read the cache at size-many tasks instead of conf-many
      batch = Shuffles.compactCached(wide, Shuffles.sessionWidth)
      // READER-passive healing (the shared IO.readableStore contract):
      // complete a crashed swap only when no live dir exists, never
      // delete — a tmp next to a live index may be a concurrent
      // writeSignatureIndex's in-flight output, and a reader that
      // deletes it fails that writer's job. Destructive cleanup belongs
      // to writer entries (writeSignatureIndexFrom's publishStore).
      val fs = graft.sources.IO.readableStore(spark, indexPath, "__index_tmp")
      val docsPath = new org.apache.hadoop.fs.Path(s"$indexPath/docs")
      // erased subjects drop on BOTH relations (keys inside
      // prunedKeyIndex, signatures here): serving equals an index built
      // without them
      def minusTombs(df: DataFrame): DataFrame =
        sigTombstones(spark, indexPath)
          .map(t => df.join(broadcast(t), Seq("id"), "left_anti"))
          .getOrElse(df)
      val verdicts =
        if (fs.exists(docsPath))
          dedupIncrementalKeyed(batch,
            prunedKeyIndex(spark, indexPath, batch),
            minusTombs(readSigDocs(spark, indexPath)), thr)
        else
          // pre-bucketing index layout (flat (id, sig, keys) parquet):
          // serve it unpruned rather than failing a durable store on
          // upgrade
          dedupIncrementalFrom(batch,
            minusTombs(spark.read.parquet(indexPath)), thr)
      // materialize the increment-sized VERDICT relation eagerly, severing
      // its lineage from the cached batch, so the batch cache can be
      // dropped before returning: a driver looping over increments holds
      // no cache entries between calls. The checkpoint blocks are
      // RDD-level and ContextCleaner-freed on GC; executor loss after
      // this point costs only the (small) verdict relation.
      verdicts.localCheckpoint(true)
    } finally batch.unpersist(false)
  }

  /** Both inputs are (id, sig, keys) signature relations; `corpus` is the
    * persisted index side, `batch` the increment. */
  private[graft] def dedupIncrementalFrom(batch: DataFrame, corpus: DataFrame,
      thr: Double = 0.8): DataFrame =
    dedupIncrementalKeyed(batch,
      corpus.select(col("id"), explode(col("keys")).as("key")),
      corpus.select(col("id"), col("sig")), thr)

  /** Core of the incremental flow over an already-exploded corpus key
    * relation (id, key) plus the signature relation (id, sig) — the shape
    * the bucketed durable index serves directly. */
  private[graft] def dedupIncrementalKeyed(batch: DataFrame, cKeys: DataFrame,
      cSigs: DataFrame, thr: Double = 0.8): DataFrame = {
    val bKeys = batch.select(col("id"), explode(col("keys")).as("key"))
    val keySet = bKeys.select(col("key")).distinct()
    val matched = cKeys.join(broadcast(keySet), Seq("key"), "left_semi")
    val hot = matched.groupBy("key").agg(count("*").as("kn"))
    val cOk = matched.join(hot.where(col("kn") <= MaxBucket), "key")
      .select(col("key"), col("id").as("corpus_id"))
    // id ≠ corpus_id: inert when batch and corpus are disjoint (the
    // normal increment case), but it makes the same code correct for
    // INTRA-batch dedup (batch checked against itself — the streaming
    // sink does this), where a doc must not match itself at sim 1.0 and
    // mask its real candidates
    val pairs = bKeys.join(cOk, "key")
      .where(col("id") =!= col("corpus_id"))
      .select(col("id"), col("corpus_id")).distinct()
    val scored = pairs
      .join(batch.select(col("id"), col("sig")), "id")
      .join(cSigs.select(col("id").as("corpus_id"), col("sig").as("csig")),
        "corpus_id")
      .withColumn("sim", round(minhashJaccard(col("sig"), col("csig")), 6))
    val perDoc = scored.groupBy("id")
      .agg(count("*").as("n_candidates"),
        max(struct(col("sim"), col("corpus_id"))).as("best"),
        // the smallest corpus id among ALL matches over the threshold —
        // not just the best-sim one. Intra-batch (batch==corpus) keep/drop
        // decisions need it: a doc whose best match is a LARGER id may
        // still near-dup a smaller one, and keeping it would index a
        // direct near-dup pair
        min(when(col("sim") >= thr, col("corpus_id"))).as("min_dup_id"))
      .select(col("id"), col("n_candidates"),
        col("best.corpus_id").as("best_match_id"), col("best.sim").as("best_sim"),
        col("min_dup_id"))
    batch.select(col("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("best_match_id"), col("best_sim"),
        coalesce(col("best_sim") >= thr, lit(false)).as("is_dup"),
        col("min_dup_id"))
  }

  /** Character 5-gram Jaccard near-dup, MinHash-blocked. 8 bands × 8 rows:
    * char n-grams of same-domain corpora overlap heavily, so 4-row bands
    * would pass most of the corpus as candidates (O(n²) verify); 8-row
    * bands keep the candidate set to genuinely close pairs (J ≳ 0.75). */
  def ngramJaccard(spark: SparkSession, dir: String, thr: Double = 0.7): DataFrame = {
    val base = memoBase(spark, ("char5", dir)) {
      val sh = charShingles(col("text"), 5)
      // same distinct-entity contract (and parallelism rationale) as the
      // word-3 base — and the heaviest kernel of the family (~60× more
      // grams per doc than word-3 shingles), so single-partition layout
      // hurts most here
      Shuffles.distinctEntities(
          Tables.documents(spark, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id").as("id"),
          minhashSig(sh, 128).as("sig"),
          minhashBandKeys(sh, 8, 8).as("keys"))
    }
    lshSummary(base, minhashJaccard, thr)
  }
}
