package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.TextFns

/** Corpus-preparation operators: the steps between "deduped documents" and
  * "training batches" — vocabulary, token encoding, leakage-safe splits,
  * stratified sampling.
  */
object Corpus {

  /** Session-scoped cache of the persisted vocabulary (a
    * [[graft.SessionCache]] scratch entry): build_vocab, encode_tokens,
    * and quality_perplexity all read the same frequency-ranked vocab, and
    * without the memo each consumer re-ran the corpus-wide explode+count.
    * One full-corpus token aggregation per (session, corpus, minCount,
    * maxVocab); entries are ≤ maxVocab rows. Released via
    * [[releaseCache]] (or session end). */
  private val vocabMemo =
    graft.SessionCache.scratch[(String, Int, Int), DataFrame](_.unpersist())

  /** Releases the whole scratch lifetime of `spark`
    * ([[graft.SessionCache.releaseScratch]]), not only vocabularies and
    * BPE states. */
  def releaseCache(spark: SparkSession): Unit =
    graft.SessionCache.releaseScratch(spark)

  /** Frequency-ranked vocabulary. The explode+count phase is map-side
    * combined over the corpus; the survivors are cut to `maxVocab` with a
    * distributed TakeOrdered (`orderBy().limit()` → per-partition top-N,
    * no global sort) BEFORE any ranking window runs — a min-count-2
    * vocabulary over 100 TB is still 10⁸⁺ tokens, far too many for a
    * single-partition window. The rank itself then runs over ≤ maxVocab
    * rows on a constant partition key, which is bounded by construction.
    * Memoized + persisted per (session, corpus, params) — see
    * [[vocabMemo]].
    */
  def buildVocab(spark: SparkSession, dir: String, minCount: Int = 2,
      maxVocab: Int = 1000): DataFrame = {
    vocabMemo(spark, (dir, minCount, maxVocab))(
      vocabFrom(Tables.documents(spark, dir), minCount, maxVocab).persist())
  }

  /** The vocabulary chain over an explicit corpus relation — the
    * unmemoized core [[buildVocab]] caches per (session, dir, params). */
  private[graft] def vocabFrom(documents: DataFrame, minCount: Int,
      maxVocab: Int): DataFrame = {
    val byFreq = Window.partitionBy(lit(0)).orderBy(col("freq").desc, col("token"))
    documents
      .select(explode(TextFns.wsTokens(TextFns.foldCase(col("text")))).as("token"))
      .where(length(col("token")) > 0)
      .groupBy(col("token")).agg(count("*").as("freq"))
      .where(col("freq") >= minCount)
      .orderBy(col("freq").desc, col("token"))
      .limit(maxVocab)
      .withColumn("token_id", row_number().over(byFreq).cast("long"))
  }

  /** Token-id encoding: docs → position-ordered vocab-id sequences, OOV →
    * 0. Vocabulary is broadcast; the corpus side is explode → equi-join →
    * re-collect, all shuffle-partitioned by doc.
    *
    * The id sequence is emitted as a comma-joined string, not a raw
    * `array<bigint>`: it stays byte-identical to the oracle's
    * `string_agg(... ORDER BY pos)` (making this operator fully
    * SQL-verifiable) and keeps every output cell driver-sortable.
    */
  def encodeTokens(spark: SparkSession, dir: String): DataFrame = {
    val vocab = buildVocab(spark, dir)
      .select(col("token"), col("token_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(TextFns.wsTokens(TextFns.foldCase(col("text")))).as(Seq("pos", "token")))
      .join(broadcast(vocab), Seq("token"), "left")
      .withColumn("tid", coalesce(col("token_id"), lit(0L)))
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tid")))),
            x => x.getField("tid").cast("string")), ",").as("token_ids_csv"),
        count("*").as("n_tokens"),
        sum(when(col("token_id").isNull, 1L).otherwise(0L)).as("n_oov"))
  }

  /** Leakage-safe train/test split: near-duplicate documents must land in
    * the same split or evaluation leaks training data. Split is hashed
    * from the dedup *cluster* id, so every member of a dup cluster moves
    * together. The labels come from the session-memoized
    * [[NearDup.clusterLabels]] relation — the LSH→connected-components
    * pipeline runs once per (session, corpus); the split itself is a
    * hash + projection over the persisted 2-long-per-doc labels. */
  def trainTestSplit(spark: SparkSession, dir: String,
      trainPct: Int = 80): DataFrame =
    NearDup.clusterLabels(spark, dir)
      // md5-based split hash (not xxhash64): the assignment is replayable
      // by the SQL oracle — unsigned md5_number_lower(cluster) mod 100,
      // which is the oracle's native UBIGINT %
      .withColumn("split",
        when(org.apache.spark.sql.graft.Bridge.column(
            graft.expressions.Md5LowerMod(org.apache.spark.sql.graft.Bridge.expression(
              col("cluster").cast("string")), 100)) < trainPct, "train")
          .otherwise("test"))
      .select(col("id").as("doc_id"), col("cluster").as("cluster_id"), col("split"))

  /** Sequence packing: greedy first-fit of documents into token-budget
    * bins (training-batch construction), blocked by 32-doc id ranges.
    *
    * Each id block (grp = doc_id >> 5, ≤ 32 distinct ids) is packed
    * independently in doc_id order, and bins never span blocks
    * (bin_id = grp·64 + bin-within-block). Unlike the earlier
    * per-partition scan, bin boundaries are DATA-INDEPENDENT of
    * partitioning: the output is byte-identical at any parallelism,
    * which makes the operator deterministic at 1000 executors and lets
    * a plain-SQL oracle replay the greedy scan (bounded-depth recursion
    * over per-block row numbers). Cost of the block boundary: at most
    * one partially-filled bin per 32 docs. Oversized docs get a bin of
    * their own. Scale shape: one uniform hash shuffle on grp (dense id
    * blocks — no skew), bounded per-group state, no global sort.
    */
  def packSequences(spark: SparkSession, dir: String,
      maxTokens: Int = 512): DataFrame =
    packSequencesFrom(Tables.documents(spark, dir), maxTokens)

  private[graft] def packSequencesFrom(documents: DataFrame,
      maxTokens: Int = 512): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents
      // NULL text = zero tokens: the doc still gets a bin slot (encoder
      // would otherwise throw NOT_NULL on the bare Long field)
      .select(col("doc_id"),
        coalesce(TextFns.wsTokenCount(col("text")), lit(0L)).as("n_tokens"),
        shiftright(col("doc_id"), 5).as("grp"))
      // at-least-once delivery collapses to the distinct document entity
      // (the shared engine contract) — and bounds bins per block at 32,
      // so the ·64 bin encoding can never collide with the next block
      .distinct()
      .as[(Long, Long, Long)]
      .groupByKey(_._3)
      .flatMapGroups { (grp: Long, it: Iterator[(Long, Long, Long)]) =>
        // ≤ 32 distinct ids per block — sorting in memory is bounded by
        // construction, not by data volume
        val docs = it.toArray.sortBy(_._1)
        var bin = 0L
        var fill = 0L
        docs.iterator.map { case (docId, nTok, _) =>
          if (fill > 0 && fill + nTok > maxTokens) { bin += 1; fill = 0 }
          fill += nTok
          (docId, nTok, grp * 64L + bin)
        }
      }
      .toDF("doc_id", "n_tokens", "bin_id")
  }

  /** Unigram-LM perplexity per document — the LM-based quality filter of
    * large-corpus pipelines: documents whose token distribution diverges
    * from the corpus distribution (boilerplate, gibberish, wrong-language)
    * score high and get dropped/downweighted.
    *
    * Model = the [[buildVocab]] top-1000 unigram distribution, add-one
    * smoothed over (total + |V| + 1) with OOV at the floor; scoring is a
    * broadcast join of the dimension-sized vocab onto exploded tokens +
    * one per-doc aggregate: a scan plus one shuffle at any corpus size.
    * perplexity = exp(−mean log p(token)), rounded — per-doc means are
    * few-addend sums, safe to round (SURVEY §5).
    */
  def perplexityScore(spark: SparkSession, dir: String): DataFrame =
    // collect the dimension-sized vocab ONCE (≤ maxVocab rows) — deriving
    // denom and the broadcast side from the same collected rows avoids
    // paying the full-corpus vocab aggregation twice
    perplexityScoreCore(Tables.documents(spark, dir),
      buildVocab(spark, dir).select(col("token"), col("freq"))
        .collect().map(r => (r.getString(0), r.getLong(1))))

  /** Unmemoized twin for probe fits: the vocab comes from THIS corpus. */
  private[graft] def perplexityScoreFrom(documents: DataFrame): DataFrame =
    perplexityScoreCore(documents,
      vocabFrom(documents, 2, 1000).select(col("token"), col("freq"))
        .collect().map(r => (r.getString(0), r.getLong(1))))

  private def perplexityScoreCore(documents: DataFrame,
      vocabRows: Array[(String, Long)]): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    // empty vocab → NULL denom → NULL perplexity, matching the oracle's
    // NULL propagation (sum over zero rows is NULL in SQL)
    val denom: Column =
      if (vocabRows.isEmpty) lit(null).cast("double")
      else lit((vocabRows.map(_._2).sum + vocabRows.length + 1).toDouble)
    val vocab = vocabRows.toSeq.toDF("token", "freq")
    documents
      .select(col("doc_id"),
        explode(TextFns.wsTokens(TextFns.foldCase(col("text")))).as("token"))
      .where(length(col("token")) > 0)
      .join(broadcast(vocab), Seq("token"), "left")
      .withColumn("logp",
        log((coalesce(col("freq"), lit(0L)) + 1).cast("double") / denom))
      .groupBy(col("doc_id"))
      .agg(round(exp(-avg(col("logp"))), 4).as("perplexity"),
        count("*").as("n_tokens"),
        sum(when(col("freq").isNull, 1L).otherwise(0L)).as("n_oov"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): per LANGUAGE,
    * split documents into head / middle / tail by LM perplexity terciles
    * — the head (lowest perplexity = closest to the clean LM) ships to
    * training, the tail is dropped or down-weighted. Cutoffs come from a
    * per-language bottom-k-by-md5 SAMPLE exactly as CCNet fits its
    * percentile cutoffs on a sample, never a full per-language sort: the
    * rank window prunes to k rows per language map-side
    * (WindowGroupLimit), cut values are exact integer sample ranks over
    * the rounded perplexity (bit-identical in both engines), and the
    * assignment join broadcasts one 2-cut row per language. A doc with
    * no perplexity (NULL/empty text — no scoreable tokens) keeps a NULL
    * bucket; a NULL lang is a real stratum with its own cutoffs. */
  def ccnetBuckets(spark: SparkSession, dir: String,
      k: Int = 4096): DataFrame =
    ccnetBucketsCore(
      perplexityScore(spark, dir).select(col("doc_id"), col("perplexity")),
      Tables.documents(spark, dir), k)

  /** Unmemoized twin for probe fits (vocab + cutoffs from THIS corpus). */
  private[graft] def ccnetBucketsFrom(documents: DataFrame,
      k: Int = 4096): DataFrame =
    ccnetBucketsCore(
      perplexityScoreFrom(documents).select(col("doc_id"), col("perplexity")),
      documents, k)

  private def ccnetBucketsCore(pp: DataFrame, documents: DataFrame,
      k: Int): DataFrame = {
    val spark = documents.sparkSession
    val thKey = "spark.sql.optimizer.windowGroupLimitThreshold"
    if (spark.conf.get(thKey).toLong < k) spark.conf.set(thKey, k)
    // duplicate corpus rows collapse to one doc entity (the dup-probe
    // contract); lang rides the entity
    val dl = documents
      .select(col("doc_id"), col("lang")).distinct()
    val scored = pp.join(dl, Seq("doc_id"))
    val hk = graft.operators.Sketches.md5mod(
      concat(lit("ccnet:"), col("doc_id").cast("string")),
      graft.expressions.SigUtil.P)
    val samp = scored.withColumn("hk", hk)
      .withColumn("srk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("hk"), col("doc_id"))))
      .where(col("srk") <= k)
      .withColumn("n_s", count(lit(1)).over(
        Window.partitionBy(col("lang"))).cast("long"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("lang"))
        .orderBy(col("perplexity"), col("doc_id"))).cast("long"))
    def cutRank(j: Int): Column = greatest(lit(1L),
      floor((lit(j.toLong) * col("n_s")).cast("double") / lit(3.0))
        .cast("long"))
    val cuts = samp.groupBy(col("lang").as("c_lang"))
      .agg(array((1 to 2).map(j =>
        max(when(col("rn") === cutRank(j), col("perplexity")))): _*)
        .as("cuts"))
    dl.join(pp, Seq("doc_id"), "left")
      .join(broadcast(cuts), col("lang") <=> col("c_lang"), "left")
      .select(col("doc_id"), col("lang"), col("perplexity"),
        when(col("perplexity").isNotNull && col("cuts").isNotNull,
          element_at(array(lit("head"), lit("middle"), lit("tail")),
            size(filter(col("cuts"), c => c <= col("perplexity"))) + 1))
          .as("bucket"))
  }

  /** Interpolated bigram-LM perplexity per document — one modeling step
    * past [[perplexityScore]]'s unigram toward the n-gram-LM quality
    * filters of CCNet/KenLM pipelines (Wenzek et al. 2020): score each
    * bigram with p = λ·p_bi(w₂|w₁) + (1−λ)·p_uni(w₂), both add-one
    * smoothed over the shared top-1000 vocabulary (p_bi over vocab-
    * restricted pair counts with denominator c(w₁)+|V|+1, OOV tokens
    * take the floors through the same coalesced formula — no special
    * cases), perplexity = exp(−mean log p) over the doc's bigrams.
    * Repetitive/templated text scores LOW (its bigrams dominate the
    * model), gibberish and wrong-language text HIGH — a sharper signal
    * than unigram, which can't see word ORDER at all.
    *
    * Scale: the bigram model is bounded by observed vocab-pairs ≤ |V|²
    * (1M rows at the top-1000 vocab — broadcastable at any corpus
    * size); scoring is one bigram explode + three broadcast joins + one
    * per-doc aggregate. Smoothed probabilities are single divisions of
    * exact integers; λ constants reach the oracle as round-trip
    * doubles; per-doc means are few-addend sums under round(·,4) (the
    * unigram contract). Docs with < 2 non-empty tokens have no bigrams
    * and drop out, identically on both engines. */
  def perplexityBigram(spark: SparkSession, dir: String,
      lambda: Double = 0.7): DataFrame =
    perplexityBigramCore(spark,
      buildVocab(spark, dir).select(col("token"), col("freq"))
        .collect().map(r => (r.getString(0), r.getLong(1))),
      Tables.documents(spark, dir), lambda)

  /** Probe/spec variant over an explicit corpus (no vocab memo). */
  private[graft] def perplexityBigramFrom(documents: DataFrame,
      lambda: Double = 0.7): DataFrame =
    perplexityBigramCore(documents.sparkSession,
      vocabFrom(documents, 2, 1000).select(col("token"), col("freq"))
        .collect().map(r => (r.getString(0), r.getLong(1))),
      documents, lambda)

  private def perplexityBigramCore(spark: SparkSession,
      vocabRows: Array[(String, Long)], documents: DataFrame,
      lambda: Double): DataFrame = {
    import spark.implicits._
    val denom: Column =
      if (vocabRows.isEmpty) lit(null).cast("double")
      else lit((vocabRows.map(_._2).sum + vocabRows.length + 1).toDouble)
    val bdenom = lit(vocabRows.length + 1L) // |V|+1, exact integer
    val vocab = vocabRows.toSeq.toDF("token", "freq")
    val docs = documents.where(col("text").isNotNull)
    val toks = TextFns.wsTokens(TextFns.foldCase(col("text")))
    val n1 = greatest(size(toks) - 1, lit(0))
    val bgs = zip_with(slice(toks, lit(1), n1), slice(toks, lit(2), n1),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    val pairs = docs.select(col("doc_id"), explode(bgs).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .where(length(col("w1")) > 0 && length(col("w2")) > 0)
    // the bigram model: vocab-restricted pair counts (≤ |V|² rows)
    val bi = pairs
      .join(broadcast(vocab.select(col("token").as("w1"))), Seq("w1"))
      .join(broadcast(vocab.select(col("token").as("w2"))), Seq("w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).cast("long").as("c12"))
    val pbi = (coalesce(col("c12"), lit(0L)) + 1).cast("double") /
      (coalesce(col("c1"), lit(0L)) + bdenom).cast("double")
    val puni = (coalesce(col("c2"), lit(0L)) + 1).cast("double") / denom
    pairs
      .join(broadcast(vocab.select(col("token").as("w1"),
        col("freq").as("c1"))), Seq("w1"), "left")
      .join(broadcast(vocab.select(col("token").as("w2"),
        col("freq").as("c2"))), Seq("w2"), "left")
      .join(broadcast(bi), Seq("w1", "w2"), "left")
      .withColumn("logp",
        log(lit(lambda) * pbi + lit(1.0 - lambda) * puni))
      .withColumn("unseen", when(col("c12").isNull, 1L).otherwise(0L))
      .groupBy(col("doc_id"))
      .agg(round(exp(-avg(col("logp"))), 4).as("perplexity_bi"),
        count(lit(1)).as("n_bigrams"),
        sum(col("unseen")).as("n_unseen"))
  }

  /** Context-window chunking: split each document into overlapping
    * `maxTokens`-token chunks (stride = maxTokens − overlap) — the step
    * between "deduped documents" and "model-ready sequences" when docs
    * exceed the training context. Pure per-row expression work (split,
    * slice, join) exploded to one output row per chunk: a scan at any
    * corpus size, no shuffle at all.
    */
  def chunkDocuments(spark: SparkSession, dir: String,
      maxTokens: Int = 64, overlap: Int = 8): DataFrame =
    chunkDocumentsFrom(Tables.documents(spark, dir), maxTokens, overlap)

  private[graft] def chunkDocumentsFrom(documents: DataFrame,
      maxTokens: Int = 64, overlap: Int = 8): DataFrame = {
    require(overlap < maxTokens, "overlap must be smaller than maxTokens")
    val stride = maxTokens - overlap
    documents
      .select(col("doc_id"), TextFns.wsTokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("n_chunks", greatest(lit(1L),
        ceil((col("n") - lit(overlap)).cast("double") / lit(stride)).cast("long")))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        array_join(slice(col("toks"),
          (col("chunk_idx") * stride + 1).cast("int"), lit(maxTokens)), " ").as("chunk_text"),
        least(lit(maxTokens.toLong), col("n") - col("chunk_idx") * stride).as("n_chunk_tokens"))
  }

  /** Train/eval contamination check (decontamination): flags training
    * documents sharing any word 8-gram with the held-out eval set (here:
    * every 10th doc) — the n-gram-overlap hygiene step run before
    * training so eval examples aren't memorized verbatim.
    *
    * Shape at scale: per-doc distinct shingles are a native one-pass
    * kernel; the candidate step is an equi-join between exploded train
    * grams and the distinct eval gram set. Distinct 8-grams are ~one per
    * token, so the eval side scales with eval token volume — no broadcast
    * hint: Catalyst/AQE broadcasts a genuinely small eval set and falls
    * back to a hash-partitioned shuffle join (grams are near-uniform
    * hash keys) when it isn't.
    *
    * The train side is bloom-pre-filtered before that join: eval gram
    * hashes aggregate into one bloom sketch (bounded bytes regardless of
    * eval volume, collected driver-side like a broadcast dim), and train
    * grams that can't be in the eval set — the overwhelming majority of
    * a 100 TB corpus — are dropped at the scan, never shuffled. False
    * positives only cost join input; the exact equi-join still decides
    * membership, so results are bit-identical with or without the sketch.
    */
  def decontaminate(spark: SparkSession, dir: String, n: Int = 8,
      bloomItems: Long = 4000000L): DataFrame =
    decontaminateFrom(Tables.documents(spark, dir), n, bloomItems)

  private[graft] def decontaminateFrom(docs: DataFrame, n: Int = 8,
      bloomItems: Long = 4000000L): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.Bridge
    val grams = docs
      .select(col("doc_id"), NearDup.wordShingles(col("text"), n).as("grams"))
    val isEval = pmod(col("doc_id"), lit(10)) === 0
    val train = grams.where(!isEval)
    val evalGrams = grams.where(isEval)
      .select(explode(col("grams")).as("g")).distinct()
    // The sketch rides in as an uncorrelated SCALAR SUBQUERY (the same
    // shape Spark's own runtime row-group filtering injects): building
    // the subquery keeps the multi-MB sketch literal out of the plan
    // string, and the one-row subquery executes with the query. Built
    // from the RAW exploded grams, not `evalGrams`: bloom insertion is
    // idempotent, so paying the distinct's shuffle before sketching
    // would buy nothing. On an empty eval set the subquery yields NULL
    // and might_contain returns NULL → the filter drops every train
    // gram, which is correct (nothing to be contaminated by).
    //
    // The sketch is SIZED from the measured eval gram volume (r20, §5):
    // a flat `bloomItems` allocation serialized a ~5 MB mostly-zero
    // bitmap into the task binary of every consuming stage (the bench's
    // "Broadcasting large task binary with size 7.0 MiB" triplets were
    // this operator). The occurrence count is a cheap upper bound on the
    // distinct gram count, so the configured `bloomItems` becomes the
    // CEILING (the 100 TB allocation), not the every-time cost; the
    // false-positive guarantee holds whenever items ≥ true cardinality,
    // and the sketch only prefilters — the exact equi-join decides
    // membership, so results are bit-identical at ANY sketch size.
    val nEvalGrams = grams.where(isEval)
      .select(explode(col("grams")).as("g")).count()
    val items = math.min(bloomItems, math.max(1024L, nEvalGrams))
    val bloomDf = grams.where(isEval)
      .select(explode(col("grams")).as("g"))
      .agg(Bridge.column(new BloomFilterAggregate(
        Bridge.expression(xxhash64(col("g"))), items)
        .toAggregateExpression()).as("bf"))
    val trainGrams = train.select(col("doc_id"), explode(col("grams")).as("g"))
    val candGrams = trainGrams.where(Bridge.column(BloomFilterMightContain(
      Bridge.scalarSubquery(bloomDf),
      Bridge.expression(xxhash64(col("g"))))))
    // distinct BEFORE the count: n_shared_ngrams is the number of DISTINCT
    // contaminated grams per train doc (the oracle's SELECT DISTINCT
    // (doc_id, g)), not occurrence multiplicity — a gram repeated within a
    // doc, or a duplicated train row, must not inflate it. Placed after
    // the bloom prefilter, where ~99% of train grams are already gone, so
    // the dedup shuffles only candidate grams.
    val shared = candGrams.distinct()
      .join(evalGrams, Seq("g"))
      .groupBy(col("doc_id")).agg(count("*").as("n_shared"))
    train.select(col("doc_id"))
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared_ngrams"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("is_contaminated"))
  }

  /** Bloom geometry for [[decontaminateBloom]]: 2²¹ bit positions × 4
    * draws holds the false-positive rate ≈(1−e^(−4·n/m))⁴ under ~1e-3
    * at 10⁵ eval grams; both constants reach the oracle SQL, so the
    * maybe-set is reproducible bit-for-bit. */
  private[graft] val DecontBloomBits = 1L << 21
  private[graft] val DecontBloomHashes = 4

  /** Standalone DETERMINISTIC Bloom-filter decontamination — the
    * one-sided screening form of [[decontaminate]]: the eval split's
    * n-grams set k md5-salted bit positions; a train gram is
    * "maybe contaminated" iff ALL k of its positions are set. No exact
    * verification pass — the output is the Bloom's own maybe-set, with
    * its one-sided guarantee (no false negatives: every truly shared
    * gram flags; a bounded false-positive rate flags extra — spec'd
    * against the exact operator). Where [[decontaminate]] uses Spark's
    * native BloomFilterAggregate as a PREFILTER and then verifies
    * exactly, this operator is the pure-sketch regime a 100 TB pipeline
    * runs when the eval suite must be joined against every candidate
    * batch and the exact gram join is the cost being bought out: the
    * filter is ~m bits of state, the train side never joins gram TEXT
    * at all — only integer bit positions against a broadcast ≤ k·|eval
    * grams| bit relation.
    *
    * Determinism: positions are the pinned md5 family (j-salted draws,
    * UNSIGNED mod m — [[Sketches.md5mod]]), so the maybe-set is a pure
    * function of the corpus, replayed exactly by the SQL oracle.
    * Intra-gram draw collisions need no special case: the all-k-set
    * test counts set DRAWS, and a duplicated position is either set for
    * both draws or for neither. */
  def decontaminateBloom(spark: SparkSession, dir: String, n: Int = 8,
      mBits: Long = DecontBloomBits,
      k: Int = DecontBloomHashes): DataFrame =
    decontaminateBloomFrom(Tables.documents(spark, dir), n, mBits, k)

  private[graft] def decontaminateBloomFrom(docs: DataFrame, n: Int,
      mBits: Long, k: Int): DataFrame = {
    val grams = docs.select(col("doc_id"),
      explode(NearDup.wordShingles(col("text"), n)).as("g"))
    val isEval = pmod(col("doc_id"), lit(10)) === 0
    def positions(g: Column): Column =
      array((0 until k).map(j =>
        Sketches.md5mod(concat(lit(s"b$j:"), g), mBits)): _*)
    // the filter itself: distinct set bit positions of the eval grams —
    // ≤ k·|eval grams| longs, broadcast to every train partition
    val evalBits = grams.where(isEval)
      .select(explode(positions(col("g"))).as("bit")).distinct()
    val hits = grams.where(!isEval).distinct()
      .select(col("doc_id"), col("g"), explode(positions(col("g"))).as("bit"))
      .join(broadcast(evalBits), Seq("bit"))
      .groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("n_set"))
      .where(col("n_set") === k)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_maybe"))
    docs.where(!isEval).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_maybe"), lit(0L)).as("n_maybe_ngrams"),
        (coalesce(col("n_maybe"), lit(0L)) > 0).as("is_flagged"))
  }

  /** Cross-document repeated-span audit — the gram-granular form of
    * exact substring deduplication (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better": repeated ≥N-token
    * spans are what LMs memorize verbatim). Per document: how many of
    * its positional word `n`-grams also occur in ≥ `minDocs` distinct
    * documents, the covered fraction, and a flag when the majority of
    * the doc is repeated material (the "remove or trim" candidate set).
    *
    * POSITIONAL grams (duplicates kept — [[NearDup.wordShinglesAll]]),
    * not the distinct gram set: the fraction is over span positions,
    * matching the paper's token-coverage notion. Exactness contract:
    * unlike the MinHash family this is not an approximation — a gram is
    * counted iff it literally occurs elsewhere — so the whole operator
    * replays as SQL (integer counts; the flag compares the RAW exact
    * rational n_dup/n_grams, identical IEEE division both engines).
    *
    * Scale shape: the gram relation is corpus-sized (one per token) and
    * shuffles twice — (gram, doc) distinct → per-gram distinct-doc
    * count, then a left-semi join of positional grams against the
    * ≥minDocs gram set (equi-join on near-uniform keys; AQE broadcasts
    * it when the corpus is clean and it is tiny). That is the honest
    * cost of EXACT span dedup distributed — the same linear-shuffle
    * shape as [[decontaminate]] minus its bloom (there is no small side
    * to sketch: the dup-gram set is the unknown being computed). Short
    * docs (< n tokens) collapse to one whole-doc gram (the
    * [[NearDup.wordShingles]] rule), so byte-identical short docs still
    * count each other as duplicated spans. */
  def dedupSpans(spark: SparkSession, dir: String, n: Int = 15,
      minDocs: Int = 2, flagFrac: Double = 0.5): DataFrame =
    dedupSpansFrom(Tables.documents(spark, dir), n, minDocs, flagFrac)

  private[graft] def dedupSpansFrom(docs: DataFrame, n: Int = 15,
      minDocs: Int = 2, flagFrac: Double = 0.5): DataFrame = {
    // ONE corpus pass: the positional gram stream collapses to
    // (doc, gram, positions) and BOTH consumers (the per-gram doc
    // counts and the scoring join's probe side) read that aggregated
    // relation. The lineage is cut with a lazy localCheckpoint (the
    // cmsWithThreshold pattern): column pruning specializes each
    // consumer's copy of the aggregate, so AQE exchange reuse does NOT
    // fire on the raw plan and the corpus-sized explode would run twice
    // — 2× the dominant cost at 100 TB. The checkpoint stores exactly
    // what the shared exchange would have (the (doc, g, c) rows), no
    // extra job (lazy), plan-pinned to one documents scan.
    val dg = docs.where(col("text").isNotNull)
      .select(col("doc_id"),
        explode(NearDup.wordShinglesAll(col("text"), n)).as("g"))
      .groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).cast("long").as("c"))
      .localCheckpoint(false)
    // dg is distinct on (doc, g) by construction, so the per-gram row
    // count IS the distinct-doc count
    val gd = dg.groupBy(col("g")).agg(count(lit(1)).cast("long").as("nd"))
    val dup = sum(when(col("nd") >= minDocs, col("c")).otherwise(lit(0L)))
      .cast("long")
    val frac = col("n_dup_grams").cast("double") / col("n_grams").cast("double")
    dg.join(gd, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_grams"), dup.as("n_dup_grams"))
      .select(col("doc_id"), col("n_grams"), col("n_dup_grams"),
        round(frac, 6).as("dup_fraction"),
        (frac >= lit(flagFrac)).as("is_flagged"))
  }

  /** DESTRUCTIVE span dedup — Lee et al. 2021's actual intervention,
    * where [[dedupSpans]] is the non-destructive audit: every token
    * covered by a word `n`-gram that occurs in ≥ `minDocs` distinct
    * documents is REMOVED (from every occurrence, in every document —
    * the paper's exact-substring rule at gram granularity), and the
    * survivors reassemble in original token order. A doc whose every
    * token is repeated material survives as an empty string — dropping
    * is a downstream predicate, the [[TextOps.dedupLines]] contract.
    *
    * Span identity is the folded-token gram (the audit's identity);
    * removal excises the ORIGINAL-case tokens at the covered positions —
    * the simple fold is 1:1 per token, so positions align by
    * construction. Reassembly joins with single spaces (original
    * whitespace is not a token property), mirrored in the oracle.
    *
    * Scale shape, one gram pass: positional grams collapse to a
    * FIXED-WIDTH (doc_id, start, gram-hash) relation and the lineage is
    * cut there with a lazy localCheckpoint — both consumers (the
    * dup-gram counting side and the coverage probe side) read it, so
    * the corpus-sized gram explode runs ONCE and raw gram text never
    * shuffles or persists (24 bytes/row where the audit's exact-text
    * relation is unbounded — the [[TextOps.dedupLines]] hash-identity
    * trade: a 2⁻⁶⁴-per-pair xxhash64 collision removes an innocent
    * span, bought for a pure fixed-width exchange at 100 TB; the SQL
    * oracle replays with exact gram text, equivalent absent collisions).
    * Coverage positions explode only from DUP grams (clean corpora:
    * few), distinct per (doc, pos); the removal itself is a left-anti
    * join of the token stream against them, and only the ordered
    * reassembly shuffles token text — the same unavoidable doc_id-keyed
    * shuffle corpus_shuffle pays. Short docs (< n tokens) collapse to
    * one whole-doc gram covering every position (the audit's rule), so
    * byte-identical short docs erase each other entirely. */
  def dedupSpansRemoval(spark: SparkSession, dir: String, n: Int = 15,
      minDocs: Int = 2): DataFrame =
    dedupSpansRemovalFrom(Tables.documents(spark, dir), n, minDocs)

  private[graft] def dedupSpansRemovalFrom(docs: DataFrame, n: Int = 15,
      minDocs: Int = 2): DataFrame = {
    val d = docs.where(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    // ONE corpus gram pass, fixed-width, lineage-cut (see scaladoc)
    val pg = d.select(col("doc_id"),
        posexplode(NearDup.wordShinglesAll(col("text"), n)).as(Seq("i", "g")))
      .select(col("doc_id"), col("i"), xxhash64(col("g")).as("hk"))
      .localCheckpoint(false)
    val dup = pg.select(col("doc_id"), col("hk")).distinct()
      .groupBy(col("hk")).agg(count(lit(1)).as("nd"))
      .where(col("nd") >= minDocs)
      .select(col("hk"))
    // a dup gram starting at i covers tokens i..i+n−1; the whole-doc
    // gram of a short doc covers past its end — those positions simply
    // match no token row, so no clamp is needed
    val covered = pg.join(dup, Seq("hk"))
      .select(col("doc_id"),
        explode(sequence(col("i").cast("long"),
          col("i").cast("long") + lit(n - 1).cast("long"))).as("pos"))
      .distinct()
    // ONE token pass: each token row marks whether a dup span covers it
    // (left join against the coverage), and a single aggregation emits
    // the raw count, the kept count, and the reassembly — collect_list
    // skips the NULL `when` branch, so covered tokens never enter the
    // sort buffer. Every doc has ≥1 token row (wsTokens of "" is one
    // empty token), so no doc needs re-surfacing through a second scan.
    val toks = d.select(col("doc_id"),
        posexplode(TextFns.wsTokens(col("text"))).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
    toks.join(covered.withColumn("cov", lit(1)), Seq("doc_id", "pos"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(when(col("cov").isNull, 1L).otherwise(0L)).cast("long")
          .as("n_tokens_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("cov").isNull, struct(col("pos"), col("tok"))))),
            x => x.getField("tok")), " ").as("clean_text"))
  }

  /** Salted two-phase top-N per stratum — the shared engine of
    * [[sampleExactStratified]] and [[sampleMixture]]. Strata are FEW and
    * HUGE, so a single per-stratum rank window would sort a whole stratum
    * on one reducer; instead a salted local top-N bounds every reducer to
    * stratum/`salts`, then the global rank runs on ≤ salts×limit rows per
    * stratum. `limit` may be per-row (e.g. a per-stratum map lookup) —
    * the local phase caps at each row's OWN stratum limit, so minor
    * strata never ride a larger stratum's cap through the global window.
    * `uniqueId` must be a unique row id (deterministic total order);
    * emits `rk` = 1..limit within each stratum.
    */
  private def saltedTopNPerStratum(df: DataFrame, stratum: Column,
      orderKey: Column, limit: Column, salts: Int,
      uniqueId: Column): DataFrame = {
    val wLocal = Window.partitionBy(stratum, col("__salt"))
      .orderBy(orderKey, uniqueId)
    val wGlobal = Window.partitionBy(stratum).orderBy(orderKey, uniqueId)
    df.withColumn("__salt", pmod(xxhash64(uniqueId), lit(salts)))
      .withColumn("__lrk", row_number().over(wLocal))
      .where(col("__lrk") <= limit)
      .withColumn("rk", row_number().over(wGlobal).cast("long"))
      .where(col("rk") <= limit)
      .drop("__salt", "__lrk")
  }

  /** Temperature-scaled mixture sampling (τ-sampling — the multilingual
    * mixing rule of mC4/mT5, Xue et al. 2021 §3.1): per-source targets
    * come from largest-remainder apportionment of `total` over
    * token-count^(1/τ) weights. τ > 1 flattens the mixture toward
    * uniform — small sources are up-sampled relative to their share —
    * without the hard caps of [[budgetWaterfill]] or the hand-set
    * weights of [[sampleMixture]]; the three operators are the canonical
    * mixing-strategy family.
    *
    * τ is restricted to {2, 4} (weights via sqrt / sqrt∘sqrt): IEEE-754
    * sqrt is CORRECTLY ROUNDED on every engine where pow() is not — an
    * arbitrary-τ pow() carries a ≤1-ulp cross-engine wobble that could
    * flip a floor boundary or a remainder rank, and this allocation is
    * exact by contract. The weight normalizer folds in pinned
    * (NULL-last, source) order; the apportionment — floor(w/W·total),
    * leftover slots to the largest fractional remainders, source
    * tie-break — runs IN-PLAN over the |sources|-row relation (the
    * budget_waterfill shape, never a driver collect); doc picking is the
    * shared [[saltedTopNPerStratum]] engine on md5(doc_id) order with
    * each stratum's target joined null-safely (a NULL source is a real
    * stratum). Token counts, the pool, and the targets all read one
    * text-non-null corpus pass. */
  def sampleTemperature(spark: SparkSession, dir: String, tau: Int = 2,
      total: Int = 60, salts: Int = 32): DataFrame =
    sampleTemperatureFrom(Tables.documents(spark, dir), tau, total, salts)

  private[graft] def sampleTemperatureFrom(documents: DataFrame, tau: Int,
      total: Int, salts: Int = 32): DataFrame = {
    require(tau == 2 || tau == 4,
      s"tau must be 2 or 4 (sqrt-expressible — pow() is not correctly " +
        s"rounded cross-engine), got $tau")
    require(total >= 0, "non-negative total")
    val docs = documents.where(col("text").isNotNull)
    val toks = size(TextFns.wsTokens(TextFns.foldCase(col("text"))))
      .cast("long")
    val cnts = docs.groupBy(col("source")).agg(sum(toks).as("cnt"))
    val wCol = if (tau == 2) sqrt(col("cnt").cast("double"))
      else sqrt(sqrt(col("cnt").cast("double")))
    val weighted = cnts.select(col("source"), wCol.as("w"))
    val wsum = broadcast(weighted.agg(
      aggregate(transform(sort_array(collect_list(struct(
        col("source").isNull.cast("int").as("z"), col("source").as("s"),
        col("w").as("w")))), p => p.getField("w")),
        lit(0.0), (a, x) => a + x).as("wsum")))
    val exact = weighted.crossJoin(wsum)
      .select(col("source"),
        (col("w") / col("wsum") * lit(total.toDouble)).as("exact"))
      .withColumn("fl", floor(col("exact")).cast("long"))
    val byRem = Window.partitionBy(lit(0)).orderBy(
      (col("exact") - col("fl").cast("double")).desc,
      col("source").isNull.cast("int"), col("source"))
    val targets = exact
      .withColumn("lo",
        lit(total.toLong) - sum(col("fl")).over(Window.partitionBy(lit(0))))
      .withColumn("brk", row_number().over(byRem).cast("long"))
      .select(col("source"),
        (col("fl") + when(col("brk") <= col("lo"), 1L).otherwise(0L))
          .as("target"))
    val pool = docs.select(col("doc_id"), col("source"))
      .join(broadcast(targets.withColumnRenamed("source", "__src")),
        col("source") <=> col("__src"))
      .drop("__src")
    saltedTopNPerStratum(pool, col("source"),
      md5(col("doc_id").cast("string")), col("target"), salts,
      col("doc_id"))
      .select(col("doc_id"), col("source"), col("target"), col("rk"))
  }

  /** Exact-N deterministic sample per stratum: the eval-set construction
    * primitive — every event_type contributes exactly `nPer` rows (fewer
    * if the stratum is smaller), chosen by md5(event_id) order so the
    * "random" sample is engine-stable and reproducible forever.
    */
  def sampleExactStratified(spark: SparkSession, dir: String,
      nPer: Int = 100, salts: Int = 32): DataFrame = {
    val tsUs = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    saltedTopNPerStratum(ev, col("event_type"),
      md5(col("event_id").cast("string")), lit(nPer), salts, col("event_id"))
      .select(col("event_id"), date_format(col("ts"), tsUs).as("ts_us"),
        col("user_id"), col("event_type"), col("value"), col("rk"))
  }

  /** Mixture sampling: build a training mix with target per-source
    * proportions — the "50% web / 30% books / 20% code" data-mixing step
    * of large-corpus training runs. Per-source targets come from
    * largest-remainder apportionment of `total` over the weights, so they
    * always sum to exactly `total` (independent `round()` per source can
    * over- or undershoot; a near-zero-weight source may get 0 docs).
    * Sources contribute fewer only if the stratum itself is smaller,
    * chosen by md5(doc_id) order so the mix is engine-stable and
    * reproducible forever.
    *
    * Same scale shape as [[sampleExactStratified]] (shared
    * [[saltedTopNPerStratum]] engine), with the per-source target as the
    * limit expression — each source's local phase caps at its OWN target,
    * so a 1%-weight source never shuffles the 98%-source's cap worth of
    * rows into the global rank. Targets ride as a map literal; unlisted
    * sources are filtered at the scan (predicate pushdown).
    */
  def sampleMixture(spark: SparkSession, dir: String,
      weights: Map[String, Double] =
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2),
      total: Int = 40, salts: Int = 32): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0), "positive weights")
    require(total >= 0, "non-negative total")
    val wSum = weights.values.sum
    // largest-remainder apportionment: floor each source's exact share,
    // then hand the leftover slots to the largest fractional remainders
    // (source name breaks ties deterministically) — targets sum to
    // `total` by construction
    val exact = weights.toSeq.sortBy(_._1).map { case (s, w) => (s, w / wSum * total) }
    val floors = exact.map { case (s, x) => (s, x.toLong) }
    val leftover = (total - floors.map(_._2).sum).toInt
    val bonus = exact.map { case (s, x) => (s, x - x.toLong) }
      .sortBy { case (s, f) => (-f, s) }.take(leftover).map(_._1).toSet
    val targets: Map[String, Long] =
      floors.map { case (s, n) => s -> (n + (if (bonus(s)) 1L else 0L)) }.toMap
    val docs = Tables.documents(spark, dir)
      .where(col("source").isin(weights.keys.toSeq: _*))
    saltedTopNPerStratum(docs, col("source"),
      md5(col("doc_id").cast("string")),
      try_element_at(typedLit(targets), col("source")), salts, col("doc_id"))
      .select(col("doc_id"), col("source"), col("rk"))
  }

  /** Stratified sample: the same fraction applies uniformly within every
    * event_type level, so rare types survive sampling in expectation.
    * Membership is a seeded hash threshold on the row key —
    * md5_number_lower(seed:event_id) mod 1000 < fraction·1000 (unsigned) — which
    * is (a) deterministic and ENGINE-INDEPENDENT (the SQL oracle replays
    * the exact member set, unlike Spark's internal Bernoulli sampler),
    * (b) a pure codegen'd scan predicate with no shuffle, and (c) free of
    * the distinct-types driver collect the sampleBy formulation needed.
    * ts is emitted as formatted text so the sampled relation is directly
    * hash-comparable. */
  def stratifiedSample(spark: SparkSession, dir: String,
      fraction: Double = 0.1, seed: Long = 42L): DataFrame = {
    val member = org.apache.spark.sql.graft.Bridge.column(
      graft.expressions.Md5LowerMod(org.apache.spark.sql.graft.Bridge.expression(
        concat(lit(s"$seed:"), col("event_id").cast("string"))), 1000)) <
      (fraction * 1000).toInt
    Tables.events(spark, dir)
      .where(member)
      .select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_us"),
        col("user_id"), col("event_type"), col("value"), col("props"))
  }

  /** Deterministic sharded corpus shuffle — the global reorder a training
    * run needs before sequence packing, so batch order doesn't inherit
    * source/topic/time correlation from ingestion order. Seeded hash
    * order (md5 of seed:id), reproducible across runs and engines; the
    * first `shardChars` hex chars of the key shard the corpus for a
    * parallel writer (16^shardChars shards), and each doc gets its
    * position WITHIN its shard.
    *
    * Scale shape: the only shuffle is the per-shard position window, and
    * its partition key has 16^shardChars values — set shardChars so
    * shards ≈ writer parallelism (3 → 4096). A global position would be
    * a one-reducer prefix sum; per-shard position is what a sharded
    * writer consumes anyway. The hash order itself needs no pre-sort:
    * writers range-read their shard sorted by key.
    */
  def corpusShuffle(spark: SparkSession, dir: String, seed: String = "graft",
      shardChars: Int = 2): DataFrame = {
    val byShard = Window.partitionBy(col("shard"))
      .orderBy(col("shuffle_key"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(concat_ws(":", lit(seed), col("doc_id").cast("string")))
          .as("shuffle_key"))
      .withColumn("shard", substring(col("shuffle_key"), 1, shardChars))
      .withColumn("pos", row_number().over(byShard).cast("long"))
  }

  /** Corpus bigram counts — the statistic behind bigram LMs, collocation
    * mining, and tokenizer-merge candidates (the unigram side is
    * [[buildVocab]]). One pass: each doc zips its token array with its
    * own tail (no self-join on positions — that would shuffle the token
    * stream twice), then a map-side-combined count; the top-N cut is a
    * deterministic total order so ties at the boundary are stable. */
  def bigramCounts(spark: SparkSession, dir: String, topN: Int = 500): DataFrame = {
    val toks = TextFns.wsTokens(TextFns.foldCase(col("text")))
    val n1 = greatest(size(toks) - 1, lit(0))
    val bgs = zip_with(slice(toks, lit(1), n1), slice(toks, lit(2), n1),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    Tables.documents(spark, dir)
      .where(col("text").isNotNull)
      .select(explode(bgs).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count("*").as("n"))
      .orderBy(col("n").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** Per-(source, lang) corpus profile — the "what is in my corpus"
    * report a training-mix decision starts from: doc counts, token
    * volume, char-length extremes. One map-side-combined groupBy over a
    * scan; avg is derived from the exact integer sum on both engines so
    * the doubles agree bit-for-bit. */
  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .where(col("text").isNotNull)
      .select(col("source"), col("lang"),
        TextFns.wsTokenCount(col("text")).as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"))
      .groupBy("source", "lang")
      .agg(count("*").as("n_docs"),
        sum("n_tokens").cast("long").as("total_tokens"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"))
      .select(col("source"), col("lang"), col("n_docs"), col("total_tokens"),
        round(col("total_tokens").cast("double") / col("n_docs"), 4).as("avg_tokens"),
        col("min_chars"), col("max_chars"))

  /** Padding-efficiency audit for length-bucketed batching: group docs
    * into token-length buckets of `width` and report, per bucket, the
    * tokens a longest-in-bucket dynamic-padding batcher would waste.
    * The pre-flight that decides bucket width before a training run —
    * too wide wastes compute on pad tokens, too narrow starves batches.
    * One map-side-combined groupBy over a scan; the bucket relation is
    * max_tokens/width rows. */
  def lengthBuckets(spark: SparkSession, dir: String,
      width: Int = 32): DataFrame = {
    val padded = col("n_docs") * col("max_tokens")
    Tables.documents(spark, dir)
      .where(col("text").isNotNull)
      .select(TextFns.wsTokenCount(col("text")).as("n_tokens"))
      .withColumn("bucket", floor(col("n_tokens") / lit(width)).cast("long"))
      .groupBy(col("bucket"))
      .agg(count("*").as("n_docs"),
        min("n_tokens").cast("long").as("min_tokens"),
        max("n_tokens").cast("long").as("max_tokens"),
        sum("n_tokens").cast("long").as("__sum"))
      .select(col("bucket"), col("n_docs"), col("min_tokens"), col("max_tokens"),
        (padded - col("__sum")).cast("long").as("waste_tokens"),
        when(padded > 0,
          round((padded - col("__sum")).cast("double") / padded.cast("double"), 6))
          .otherwise(lit(0.0)).as("waste_frac"))
  }

  /** Per-document TF-IDF keywords — the classic "what is this document
    * about" signal used for corpus browsing, topic labeling, and
    * quality-filter features. Smooth IDF (tf · ln(1 + N/df)) so a term
    * present in every document still scores finitely.
    *
    * Scale shape: explode → one map-side-combined groupBy(doc, term) for
    * TF; the document frequency is a map-side-combined
    * `groupBy(term).count()` (one row per distinct term) shuffle-equi-
    * joined back onto the tf relation — no vocab-sized join side to
    * broadcast (a 100 TB corpus's distinct-term relation is 10⁸⁺ rows;
    * broadcasting it would be the classic toy-scale trap), and no
    * `count over (partition by term)` window either: a window would
    * buffer a stopword's ENTIRE doc set in one un-splittable task at
    * 100×, whereas a hot term key in an equi-join is AQE-skew-split
    * eligible. The corpus size N is a broadcast 1-row aggregate (the
    * skew_profile pattern). Two pair-relation shuffles total (by term
    * for the df join, then by doc for the top-k window) — linear in
    * corpus size, no driver collect.
    *
    * Ranking uses the ROUNDED score so the tie order is engine-invariant
    * (an unrounded double tie could rank differently than its rounded
    * oracle twin); (score desc, term) is a total order within a doc. */
  def tfidfKeywords(spark: SparkSession, dir: String, topK: Int = 5): DataFrame =
    tfidfKeywordsFrom(Tables.documents(spark, dir), topK)

  private[graft] def tfidfKeywordsFrom(documents: DataFrame, topK: Int = 5): DataFrame = {
    val docs = documents.where(col("text").isNotNull)
    val tf = docs
      .select(col("doc_id"),
        explode(TextFns.wsTokens(TextFns.foldCase(col("text")))).as("term"))
      .where(length(col("term")) > 0)
      .groupBy("doc_id", "term").agg(count("*").as("tf"))
    val df = tf.groupBy("term").agg(count("*").cast("long").as("df"))
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf
      .join(df, "term")
      .crossJoin(broadcast(docs.agg(count("*").as("n_docs"))))
      .withColumn("score",
        round(col("tf").cast("double") *
          log(lit(1.0) +
            col("n_docs").cast("double") / col("df").cast("double")), 6))
      .withColumn("rk", row_number().over(byDoc))
      .where(col("rk") <= topK)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score"), col("rk").cast("long").as("rk"))
  }

  /** PMI-ranked collocations — pointwise mutual information over the
    * corpus bigram relation: ln(p(w1,w2) / (p(w1)·p(w2))) with marginals
    * taken IN bigram space (n1 = w1-as-first-word count, n2 =
    * w2-as-second), so the statistic is self-consistent with its own
    * denominator and needs exactly one corpus pass. The `minCount` floor
    * is the standard guard against the PMI low-frequency pathology (a
    * hapax pair otherwise maxes the score).
    *
    * Scale shape: the corpus is scanned once (zip-with-tail, the
    * bigram_counts kernel) into one map-side-combined groupBy; both
    * marginals are windows over that distinct-bigram relation (bounded by
    * distinct pairs, not corpus tokens) and the grand total is a
    * broadcast 1-row aggregate. The top-N cut is a distributed
    * TakeOrdered on a rounded, totally-ordered key. */
  def bigramPmi(spark: SparkSession, dir: String, minCount: Int = 5,
      topN: Int = 200): DataFrame =
    bigramPmiFrom(Tables.documents(spark, dir), minCount, topN)

  private[graft] def bigramPmiFrom(documents: DataFrame, minCount: Int = 5,
      topN: Int = 200): DataFrame = {
    val toks = TextFns.wsTokens(TextFns.foldCase(col("text")))
    val n1 = greatest(size(toks) - 1, lit(0))
    val bgs = zip_with(slice(toks, lit(1), n1), slice(toks, lit(2), n1),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    val pairs = documents
      .where(col("text").isNotNull)
      .select(explode(bgs).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count("*").as("n12"))
    val total = pairs.agg(sum("n12").cast("long").as("t"))
    pairs
      // marginal windows over the DISTINCT-pair relation are safe where
      // tfidf's df window was not: a partition here holds at most
      // |vocab| rows (the distinct continuations of one word), bounded
      // by vocabulary — NOT by corpus size like the (doc, term) relation
      .withColumn("n1", sum("n12").over(Window.partitionBy(col("w1"))).cast("long"))
      .withColumn("n2", sum("n12").over(Window.partitionBy(col("w2"))).cast("long"))
      .crossJoin(broadcast(total))
      .where(col("n12") >= minCount)
      .select(col("w1"), col("w2"), col("n12"), col("n1"), col("n2"),
        round(log((col("n12").cast("double") * col("t").cast("double")) /
          (col("n1").cast("double") * col("n2").cast("double"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** Per-source token-budget enforcement — the form training mixes are
    * actually specified in (tokens, not docs: "20 B web tokens, 5 B
    * code"): within each source, docs fill the budget greedily in the
    * md5-order shuffle (the engine's deterministic "random" order, same
    * family as the samplers/splits) and the kept set is the maximal
    * prefix whose cumulative token count stays ≤ budget. The token-level
    * twin of sample_mixture's doc-count targets.
    *
    * Scale shape: an exact per-source prefix sum CANNOT be one window
    * over the source partition (a 100 TB source's docs would sort on one
    * reducer) — this uses the value_percentiles two-phase decomposition:
    * the md5 key's top bits split each source into 64 ORDER-ALIGNED
    * buckets, a window ranks/sums within (source, bucket) — splittable,
    * 1/64th partitions — and per-bucket totals (dimension-sized: sources
    * × 64 rows) provide the offsets; integer sums make the two-phase
    * result EXACTLY the straight window the oracle runs. NULL-source is
    * a real group (null-safe join, the value_percentiles lesson); NULL
    * text carries no tokens and is filtered (mirrored). */
  def corpusTokenBudget(spark: SparkSession, dir: String,
      budget: Long = 800L): DataFrame =
    corpusTokenBudgetFrom(Tables.documents(spark, dir), budget)

  private[graft] def corpusTokenBudgetFrom(documents: DataFrame,
      budget: Long): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    val M = graft.expressions.SigUtil.P // 2^61 − 1: the md5-family modulus
    val Q = 36028797018963968L // 2^55: mk DIV Q ∈ [0, 63], monotone in mk
    val mk = Bridge.column(graft.expressions.Md5LowerMod(
      Bridge.expression(col("doc_id").cast("string")), M))
    val base = documents.where(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        TextFns.wsTokenCount(col("text")).as("n_tokens"), mk.as("mk"))
      .withColumn("bucket", expr(s"mk DIV ${Q}L"))
    val wLoc = Window.partitionBy("source", "bucket")
      .orderBy(col("mk"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wRk = Window.partitionBy("source", "bucket")
      .orderBy(col("mk"), col("doc_id"))
    val local = base
      .withColumn("lcum", sum("n_tokens").over(wLoc))
      .withColumn("lrk", row_number().over(wRk).cast("long"))
    val wOff = Window.partitionBy("source").orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = base.groupBy("source", "bucket")
      .agg(sum("n_tokens").as("btok"), count(lit(1)).cast("long").as("bcnt"))
      .withColumn("toff", coalesce(sum("btok").over(wOff), lit(0L)))
      .withColumn("roff", coalesce(sum("bcnt").over(wOff), lit(0L)))
      .select(col("source").as("o_source"), col("bucket").as("o_bucket"),
        col("toff"), col("roff"))
    local
      // the offsets side is dimension-sized (sources × 64) by
      // construction, but its size ESTIMATE inherits the corpus-sized
      // child — hint the broadcast or the pre-AQE planner sort-merges
      // the whole windowed relation a second time
      .join(broadcast(offs), col("source") <=> col("o_source") &&
        col("bucket") === col("o_bucket"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (col("toff") + col("lcum")).cast("long").as("cum_tokens"),
        (col("roff") + col("lrk")).cast("long").as("rk"))
      .where(col("cum_tokens") <= budget)
  }

  /** UniMax-style water-filling budget allocation (Chung et al. 2023,
    * "UniMax: Fairer and More Effective Language Sampling"): given each
    * source's token capacity and a total token budget, allocate as
    * UNIFORMLY as possible subject to capacities — every source gets
    * min(capacity, level), where the water level solves
    * Σ min(cap_i, level) = budget. Small sources keep everything;
    * large sources are capped at the shared level — the principled
    * alternative to proportional mixing when over-sampling big web
    * sources hurts (the allocation this emits is what
    * [[corpusTokenBudget]] then enforces per source).
    *
    * Closed form over capacity-sorted sources: with the k smallest
    * saturated, level_k = (budget − S_k)/(m − k); the correct segment is
    * the first rank where level ≤ its own capacity. Everything after
    * the capacity aggregation is DIMENSION-sized (|sources| rows): the
    * rank/prefix windows run on one constant partition bounded by the
    * source count, and the chosen level rides back as a broadcast 1-row
    * aggregate. Determinism: capacities are exact integer sums; the
    * level is one IEEE division of integers, identical both engines;
    * window order (cap, source NULLS FIRST) is pinned — Spark's
    * ascending default — and a NULL source is a real group. A budget
    * ≥ total capacity leaves every source saturated (NULL level, the
    * oracle's scalar-subquery-over-empty semantics). */
  def budgetWaterfill(spark: SparkSession, dir: String,
      budget: Long = 26000L): DataFrame =
    budgetWaterfillFrom(Tables.documents(spark, dir), budget)

  private[graft] def budgetWaterfillFrom(documents: DataFrame,
      budget: Long): DataFrame = {
    val caps = documents.where(col("text").isNotNull)
      .groupBy(col("source"))
      .agg(sum(TextFns.wsTokenCount(col("text"))).cast("long").as("cap"))
    val byCap = Window.partitionBy(lit(0))
      .orderBy(col("cap"), col("source"))
    val ranked = caps
      .withColumn("rk", row_number().over(byCap).cast("long"))
      .withColumn("scum",
        sum(col("cap")).over(byCap.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("m", count(lit(1)).over(Window.partitionBy(lit(0))))
      .withColumn("lvl",
        (lit(budget).cast("double") - coalesce(col("scum"), lit(0L)).cast("double")) /
          (col("m") - col("rk") + 1).cast("double"))
    // the first rank whose candidate level fits under its own capacity
    // starts the unsaturated segment; no such rank → budget covers all
    val sel = broadcast(ranked
      .where(col("lvl") <= col("cap").cast("double"))
      .agg(min(struct(col("rk"), col("lvl"))).as("s"))
      .select(col("s.lvl").as("level")))
    ranked.crossJoin(sel)
      .select(col("source"), col("cap").as("cap_tokens"),
        round(when(col("level").isNull, col("cap").cast("double"))
          .otherwise(least(col("cap").cast("double"), col("level"))), 6)
          .as("alloc_tokens"),
        round(col("level"), 6).as("level"),
        coalesce(col("level").isNull ||
          col("cap").cast("double") <= col("level"), lit(false))
          .as("is_saturated"))
  }

  /** Weighted sampling WITHOUT replacement, probability ∝ weight —
    * Efraimidis–Spirakis A-ES in its exponential-race form: each doc
    * draws a deterministic uniform u ∈ (0,1] from the pinned md5 family
    * and races with key −ln(u)/w; the k SMALLEST keys are exactly a
    * weight-proportional sample without replacement (Efraimidis &
    * Spirakis 2006). The curation knob behind "sample 10k docs ∝
    * quality/length" that the count-based samplers (sample_stratified /
    * sample_mixture) can't express. Weight = n_chars here (doc mass);
    * non-positive or NULL weights are never sampled (w ≤ 0 has
    * probability 0; the filter is mirrored in the oracle).
    *
    * Because the "randomness" is the md5 family, the whole draw replays
    * in SQL: u = (double(md5 mod 2⁶¹−1) + 1) / double(2⁶¹+1), key op
    * order pinned, rank on the RAW key with doc_id ties (the seeded-
    * family rule — never rank on a re-rounded float).
    *
    * Scale shape: one scan computing a codegen'd hash + two float ops
    * per row, then a distributed TakeOrdered on (key, doc_id) — no
    * shuffle of the corpus, no window over it; the rk window runs on
    * ≤ k rows. */
  def sampleWeighted(spark: SparkSession, dir: String, k: Int = 100)
      : DataFrame =
    sampleWeightedFrom(Tables.documents(spark, dir), k)

  private[graft] def sampleWeightedFrom(documents: DataFrame, k: Int)
      : DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    val M = graft.expressions.SigUtil.P // 2^61 − 1, the md5-mod modulus
    val M2 = M + 2 // u stays strictly positive, < 1
    val hm = Bridge.column(graft.expressions.Md5LowerMod(
      Bridge.expression(col("doc_id").cast("string")), M))
    val u = (hm.cast("double") + lit(1.0)) / lit(M2).cast("double")
    val key = (lit(0.0) - log(u)) / col("n_chars").cast("double")
    documents
      .where(col("n_chars").isNotNull && col("n_chars") > 0)
      .select(col("doc_id"), col("n_chars").cast("long").as("weight"),
        key.as("k0"))
      .orderBy(col("k0"), col("doc_id"))
      .limit(k)
      // bounded: ranks only the ≤k rows the limit just kept, never a fact
      .withColumn("rk", row_number().over(
        Window.orderBy(col("k0"), col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("weight"),
        round(col("k0"), 6).as("draw_key"), col("rk"))
  }

  /** Canonical query-term set for BM25: whitespace-split, simple-case-
    * folded (the engine-wide Unicode contract), deduped, SORTED — the
    * sort fixes the float accumulation order of the per-doc score chain
    * on both engines. */
  private[graft] def bm25Terms(query: String): Seq[String] =
    query.split("\\s+").toSeq.filter(_.nonEmpty)
      .map(TextFns.foldCase(_: String)).distinct.sorted

  /** BM25-ranked keyword search over the corpus — the RANKED retrieval
    * primitive the substring searches (search_keyword / search_entries,
    * reference app.py:64-88) can't express: "the k documents most about
    * these terms", the standard lexical first stage next to the vector
    * path (vector_knn / rag_context). Okapi BM25 with the non-negative
    * idf variant ln(1 + (N − df + 0.5)/(df + 0.5)) and the classic
    * k1 = 1.2, b = 0.75 (Robertson & Zaragoza 2009).
    *
    * Determinism contract (the seeded-family float rules): the per-doc
    * score is an explicit left-associative coalesce chain over the
    * SORTED query terms — never a SUM() whose row order is arbitrary
    * where float order decides a rank; every scalar has one pinned op
    * order mirrored literally in the oracle; ties rank by (rounded
    * score desc, doc_id), a total order.
    *
    * Scale shape: the query-term set is a literal, so the token stream
    * collapses to ≤ |q| terms per doc BEFORE the (doc, term) aggregation
    * — and the tokenize+explode itself runs only over docs whose folded
    * text contains some query term as a substring (a strictly-superset
    * prefilter evaluated at the scan, no regex — on a 100 TB corpus the
    * non-matching majority never explodes). df for the surviving ≤ |q|
    * terms and the corpus stats (N, Σdl) are broadcast relations;
    * nothing vocab- or corpus-sized reaches the driver. The top-k cut
    * is a distributed TakeOrderedAndProject; the rk window runs on ≤ k
    * rows. One corpus-stats pass reads only the text column. */
  def searchBm25(spark: SparkSession, dir: String,
      query: String = "spark join window customer", topK: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    searchBm25From(Tables.documents(spark, dir), query, topK, k1, b)

  /** Fixed evaluation queries for [[retrievalEval]]: three multi-term
    * conjunctions with real corpus support, one single-term point, and
    * one no-hit degenerate (empty ranking AND empty relevance set). */
  private[graft] val RetrievalEvalQueries: Seq[(Long, String)] = Seq(
    (1L, "spark join window customer"),
    (2L, "data stream sort"),
    (3L, "customer"),
    (4L, "slow big hash"),
    (5L, "zqxjkv"))

  /** Retrieval quality metrics — the eval harness a retrieval stack ships
    * with (the reference evaluates its RAG retrieval by hand-inspecting
    * top-k hits, /root/reference/src/vector_db/faiss_db.py; this is the
    * measured form): for each fixed query, MRR and NDCG@k of the BM25
    * ranking ([[searchBm25]] — the ranking of record) against a
    * DETERMINISTIC relevance oracle: a doc is relevant iff its folded
    * token set contains ALL the query's terms (conjunctive containment —
    * judgment-free, so the metric is a pure corpus function and the SQL
    * oracle replays it exactly).
    *
    * Per query: n_rel = |relevant docs| (corpus-wide, not top-k);
    * mrr = 1/rank of the first relevant hit (0.0 when none);
    * ndcg = DCG@k / IDCG@k with binary gains 1/log2(rank+1), IDCG over
    * min(n_rel, k) ideal slots; NULL when nothing is relevant (0/0 is
    * undefined, identically on both engines).
    *
    * Determinism: DCG is a pinned left fold over rank-sorted gains (rank
    * is unique), IDCG a fold over the 1..min(n_rel,k) sequence; log2's
    * ≤1-ulp engine wobble sits under round(·,6) (the jsd contract). The
    * per-doc score here folds term scores in TERM order (unique within a
    * doc, pinned on every engine) — retrieval_eval's own scoring order,
    * mirrored by its oracle; ranks tie-break (score DESC, doc_id) like
    * every ranking in the engine.
    *
    * Scale shape: ONE qid-tagged plan, not |queries| chained subplans —
    * one tokenize pass (tokens pre-filtered to the query-term union)
    * behind a lazy lineage cut; one explode+aggregation building every
    * query's tf AND df (df via a term-keyed window ≡ global per-term doc
    * count); scoring joins the broadcast (qid, term) literal relation;
    * ONE qid-partitioned rank window (WindowGroupLimit-bounded by the
    * rk ≤ k filter); relevance = the tf groups themselves (a doc has a
    * term iff a tf row exists), conjunction = matched-term count equals
    * the query's term count. Everything after the corpus scan is
    * matched-rows-sized. */
  def retrievalEval(spark: SparkSession, dir: String,
      topK: Int = 10): DataFrame =
    retrievalEvalFrom(Tables.documents(spark, dir), RetrievalEvalQueries,
      topK)

  /** The qid-tagged BM25 ranking and conjunctive-containment relevance
    * relations shared by [[retrievalEvalFrom]] (which scores them) and
    * [[mineHardNegativesFrom]] (which diffs them): one corpus tokenize
    * pass behind a lazy cut, one explode+aggregation for every query's
    * tf AND df, one qid-partitioned rank window. Returns
    * (ranked(qid, doc_id, score, rk ≤ topK), rel(qid, doc_id)). */
  private[graft] def retrievalRankRel(documents: DataFrame,
      queries: Seq[(Long, String)], topK: Int): (DataFrame, DataFrame) = {
    val spark = documents.sparkSession
    import spark.implicits._
    val perQ = queries.map { case (qid, q) => (qid, bm25Terms(q)) }
    require(perQ.forall(_._2.nonEmpty), "eval queries must carry terms")
    val allTerms = perQ.flatMap(_._2).distinct.sorted
    val qt = broadcast(perQ.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("qid", "term"))
    val ntq = broadcast(perQ.map { case (qid, ts) => (qid, ts.size.toLong) }
      .toDF("qid", "ntq"))
    val docs = documents.where(col("text").isNotNull)
    val tk = TextFns.wsTokens(TextFns.foldCase(col("text")))
    val base = docs
      .select(col("doc_id"), tk.as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        filter(col("tk"), t => t.isin(allTerms: _*)).as("qtk"))
      .localCheckpoint(false) // lazy: one corpus scan for everything
    val stats = broadcast(base
      .agg(sum(col("dl")).cast("long").as("total_len"),
        count(lit(1)).cast("long").as("n_docs")))
    def fold(arr: Column): Column =
      aggregate(arr, lit(0.0), (acc, x) => acc + x)
    val tfAll = base
      .select(col("doc_id"), col("dl"), explode(col("qtk")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"), max(col("dl")).as("dl"))
      .withColumn("df", count(lit(1))
        .over(Window.partitionBy(col("term"))).cast("long"))
      .localCheckpoint(false) // scored AND relevance read it
    val ndD = col("n_docs").cast("double")
    val dfD = col("df").cast("double")
    val tfD = col("tf").cast("double")
    val dlD = col("dl").cast("double")
    val avgdl = col("total_len").cast("double") / ndD
    val idf = log(lit(1.0) + (ndD - dfD + lit(0.5)) / (dfD + lit(0.5)))
    val tnorm = tfD * lit(1.2 + 1.0) /
      (tfD + lit(1.2) * (lit(1.0 - 0.75) + lit(0.75) * dlD / avgdl))
    val perdoc = tfAll.join(qt, "term").crossJoin(stats)
      .select(col("qid"), col("doc_id"), col("term"),
        (idf * tnorm).as("tscore"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(fold(transform(
        sort_array(collect_list(struct(col("term"), col("tscore")))),
        p => p.getField("tscore"))).as("raw"))
      .select(col("qid"), col("doc_id"), round(col("raw"), 6).as("score"))
    val ranked = perdoc
      .withColumn("rk", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .where(col("rk") <= topK)
    // a doc is relevant iff it matched ALL the query's terms — the tf
    // groups are the containment facts (duplicate corpus rows collapse)
    val rel = tfAll.join(qt, "term")
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).cast("long").as("nmatch"))
      .join(ntq, "qid").where(col("nmatch") === col("ntq"))
      .select(col("qid"), col("doc_id"))
    (ranked, rel)
  }

  private[graft] def retrievalEvalFrom(documents: DataFrame,
      queries: Seq[(Long, String)], topK: Int): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val perQ = queries.map { case (qid, q) => (qid, bm25Terms(q)) }
    def fold(arr: Column): Column =
      aggregate(arr, lit(0.0), (acc, x) => acc + x)
    val (ranked, rel) = retrievalRankRel(documents, queries, topK)
    val nrel = rel.groupBy(col("qid"))
      .agg(count(lit(1)).cast("long").as("n_rel"))
    val j = ranked
      .join(rel.withColumn("isrel", lit(true)), Seq("qid", "doc_id"), "left")
      .select(col("qid"), col("rk"),
        coalesce(col("isrel"), lit(false)).as("isrel"))
    val gain = when(col("isrel"),
      lit(1.0) / log2((col("rk") + lit(1L)).cast("double")))
      .otherwise(lit(0.0))
    val met = j.groupBy(col("qid")).agg(
      min(when(col("isrel"), col("rk"))).as("first_rel"),
      fold(transform(
        sort_array(collect_list(struct(col("rk"), gain.as("gain")))),
        p => p.getField("gain"))).as("dcg"))
    val nRel = coalesce(col("n_rel"), lit(0L))
    val idcg = fold(transform(
      sequence(lit(1L), least(nRel, lit(topK.toLong))),
      i => lit(1.0) / log2((i + lit(1L)).cast("double"))))
    // the qid universe: a no-hit query has no ranked AND no relevant
    // rows — it must still report (n_rel 0, mrr 0, ndcg NULL)
    perQ.map(_._1).toDF("qid")
      .join(met, Seq("qid"), "left").join(nrel, Seq("qid"), "left")
      .select(col("qid"), nRel.as("n_rel"),
        round(coalesce(lit(1.0) / col("first_rel").cast("double"),
          lit(0.0)), 6).as("mrr"),
        when(nRel > 0, round(col("dcg") / idcg, 6)).as("ndcg"))
      .orderBy(col("qid"))
  }

  /** Hard-negative mining for retrieval training data (the DPR recipe:
    * the best training negatives are the top BM25 hits that are NOT
    * relevant — lexically close, semantically wrong). Per query: the
    * top-ranked RELEVANT doc as the positive (`role = 'pos'`) and the
    * `nNeg` highest-ranked NON-relevant docs as hard negatives
    * (`role = 'neg'`), with their BM25 scores and original ranks — the
    * (query, positive, negatives) triple a contrastive trainer consumes.
    * Relevance is [[retrievalRankRel]]'s conjunctive containment, so the
    * labels are a pure corpus function and the SQL oracle replays them.
    *
    * Shares [[retrievalRankRel]]'s single qid-tagged plan — the miner
    * costs exactly the eval harness's ranking pass plus one |topK·queries|
    * window. A single-term query yields no negatives (every ranked doc
    * contains the term → relevant); a no-hit query yields nothing. */
  /** Mining queries: conjunctions anchored on the corpus's RAREST term
    * plus several common ones — the regime where hard negatives exist
    * (full matchers are few, partial matchers outscore them lexically).
    * The eval queries' full-match sets exceed any sane ranking depth on
    * this corpus, so mining them yields positives only. */
  private[graft] val MineQueries: Seq[(Long, String)] = Seq(
    (1L, "dup join hash"),
    (2L, "dup fast query sort the"),
    (3L, "dup merge filter row order slow"))

  def mineHardNegatives(spark: SparkSession, dir: String, topK: Int = 30,
      nNeg: Int = 5): DataFrame =
    mineHardNegativesFrom(Tables.documents(spark, dir),
      MineQueries, topK, nNeg)

  private[graft] def mineHardNegativesFrom(documents: DataFrame,
      queries: Seq[(Long, String)], topK: Int, nNeg: Int): DataFrame = {
    val (ranked, rel) = retrievalRankRel(documents, queries, topK)
    val tagged = ranked
      .join(rel.withColumn("isrel", lit(true)), Seq("qid", "doc_id"), "left")
      .withColumn("isrel", coalesce(col("isrel"), lit(false)))
    // rk is unique per qid, so the per-role rank is deterministic
    val roleRank = row_number().over(
      Window.partitionBy(col("qid"), col("isrel")).orderBy(col("rk")))
    tagged.withColumn("role_rank", roleRank.cast("long"))
      .where((col("isrel") && col("role_rank") === 1) ||
        (!col("isrel") && col("role_rank") <= nNeg))
      .select(col("qid"),
        when(col("isrel"), lit("pos")).otherwise(lit("neg")).as("role"),
        col("role_rank"), col("doc_id"), col("score"), col("rk"))
  }

  private[graft] def searchBm25From(documents: DataFrame, query: String,
      topK: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = bm25Terms(query)
    val docs = documents.where(col("text").isNotNull)
    // an all-whitespace query has no terms: empty result, index-typed
    // schema (doc_id keeps the corpus type; the rest are the operator's)
    if (terms.isEmpty)
      return docs.select(col("doc_id"),
        lit(null).cast("long").as("n_terms"),
        lit(null).cast("double").as("score"),
        lit(null).cast("long").as("rk")).limit(0)
    val toks = TextFns.wsTokens(TextFns.foldCase(col("text")))
    // corpus stats over ALL docs (dl = raw whitespace-token count, the
    // same size() both engines give an empty text: one empty token)
    val stats = broadcast(docs
      .select(size(toks).cast("long").as("dl"))
      .agg(sum(col("dl")).cast("long").as("total_len"),
        count(lit(1)).cast("long").as("n_docs")))
    // fold the text ONCE into a projected column: the contains()
    // prefilter and the tokenizer both read it — without this, each Or
    // branch re-folds the full text per term (FilterExec does no CSE
    // across branches) and the non-matching majority pays |q| folds
    val tf = docs
      .select(col("doc_id"), TextFns.foldCase(col("text")).as("ftext"))
      .where(terms.map(t => col("ftext").contains(t)).reduce(_ || _))
      .select(col("doc_id"), TextFns.wsTokens(col("ftext")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .where(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"), max(col("dl")).as("dl"))
    val dfRel = broadcast(
      tf.groupBy(col("term")).agg(count(lit(1)).cast("long").as("df")))
    bm25Rank(tf, dfRel, stats, terms, topK, k1, b)
  }

  /** The BM25 scoring/ranking tail shared by the corpus-scan path
    * ([[searchBm25From]]) and the durable-index serving path
    * ([[LexIndex.searchBm25Against]]): `tf` is (doc_id, term, tf, dl),
    * `dfRel` a broadcast-ready (term, df), `stats` a broadcast 1-row
    * (total_len, n_docs). Both callers derive these relations from the
    * same definitions, so serving from the store is bit-identical to
    * scanning the corpus — one oracle checks both. */
  private[graft] def bm25Rank(tf: DataFrame, dfRel: DataFrame,
      stats: DataFrame, terms: Seq[String], topK: Int, k1: Double,
      b: Double): DataFrame =
    bm25RankJoined(tf.join(dfRel, "term").crossJoin(stats), terms, topK,
      k1, b)

  /** The scoring tail over an already-joined (doc_id, term, tf, dl, df,
    * total_len, n_docs) relation — ONE definition for every caller
    * (scan, store, batch, eval), however the df/stats columns were
    * attached. */
  private[graft] def bm25RankJoined(tfd: DataFrame, terms: Seq[String],
      topK: Int, k1: Double, b: Double): DataFrame = {
    val ndD = col("n_docs").cast("double")
    val dfD = col("df").cast("double")
    val tfD = col("tf").cast("double")
    val dlD = col("dl").cast("double")
    val avgdl = col("total_len").cast("double") / col("n_docs").cast("double")
    val idf = log(lit(1.0) + (ndD - dfD + lit(0.5)) / (dfD + lit(0.5)))
    val tnorm = tfD * lit(k1 + 1.0) /
      (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * dlD / avgdl))
    val scored = tfd
      .select(col("doc_id"), col("term"), (idf * tnorm).as("tscore"))
    val perDoc = scored.groupBy(col("doc_id")).agg(
      count(lit(1)).cast("long").as("n_terms"),
      terms.indices.map(i =>
        max(when(col("term") === terms(i), col("tscore"))).as(s"s_$i")): _*)
    val raw = terms.indices.foldLeft(lit(0.0)) { (acc, i) =>
      acc + coalesce(col(s"s_$i"), lit(0.0))
    }
    perDoc
      .select(col("doc_id"), col("n_terms"), round(raw, 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
      // bounded: ranks only the ≤topK rows the limit just kept
      .withColumn("rk", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
  }

  /** Zipf-law fit per source: OLS of ln(freq) on ln(rank) over each
    * source's top-`topRanks` tokens — the corpus-health statistic behind
    * "is this source natural language or boilerplate/spam": natural text
    * sits near slope −1 with high r², machine-generated or templated
    * sources flatten or step. The per-source slope column is the
    * screening signal a mixture decision ([[sampleMixture]]) reads next
    * to [[corpusStats]].
    *
    * Determinism contract (the seeded-family float rules): every sum the
    * regression reads is a PINNED-ORDER left fold over a rank-sorted
    * array — never a SUM() aggregate whose accumulation order is
    * partition-dependent — and the closed-form slope/intercept/r²
    * expressions mirror the oracle's op order token-for-token, so the
    * ONLY cross-engine wobble left is the ln kernel itself (StrictMath
    * vs libm, ≤ 1 ulp on inputs like ln(3)), absorbed by round(·,6) on
    * both sides. An all-equal-frequency source has zero y-variance: r²
    * is NULL there on both engines (guarded divide).
    *
    * Scale shape: the explode+count is map-side combined over one corpus
    * scan; the rank window runs over the AGGREGATED (source, token)
    * relation — vocabulary-sized, not corpus-sized — and everything past
    * the ≤ topRanks cut is dimension-sized (|sources| rows carrying
    * ≤ topRanks-element arrays). */
  def tokenZipf(spark: SparkSession, dir: String, minCount: Int = 2,
      topRanks: Int = 200): DataFrame =
    tokenZipfFrom(Tables.documents(spark, dir), minCount, topRanks)

  private[graft] def tokenZipfFrom(documents: DataFrame, minCount: Int,
      topRanks: Int): DataFrame = {
    val bySource = Window.partitionBy(col("source"))
      .orderBy(col("freq").desc, col("token"))
    val ranked = documents
      .where(col("text").isNotNull)
      .select(col("source"),
        explode(TextFns.wsTokens(TextFns.foldCase(col("text")))).as("token"))
      .where(length(col("token")) > 0)
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("freq"))
      .where(col("freq") >= minCount)
      .withColumn("rank", row_number().over(bySource).cast("long"))
      .where(col("rank") <= topRanks)
    // rank-sorted point array: rank is unique within a source, so the
    // struct sort pins one total order for every fold below
    val pts = ranked
      .select(col("source"), col("rank"),
        log(col("rank").cast("double")).as("lx"),
        log(col("freq").cast("double")).as("ly"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_ranks"),
        sort_array(collect_list(
          struct(col("rank"), col("lx"), col("ly")))).as("pts"))
      .where(col("n_ranks") >= 3)
    def fold(arr: Column): Column =
      aggregate(arr, lit(0.0), (acc, x) => acc + x)
    val px = (p: Column) => p.getField("lx")
    val py = (p: Column) => p.getField("ly")
    val withSums = pts.select(col("source"), col("n_ranks"),
      col("n_ranks").cast("double").as("n"),
      fold(transform(col("pts"), px)).as("sx"),
      fold(transform(col("pts"), py)).as("sy"),
      fold(transform(col("pts"), p => px(p) * px(p))).as("sxx"),
      fold(transform(col("pts"), p => px(p) * py(p))).as("sxy"),
      fold(transform(col("pts"), p => py(p) * py(p))).as("syy"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val den1 = col("n") * col("sxx") - col("sx") * col("sx")
    val den2 = col("n") * col("syy") - col("sy") * col("sy")
    val slope = num / den1
    // round(·,6): Spark's ln is StrictMath.log (fdlibm), DuckDB's is
    // libm — correctly-rounded vs 1-ulp-allowed, they differ on inputs
    // like ln(3). The regression is contractive enough that a last-ulp
    // input wobble lands ~1e-14 from the true value, far inside the
    // 6-decimal grid (the tfidf/bm25 precedent for cross-libm floats).
    withSums.select(col("source"), col("n_ranks"),
      round(slope, 6).as("slope"),
      round((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"),
      round(when(den2 =!= lit(0.0), (num * num) / (den1 * den2)), 6).as("r2"))
  }

  /** Session memo of a trained BPE state per (corpus, merges): the merge
    * table plus the fully-merged word dictionary (persisted — bpe_train
    * and bpe_encode share one training run), a [[graft.SessionCache]]
    * scratch entry.
    * The third slot is the distributed trainer's FINAL lineage-cut RDD id
    * (None on the driver path): the persisted dictionary may read through
    * that checkpoint on recompute, so it stays pinned for the entry's
    * lifetime and is freed by the entry's release — without it one dictionary
    * copy per (session, dir, merges ≥ [[BpeCutEvery]]) leaked until
    * session end. */
  private[graft] val bpeMemo = graft.SessionCache.scratch[(String, Int),
    (Seq[(Int, String, String, Long)], DataFrame, Option[Int])] {
    case (_, dict, cutId) =>
      dict.unpersist(); freeCheckpoint(dict.sparkSession, cutId)
  }

  /** Drop a lineage-cut checkpoint RDD's storage (no-op for None or a
    * stopped session — stopping already released executor storage). */
  private[graft] def freeCheckpoint(spark: SparkSession,
      cutId: Option[Int]): Unit =
    if (!spark.sparkContext.isStopped)
      cutId.foreach(i => spark.sparkContext.getPersistentRDDs.get(i)
        .foreach(_.unpersist(blocking = false)))

  private def bpeMemoized(spark: SparkSession, dir: String, merges: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    val (tab, dict, _) = bpeMemo(spark, (dir, merges)) {
      val (tab, dict0, dictN, lastCut) = bpeTrainCore(
        Tables.documents(spark, dir), merges)
      val persisted = dictN.persist()
      persisted.count() // materialize before the training lineage is cut
      dict0.unpersist()
      (tab, persisted, lastCut)
    }
    (tab, dict)
  }

  /** BPE tokenizer training — the classic corpus-scale merge-learning
    * loop (Sennrich et al. 2016), shaped the way industrial trainers
    * scale: the ONLY corpus-sized pass is the initial word-frequency
    * aggregation (map-side combined). Training then runs over the
    * distinct-word dictionary weighted by frequency, which is BOUNDED
    * (natural-language vocabulary, not corpus size), so like every real
    * BPE trainer the merge loop runs driver-side on the aggregated
    * dictionary when it fits ([[MaxDriverDictWords]] — dictionary-sized,
    * the [[Cluster]] union-find gate pattern): 12 merges cost 12 in-memory
    * passes instead of 24 Spark jobs' scheduling+codegen overhead. Above
    * the cap the distributed loop takes over: pair counts are an integer
    * groupBy+sum over dictionary rows, the argmax a 1-row distributed
    * TakeOrdered, and the merge application a native single-pass kernel
    * ([[graft.expressions.BpeMerge]], inside whole-stage codegen)
    * projected over the persisted dictionary — driver work per iteration
    * is exactly one (lft, rgt, cnt) row. The two paths are
    * differential-spec'd byte-identical (driverDictCap=0 forces the
    * distributed loop).
    *
    * Determinism contract: integer pair counts; argmax total order
    * (cnt DESC, lft, rgt — symbols are pure ASCII so JVM string order,
    * UTF8String byte order, and DuckDB collation all agree); the merge
    * application is left-to-right non-overlapping, replayed by the
    * oracle as a list_reduce fold (equivalence proven at
    * [[graft.expressions.Kernels.bpeMergeStep]]). Symbols stay in
    * ^[a-z]+$ space: training reads letters-only words, so JVM-vs-UTF8
    * code-unit divergence can't reach the character split.
    *
    * Training stops early when no adjacent pair is left (every word
    * fully merged); the merge table then has fewer than `merges` rows
    * on both engines. */
  def bpeTrain(spark: SparkSession, dir: String, merges: Int = 12)
      : DataFrame = {
    val (tab, _) = bpeMemoized(spark, dir, merges)
    spark.createDataFrame(tab).toDF("rank", "lft", "rgt", "cnt")
      .select(col("rank").cast("long").as("rank"), col("lft"), col("rgt"),
        concat(col("lft"), col("rgt")).as("merged"), col("cnt"))
  }

  /** Word-dictionary size above which BPE training stays distributed.
    * The collect is DICTIONARY-sized (distinct letters-only words), a
    * broadcast-threshold-like bound — never corpus-sized. */
  private[graft] val MaxDriverDictWords = 2000000L

  /** Driver twin of [[graft.expressions.Kernels.bpeMergeStep]] — same
    * single-pass left-to-right non-overlapping merge. */
  private[graft] def bpeMergeLocal(syms: Array[String], l: String,
      r: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += l + r; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Returns (merge table, persisted initial dictionary, final
    * dictionary, final lineage-cut RDD id). The caller OWNS the cut RDD:
    * the final dictionary may recompute through it, so it must stay
    * pinned while the dictionary is live and be freed with it
    * ([[freeCheckpoint]]) — the memo entry's lifecycle. */
  private[graft] def bpeTrainCore(documents: DataFrame, merges: Int,
      driverDictCap: Long = MaxDriverDictWords)
      : (Seq[(Int, String, String, Long)], DataFrame, DataFrame, Option[Int]) = {
    import org.apache.spark.sql.graft.Bridge
    val spark = documents.sparkSession
    val dict0 = documents.where(col("text").isNotNull)
      .select(explode(TextFns.wsTokens(TextFns.foldCase(col("text"))))
        .as("word"))
      .where(col("word").rlike("^[a-z]+$"))
      .groupBy(col("word")).agg(count(lit(1)).cast("long").as("freq"))
      .withColumn("syms",
        regexp_extract_all(col("word"), lit("[a-z]"), lit(0)))
      .persist()
    val nWords = dict0.count()
    val out = Seq.newBuilder[(Int, String, String, Long)]
    if (driverDictCap > 0 && nWords <= driverDictCap) {
      // In-memory trainer over the aggregated dictionary. Words are
      // ASCII [a-z]+ so the per-char split below equals the column
      // path's regexp_extract_all('[a-z]').
      val words = dict0.select(col("word"), col("freq")).collect().map {
        row => (row.getString(0), row.getLong(1))
      }
      var dict: Array[(String, Long, Array[String])] =
        words.map { case (w, f) => (w, f, w.map(_.toString).toArray) }
      var k = 1
      var exhausted = false
      while (k <= merges && !exhausted) {
        val counts = new java.util.HashMap[(String, String), Long]()
        dict.foreach { case (_, f, syms) =>
          var i = 0
          while (i + 1 < syms.length) {
            counts.merge((syms(i), syms(i + 1)), f, _ + _)
            i += 1
          }
        }
        if (counts.isEmpty) exhausted = true
        else {
          var bl: String = null; var br: String = null
          var bc = Long.MinValue
          counts.forEach { (pr, c) =>
            val (l, r) = pr
            if (c > bc || (c == bc &&
                (l < bl || (l == bl && r < br)))) { bl = l; br = r; bc = c }
          }
          out += ((k, bl, br, bc))
          dict = dict.map { case (w, f, syms) =>
            (w, f, bpeMergeLocal(syms, bl, br))
          }
          k += 1
        }
      }
      val slices = math.max(1, (nWords / 250000L).toInt)
      val dictN = spark.createDataFrame(
        spark.sparkContext.parallelize(
          dict.toSeq.map { case (w, f, s) => (w, f, s.toSeq) }, slices))
        .toDF("word", "freq", "syms")
      (out.result(), dict0, dictN, None)
    } else {
      // Lineage truncation every [[BpeCutEvery]] merges (the
      // connected-components per-round pattern, Cluster.scala): each
      // iteration wraps `syms` in another BpeMerge expression, so at a
      // realistic 10k–32k merge budget the un-cut plan would nest
      // thousands of expressions deep — exponential analysis cost, the
      // exact pathology the components loop solved. An eager
      // localCheckpoint pins plan depth at ≤ BpeCutEvery merge
      // expressions; the previous cut's RDD is freed directly (Dataset
      // .unpersist does not reach RDD-level checkpoint storage), so at
      // most one dictionary copy lives in executor storage at a time.
      val sc = spark.sparkContext
      def free(id: Option[Int]): Unit =
        id.foreach(i =>
          sc.getPersistentRDDs.get(i).foreach(_.unpersist(blocking = false)))
      var dict = dict0
      var lastCutId: Option[Int] = None
      var k = 1
      var exhausted = false
      while (k <= merges && !exhausted) {
        val n1 = greatest(size(col("syms")) - 1, lit(0))
        val best = dict
          .select(col("freq"),
            explode(zip_with(
              slice(col("syms"), lit(1), n1), slice(col("syms"), lit(2), n1),
              (a, b) => struct(a.as("lft"), b.as("rgt")))).as("pr"))
          .groupBy(col("pr.lft").as("lft"), col("pr.rgt").as("rgt"))
          .agg(sum(col("freq")).cast("long").as("cnt"))
          .orderBy(col("cnt").desc, col("lft"), col("rgt"))
          .limit(1).collect()
        if (best.isEmpty) exhausted = true
        else {
          val l = best(0).getAs[String]("lft")
          val r = best(0).getAs[String]("rgt")
          out += ((k, l, r, best(0).getAs[Long]("cnt")))
          dict = dict.select(col("word"), col("freq"),
            Bridge.column(graft.expressions.BpeMerge(
              Bridge.expression(col("syms")), l, r)).as("syms"))
          if (k % BpeCutEvery == 0) {
            val cut = dict.localCheckpoint() // eager — materialized here
            free(lastCutId)
            lastCutId = org.apache.spark.sql.graft.Bridge.checkpointRddId(cut)
            dict = cut
          }
          k += 1
        }
      }
      // the final dictionary may read through the last checkpoint — the
      // caller's persist+count materializes its own copy, but RECOMPUTE
      // (evicted blocks) still reads the checkpoint, so its id is
      // returned for the caller to pin and free with the dictionary
      (out.result(), dict0, dict, lastCutId)
    }
  }

  /** Distributed-trainer lineage-cut cadence: plan depth between cuts is
    * ≤ this many nested merge expressions — small enough that analysis
    * stays O(1) per iteration, large enough that the checkpoint write
    * amortizes over many merges. */
  private[graft] val BpeCutEvery = 16

  /** Corpus re-encoding with the learned merge table: each letters-only
    * word looks up its fully-merged symbol sequence in the trained
    * dictionary (one equi-join — broadcast when the vocabulary is small,
    * shuffle-partitioned by word at 100 TB vocabulary scale), then docs
    * re-assemble in word order. Docs with no letters-only word have
    * nothing to encode and drop out, identically on both engines. */
  def bpeEncode(spark: SparkSession, dir: String, merges: Int = 12)
      : DataFrame = {
    val (_, dictN) = bpeMemoized(spark, dir, merges)
    Tables.documents(spark, dir).where(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(TextFns.wsTokens(TextFns.foldCase(col("text"))))
          .as(Seq("pos", "word")))
      .where(col("word").rlike("^[a-z]+$"))
      .join(dictN.select(col("word"), col("syms")), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(size(col("syms"))).cast("long").as("n_bpe_tokens"),
        array_join(flatten(transform(
          sort_array(collect_list(struct(col("pos"), col("syms")))),
          x => x.getField("syms"))), " ").as("bpe_text"))
  }

  // ---- durable BPE model ---------------------------------------------
  // The fourth durable store next to the signature index, the IVF index,
  // and the sketch slices: a tokenizer is trained ONCE and then read by
  // every downstream job — exactly the persisted-artifact shape the
  // reference uses for its index (faiss_db.py:24-35 read/write_index).
  // Same crash contract as the other stores: root _SUCCESS, rename-aside
  // swap, writer-entry healing, reader-passive reads.

  /** Persist the trained BPE model — merge table + fully-merged word
    * dictionary. Both relations land under ONE tmp before the swap, so a
    * published store is always a consistent (merges, dict) pair. */
  def writeBpeModel(spark: SparkSession, dir: String, path: String,
      merges: Int = 12): Unit = {
    val (tab, dictN) = bpeMemoized(spark, dir, merges)
    graft.sources.IO.publishStore(spark, path, "__bpe_tmp") { tmp =>
      spark.createDataFrame(tab).toDF("rank", "lft", "rgt", "cnt")
        .select(col("rank").cast("long").as("rank"), col("lft"), col("rgt"),
          col("cnt")) // the bpeTrain schema: rank is long there too
        .write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(tmp, "merges").toString)
      dictN.write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(tmp, "dict").toString)
    }
  }

  private def readBpeStore(spark: SparkSession, path: String,
      sub: String): DataFrame = {
    graft.sources.IO.readableStore(spark, path, "__bpe_tmp")
    spark.read.parquet(
      new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(path), sub).toString)
  }

  /** The persisted merge table (reader-passive healing). */
  def readBpeMerges(spark: SparkSession, path: String): DataFrame =
    readBpeStore(spark, path, "merges")

  /** Corpus re-encoding against a PERSISTED model — no training run: the
    * daily-encode shape (train once via [[writeBpeModel]], encode any
    * later corpus at dictionary-join cost). Words absent from the stored
    * dictionary — new since training — get the STORED merges applied to
    * their character split (a native [[graft.expressions.BpeMerge]]
    * chain, rank order), which is exactly what a frozen BPE tokenizer
    * does with unseen words; on the training corpus itself every word
    * hits the dictionary and the result equals [[bpeEncode]]. The merge
    * list collected to the driver is ≤ `merges` rows — dimension-sized
    * by construction. */
  def bpeEncodeAgainst(spark: SparkSession, dir: String,
      path: String): DataFrame =
    bpeEncodeAgainstFrom(spark, Tables.documents(spark, dir), path)

  private[graft] def bpeEncodeAgainstFrom(spark: SparkSession,
      documents: DataFrame, path: String): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    val dict = readBpeStore(spark, path, "dict")
      .select(col("word"), col("syms").as("dict_syms"))
    val mergeList = readBpeMerges(spark, path).orderBy(col("rank"))
      .select(col("lft"), col("rgt")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val fallback = mergeList.foldLeft(
      regexp_extract_all(col("word"), lit("[a-z]"), lit(0))) { (c, lr) =>
      Bridge.column(graft.expressions.BpeMerge(
        Bridge.expression(c), lr._1, lr._2))
    }
    documents.where(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(TextFns.wsTokens(TextFns.foldCase(col("text"))))
          .as(Seq("pos", "word")))
      .where(col("word").rlike("^[a-z]+$"))
      .join(dict, Seq("word"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("dict_syms"), fallback).as("syms"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(size(col("syms"))).cast("long").as("n_bpe_tokens"),
        array_join(flatten(transform(
          sort_array(collect_list(struct(col("pos"), col("syms")))),
          x => x.getField("syms"))), " ").as("bpe_text"))
  }

  /** Tokenizer fertility per source — BPE tokens per word under the
    * learned merge table ([[bpeTrain]]; one shared memoized training
    * run): the "how well does the tokenizer fit this source" statistic a
    * mixture decision reads before committing token budgets (a source at
    * fertility ≈ word length is effectively character-split — the
    * tokenizer wasn't trained for it; budget math in tokens silently
    * shifts). Exact integer sums; fertility = one IEEE division of two
    * integers, identical both engines. Scale: the corpus explodes to
    * letters-only words once, joins the dictionary with the symbol
    * COUNT projected before the join (the syms arrays never ship), and
    * collapses map-side to |sources| rows. */
  def bpeFertility(spark: SparkSession, dir: String, merges: Int = 12)
      : DataFrame = {
    val (_, dictN) = bpeMemoized(spark, dir, merges)
    Tables.documents(spark, dir).where(col("text").isNotNull)
      .select(col("source"),
        explode(TextFns.wsTokens(TextFns.foldCase(col("text")))).as("word"))
      .where(col("word").rlike("^[a-z]+$"))
      .join(dictN.select(col("word"),
        size(col("syms")).cast("long").as("wlen")), Seq("word"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(col("wlen")).cast("long").as("n_bpe_tokens"),
        round(sum(col("wlen")).cast("double") /
          count(lit(1)).cast("double"), 6).as("fertility"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): per document, the
    * log-likelihood ratio Σ_t c_t · ln(p_target(t)/p_raw(t)) over the
    * shared top-`maxVocab` vocabulary, where the target distribution is
    * the smoothed unigram LM of the `targetLang` split and the
    * denominator is the raw corpus LM — the score that ranks a huge raw
    * corpus by "how much does this doc look like the data I actually
    * want", the standard cheap alternative to classifier-based quality
    * filtering. Resampling then keeps docs ∝ exp(score) — compose with
    * [[sampleWeighted]].
    *
    * Determinism: p ratios are exact-rational IEEE divisions from
    * integer counts; per-doc sums are pinned-order folds over the
    * token-sorted term array; the only cross-engine wobble is the ln
    * kernel (≤ 1 ulp), absorbed by round(·,6) — the [[tokenZipf]] /
    * [[sourceJsd]] contract. An empty target split degrades smoothly
    * (all-zero counts → uniform p_target), no special case on either
    * engine.
    *
    * Scale shape: ONE corpus explode, semi-joined against the broadcast
    * vocab at the scan (non-vocab tokens never shuffle), map-side
    * combined to (doc, token) counts; both LMs and the log-ratio
    * relation are |vocab|-row broadcasts; the per-doc fold runs over
    * ≤ |vocab| distinct tokens. Docs with no vocab token have no score
    * and drop out, identically on both engines. */
  def dsirWeights(spark: SparkSession, dir: String,
      targetLang: String = "en", minCount: Int = 2,
      maxVocab: Int = 1000): DataFrame =
    dsirWeightsWith(
      Tables.documents(spark, dir),
      buildVocab(spark, dir, minCount, maxVocab).select(col("token")),
      targetLang)

  private[graft] def dsirWeightsFrom(documents: DataFrame,
      targetLang: String, minCount: Int = 2, maxVocab: Int = 1000)
      : DataFrame = {
    val vocab = documents
      .where(col("text").isNotNull)
      .select(explode(TextFns.wsTokens(TextFns.foldCase(col("text")))).as("token"))
      .where(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .where(col("freq") >= minCount)
      .orderBy(col("freq").desc, col("token"))
      .limit(maxVocab)
      .select(col("token"))
    dsirWeightsWith(documents, vocab, targetLang)
  }

  private def dsirWeightsWith(documents: DataFrame, vocab: DataFrame,
      targetLang: String): DataFrame = {
    // ONE corpus pass: the token stream collapses to per-(doc, lang,
    // token) counts `dt` right after the broadcast-vocab semi join;
    // target LM, background LM, and the per-doc scoring relation all
    // read `dt`. Lineage cut with a lazy localCheckpoint (the
    // cmsWithThreshold pattern — pruning/filter pushdown specializes
    // each consumer's copy, defeating AQE exchange reuse, and the
    // corpus explode would run three times); the checkpoint holds the
    // vocab-filtered count relation, no extra job, plan-pinned.
    val dt = documents.where(col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        explode(TextFns.wsTokens(TextFns.foldCase(col("text")))).as("token"))
      .join(broadcast(vocab), Seq("token"), "left_semi")
      .groupBy(col("doc_id"), col("lang"), col("token"))
      .agg(count(lit(1)).cast("long").as("c"))
      .localCheckpoint(false)
    val vsize = broadcast(vocab.agg(count(lit(1)).cast("long").as("v")))
    def lm(cnt: DataFrame, total: String, p: String): DataFrame =
      vocab.join(cnt, Seq("token"), "left")
        .select(col("token"), coalesce(col("cnt"), lit(0L)).as("cnt"))
        .crossJoin(broadcast(cnt.agg(
          coalesce(sum(col("cnt")), lit(0L)).cast("long").as(total))))
        .crossJoin(vsize)
        .select(col("token"),
          ((col("cnt").cast("double") + lit(1.0)) /
            (col(total).cast("double") + col("v").cast("double"))).as(p))
    val tgtLm = lm(
      dt.where(col("lang") === targetLang)
        .groupBy(col("token")).agg(sum(col("c")).cast("long").as("cnt")),
      "n_t", "pt")
    val bgLm = lm(
      dt.groupBy(col("token")).agg(sum(col("c")).cast("long").as("cnt")),
      "n_b", "pb")
    val lr = tgtLm.join(bgLm, Seq("token"))
      .select(col("token"), log(col("pt") / col("pb")).as("lr"))
    dt.join(broadcast(lr), Seq("token"))
      .select(col("doc_id"), col("token"), col("c"),
        (col("c").cast("double") * col("lr")).as("term"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_vocab_tokens"),
        round(
          aggregate(
            transform(
              sort_array(collect_list(struct(col("token"), col("term")))),
              p => p.getField("term")),
            lit(0.0), (acc, x) => acc + x),
          6).as("log_ratio"))
  }

  /** Naive Bayes document-quality classifier — the supervised-classifier
    * leg of the quality family (the fastText-classifier shape of
    * CCNet/RedPajama quality pipelines, with the one closed-form trainer
    * whose fitted model is an exact integer-count function and therefore
    * SQL-replayable). Teacher labels are the Gopher verdict
    * ([[TextOps.gopherKept]] — ONE shared rule definition); the model is
    * multinomial NB over the shared top-`maxVocab` vocabulary with
    * add-one smoothing and Laplace class priors (nd+1)/(N+2), so an
    * empty class never produces ln 0.
    *
    * Scale shape (the dsir_weights pattern, plus one lesson the bench
    * taught): the LABEL pass and the TOKEN pass are two separate scans —
    * a single projection computing the verdict next to the explode looks
    * like one pass but Catalyst collapses the verdict expression into the
    * Generate and re-evaluates the full Gopher rule chain once per TOKEN
    * row (the r16 bench caught that at 75 s; two scans run in ~3). Labels
    * collapse to one (doc_id, kept) row per document ENTITY (doc_id
    * names one document — duplicate rows are redeliveries, the
    * click_attribution contract) and join the collapsed token relation
    * by doc_id; token counts sit behind a lazy lineage cut feeding
    * class-conditional counts, totals, and scoring. The fitted model is
    * a ≤|V|-row broadcast; scoring is one broadcast join + one per-doc
    * pinned fold. The output row basis re-touches documents on a
    * doc_id-pruned scan (NULL-text docs surface with NULL label/scores —
    * never trained on, no token evidence).
    *
    * Determinism: smoothed probabilities are single divisions of exact
    * integers; per-doc log-likelihoods fold c·ln p terms in TOKEN order
    * (every term strictly negative — no −0.0 corner); prediction ties
    * break to kept=true identically in SQL. Rounding once, at the
    * output. */
  def qualityNb(spark: SparkSession, dir: String, minCount: Int = 2,
      maxVocab: Int = 1000): DataFrame =
    qualityNbFrom(Tables.documents(spark, dir),
      buildVocab(spark, dir, minCount, maxVocab))

  private[graft] def qualityNbFrom(documents: DataFrame,
      vocab: DataFrame): DataFrame = {
    // label pass: the verdict evaluated exactly once per document row,
    // collapsed to the document entity (see the scaladoc for why this
    // must NOT share a projection with the token explode)
    val db = documents
      .where(col("text").isNotNull)
      .select(col("doc_id"), TextOps.gopherKept(col("text")).as("kept"))
      .distinct()
      .localCheckpoint(false) // priors + label join + output join read it
    // token pass: the multiset, collapsed to fixed-width rows before the
    // cut (the dedup_spans trade — the checkpoint stores what the shared
    // exchange would have), labels joined on the COLLAPSED relation
    val tkAll = documents
      .where(col("text").isNotNull)
      .select(col("doc_id"),
        explode(TextFns.wsTokens(TextFns.foldCase(col("text")))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).cast("long").as("c"))
      .join(db, Seq("doc_id"))
      .localCheckpoint(false)
    val vsize = vocab.agg(count(lit(1)).cast("long").as("v"))
    val tk = tkAll.join(broadcast(vocab.select(col("token"))), Seq("token"))
    // class-conditional token counts, PIVOTED in one aggregation (r20,
    // §2.4: the (token, kept)-keyed form fed four separate readers — two
    // filtered joins plus two class-total aggregates, each its own
    // exchange; one token-keyed aggregation with conditional sums yields
    // the same exact integers, and both class totals fall out of ONE
    // aggregate over it)
    val cc = tk.groupBy(col("token"))
      .agg(coalesce(sum(when(col("kept"), col("c"))), lit(0L))
          .cast("long").as("ck_t"),
        coalesce(sum(when(!col("kept"), col("c"))), lit(0L))
          .cast("long").as("ck_f"))
      .localCheckpoint(false) // the model join + the totals read it
    val totals = cc.agg(
      coalesce(sum(col("ck_t")), lit(0L)).cast("long").as("tot_t"),
      coalesce(sum(col("ck_f")), lit(0L)).cast("long").as("tot_f"))
    // fitted model: one row per vocab token with both classes' log-probs
    val lpW = vocab.select(col("token"))
      .join(cc, Seq("token"), "left")
      .crossJoin(totals)
      .crossJoin(vsize)
      .select(col("token"),
        log((coalesce(col("ck_t"), lit(0L)).cast("double") + lit(1.0)) /
          (col("tot_t").cast("double") + col("v").cast("double"))).as("lp_t"),
        log((coalesce(col("ck_f"), lit(0L)).cast("double") + lit(1.0)) /
          (col("tot_f").cast("double") + col("v").cast("double"))).as("lp_f"))
    // Laplace class priors from the per-doc label relation
    val priors = db
      .agg(count(lit(1)).cast("long").as("nd"),
        coalesce(sum(when(col("kept"), 1L).otherwise(0L)), lit(0L))
          .cast("long").as("nk"))
      .select(
        log((col("nk").cast("double") + lit(1.0)) /
          (col("nd").cast("double") + lit(2.0))).as("pri_t"),
        log(((col("nd") - col("nk")).cast("double") + lit(1.0)) /
          (col("nd").cast("double") + lit(2.0))).as("pri_f"))
    def fold(field: String): Column =
      aggregate(
        transform(
          sort_array(collect_list(struct(col("token"), col("term_t"),
            col("term_f")))),
          p => p.getField(field)),
        lit(0.0), (acc, x) => acc + x)
    val scores = tk.join(broadcast(lpW), Seq("token"))
      .select(col("doc_id"), col("token"), col("c"),
        (col("c").cast("double") * col("lp_t")).as("term_t"),
        (col("c").cast("double") * col("lp_f")).as("term_f"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_vocab_tokens"),
        fold("term_t").as("s_t"), fold("term_f").as("s_f"))
    documents.select(col("doc_id"))
      .join(db, Seq("doc_id"), "left")
      .join(scores, Seq("doc_id"), "left")
      .crossJoin(broadcast(priors))
      .select(col("doc_id"), col("kept").as("label"),
        coalesce(col("n_vocab_tokens"), when(col("kept").isNotNull, lit(0L)))
          .as("n_vocab_tokens"),
        when(col("kept").isNotNull,
          round(col("pri_t") + coalesce(col("s_t"), lit(0.0)), 4)).as("lp_keep"),
        when(col("kept").isNotNull,
          round(col("pri_f") + coalesce(col("s_f"), lit(0.0)), 4)).as("lp_drop"),
        when(col("kept").isNotNull,
          col("pri_t") + coalesce(col("s_t"), lit(0.0)) >=
            col("pri_f") + coalesce(col("s_f"), lit(0.0))).as("pred_keep"))
  }

  /** Pairwise Jensen–Shannon divergence (in bits) between per-source
    * unigram distributions over the shared top-`maxVocab` vocabulary —
    * the source-redundancy matrix a mixture decision reads next to
    * [[tokenZipf]] and [[corpusStats]]: two sources at ≈0 bits are the
    * same distribution twice (dedup or down-weight one), a source near
    * 1 bit contributes genuinely different text. Laplace(+1) smoothing
    * over the shared vocab keeps every p strictly positive, so the JSD
    * sum needs no zero-term branches and the support is identical for
    * every source by construction.
    *
    * Determinism contract: p and q are doubles derived from identical
    * integers via one pinned expression; each pair's token-term sum is
    * a PINNED-ORDER fold over the token-sorted term array (never a
    * float SUM() with partition-dependent order); the only cross-engine
    * wobble is the log2 kernel (StrictMath vs libm, ≤ 1 ulp), absorbed
    * by round(·,6) — the [[tokenZipf]] contract.
    *
    * Scale shape: one corpus scan for the (source, token) counts
    * (map-side combined, semi-joined against the broadcast vocab at the
    * scan so non-vocab tokens never shuffle); everything downstream —
    * the sources×vocab support grid, the per-source totals, the pair
    * join — is dimension-sized (|sources| · |vocab| rows), broadcast
    * all the way. A NULL source is a real distribution but pairs only
    * via the strict `<` on source, which both engines NULL out — the
    * NULL group profiles internally and never emits a pair row. */
  def sourceJsd(spark: SparkSession, dir: String, minCount: Int = 2,
      maxVocab: Int = 1000): DataFrame =
    sourceJsdWith(
      Tables.documents(spark, dir),
      buildVocab(spark, dir, minCount, maxVocab).select(col("token")))

  private[graft] def sourceJsdFrom(documents: DataFrame, minCount: Int = 2,
      maxVocab: Int = 1000): DataFrame = {
    // inline twin of buildVocab's cut for test corpora (same total order)
    val vocab = documents
      .where(col("text").isNotNull)
      .select(explode(TextFns.wsTokens(TextFns.foldCase(col("text")))).as("token"))
      .where(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .where(col("freq") >= minCount)
      .orderBy(col("freq").desc, col("token"))
      .limit(maxVocab)
      .select(col("token"))
    sourceJsdWith(documents, vocab)
  }

  private def sourceJsdWith(documents: DataFrame, vocab: DataFrame)
      : DataFrame = {
    val docs = documents.where(col("text").isNotNull)
    val cnt = docs
      .select(col("source"),
        explode(TextFns.wsTokens(TextFns.foldCase(col("text")))).as("token"))
      .join(broadcast(vocab), Seq("token"), "left_semi")
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val vsize = broadcast(vocab.agg(count(lit(1)).cast("long").as("v")))
    // explicit aliases: support and cnt share the docs lineage, so the
    // raw column references would hit the self-join ambiguity path
    val support = docs.select(col("source").as("g_source")).distinct()
      .crossJoin(broadcast(vocab.select(col("token").as("g_token"))))
    val grid = support
      .join(cnt, col("g_source") <=> col("source") &&
        col("g_token") === col("token"), "left")
      .select(col("g_source").as("source"), col("g_token").as("token"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
    val withTot = grid
      .groupBy(col("source"))
      .agg(sum(col("cnt")).cast("long").as("n_s"))
    val probs = grid.join(withTot, Seq("source")).crossJoin(vsize)
      .select(col("source"), col("token"),
        ((col("cnt").cast("double") + lit(1.0)) /
          (col("n_s").cast("double") + col("v").cast("double"))).as("p"))
    val a = probs.select(col("source").as("source_a"), col("token"),
      col("p").as("p"))
    val b = probs.select(col("source").as("source_b"), col("token"),
      col("p").as("q"))
    val m = (col("p") + col("q")) / lit(2.0)
    val term = lit(0.5) * (col("p") * log2(col("p") / m)) +
      lit(0.5) * (col("q") * log2(col("q") / m))
    a.join(b, Seq("token"))
      .where(col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"), col("token"), term.as("term"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        round(
          aggregate(
            transform(
              sort_array(collect_list(struct(col("token"), col("term")))),
              p => p.getField("term")),
            lit(0.0), (acc, x) => acc + x),
          6).as("jsd_bits"))
  }
}
