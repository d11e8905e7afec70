package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Deterministic streaming sketches (HyperLogLog distinct counts and a
  * count-min frequency sketch) built on the engine's pinned md5 hash
  * family instead of a runtime-seeded library sketch.
  *
  * Spark's own `approx_count_distinct` / `ds.stat.countMinSketch` are
  * HLL++/CMS with an engine-private hash, so their outputs can only ever
  * be rows-checked. These twins compute the SAME estimators over
  * `md5_number_lower` — the hash both engines can name — which makes the
  * whole sketch, registers to final estimate, replayable in plain SQL:
  * the register contents and counter arrays are exact integers
  * (scan-order free), and the only floating-point steps are one shared
  * constant, one division, and the linear-counting `ln`.
  *
  * Scale shape: both sketches are classic bounded-state aggregations.
  * The HLL register build is a two-level groupBy whose partial (map-side)
  * state is ≤ m rows per group per partition; the CMS build is ≤ d·w
  * counter rows per partition. Neither ever shuffles raw keys — that is
  * the whole point of a sketch at 100 TB.
  *
  * MD5 here is a deterministic mixer, not a security primitive (same
  * contract as every other signature in this engine).
  */
object Sketches {

  /** HLL precision: p=12 → m=4096 registers → rse ≈ 1.04/√m ≈ 1.6%. */
  val HllP = 12
  val HllM: Int = 1 << HllP // 4096
  /** Bits of the rho-hash window; rho ∈ [1, RhoBits+1]. */
  private val RhoBits = 50
  private val RhoW = 1L << RhoBits // 2^50 = 1125899906842624
  /** 2^51 — the scale that turns the harmonic sum Σ2^(−rho) into an
    * EXACT integer: each term 2^(51−rho) ≤ 2^50, and the full-corpus
    * worst case m·2^50·2 < 2^63 stays inside a signed 64-bit long
    * (4096 registers, empty ones contributing 2^51 each → at most
    * 2^50·(8192−k) < 2^63). Exact integers mean the estimate cannot
    * depend on aggregation order. */
  private val Z2Scale = 1L << (RhoBits + 1) // 2251799813685248

  // The estimator below (and its three twins: the StatefulSketch Scala
  // path plus the two oracle SQL strings) hardcodes the m=4096 /
  // Z2Scale=2^51 / 2.5m=10240 literals so both engines fold the SAME
  // double constants. These requires tie the literals to HllP/RhoBits:
  // changing the precision without rewriting all four sites now fails
  // loudly at class init instead of silently breaking cross-engine
  // bit-parity.
  require(HllM == 4096, s"HLL literals are written for m=4096, got $HllM")
  require(Z2Scale == 2251799813685248L,
    s"HLL literals are written for Z2Scale=2^51, got $Z2Scale")
  require(2.5 * HllM == 10240.0,
    "HLL linear-counting bound literal (10240.0) no longer equals 2.5m")

  private[graft] def md5mod(c: Column, m: Long): Column =
    Bridge.column(graft.expressions.Md5LowerMod(Bridge.expression(c), m))

  /** HLL register coordinates of a (non-null, string-cast) value: the
    * register index is one md5 draw mod m; rho is the leading-zero count
    * (+1) of an independent salted draw's low 50 bits, computed exactly
    * via the binary-string length (`bin` has no leading zeros on either
    * engine — floating log2 would round). */
  private def hllRegister(s: Column): (Column, Column) = {
    val w = md5mod(concat(lit("rho:"), s), RhoW)
    val rho = when(w === 0L, lit(RhoBits + 1))
      .otherwise(lit(RhoBits + 1) - length(bin(w)))
    (md5mod(s, HllM.toLong), rho)
  }

  /** The HLL estimate from a per-group register relation `(g…, mx)` —
    * one row per OCCUPIED register carrying its max rho. Emits
    * `(g…, <out> bigint, extra…)`. Raw estimator αm²/Z with the standard
    * small-range linear-counting correction (E ≤ 2.5m and empty
    * registers present → m·ln(m/V)); no large-range branch is needed at
    * 64-bit hash width. The float pipeline is one shared constant, one
    * divide, one ln — identical literal order on the SQL side. */
  private def hllEstimate(regs: DataFrame, groupCols: Seq[String],
      out: String, extra: Seq[(Column, String)] = Nil): DataFrame = {
    val z2 = expr(s"sum(shiftleft(CAST(1 AS BIGINT), CAST(${RhoBits + 1} - mx AS INT)))") +
      (lit(HllM.toLong) - count(lit(1))) * lit(Z2Scale)
    val vz = lit(HllM.toLong) - count(lit(1))
    val aggs = Seq(z2.as("z2"), vz.as("vz")) ++
      extra.map { case (c, n) => c.as(n) }
    val withZ = regs.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    // alpha_m = 0.7213/(1 + 1.079/m); the whole constant numerator is
    // written as one left-associated literal chain so both engines fold
    // it to the same double
    val eraw = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(4096.0)) *
      lit(4096.0) * lit(4096.0) * lit(2251799813685248.0) / col("z2").cast("double")
    val est = when(col("vz") > 0L && eraw <= lit(10240.0),
      lit(4096.0) * log(lit(4096.0) / col("vz").cast("double")))
      .otherwise(eraw)
    withZ.select(groupCols.map(col) ++ Seq(floor(est).as(out)) ++
      extra.map(e => col(e._2)): _*)
  }

  /** The occupied-register relation `(g, b, mx)` of a per-group HLL
    * sketch — the MERGEABLE form of a cardinality count: register max
    * is associative, commutative, and idempotent, so max-merging any
    * set of these relations yields the union corpus's registers
    * BIT-identically (no approximation stacking, no double counting of
    * slices that overlap or replay). */
  private def hllRegisters(df: DataFrame, group: Column,
      value: Column): DataFrame = {
    val s = value.cast("string")
    val (bucket, rho) = hllRegister(s)
    df.where(s.isNotNull)
      .select(group.as("g"), bucket.as("b"), rho.as("rho"))
      .groupBy(col("g"), col("b")).agg(max(col("rho")).as("mx"))
  }

  /** Deterministic HLL distinct count of `value` per `group`:
    * `(g, <out> bigint)`, NULL values ignored, NULL group keys kept
    * as groups (SQL semantics). One scan, two map-side-combinable
    * aggregations; shuffled state is ≤ m register rows per group. */
  def hllDistinct(df: DataFrame, group: Column, value: Column,
      out: String): DataFrame =
    hllEstimate(hllRegisters(df, group, value), Seq("g"), out)

  // ---- durable cardinality sketches -----------------------------------
  // The third durable store next to the signature index (NearDup
  // .writeSignatureIndex) and the IVF index (Embeddings.writeIvfIndex):
  // persist each corpus SLICE's register relation once (e.g. one job per
  // day), answer any-range distinct counts later by max-merging the
  // touched slices — O(slices · m) rows of merge work, never a rescan of
  // 100 TB of raw keys. Same crash contract as the other stores: tmp +
  // _SUCCESS + rename-aside swap, writer-entry healing only.

  /** Persist the register relation of one corpus slice (the shared
    * [[graft.sources.IO.publishStore]] protocol). */
  def writeHllSketch(df: DataFrame, group: Column, value: Column,
      path: String): Unit =
    graft.sources.IO.publishStore(df.sparkSession, path, "__sketch_tmp") {
      tmp => hllRegisters(df, group, value)
        .write.mode("overwrite").parquet(tmp.toString)
    }

  /** Read one persisted slice sketch (reader-passive: heals only a
    * missing-live-dir crash, never deletes — the shared
    * [[graft.sources.IO.readableStore]] contract). */
  def readHllSketch(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    graft.sources.IO.readableStore(spark, path, "__sketch_tmp")
    spark.read.parquet(path)
  }

  /** GDPR-article-17 erasure for the HLL slice store — the one durable
    * store whose state is information-theoretically NON-decrementable:
    * a register holds max(rho) over every value that hashed to it, and
    * max is idempotent but not invertible — there is no "negative
    * register" to append (the lexical store's negative-stats trick has
    * no analog), and a tombstone can't be consulted because the raw
    * values are gone from the state by design. Erasure is therefore a
    * SLICE REBUILD from the raw rows minus the subject (the raw corpus
    * is the source of truth; a sketch is derived state — the same
    * reason the IVF erasure keeps its centroids but the z-table rewrite
    * drops rows). Slicing is what bounds the cost: only the slices the
    * subject touched rebuild (one day-job per touched day at 100 TB),
    * and the atomic generation swap ([[writeHllSketch]]'s publish
    * protocol) makes the rebuilt slice indistinguishable from one built
    * without the subject — the exact contract the other four stores
    * prove via tombstones + compaction, reached here by the only route
    * a sketch admits. Idempotent trivially: re-running the rebuild
    * writes the same registers. */
  def eraseHllSubject(sliceRaw: DataFrame, subject: Column, group: Column,
      value: Column, path: String): Unit =
    writeHllSketch(sliceRaw.where(!coalesce(subject, lit(false))),
      group, value, path)

  /** Distinct-count estimates over the UNION of any set of persisted
    * slices: union the register relations, max-merge per (g, b), run the
    * same estimator. Because register max is idempotent, overlapping or
    * replayed slices cannot double-count — merging N daily sketches
    * gives exactly the sketch (and therefore exactly the estimate) a
    * single pass over the concatenated days would have produced. */
  def mergeHllEstimate(slices: Seq[DataFrame], out: String): DataFrame = {
    require(slices.nonEmpty, "mergeHllEstimate needs at least one slice")
    hllEstimate(
      slices.reduce(_ unionByName _)
        .groupBy(col("g"), col("b")).agg(max(col("mx")).as("mx")),
      Seq("g"), out)
  }

  /** The approx_distinct operator body: per event_type, HLL distinct
    * users, HLL distinct props payloads, and the exact event count — in
    * ONE scan of the fact table. Each row explodes into a tagged
    * (column, value) pair per sketched column plus a counting sentinel,
    * so the three aggregates share a single read instead of re-scanning
    * 100 TB per column; map-side combine still bounds the shuffle at
    * ≤ m register rows per (group, tag). */
  def approxDistinctCounts(events: DataFrame): DataFrame = {
    val tagged = events.select(col("event_type").as("g"), explode(array(
        struct(lit("u").as("tag"), col("user_id").cast("string").as("s")),
        struct(lit("p").as("tag"), col("props").cast("string").as("s")),
        struct(lit("n").as("tag"), lit("").as("s")))).as("x"))
      .select(col("g"), col("x.tag").as("tag"), col("x.s").as("s"))
      .where(col("tag") === "n" || col("s").isNotNull)
    val (bucket, rho) = hllRegister(col("s"))
    val regs = tagged.groupBy(col("g"), col("tag"),
        when(col("tag") === "n", lit(0L)).otherwise(bucket).as("b"))
      .agg(max(when(col("tag") === "n", lit(1L)).otherwise(rho)).as("mx"),
        count(lit(1)).as("c"))
    hllEstimate(regs, Seq("g", "tag"), "est", Seq((sum(col("c")), "cnt")))
      .groupBy(col("g"))
      .agg(
        coalesce(max(when(col("tag") === "u", col("est"))), lit(0L))
          .as("n_users_approx"),
        coalesce(max(when(col("tag") === "p", col("est"))), lit(0L))
          .as("n_props_approx"),
        max(when(col("tag") === "n", col("cnt"))).as("n_events"))
      .select(col("g").as("event_type"), col("n_users_approx"),
        col("n_props_approx"), col("n_events"))
  }

  /** Count-min depth (independent hash rows) and width (counters per
    * row): ε ≈ e/w ≈ 0.13% of total mass, δ ≈ e^−d ≈ 2%. */
  val CmsDepth = 4
  val CmsWidth = 2048

  /** ONE-scan combined build of everything the heavy-hitters threshold
    * needs: each value explodes into its d CMS cells plus one HLL
    * register coordinate, and a single map-side-combined groupBy leaves
    * ≤ d·w + m rows carrying both sketches AND the exact total (the
    * tag-0 cells sum to it — every value lands in exactly one).
    * Returns (sketch `(i, h, c)`, scalars `(total, k)` — one row, or
    * empty on empty input). The derivations reference one aggregated
    * subtree, which AQE's exchange reuse executes once — the old shape
    * scanned the fact relation separately for the CMS build, the total,
    * and the key estimate. */
  private[graft] def cmsWithThreshold(vals: DataFrame): (DataFrame, DataFrame) = {
    val cells = (0 until CmsDepth).map(i => struct(lit(i).as("tag"),
      md5mod(concat(lit("cms"), lit(i.toString), lit(":"), col("s")),
        CmsWidth.toLong).as("k1"),
      lit(0L).as("v")))
    val (bucket, rho) = hllRegister(col("s"))
    val hrow = struct(lit(-1).as("tag"), bucket.as("k1"), rho.cast("long").as("v"))
    // lazy localCheckpoint: the tag filters below are on a GROUP KEY, so
    // Catalyst would push them through the aggregate and the three
    // derivations would each rebuild (and rescan) their own filtered
    // copy — truncating the lineage at the ≤ d·w+m-row aggregated base
    // makes them share one RDD, computed once inside the final job
    // (lazy: no extra job at construction; plan-pinned in PlanShapeSpec)
    val base = vals.select(explode(array(cells :+ hrow: _*)).as("x"))
      .select(col("x.tag").as("tag"), col("x.k1").as("k1"), col("x.v").as("v"))
      .groupBy(col("tag"), col("k1"))
      .agg(count(lit(1)).as("c"), max(col("v")).as("mx"))
      .localCheckpoint(false)
    val sketch = base.where(col("tag") >= 0)
      .select(col("tag").as("i"), col("k1").as("h"), col("c"))
    val totals = base.where(col("tag") === 0)
      .agg(coalesce(sum(col("c")), lit(0L)).as("total"))
    val kest = hllEstimate(base.where(col("tag") === -1)
      .select(lit(1).as("g"), col("k1").as("b"), col("mx")), Seq("g"), "k")
      .select(col("k"))
    (sketch, totals.crossJoin(kest))
  }

  /** Point-query the sketch for each key in `keys` (a distinct `(s)`
    * relation): the estimate is min over the d counters the key hashes
    * to — never an under-count, over by ≤ ε·total with prob 1−δ. The
    * d·w-row sketch broadcasts; only the dimension-sized key relation
    * shuffles for the final min. All-integer arithmetic — the estimates
    * are scan-order free by construction.
    *
    * The sketch relation stores only OCCUPIED cells, so the probe is a
    * LEFT join with absent cells read as 0: a key the sketched corpus
    * never saw has at least one empty cell and correctly estimates 0
    * (an inner join would drop the empty cells and report whatever its
    * colliding cells hold — a huge over-estimate, or no row at all). */
  def cmsEstimates(keys: DataFrame, sketch: DataFrame): DataFrame =
    keys.select(col("s"),
        explode(array((0 until CmsDepth).map(i => lit(i)): _*)).as("i"))
      .select(col("s"), col("i"),
        md5mod(concat(lit("cms"), col("i").cast("string"), lit(":"), col("s")),
          CmsWidth.toLong).as("h"))
      .join(broadcast(sketch), Seq("i", "h"), "left")
      .groupBy(col("s")).agg(min(coalesce(col("c"), lit(0L))).as("est"))
}
