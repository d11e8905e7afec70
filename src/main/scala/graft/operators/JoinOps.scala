package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join strategies for hostile key distributions at scale.
  *
  * AQE's skew-join split handles most skew automatically; these utilities
  * cover the cases it can't: a priori known hot keys in a shuffle join
  * (salting) and repeated large-to-large joins on a stable key (bucketing,
  * see IO + spec — co-located scans, no exchange at read time).
  */
object JoinOps {

  /** Skew-salted inner equi-join. The left (big, skewed) side gets a
    * random-but-deterministic salt in [0, saltFactor); the right side is
    * replicated saltFactor times. One hot key then spreads over
    * `saltFactor` reducers instead of melting one. Use when the right side
    * is too big to broadcast but small enough to replicate.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      saltFactor: Int): DataFrame = {
    val salted = left.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(saltFactor)).cast("int"))
    val replicated = right.withColumn("__salt",
      explode(array((0 until saltFactor).map(lit): _*)))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Bucketed interval join: all activity inside derived incident
    * windows — the top-K busiest sessions, widened ±margin — counted per
    * window. The window relation has arbitrary, unaligned [start, end]
    * bounds with NO natural equi-key, so the naive plan is a nested-loop
    * range join (every event tested against every window). The scalable
    * formulation turns containment into an EQUI-join: time is cut into
    * fixed-width bins, each window explodes into the bins it overlaps
    * (cheap — the exploded side grows by window length / bin width, not
    * by the fact), and each event maps to exactly ONE bin (its ts DIV
    * bin width) — so the plan is a hash join on `bin` with the range
    * test as a residual filter, and needs NO post-join dedup (an event's
    * single bin can meet a given window at most once). Here the exploded
    * window side is tiny → broadcast, and the fact never shuffles; with
    * a fact-sized window table the same plan shuffles both sides by
    * `bin` (salt a hot bin via [[saltedJoin]]).
    *
    * Contracts: a NULL-ts event has no bin and no window (the oracle's
    * BETWEEN is never true for NULL); value sums are guarded decimals
    * (NaN/±Inf/≥1e10 → NULL, excluded from the sum, still counted);
    * the top-K window set is totally ordered (n_events DESC, user,
    * start) so the derived window relation is deterministic.
    */
  def intervalJoinEvents(spark: org.apache.spark.sql.SparkSession,
      dir: String, topK: Int = 20, marginMin: Int = 5,
      binHours: Int = 1): DataFrame =
    intervalJoinEventsFrom(graft.sources.Tables.events(spark, dir),
      topK, marginMin, binHours)

  private[graft] def intervalJoinEventsFrom(events: DataFrame,
      topK: Int = 20, marginMin: Int = 5, binHours: Int = 1): DataFrame = {
    val tsUs = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    val binUs = binHours.toLong * 3600L * 1000000L
    val sess = Relational.sessionizeFrom(events)
    val win = sess
      .orderBy(col("n_events").desc, col("user_id"), col("session_start"))
      .limit(topK)
      .select(col("user_id").as("window_user"),
        (to_timestamp(col("session_start"), tsUs) -
          expr(s"INTERVAL $marginMin MINUTES")).as("w0"),
        (to_timestamp(col("session_end"), tsUs) +
          expr(s"INTERVAL $marginMin MINUTES")).as("w1"))
    val winBins = win.withColumn("bin",
      explode(sequence(expr(s"unix_micros(w0) DIV $binUs"),
        expr(s"unix_micros(w1) DIV $binUs"))))
    val ev = events
      .where(col("ts").isNotNull)
      .withColumn("bin", expr(s"unix_micros(ts) DIV $binUs"))
    val v = expr("try_cast(value AS DECIMAL(12,2))")
    ev.join(broadcast(winBins), Seq("bin"))
      .where(col("ts") >= col("w0") && col("ts") <= col("w1"))
      .groupBy(col("window_user"), col("w0"), col("w1"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(v).cast("double").as("total_value"))
      .select(col("window_user"),
        date_format(col("w0"), tsUs).as("window_start"),
        date_format(col("w1"), tsUs).as("window_end"),
        col("n_events"), col("n_users"), col("total_value"))
  }

  /** Bloom-pruned join — the runtime-filter / sideways-information-passing
    * pattern: when a join's build side is SELECTIVE (here: one quarter's
    * orders) but the probe side is the 100 TB fact, the naive plan
    * shuffles every probe row just to discard most of them in the join.
    * Building a Bloom filter over the build side's keys and testing it at
    * the probe SCAN kills non-matching rows before they ever shuffle.
    * The k=2 Bloom is two md5-salted bit relations (≤ |build keys| longs
    * each — kilobytes at any scale) applied as successive broadcast
    * LeftSemi joins on computed bit columns: zero shuffles, no explode,
    * codegen-friendly, and false positives are harmless BY CONSTRUCTION —
    * they die in the real join, so the result is IDENTICAL to the
    * unpruned join. That identity is the correctness contract: the SQL
    * oracle runs the plain join and must hash-match exactly.
    *
    * This is what Spark's adaptive runtime bloom filters do implicitly;
    * the explicit operator form works on any engine version, any join the
    * optimizer declines, and lets the bit relations persist for reuse
    * across queries (the durable-store shape). */
  def bloomPrunedJoin(spark: org.apache.spark.sql.SparkSession, dir: String,
      mBits: Long = 1L << 21): DataFrame = {
    val ord = graft.sources.Tables.orders(spark, dir)
      .where(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp_ntz") &&
             col("o_orderdate") <  lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
      .select(col("o_orderkey"), col("o_orderpriority"))
    val li = graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    bloomPrune(li, "l_orderkey", ord, "o_orderkey", mBits)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1.0).cast("decimal(3,2)") - col("l_discount").cast("decimal(4,2)")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_lineitems"))
  }

  /** The reusable prune: keep probe rows whose key passes the k=2 Bloom
    * built from `build[buildKey]` — two broadcast LeftSemi joins on
    * md5-salted bit columns, all scan-side, zero shuffles. Guaranteed a
    * SUPERSET of the true matches (one-sided like every Bloom). */
  private[graft] def bloomPrune(probe: DataFrame, probeKey: String,
      build: DataFrame, buildKey: String, mBits: Long): DataFrame = {
    def bitOf(j: Int, c: Column): Column = Sketches.md5mod(
      concat(lit(s"jb$j:"), c.cast("string")), mBits)
    (0 until 2).foldLeft(probe) { (d, j) =>
      val bits = build.select(bitOf(j, col(buildKey)).as(s"bit$j")).distinct()
      d.join(broadcast(bits), bitOf(j, col(probeKey)) === col(s"bit$j"),
        "left_semi")
    }
  }

  /** As-of join (LEFT): for each left row, the latest right row at or
    * before (`strict`: strictly before) the left row's time, per key —
    * right's non-key columns arrive as one struct column `payloadName`
    * (NULL when no right row qualifies).
    *
    * Spark-first formulation: no range join, no per-key collect. Both
    * sides union (right's payload rides a nullable struct), one hash
    * shuffle on the key, one spillable partition-local time sort, then a
    * running `last(payload, ignoreNulls)` window carries the newest right
    * payload forward onto each left row — O(n log n) in partition size
    * with merge-join memory behavior, at any scale. Tie order at equal
    * timestamps is encoded in `__o` (right-before-left for inclusive,
    * left-before-right for strict).
    *
    * `right` must be unique per (key, rightTime) — pre-aggregate ties
    * (e.g. `groupBy(key, t).agg(max(...))`) or the carried payload at a
    * tied timestamp is sort-order dependent.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, payloadName: String,
      strict: Boolean = false): DataFrame = {
    Seq(payloadName, "__t", "__o").foreach { c =>
      require(!left.columns.contains(c), s"left already has a column named $c")
    }
    val payload = struct(right.columns.filterNot(_ == key).map(col).toIndexedSeq: _*)
    // NULL keys never match in a SQL equi/ASOF join — drop NULL-key right
    // rows so NULL-key left rows see an empty partition and get a NULL
    // payload, not each other's. NULL right times would sort NULLS FIRST
    // and masquerade as an infinitely-old match — SQL's ts >= rt is never
    // true for NULL, so drop those too.
    val r = right.where(col(key).isNotNull && col(rightTime).isNotNull)
      .select(col(key), col(rightTime).as("__t"),
        payload.as(payloadName)).withColumn("__o", lit(if (strict) 1 else 0))
    val l = left.withColumn("__t", col(leftTime))
      .withColumn("__o", lit(if (strict) 0 else 1))
    val w = Window.partitionBy(key).orderBy(col("__t"), col("__o"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r, allowMissingColumns = true)
      .withColumn(payloadName, last(col(payloadName), ignoreNulls = true).over(w))
      .where(col("__o") === lit(if (strict) 0 else 1))
      .drop("__t", "__o")
  }
}
