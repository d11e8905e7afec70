package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Scale-path relational analytics: the join/agg/window shapes a dashboard
  * over 100 TB of incidents needs (SURVEY.md §2, rows 13-20).
  *
  * Design rules applied throughout:
  *  - dimension tables (`region`, `nation`, `supplier`) are `broadcast()`
  *    so fact-side scans never shuffle for them;
  *  - aggregates group directly on scan columns → Catalyst injects partial
  *    (map-side) aggregation before the single shuffle;
  *  - floating aggregates are rounded on both the Spark and oracle side so
  *    summation order can never flip a comparison hash;
  *  - every top-N is ordered with a unique tiebreak → deterministic.
  */
object Relational {
  private val TsUs = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** TPC-H Q1 shape: wide single-pass aggregation over the big fact table.
    *
    * Money columns are summed as DECIMAL, not DOUBLE: double summation is
    * shuffle-order dependent (±~1e-4 over 10⁵ addends), which can flip a
    * rounded cent against the oracle between runs. The exact decimal sum
    * casts to a bit-identical double in both engines, so the outputs are
    * deliberately NOT round()ed — engines disagree on boundary-exact
    * round() inputs (shortest-decimal vs binary semantics), and quotients
    * of cent-sums land exactly on boundaries all the time.
    */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val qty = col("l_quantity").cast("decimal(12,2)")
    val price = col("l_extendedprice").cast("decimal(12,2)")
    val disc = col("l_discount").cast("decimal(4,2)")
    val tax = col("l_tax").cast("decimal(4,2)")
    val one = lit(1.0).cast("decimal(3,2)")
    val n = count("*")
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(qty).cast("double").as("sum_qty"),
        sum(price).cast("double").as("sum_base_price"),
        sum(price * (one - disc)).cast("double").as("sum_disc_price"),
        sum(price * (one - disc) * (one + tax)).cast("double").as("sum_charge"),
        (sum(qty).cast("double") / n).as("avg_qty"),
        (sum(price).cast("double") / n).as("avg_price"),
        (sum(disc).cast("double") / n).as("avg_disc"),
        n.as("count_order"))
  }

  /** TPC-H Q3 shape: 3-way join, agg, deterministic top-10 by revenue. */
  def q3TopOrders(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).where(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(spark, dir)
      .where(col("o_orderdate") < lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
    val li = Tables.lineitem(spark, dir)
      .where(col("l_shipdate") > lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
        (lit(1.0).cast("decimal(3,2)") - col("l_discount").cast("decimal(4,2)")))
        .cast("double").as("revenue"))
      .select(col("o_orderkey"), col("revenue"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"), col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 shape: 5-way star join; all dims broadcast; revenue per
    * (region, nation). The only shuffle is the final small groupBy.
    */
  def q5RegionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
      .where(col("o_orderdate") >= lit("1995-01-01 00:00:00").cast("timestamp_ntz") &&
             col("o_orderdate") <  lit("2000-01-01 00:00:00").cast("timestamp_ntz"))
    val sup = Tables.supplier(spark, dir)
    val nat = Tables.nation(spark, dir)
    val reg = Tables.region(spark, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1.0).cast("decimal(3,2)") - col("l_discount").cast("decimal(4,2)")))
          .cast("double").as("revenue"),
        count("*").as("n_lineitems"))
  }

  /** TPC-H Q6 shape: the pure scan-aggregate — ONE filter + one global
    * decimal sum, zero joins, zero wide shuffles (partial aggregation
    * collapses each partition to one row before the single-row exchange).
    * The canonical "is the scan path itself fast" benchmark point: at
    * 100 TB this query IS the parquet reader + predicate pushdown, and
    * `.explain` must show every predicate in PushedFilters. Decimal
    * revenue for the q1 shuffle-order contract. */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp_ntz") &&
             col("l_shipdate") <  lit("1997-01-01 00:00:00").cast("timestamp_ntz") &&
             col("l_discount").between(0.05, 0.07) &&
             col("l_quantity") < 24)
      .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
          col("l_discount").cast("decimal(4,2)"))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_lineitems"))

  /** TPC-H Q10 shape: returned-item revenue per customer — fact⋈fact
    * (lineitem⋈orders) on the join key both sides shuffle by, dims
    * (customer, nation) broadcast, deterministic top-20. The classic
    * "who do we call about all these returns" report. */
  def q10TopReturns(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .where(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp_ntz") &&
             col("o_orderdate") <  lit("1996-07-01 00:00:00").cast("timestamp_ntz"))
    val li = Tables.lineitem(spark, dir).where(col("l_returnflag") === "R")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name").as("nation"))
      .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1.0).cast("decimal(3,2)") - col("l_discount").cast("decimal(4,2)")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_returned"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q14 shape: conditional aggregation over a broadcast-dim join
    * — promo parts' share of monthly revenue. Covers the `part`
    * dimension (the one table no other query touched); the CASE-summed
    * numerator and the total accumulate as exact decimals in ONE
    * aggregation pass, the share is one fixed-order double ratio. */
  def q14PromoShare(spark: SparkSession, dir: String): DataFrame = {
    val rev = col("l_extendedprice").cast("decimal(12,2)") *
      (lit(1.0).cast("decimal(3,2)") - col("l_discount").cast("decimal(4,2)"))
    val promoRev = sum(when(col("p_type") === "PROMO", rev)
      .otherwise(lit(0).cast("decimal(12,2)"))).cast("double")
    val totalRev = sum(rev).cast("double")
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)),
        col("l_partkey") === col("p_partkey"))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .agg(promoRev.as("promo_revenue"), totalRev.as("total_revenue"),
        count(lit(1)).as("n_lineitems"))
      .withColumn("promo_share",
        when(col("total_revenue") =!= 0.0,
          round(lit(100.0) * col("promo_revenue") / col("total_revenue"), 6)))
  }

  /** TPC-H Q4 shape: the EXISTS semi-join — orders in a quarter window
    * with at least one high-volume line shipped after the order date,
    * counted by priority. The semi-join is the shape that matters at
    * scale: lineitem never fans the orders side out (an inner join plus
    * DISTINCT would shuffle every matching line; LeftSemi emits each
    * order at most once and short-circuits on first match), both fact
    * sides shuffle once on the orderkey, and the quantity predicate is
    * pushed to the lineitem scan so non-qualifying lines never leave it.
    * The date window plus the qty≥40 floor keep the EXISTS genuinely
    * selective (~52% of windowed orders qualify at sf0.01). */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .where(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp_ntz") &&
             col("o_orderdate") <  lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    val li = Tables.lineitem(spark, dir)
      .where(col("l_quantity") >= 40)
      .select(col("l_orderkey"), col("l_shipdate"))
    ord.join(li,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
  }

  /** TPC-H Q13 shape: the outer-join histogram — how many customers
    * placed 0, 1, 2, … non-urgent orders. The ON-clause filter (not a
    * WHERE) is the point of Q13: a customer whose every order is urgent
    * still belongs in the histogram, at bucket 0. Spark-side the orders
    * fact is aggregated to (custkey, count) BEFORE the outer join — the
    * join then moves one row per customer instead of one per order, so
    * the only fact-sized shuffle is the pre-aggregation (map-side
    * partials collapse it). The oracle derives the same histogram the
    * classic way (LEFT JOIN then count(o_orderkey)) — an independent
    * re-derivation of the null-extension semantics. */
  def q13CustomerDistribution(spark: SparkSession, dir: String): DataFrame = {
    val ordCnt = Tables.orders(spark, dir)
      .where(col("o_orderpriority") =!= "1-URGENT")
      .groupBy(col("o_custkey"))
      // count the KEY, not the row: the oracle's classic LEFT JOIN form
      // counts count(o_orderkey) — non-NULL keys only — and a NULL
      // o_orderkey row must not inflate a customer's bucket here either
      .agg(count(col("o_orderkey")).as("cnt"))
    Tables.customer(spark, dir).select(col("c_custkey"))
      .join(ordCnt, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("cnt"), lit(0L)).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("n_custs"))
  }

  /** TPC-H Q22 shape: anti-join plus scalar subquery — above-average-
    * balance customers with NO order since the dormancy cutoff, grouped
    * by segment. Two classic pieces: the global average is an exact
    * decimal sum divided once (never the engines' merge-order-dependent
    * double avg()), broadcast as a 1-row relation into the filter; the
    * "no recent order" test is a LeftAnti against the date-pruned orders
    * scan (the predicate reaches PushedFilters, so at 100 TB the anti
    * side reads only the cutoff-recent partitions — NOT the whole fact).
    * LeftAnti needs no DISTINCT on the orders side: multiplicity is
    * irrelevant to non-existence. */
  def q22DormantCustomers(spark: SparkSession, dir: String,
      cutoff: String = "2000-01-01 00:00:00"): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val avgBal = cust.where(col("c_acctbal") > 0)
      .agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") /
            count(lit(1))).as("avg_bal"))
    val recent = Tables.orders(spark, dir)
      .where(col("o_orderdate") >= lit(cutoff).cast("timestamp_ntz"))
      .select(col("o_custkey"))
    cust.crossJoin(broadcast(avgBal))
      .where(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_custs"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
          .as("total_acctbal"))
  }

  /** Z-order layout planner — the multi-dimensional file-clustering pass
    * a 100 TB lakehouse table runs before writing (Delta/Iceberg OPTIMIZE
    * ZORDER): queries filter events by user AND by time, but a 1-D sort
    * serves only its own dimension (day-sorted files: a user predicate
    * reads every file). Interleaving the bits of both dimensions' ranks
    * bounds the file fan-in of BOTH: with 16×16 buckets into 32 files, a
    * user bucket lives in ≤4 files and a day bucket in ≤8 — the z-curve
    * locality guarantee (spec-pinned, not just asserted in prose).
    *
    * Pipeline: each dimension maps to a `2^bits` equi-depth bucket id via
    * cutpoints from the shared bottom-k-by-md5 sample (the
    * RangePartitioner primitive, [[equidepthBucketsFrom]]'s machinery,
    * computed here for BOTH dims from ONE sample pass); bucket ids
    * bit-interleave into the Morton key z; `file_id = z DIV (z-span /
    * files)`. All integer arithmetic end to end — the oracle replays the
    * sample, the cutpoints, and the interleave exactly. Rows with a NULL
    * dimension are unplaceable: file_id NULL (a real group, reported).
    * Output: the layout plan summary — per target file: row count, z
    * range, and how many distinct buckets of each dimension landed there.
    */
  def layoutZorder(spark: SparkSession, dir: String, bits: Int = 4,
      files: Int = 32, k: Int = 4096): DataFrame =
    zorderRows(Tables.events(spark, dir), bits, files, k)
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("ub")).as("n_user_buckets"),
        countDistinct(col("db")).as("n_day_buckets"),
        min(col("z")).as("z_min"), max(col("z")).as("z_max"))

  /** Per-row z-order assignment: (event_id, ub, db, z, file_id). */
  private[graft] def zorderRows(ev0: DataFrame, bits: Int, files: Int,
      k: Int): DataFrame =
    zorderAssigned(ev0, bits, files, k)._1
      .select(col("event_id"), col("ub"), col("db"), col("z"),
        col("file_id"))

  /** The full assignment (every event column + ub/db/z/file_id, no
    * join-back — duplicate event ids must not multiply rows) plus the
    * 1-row cutpoint relation the durable store persists for readers. */
  private[graft] def zorderAssigned(ev0: DataFrame, bits: Int, files: Int,
      k: Int): (DataFrame, DataFrame) = {
    val buckets = 1 << bits
    val zspan = buckets.toLong * buckets
    require(files > 0 && zspan % files == 0,
      s"files must divide the z-span $zspan: $files")
    val spark = ev0.sparkSession
    // the shared sample machinery's WindowGroupLimit raise (pinned at
    // value_percentiles_sampled): without it the global bottom-k rank
    // window sorts the whole fact instead of map-side-pruning to k
    val thKey = "spark.sql.optimizer.windowGroupLimitThreshold"
    if (spark.conf.get(thKey).toLong < k) spark.conf.set(thKey, k)
    // all event columns ride through — the durable store persists the
    // clustered TABLE, not a key list (and a join-back on event_id would
    // multiply duplicate ids); the planner output projects them away
    //
    // the ONE floor day-index definition ([[zorderDayIdx]]) — the build,
    // append, and serve paths must bucket identically or pruning stops
    // being a superset (an inline copy here drifted once; see the
    // r17 advisor note)
    val ev = ev0.withColumn("day_idx", zorderDayIdx)
    val hk = Sketches.md5mod(
      concat(lit("sample:"), col("event_id").cast("string")),
      graft.expressions.SigUtil.P)
    // two-phase global bottom-k: per-salt bottom-k first (the rank limit
    // pushes map-side as WindowGroupLimit, partitioned — a GLOBAL rank
    // window gets no such pushdown and would sort the whole fact on one
    // reducer), then the true global bottom-k over the ≤64k survivors.
    // Bottom-k of a union of per-partition bottom-k IS the global
    // bottom-k, so the sample set — and the oracle's single global
    // row_number replay — are unchanged.
    val phase1 = ev
      .where(col("user_id").isNotNull && col("day_idx").isNotNull)
      .withColumn("hk", hk)
      .withColumn("salt", pmod(col("hk"), lit(64L)))
      .withColumn("s1", row_number().over(
        Window.partitionBy(col("salt")).orderBy(col("hk"), col("event_id"))))
      .where(col("s1") <= k)
    val sample = phase1
      // bounded: phase1 already cut to ≤64·k salted survivors
      .withColumn("srk", row_number().over(
        Window.orderBy(col("hk"), col("event_id"))))
      .where(col("srk") <= k)
      .withColumn("n_s", count(lit(1)).over(
        Window.partitionBy(lit(1))).cast("long"))
    def cutRank(j: Int): Column = greatest(lit(1L),
      floor((lit(j.toLong) * col("n_s")).cast("double") /
        lit(buckets.toDouble)).cast("long"))
    // one 1-row relation carries both dimensions' cutpoint arrays
    // (bounded: both rank windows run on the ≤k-row sample, never events)
    val cuts = broadcast(sample
      .withColumn("rn", row_number().over(
        Window.orderBy(col("user_id"), col("event_id"))).cast("long"))
      .withColumn("rn_d", row_number().over(
        Window.orderBy(col("day_idx"), col("event_id"))).cast("long"))
      .agg(
        array((1 until buckets).map(j =>
          max(when(col("rn") === cutRank(j), col("user_id")))): _*)
          .as("cuts_u"),
        array((1 until buckets).map(j =>
          max(when(col("rn_d") === cutRank(j), col("day_idx")))): _*)
          .as("cuts_d")))
    // the cuts relation carries its own GEOMETRY (bits, files): a reader
    // or appender must never assume the writer's parameters — a store
    // written with non-default geometry served with hard-coded constants
    // would prune a NON-superset silently (r16 advisor finding)
    val cutsWithGeom = broadcast(cuts
      .withColumn("bits", lit(bits)).withColumn("files", lit(files)))
    (zorderApplyCuts(ev0, cutsWithGeom, bits, files), cutsWithGeom)
  }

  /** FLOOR day index of `ts` — matches the serve path's
    * LocalDate.toEpochDay exactly, including pre-1970: FLOOR division,
    * not DIV (which truncates toward zero — a pre-1970 timestamp would
    * land one day high). Integer-exact floor: subtract the non-negative
    * remainder first (never a double floor(), whose 2^53 mantissa cannot
    * carry unix_micros exactly). ONE definition for the build and append
    * paths: a drift here silently breaks pruning-is-a-superset. */
  private def zorderDayIdx: Column =
    expr("(unix_micros(ts) - ((unix_micros(ts) % 86400000000) " +
      "+ 86400000000) % 86400000000) DIV 86400000000")

  /** Assign every event row its (ub, db, z, file_id) against an EXISTING
    * 1-row cutpoint relation — shared by the full build and the append
    * path, so an increment's rows land in exactly the files a rebuild
    * would put them in. `cutsDf` must be broadcast-sized (it is 1 row). */
  private[graft] def zorderApplyCuts(ev0: DataFrame, cutsDf: DataFrame,
      bits: Int, files: Int): DataFrame = {
    val buckets = 1 << bits
    val zspan = buckets.toLong * buckets
    require(files > 0 && zspan % files == 0,
      s"files must divide the z-span $zspan: $files")
    def bucketOf(dim: String, cutsCol: String): Column =
      when(col(dim).isNotNull,
        size(filter(col(cutsCol), c => c <= col(dim))).cast("long"))
    def interleave(ub: Column, db: Column): Column =
      (0 until bits).map { i =>
        shiftright(ub, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)) +
          shiftright(db, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))
      }.reduce(_ + _)
    ev0.withColumn("day_idx", zorderDayIdx)
      .crossJoin(broadcast(cutsDf.select(col("cuts_u"), col("cuts_d"))))
      .withColumn("ub", bucketOf("user_id", "cuts_u"))
      .withColumn("db", bucketOf("day_idx", "cuts_d"))
      .withColumn("z", interleave(col("ub"), col("db")))
      .withColumn("file_id", expr(s"z DIV ${zspan / files}"))
      .drop("cuts_u", "cuts_d", "day_idx")
  }

  /** TPC-H Q18 shape: the HAVING-subquery join — large-volume orders
    * (total quantity above a floor) with their customers. The classic
    * form re-joins lineitem against its own HAVING aggregate and sums
    * quantity twice; here the aggregate-before-join rule collapses that
    * to ONE lineitem pass (the pre-aggregated relation carries total_qty
    * into the join), orders⋈big shuffles once on the orderkey, customer
    * broadcasts, and the top-20 is a distributed TakeOrdered with a
    * unique tiebreak. Quantity sums as exact decimals (the q1 rule). */
  def q18LargeOrders(spark: SparkSession, dir: String,
      minQty: Int = 180): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("decimal(12,2)")).as("total_qty"))
      .where(col("total_qty") > minQty)
    Tables.orders(spark, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_totalprice"), col("total_qty").cast("double").as("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
  }

  /** TPC-H Q2 shape: the correlated scalar-min subquery — per part, the
    * supplier with the minimum account balance among its line-item
    * suppliers (standing in for Q2's min supplycost over partsupp, which
    * this schema lacks). The Spark-first form replaces the correlated
    * subquery with a rank window over the distinct (part, supplier)
    * relation (WindowGroupLimit-pushed), supplier/part broadcast, ties
    * pinned to the smallest suppkey; the oracle keeps the CLASSIC
    * double-correlated form (min balance, then min suppkey among tied
    * balances) — an independent derivation of the same selection. */
  def q2MinSupplier(spark: SparkSession, dir: String,
      topK: Int = 50): DataFrame = {
    val ps = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    // NULL balances drop BEFORE the rank: the oracle's correlated
    // min(s_acctbal) skips NULLs, so `s_acctbal = (SELECT min …)` can
    // never seat a NULL-balance supplier — and a part whose suppliers
    // are ALL NULL-balance vanishes from both engines identically.
    // (Spark's default asc NULLS FIRST would seat it at rank 1.)
    val j = ps.join(broadcast(Tables.supplier(spark, dir)
        .where(col("s_acctbal").isNotNull)),
      col("l_suppkey") === col("s_suppkey"))
    val w = Window.partitionBy(col("l_partkey"))
      .orderBy(col("s_acctbal"), col("l_suppkey"))
    j.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
      .join(broadcast(Tables.part(spark, dir)),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_partkey"), col("p_name"), col("s_suppkey"),
        col("s_name"), col("s_acctbal"))
      .orderBy(col("s_acctbal").desc, col("p_partkey"))
      .limit(topK)
  }

  /** Durable z-clustered TABLE — [[layoutZorder]]'s plan made real, and
    * the fifth durable store (IVF / signature / lexical / BPE siblings):
    * the events table rewritten into `files` directory partitions in
    * Morton-key order, plus the 1-row cutpoint relation readers need to
    * map raw predicates onto bucket ids. Layout:
    *   path/cuts            1 row (cuts_u, cuts_d)
    *   path/data            all event columns + ub/db/z, directory-
    *                        partitioned by fid (z DIV span/files;
    *                        unplaceable NULL-dim rows land in fid -1 —
    *                        partitionBy would otherwise write them to a
    *                        Hive default-partition dir)
    * Published via the shared tmp + _SUCCESS + rename-aside protocol
    * ([[graft.sources.IO.publishStore]]): a crash leaves the old
    * complete table or the new one, never cuts of one generation over
    * data of another. */
  def writeZorderTable(spark: SparkSession, dir: String, path: String,
      bits: Int = 4, files: Int = 32, k: Int = 4096): Unit =
    writeZorderTableFrom(Tables.events(spark, dir), path, bits, files, k)

  private[graft] def writeZorderTableFrom(events: DataFrame, path: String,
      bits: Int = 4, files: Int = 32, k: Int = 4096): Unit = {
    val spark = events.sparkSession
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (assigned, cuts) = zorderAssigned(events, bits, files, k)
    graft.sources.IO.publishStore(spark, path, "__zorder_tmp") { tmp =>
      // writer entry: a crashed append's COMPLETE tmp promotes into the
      // OLD generation first (the IVF/lex contract — the rebuild
      // supersedes the store either way, and no append tmp may leak
      // into the new generation); a crashed compaction heals the same way
      recoverZorderAppend(fs, p)
      recoverZorderErase(fs, p)
      recoverZorderCompact(fs, p)
      cuts.coalesce(1).write.mode("overwrite").parquet(s"$tmp/cuts")
      assigned
        .withColumn("fid", coalesce(col("file_id"), lit(-1L)))
        .drop("file_id")
        // one file per target directory: the repartition key IS the
        // partition key (the IVF writer's rule)
        .repartition(col("fid"))
        .write.mode("overwrite").partitionBy("fid").parquet(s"$tmp/data")
    }
  }

  /** Content-keyed increment id of an event batch — the shared
    * [[graft.sources.StoreProtocol.contentKey]] fold (XOR + decimal sum +
    * count, NUL-separated fields so ("ab","c") never keys like
    * ("a","bc")): a byte-identical redelivery of the same increment keys
    * identically, which is exactly what makes the append ledger
    * idempotent — and the key is MULTISET-sensitive, because duplicate
    * event rows are legal data here: under a bare XOR fold paired
    * duplicates cancel ({A,A,B} keys like {C,C,B}), so a distinct second
    * increment could silently drop as a "fully-promoted replay". */
  private[graft] def zorderIncId(events: DataFrame): String =
    graft.sources.StoreProtocol.contentKey(events,
      expr("xxhash64(concat_ws(CHR(0), " +
        "coalesce(CAST(event_id AS STRING), 'null'), " +
        "coalesce(CAST(unix_micros(ts) AS STRING), 'null'), " +
        "coalesce(CAST(user_id AS STRING), 'null'), " +
        "coalesce(event_type, 'null'), " +
        "coalesce(CAST(value AS STRING), 'null'), " +
        "coalesce(props, 'null')))"))

  /** Append an event increment to a persisted z-table — the store-family
    * contract ("increments at increment cost", the appendIvfIndex /
    * appendLexIndex shape): assignment runs against the STORED cutpoint
    * relation and geometry (never a recomputed sample — the increment's
    * rows must land in exactly the fid directories the serve path will
    * prune to), compute and I/O are ∝ the increment, and new files move
    * INSIDE the live fid directories via per-file rename.
    *
    * Exactly-once by content, unlike the IVF/lex appends (whose read
    * sides collapse redelivered rows): duplicate event rows are LEGAL
    * data here — the serve path counts rows, so a replayed increment
    * must not land twice. Two mechanisms, both keyed by the increment's
    * content id: (1) a ledger marker (`path/incs/<inc_id>`) created
    * after promote — a replay of a fully-promoted append is a no-op
    * before any write happens; (2) deterministic increment file names
    * (`inc-<inc_id>-<i>.parquet`) — a resumed or raced promote renames
    * each file at most once (an existing target means this file already
    * landed).
    *
    * Crash contract (the IVF append's): the increment writes COMPLETE to
    * a tmp (root _SUCCESS = completeness marker, the inc id persisted in
    * the tmp as `INCID_<id>`), then files move; a crashed move RESUMES at
    * the next writer entry; readers never heal and simply don't see a
    * crashed increment until a writer promotes it. Single-flight
    * writers, like every store here. */
  def appendZorderTable(spark: SparkSession, path: String,
      newEvents: DataFrame): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.IO.recoverStore(fs, p,
      new org.apache.hadoop.fs.Path(path + "__zorder_tmp"))
    recoverZorderAppend(fs, p)
    recoverZorderErase(fs, p)
    recoverZorderCompact(fs, p)
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$path/cuts")),
      s"cannot append to a missing z-table at $path — build with writeZorderTable")
    val cutsDf = spark.read.parquet(s"$path/cuts")
    val cutsRow = cutsDf.head()
    val incId = zorderIncId(newEvents)
    // an EMPTY increment is a legal no-op (an ingest tick with no new
    // rows — including against an empty-base store, whose NULL cutpoints
    // would otherwise fail below with nothing to place anyway)
    if (incId.split('_').last == "0") return
    require(!cutsRow.isNullAt(cutsRow.fieldIndex("cuts_u")),
      s"cannot append a non-empty increment to an EMPTY-corpus z-table " +
        s"at $path (NULL cutpoints place nothing) — rebuild with " +
        "writeZorderTable over the union")
    val (bits, files) = zorderGeometry(cutsRow)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/incs/$incId")))
      return // fully-promoted replay: the at-least-once no-op
    // FORMAT COMPAT (r18 advisor): the inc id grew a middle decimal-sum
    // field (xor_count → xor_sum_count). A store persisted under the old
    // format holds ledger markers the new id can't match, so a replayed
    // old increment would append its rows a SECOND time — permanent
    // duplicates in an exactly-once-by-content store. The legacy id is
    // derivable (drop the middle field), so the replay gate checks both.
    val legacyIncId = incId.split('_') match {
      case Array(x, _, c) => s"${x}_$c"
      case _ => incId
    }
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/incs/$legacyIncId")))
      return // fully-promoted replay recorded under the pre-r18 id format
    val tmp = new org.apache.hadoop.fs.Path(path + "__append_tmp")
    fs.delete(tmp, true) // stale no-_SUCCESS debris from a crashed write
    zorderApplyCuts(newEvents, broadcast(cutsDf), bits, files)
      .withColumn("fid", coalesce(col("file_id"), lit(-1L)))
      .drop("file_id")
      .repartition(col("fid"))
      .write.mode("overwrite").partitionBy("fid").parquet(s"$tmp/data")
    // the inc id rides IN the tmp (as a filename) so a crashed promote
    // can resume with the same deterministic target names
    fs.create(new org.apache.hadoop.fs.Path(tmp, s"INCID_$incId")).close()
    fs.create(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")).close()
    promoteZorderAppend(fs, tmp, p, incId)
  }

  /** Move a COMPLETE append tmp's fid files into the live data dirs under
    * deterministic names, then cut the ledger marker and drop the tmp.
    * Idempotent two ways (the shared [[graft.sources.StoreProtocol
    * .promoteKeyed]] contract): each target name is a pure function of
    * (inc id, the source file's ORIGINAL name) — the original name is
    * the stable rank, so a resume over the surviving files maps each to
    * the same target it had before the crash (a rank over the REMAINING
    * files would shift and delete a not-yet-moved file against an
    * already-landed target: silent row loss) — and the ledger marker
    * cuts BEFORE the tmp drops, so a full re-write (which would mint
    * fresh part names) can never follow a completed move. */
  private def promoteZorderAppend(fs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path, p: org.apache.hadoop.fs.Path,
      incId: String): Unit = {
    val dataTmp = new org.apache.hadoop.fs.Path(tmp, "data")
    val subs = if (!fs.exists(dataTmp)) Seq.empty[(String, String)]
      else fs.listStatus(dataTmp).filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("fid="))
        .map(d => (s"data/${d.getPath.getName}",
          s"data/${d.getPath.getName}")).toSeq
    graft.sources.StoreProtocol.promoteKeyed(fs, tmp, p, "inc", incId, subs)
    fs.mkdirs(new org.apache.hadoop.fs.Path(p, "incs"))
    val marker = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(p, "incs"), incId)
    if (!fs.exists(marker)) fs.create(marker).close()
    fs.delete(tmp, true)
  }

  /** WRITER-entry healing for a crashed append: a tmp with the root
    * _SUCCESS is a complete increment — resume its move under the inc id
    * persisted in the tmp; one without is partial debris — drop it (the
    * caller replays the batch, and the content key makes that safe).
    * The shared content-keyed contract ([[graft.sources.StoreProtocol
    * .recoverKeyedPromote]]), INCID-marked. */
  private def recoverZorderAppend(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Unit =
    graft.sources.StoreProtocol.recoverKeyedPromote(fs, p, "__append_tmp",
      "INCID")((tmp, incId) => promoteZorderAppend(fs, tmp, p, incId))

  /** (bits, files) persisted in the cuts relation — a reader must never
    * assume the writer's geometry. */
  private def zorderGeometry(cutsRow: org.apache.spark.sql.Row): (Int, Int) =
    (cutsRow.getAs[Int]("bits"), cutsRow.getAs[Int]("files"))

  /** The file ids a (user, day-range) predicate can possibly touch —
    * the z-curve pruning set: ub is fixed by the user, db ranges over
    * the day window, and every (ub, db) cell maps to one file. For any
    * single user this set is bounded by the curve (≤ files/2^(bits-
    * log₂(files)/2) — 4 of 32 at the defaults) no matter how wide the
    * day range. */
  private[graft] def zorderPrunedFids(cutsU: Seq[Long], cutsD: Seq[Long],
      userId: Long, dayLo: Long, dayHi: Long, bits: Int,
      files: Int): Seq[Long] = {
    val buckets = 1 << bits
    val zspan = buckets.toLong * buckets
    def bucketOf(cuts: Seq[Long], v: Long): Long = cuts.count(_ <= v).toLong
    def morton(ub: Long, db: Long): Long =
      (0 until bits).map(i => (((ub >> i) & 1L) << (2 * i + 1)) |
        (((db >> i) & 1L) << (2 * i))).sum
    val ub = bucketOf(cutsU, userId)
    val dbLo = bucketOf(cutsD, dayLo)
    val dbHi = bucketOf(cutsD, dayHi)
    (dbLo to dbHi).map(db => morton(ub, db) / (zspan / files)).distinct
  }

  /** Serve a 2-D point-range predicate (user_id = ? AND day ∈ [lo, hi])
    * from the persisted z-table: the cutpoints map the predicate to its
    * ≤4-of-32 file set, the scan partition-prunes to those directories,
    * and the exact predicate runs as a residual — at 100 TB the query
    * reads ~1/8th of the table instead of all of it, for EITHER
    * dimension (a 1-D day-sorted table serves only day predicates).
    * Result is exact (pruning is a superset by construction); the
    * oracle is the plain filter on the raw table. */
  def eventsServed2d(spark: SparkSession, dir: String, userId: Long,
      dayLo: String, dayHi: String): DataFrame =
    eventsServed2dFrom(spark, servedZorderPath(spark, dir), userId,
      dayLo, dayHi)

  /** [[eventsServed2d]] against an explicit store path — geometry comes
    * from the persisted cuts relation (never hard-coded constants: a
    * store written with non-default (bits, files) must prune with ITS
    * geometry or the pruned set stops being a superset), and erased
    * subjects drop via a broadcast anti-join against the tombstone
    * relation (see [[eraseZorderSubject]]) until the next compaction
    * rewrites them away physically. */
  def eventsServed2dFrom(spark: SparkSession, path: String, userId: Long,
      dayLo: String, dayHi: String): DataFrame = {
    graft.sources.IO.readableStore(spark, path, "__zorder_tmp")
    // an EMPTY corpus publishes a cuts row of NULL cutpoints and zero
    // data directories (partitionBy writes nothing): serve the same
    // answer the raw-table aggregate gives — one row of zero counts.
    // Probed on the PATH'S OWN filesystem (StoreProtocol) — a
    // java.io.File probe on an hdfs://-style store answers 0 and a
    // populated table would serve the zero-row aggregate.
    val dataDirs =
      graft.sources.StoreProtocol.subdirCount(spark, s"$path/data", "fid=")
    if (dataDirs == 0)
      return spark.range(1).select(lit(userId).as("user_id"),
        lit(0L).as("n_events"), lit(null).cast("double").as("total_value"),
        lit(0L).as("n_types"))
    val cutsRow = servedCutsRow(spark, path)
    val cutsU = cutLongs(cutsRow, "cuts_u")
    val cutsD = cutLongs(cutsRow, "cuts_d")
    val (bits, files) = zorderGeometry(cutsRow)
    val loDay = java.time.LocalDate.parse(dayLo).toEpochDay
    val hiDay = java.time.LocalDate.parse(dayHi).toEpochDay
    val fids = zorderPrunedFids(cutsU, cutsD, userId, loDay, hiDay,
      bits, files)
    val lo = lit(s"$dayLo 00:00:00").cast("timestamp_ntz")
    val hi = lit(java.time.LocalDate.parse(dayHi).plusDays(1).toString +
      " 00:00:00").cast("timestamp_ntz")
    val v = expr("try_cast(value AS DECIMAL(12,2))")
    val scan = spark.read.parquet(s"$path/data")
      .where(col("fid").isin(fids: _*))
      .where(col("user_id") === userId &&
        col("ts") >= lo && col("ts") < hi)
    zorderTombstones(spark, path)
      .map(t => scan.join(broadcast(t), Seq("user_id"), "left_anti"))
      .getOrElse(scan)
      .agg(count(lit(1)).as("n_events"),
        sum(v).cast("double").as("total_value"),
        countDistinct(col("event_type")).as("n_types"))
      .select(lit(userId).as("user_id"), col("n_events"),
        col("total_value"), col("n_types"))
  }

  /** The persisted cuts row for a SERVE path, memoized per session (the
    * [[graft.sources.StoreProtocol.cached]] serve-metadata cache):
    * repeat point lookups pay zero FS listings and zero geometry jobs;
    * any writer entry on the store invalidates. Writers keep reading
    * fresh — they run after their own recovery pass and must never
    * trust a pre-recovery snapshot. */
  private def servedCutsRow(spark: SparkSession,
      path: String): org.apache.spark.sql.Row =
    graft.sources.StoreProtocol.cached(spark, s"$path/cuts", "row") {
      spark.read.parquet(s"$path/cuts").head()
    }

  /** A cutpoint array of the persisted cuts row, as longs. NULL cut
    * arrays (a corpus whose every row lacks one dimension — the sample
    * is empty but fid=-1 still holds data) read as empty; bucketOf over
    * the empty seq places everything in bucket 0, so pruning stays a
    * superset. ONE definition for every reader of the cuts relation. */
  private def cutLongs(cutsRow: org.apache.spark.sql.Row,
      field: String): Seq[Long] =
    Option(cutsRow.getSeq[Any](cutsRow.fieldIndex(field)))
      .map(_.collect { case l: java.lang.Long => l.longValue })
      .getOrElse(Seq.empty)

  /** As-of point lookup served from the z-table — the "latest state for
    * user X as of time t" query a 100 TB ops table answers constantly:
    * the cutpoints map (user, (-∞, t]) onto its pruned fid set — ub is
    * fixed by the user, so by the z-curve bound the set stays ≤4-of-32
    * for ANY time horizon, not just narrow windows — the scan
    * partition-prunes to those directories, the exact predicate runs as
    * a residual, and the latest surviving row wins (total order pinned:
    * ts DESC, then event_id / event_type DESC NULLS LAST — both engines
    * seat the same row under at-least-once duplicates). NULL-ts rows are
    * off the timeline (the shared sessionizer rule — never "as of"
    * anything), which also keeps the fid=-1 NULL-dim residue out of the
    * answer by predicate alone. Erased subjects drop via the tombstone
    * anti-join, so an erased user's as-of answer is the EMPTY relation —
    * exactly what a store built without them serves. Result ≡ the
    * raw-table as-of, which IS the oracle. */
  def eventsAsofServedFrom(spark: SparkSession, path: String, userId: Long,
      asOf: String): DataFrame = {
    graft.sources.IO.readableStore(spark, path, "__zorder_tmp")
    def empty = spark.range(0).select(lit(userId).as("user_id"),
      lit(null).cast("long").as("asof_us"),
      lit(null).cast("string").as("event_type"),
      lit(null).cast("double").as("value"))
    val dataDirs =
      graft.sources.StoreProtocol.subdirCount(spark, s"$path/data", "fid=")
    if (dataDirs == 0) return empty
    val cutsRow = servedCutsRow(spark, path)
    val cutsU = cutLongs(cutsRow, "cuts_u")
    val cutsD = cutLongs(cutsRow, "cuts_d")
    val (bits, files) = zorderGeometry(cutsRow)
    // every day bucket from the earliest (below all cutpoints) up to the
    // as-of day: day(ts) ≤ day(asOf) whenever ts ≤ asOf, so the pruned
    // set is a superset of the predicate's rows
    val dayLo = if (cutsD.isEmpty) 0L else cutsD.min - 1
    val dayHi = java.time.LocalDate.parse(asOf.take(10)).toEpochDay
    val fids = zorderPrunedFids(cutsU, cutsD, userId, dayLo, dayHi,
      bits, files)
    val scan = spark.read.parquet(s"$path/data")
      .where(col("fid").isin(fids: _*))
      .where(col("user_id") === userId &&
        col("ts") <= lit(asOf).cast("timestamp_ntz"))
    val latest = Window.partitionBy(col("user_id")).orderBy(col("ts").desc,
      col("event_id").desc_nulls_last, col("event_type").desc_nulls_last)
    zorderTombstones(spark, path)
      .map(t => scan.join(broadcast(t), Seq("user_id"), "left_anti"))
      .getOrElse(scan)
      .withColumn("rk", row_number().over(latest))
      .where(col("rk") === 1)
      .select(col("user_id"), expr("unix_micros(ts)").as("asof_us"),
        col("event_type"), col("value").cast("double").as("value"))
  }

  /** Serve a BATCH of (user, day-window) predicates from ONE pruned scan
    * of the z-table — the dashboard / API-batch shape at 100 TB: N
    * point-range requests cost one scan of the UNION of their pruned
    * file sets (each ≤4-of-32 by the z-curve, so the union stays
    * request-bounded, never store-sized) plus one broadcast join —
    * not N separate passes. The request set is dimension-sized (a
    * driver list in production too — it came off an API queue); each
    * event row joins every request it satisfies, so overlapping windows
    * and repeated users aggregate independently and exactly; a request
    * matching nothing still reports its zero row, and erased subjects
    * drop via the tombstone anti-join before aggregation (the
    * single-serve contract, element-for-element). */
  def eventsServed2dBatchFrom(spark: SparkSession, path: String,
      requests: Seq[(Long, String, String)]): DataFrame = {
    val sp = spark
    import sp.implicits._
    eventsServed2dBatchRelation(spark, path,
      requests.toDF("q_user", "win_lo", "win_hi"))
  }

  /** [[eventsServed2dBatchFrom]] with the request set as a RELATION — the
    * production shape: an API/DSAR queue hands requests as a table (the
    * batch-erasure convention, [[eraseZorderSubjects]]), not a driver
    * Seq. Columns: `q_user` (long), `win_lo` / `win_hi` ('yyyy-MM-dd'
    * strings). Requests are DISTINCTed (a redelivered request answers
    * once) and NULL-field rows drop (unanswerable as posed). The request
    * dimension is collected to drive the fid-union pruning — legal by
    * the family's contract: requests are dimension-sized (they came off
    * a queue), never a fact. The Seq form above is a thin wrapper. */
  def eventsServed2dBatchRelation(spark: SparkSession, path: String,
      reqRelation: DataFrame): DataFrame = {
    val requests = reqRelation
      .select(col("q_user").cast("long"), col("win_lo").cast("string"),
        col("win_hi").cast("string"))
      .where(col("q_user").isNotNull && col("win_lo").isNotNull &&
        col("win_hi").isNotNull)
      .distinct()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq.sorted
    require(requests.nonEmpty, "batch serve needs at least one request")
    graft.sources.IO.readableStore(spark, path, "__zorder_tmp")
    val sp = spark
    import sp.implicits._
    val reqDf = requests.map { case (u, lo, hi) =>
      (u, lo, hi, s"$lo 00:00:00",
        s"${java.time.LocalDate.parse(hi).plusDays(1)} 00:00:00")
    }.toDF("q_user", "win_lo", "win_hi", "lo_s", "hi_s")
      .withColumn("lo_ts", col("lo_s").cast("timestamp_ntz"))
      .withColumn("hi_ts", col("hi_s").cast("timestamp_ntz"))
      .drop("lo_s", "hi_s")
    def zeros = reqDf.select(col("q_user").as("user_id"), col("win_lo"),
      col("win_hi"), lit(0L).as("n_events"),
      lit(null).cast("double").as("total_value"), lit(0L).as("n_types"))
    val dataDirs =
      graft.sources.StoreProtocol.subdirCount(spark, s"$path/data", "fid=")
    if (dataDirs == 0) return zeros
    val cutsRow = servedCutsRow(spark, path)
    val cutsU = cutLongs(cutsRow, "cuts_u")
    val cutsD = cutLongs(cutsRow, "cuts_d")
    val (bits, files) = zorderGeometry(cutsRow)
    val fids = requests.flatMap { case (u, lo, hi) =>
      zorderPrunedFids(cutsU, cutsD, u,
        java.time.LocalDate.parse(lo).toEpochDay,
        java.time.LocalDate.parse(hi).toEpochDay, bits, files)
    }.distinct
    val scan0 = spark.read.parquet(s"$path/data")
      .where(col("fid").isin(fids: _*))
    val scan = zorderTombstones(spark, path)
      .map(t => scan0.join(broadcast(t), Seq("user_id"), "left_anti"))
      .getOrElse(scan0)
    val v = expr("try_cast(value AS DECIMAL(12,2))")
    val agg = scan.join(broadcast(reqDf),
        col("user_id") === col("q_user") &&
          col("ts") >= col("lo_ts") && col("ts") < col("hi_ts"))
      .groupBy(col("q_user"), col("win_lo"), col("win_hi"))
      .agg(count(lit(1)).as("n_events"),
        sum(v).cast("double").as("total_value"),
        countDistinct(col("event_type")).as("n_types"))
    reqDf.join(agg, Seq("q_user", "win_lo", "win_hi"), "left")
      .select(col("q_user").as("user_id"), col("win_lo"), col("win_hi"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("total_value"),
        coalesce(col("n_types"), lit(0L)).as("n_types"))
  }

  /** Batch serve from the base z-store — the registered API-batch query:
    * four requests (one per user-window shape, including a narrow
    * two-day window) answered by one pruned scan. */
  def eventsServed2dBatch(spark: SparkSession, dir: String): DataFrame =
    eventsServed2dBatchFrom(spark, servedZorderPath(spark, dir), Seq(
      (3L, "2024-01-03", "2024-02-15"),
      (5L, "2024-01-10", "2024-03-01"),
      (7L, "2024-02-01", "2024-02-10"),
      (11L, "2024-01-05", "2024-01-06")))

  /** Batch as-of: N (user, horizon) point lookups from ONE pruned scan —
    * [[eventsAsofServedFrom]] given the [[eventsServed2dBatchFrom]]
    * treatment: the union of the requests' pruned fid sets feeds one
    * partition-pruned scan, requests ride a broadcast join, and the
    * per-request latest row wins under the same pinned total order (the
    * rank window partitions by the REQUEST, so one user at two horizons
    * answers independently). A request with nothing at-or-before its
    * horizon — or an erased subject — contributes NO row, exactly the
    * single-serve contract. */
  def eventsAsofBatchFrom(spark: SparkSession, path: String,
      requests: Seq[(Long, String)]): DataFrame = {
    val sp = spark
    import sp.implicits._
    eventsAsofBatchRelation(spark, path, requests.toDF("q_user", "horizon"))
  }

  /** [[eventsAsofBatchFrom]] with the request set as a RELATION — the
    * [[eventsServed2dBatchRelation]] contract applied to the as-of
    * lookup: columns `q_user` (long), `horizon` (timestamp string);
    * distinct requests, NULL-field rows drop, the collected request
    * dimension drives the fid-union pruning. */
  def eventsAsofBatchRelation(spark: SparkSession, path: String,
      reqRelation: DataFrame): DataFrame = {
    val requests = reqRelation
      .select(col("q_user").cast("long"), col("horizon").cast("string"))
      .where(col("q_user").isNotNull && col("horizon").isNotNull)
      .distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    require(requests.nonEmpty, "batch as-of needs at least one request")
    graft.sources.IO.readableStore(spark, path, "__zorder_tmp")
    val sp = spark
    import sp.implicits._
    val reqDf = requests.toDF("q_user", "horizon")
      .withColumn("asof_ts", col("horizon").cast("timestamp_ntz"))
    def empty = reqDf.limit(0).select(col("q_user").as("user_id"),
      col("horizon"), lit(null).cast("long").as("asof_us"),
      lit(null).cast("string").as("event_type"),
      lit(null).cast("double").as("value"))
    val dataDirs =
      graft.sources.StoreProtocol.subdirCount(spark, s"$path/data", "fid=")
    if (dataDirs == 0) return empty
    val cutsRow = servedCutsRow(spark, path)
    val cutsU = cutLongs(cutsRow, "cuts_u")
    val cutsD = cutLongs(cutsRow, "cuts_d")
    val (bits, files) = zorderGeometry(cutsRow)
    val dayLo = if (cutsD.isEmpty) 0L else cutsD.min - 1
    val fids = requests.flatMap { case (u, asOf) =>
      zorderPrunedFids(cutsU, cutsD, u, dayLo,
        java.time.LocalDate.parse(asOf.take(10)).toEpochDay, bits, files)
    }.distinct
    val scan0 = spark.read.parquet(s"$path/data")
      .where(col("fid").isin(fids: _*))
    val scan = zorderTombstones(spark, path)
      .map(t => scan0.join(broadcast(t), Seq("user_id"), "left_anti"))
      .getOrElse(scan0)
    val latest = Window.partitionBy(col("q_user"), col("horizon"))
      .orderBy(col("ts").desc, col("event_id").desc_nulls_last,
        col("event_type").desc_nulls_last)
    scan.join(broadcast(reqDf),
        col("user_id") === col("q_user") && col("ts") <= col("asof_ts"))
      .withColumn("rk", row_number().over(latest))
      .where(col("rk") === 1)
      .select(col("q_user").as("user_id"), col("horizon"),
        expr("unix_micros(ts)").as("asof_us"),
        col("event_type"), col("value").cast("double").as("value"))
  }

  /** Batch as-of from the base z-store — the registered query: four
    * requests including the same user at two horizons and a pre-corpus
    * horizon (which contributes no row). */
  def eventsAsofBatch(spark: SparkSession, dir: String): DataFrame =
    eventsAsofBatchFrom(spark, servedZorderPath(spark, dir), Seq(
      (3L, "2024-01-20 00:00:00"),
      (5L, "2024-02-10 12:00:00"),
      (5L, "2024-01-08 06:00:00"),
      (7L, "1999-01-01 00:00:00")))

  /** Pruning-bound calibration for the z-store — the minhash_calibration
    * pattern applied to layout (the "how good is the approximation"
    * harness the other families already carry): for a real predicate
    * workload drawn from the corpus, MEASURE the pruned-file count per
    * predicate family against the z-curve's theoretical worst case. The
    * workload is a deterministic md5 1-in-4 subject sample (the
    * dsar_report pick — SQL-replayable, and at 100 TB the same pick
    * bounds the calibration's cost) crossed with three day-window
    * families (full history / one month / one week — all user-fixed, so
    * the curve bound is the ≤4-of-32 serve bound), plus every distinct
    * corpus day as a day-point family (the ≤8 transpose bound). The
    * `bound` column is computed from the geometry grid itself (max over
    * all buckets), so the relation reads "empirical max vs worst case"
    * per family; the oracle replays cutpoints, bucket maps, morton
    * arithmetic, and the grid bound in SQL. All integer arithmetic
    * except the round(avg, 6). */
  def zorderCalibration(spark: SparkSession, dir: String): DataFrame = {
    val path = servedZorderPath(spark, dir)
    graft.sources.IO.readableStore(spark, path, "__zorder_tmp")
    val cutsRow = servedCutsRow(spark, path)
    val cutsU = cutLongs(cutsRow, "cuts_u")
    val cutsD = cutLongs(cutsRow, "cuts_d")
    val (bits, files) = zorderGeometry(cutsRow)
    val buckets = 1 << bits
    val zspan = buckets.toLong * buckets
    def bucketOf(cuts: Seq[Long], v: Long): Long = cuts.count(_ <= v).toLong
    def morton(ub: Long, db: Long): Long = (0 until bits).map(i =>
      (((ub >> i) & 1L) << (2 * i + 1)) | (((db >> i) & 1L) << (2 * i))).sum
    def fid(ub: Long, db: Long): Long = morton(ub, db) / (zspan / files)
    // geometry worst cases (the grid max — for the default (4, 32):
    // user-fixed 4, day-fixed 8)
    val boundU = (0L until buckets).map(ub =>
      (0L until buckets).map(db => fid(ub, db)).distinct.size).max.toLong
    val boundD = (0L until buckets).map(db =>
      (0L until buckets).map(ub => fid(ub, db)).distinct.size).max.toLong
    val ev = Tables.events(spark, dir)
    // Per-bucket DISTRIBUTED aggregation (r20 — replaces a driver collect
    // of every sampled user and every distinct day, which scaled with the
    // corpus): a query's pruned-file count depends ONLY on its entity's
    // cut bucket (`fid` is a function of the bucket pair), so the ≤2^bits
    // per-bucket populations are sufficient statistics for the per-family
    // max and avg. One job, ≤ 2·2^bits rows to the driver at ANY corpus
    // size — the calibration's cost is now genuinely bounded by the
    // geometry, as the scaladoc claims.
    def bucketCol(cuts: Seq[Long], v: Column): Column =
      if (cuts.isEmpty) lit(0L)
      else cuts.map(c => when(v >= lit(c), 1L).otherwise(0L)).reduce(_ + _)
    val uAgg = ev.where(col("user_id").isNotNull)
      .where(Sketches.md5mod(
        concat(lit("cal:"), col("user_id").cast("string")), 4L) === 0L)
      .groupBy(bucketCol(cutsU, col("user_id")).as("b"))
      .agg(count_distinct(col("user_id")).as("n"))
      .select(lit("u").as("k"), col("b"), col("n"))
    val dAgg = ev.where(col("ts").isNotNull)
      .select(expr("(unix_micros(ts) - ((unix_micros(ts) % 86400000000) " +
        "+ 86400000000) % 86400000000) DIV 86400000000").as("d"))
      .groupBy(bucketCol(cutsD, col("d")).as("b"))
      .agg(count_distinct(col("d")).as("n"))
      .select(lit("d").as("k"), col("b"), col("n"))
    val popRows = uAgg.unionAll(dAgg).collect()
    def pops(k: String): Map[Long, Long] = popRows
      .filter(_.getString(0) == k).map(r => r.getLong(1) -> r.getLong(2)).toMap
    val (userPop, dayPop) = (pops("u"), pops("d"))
    def dayOf(s: String): Long = java.time.LocalDate.parse(s).toEpochDay
    def userFamily(name: String, dbLo: Long, dbHi: Long) = {
      val nfOf = (0L until buckets).map(ub =>
        ub -> (dbLo to dbHi).map(db => fid(ub, db)).distinct.size.toLong).toMap
      (name, userPop, nfOf, boundU)
    }
    val fams = Seq(
      userFamily("user_history", 0L, buckets - 1L),
      userFamily("user_month",
        bucketOf(cutsD, dayOf("2024-01-01")),
        bucketOf(cutsD, dayOf("2024-01-31"))),
      userFamily("user_week",
        bucketOf(cutsD, dayOf("2024-01-08")),
        bucketOf(cutsD, dayOf("2024-01-14"))),
      ("day_point", dayPop, (0L until buckets).map(db =>
        db -> (0L until buckets).map(ub => fid(ub, db)).distinct.size.toLong
      ).toMap, boundD))
    val rows = fams.map { case (name, pop, nfOf, bound) =>
      val n = pop.values.sum
      val max = if (n == 0) None else Some(pop.keys.map(nfOf).max)
      // HALF_UP over the exact binary double = Spark round() = DuckDB
      // round() (half away from zero, positive domain). The weighted sum
      // Σ pop(b)·nf(b) is the SAME exact integer the per-entity list
      // summed to, so the divide produces the identical double.
      val avg = if (n == 0) None else Some(BigDecimal(
        pop.map { case (b, c) => c * nfOf(b) }.sum.toDouble / n).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
      (name, n, max, avg, bound, max.map(_ <= bound))
    }
    val sp = spark
    import sp.implicits._
    rows.toDF("family", "n_queries", "files_max", "files_avg", "bound",
      "within_bound")
  }

  /** Write a tiny request table to parquet and read it back — the
    * fixture for the relation-shaped serve entries: requests genuinely
    * come OFF DISK as a relation (the API-queue story), not from a
    * driver literal. Deterministic path per (tag, testdata dir);
    * overwrite is idempotent and request-sized. */
  private def requestParquet(spark: SparkSession, dir: String,
      tag: String)(build: => DataFrame): DataFrame = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_zreq_${tag}_$key").getAbsolutePath
    build.coalesce(1).write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  /** Relation-shaped batch serve exercised END-TO-END from a parquet
    * request table — the registered parameter point of the API-queue
    * story. The request set differs from the Seq-form entry (a fresh
    * parameter point) and plants a DUPLICATE request row to prove the
    * distinct contract: a redelivered request answers once. */
  def eventsServed2dBatchParquet(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val reqs = requestParquet(spark, dir, "win")(Seq(
      (2L, "2024-01-01", "2024-01-10"),
      (5L, "2024-01-05", "2024-02-20"),
      (7L, "2024-01-15", "2024-02-01"),
      (7L, "2024-01-15", "2024-02-01"), // redelivered: answers once
      (11L, "2024-02-01", "2024-03-01"))
      .toDF("q_user", "win_lo", "win_hi"))
    eventsServed2dBatchRelation(spark, servedZorderPath(spark, dir), reqs)
  }

  /** [[eventsServed2dBatchParquet]]'s as-of twin: the relation-shaped
    * batch as-of from a parquet request table, duplicate request
    * planted. */
  def eventsAsofBatchParquet(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val reqs = requestParquet(spark, dir, "asof")(Seq(
      (2L, "2024-02-01 00:00:00"),
      (5L, "2024-01-15 18:00:00"),
      (5L, "2024-01-15 18:00:00"), // redelivered: answers once
      (11L, "2024-02-20 00:00:00"))
      .toDF("q_user", "horizon"))
    eventsAsofBatchRelation(spark, servedZorderPath(spark, dir), reqs)
  }

  /** The tombstone relation of a store, if any subject was erased and
    * not yet physically compacted away — subject-count-sized (a
    * dimension, never a fact), hence always broadcast. Discovery goes
    * through [[graft.sources.StoreProtocol.tombstones]] (the path's own
    * Hadoop filesystem — never java.io.File, which silently answers
    * "no tombstones" on a remote store and serves erased subjects). */
  private def zorderTombstones(spark: SparkSession,
      path: String): Option[DataFrame] =
    graft.sources.StoreProtocol.tombstones(spark, path, "user_id")

  /** GDPR-article-17 erasure for the z-table — the executable leg of
    * [[graft.operators.LogOps.dsarReport]]'s erasure plan, single-subject
    * convenience over [[eraseZorderSubjects]]. */
  def eraseZorderSubject(spark: SparkSession, path: String,
      userId: Long): Unit =
    eraseZorderSubjects(spark, path,
      spark.range(1).select(lit(userId).as("user_id")))

  /** BATCH GDPR-article-17 erasure for the z-table — the DataFrame-shaped
    * request the lexical store established ([[graft.operators.LexIndex
    * .eraseLexDocs]]): a DSAR batch of N subjects lands as ONE writer
    * entry and one tmp cycle, not N (the r17 verdict's scaling note —
    * a thousand-subject batch must not pay a thousand store publishes).
    * The store is append-only, so erasure lands as a TOMBSTONE relation
    * every serve consults via broadcast anti-join, and the next
    * [[compactZorderStore]] makes it PHYSICAL: each subject's candidate
    * fid directories (cuts-pruned — bounded by the z-curve, never the
    * whole store) rewrite without the subjects' rows, after which the
    * tombstones retire. Serving is therefore hash-identical to a
    * from-scratch store built without the subjects at EVERY point of the
    * lifecycle. Idempotent by content: already-tombstoned subjects are
    * excluded first (an overlapping second request is a partial no-op; a
    * fully-replayed one returns before writing), and the promote follows
    * the shared content-keyed crash contract
    * ([[graft.sources.StoreProtocol.publishKeyed]]). */
  def eraseZorderSubjects(spark: SparkSession, path: String,
      subjects: DataFrame): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.IO.recoverStore(fs, p,
      new org.apache.hadoop.fs.Path(path + "__zorder_tmp"))
    recoverZorderAppend(fs, p)
    recoverZorderErase(fs, p)
    recoverZorderCompact(fs, p)
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$path/cuts")),
      s"cannot erase from a missing z-table at $path")
    val fresh0 = subjects.select(col("user_id"))
      .where(col("user_id").isNotNull).distinct()
    val fresh = zorderTombstones(spark, path)
      .map(t => fresh0.join(broadcast(t), Seq("user_id"), "left_anti"))
      .getOrElse(fresh0).localCheckpoint()
    if (fresh.isEmpty) return // fully-replayed or empty request: no-op
    val key = graft.sources.StoreProtocol.contentKey(fresh,
      expr("xxhash64(CAST(user_id AS STRING))"))
    graft.sources.StoreProtocol.publishKeyed(fs, p, "__erase_tmp", "KEY",
      "ers", key, Seq(("tombstones", "tombstones"))) { tmp =>
      fresh.coalesce(1).write.mode("overwrite").parquet(s"$tmp/tombstones")
    }
  }

  /** WRITER-entry healing for a crashed erasure promote — the shared
    * content-keyed contract. */
  private def recoverZorderErase(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Unit =
    graft.sources.StoreProtocol.recoverKeyedPromote(fs, p, "__erase_tmp",
      "KEY") { (tmp, key) =>
      graft.sources.StoreProtocol.promoteKeyed(fs, tmp, p, "ers", key,
        Seq(("tombstones", "tombstones")))
      fs.delete(tmp, true)
    }

  /** Compact a z-table in place — [[compactionPlan]] made executable
    * against the durable store, plus the physical half of
    * [[eraseZorderSubject]]: every fid directory that (a) accumulated
    * more than one file (appends land one file per increment — the
    * small-file decay compaction exists to reverse) or (b) may hold a
    * tombstoned subject's rows (cuts-pruned over the subject's user
    * bucket across ALL day buckets, plus the fid=-1 NULL-dim residue —
    * a superset by the same construction serving relies on) rewrites to
    * ONE file, tombstoned rows filtered out; untouched directories keep
    * their files (at 100 TB compaction is incremental maintenance,
    * never a full-store rewrite). Tombstones retire afterwards — every
    * physical row of an erased subject is gone.
    *
    * Crash contract (two-phase, the publishStore discipline applied
    * per directory): phase 1 writes ALL replacement directories COMPLETE
    * under `path__compact_tmp` and cuts a root _SUCCESS; phase 2 swaps
    * each live fid dir aside and renames its replacement in; phase 3
    * retires tombstones and debris. A crash anywhere RESUMES at the next
    * writer entry ([[recoverZorderCompact]]): no _SUCCESS → the tmp is
    * debris (live store untouched — serve on); _SUCCESS → finish the
    * per-dir swaps (each dir is either pre-swap, aside-but-not-replaced,
    * or done — all three states are distinguishable and resumable).
    * Readers never heal; a reader racing phase 2 can transiently miss a
    * mid-swap directory (the lex append's documented visibility window —
    * the store's consistency point is compact completion). Returns
    * (filesBefore, filesAfter) over the touched directories. */
  def compactZorderStore(spark: SparkSession, path: String): (Int, Int) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.IO.recoverStore(fs, p,
      new org.apache.hadoop.fs.Path(path + "__zorder_tmp"))
    recoverZorderAppend(fs, p)
    recoverZorderErase(fs, p)
    recoverZorderCompact(fs, p)
    val dataDir = new org.apache.hadoop.fs.Path(p, "data")
    if (!fs.exists(dataDir)) return (0, 0)
    def dataFiles(d: org.apache.hadoop.fs.Path) =
      fs.listStatus(d).filter(f => f.isFile &&
        !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
    val fidDirs = fs.listStatus(dataDir).filter(st => st.isDirectory &&
      st.getPath.getName.startsWith("fid=")).map(_.getPath)
    val tombIds = zorderTombstones(spark, path)
      .map(_.collect().map(_.getLong(0)).toSeq.sorted).getOrElse(Nil)
    val tombFidNames: Set[String] = if (tombIds.isEmpty) Set.empty else {
      val cutsRow = spark.read.parquet(s"$path/cuts").head()
      val (bits, files) = zorderGeometry(cutsRow)
      val (cutsU, cutsD) = (cutLongs(cutsRow, "cuts_u"),
        cutLongs(cutsRow, "cuts_d"))
      // every day bucket of the subject's user bucket: pass day values
      // that bracket ALL cutpoints (the full db range 0..buckets-1)
      val (dayLo, dayHi) =
        if (cutsD.isEmpty) (0L, 0L) else (cutsD.min - 1, cutsD.max + 1)
      tombIds.flatMap(u => zorderPrunedFids(cutsU, cutsD, u, dayLo, dayHi,
        bits, files)).map(f => s"fid=$f").toSet + "fid=-1"
    }
    val touched = fidDirs.filter(d =>
      dataFiles(d).length > 1 || tombFidNames.contains(d.getName))
    if (touched.isEmpty) { clearZorderTombstones(fs, p); return (0, 0) }
    val before = touched.map(dataFiles(_).length).sum
    // phase 1: complete replacement dirs under the tmp, then _SUCCESS
    val tmp = new org.apache.hadoop.fs.Path(path + "__compact_tmp")
    fs.delete(tmp, true)
    touched.foreach { d =>
      var df = spark.read.parquet(d.toString)
      if (tombIds.nonEmpty)
        df = df.where(col("user_id").isNull ||
          !col("user_id").isin(tombIds.map(Long.box): _*))
      df.coalesce(1).write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(tmp, d.getName).toString)
    }
    fs.create(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")).close()
    commitZorderCompact(fs, p, tmp)
    clearZorderTombstones(fs, p)
    val after = touched.map(dataFiles(_).length).sum
    (before, after)
  }

  /** Phase 2 of [[compactZorderStore]] — the shared two-phase protocol
    * ([[graft.sources.IO.commitDirSwaps]]), fid-prefixed. */
  private def commitZorderCompact(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path,
      tmp: org.apache.hadoop.fs.Path): Unit =
    graft.sources.IO.commitDirSwaps(fs, tmp,
      new org.apache.hadoop.fs.Path(p, "data"),
      new org.apache.hadoop.fs.Path(p.toString + "__compact_old"), "fid=")

  /** WRITER-entry healing for a crashed compaction — the shared
    * [[graft.sources.IO.recoverDirSwaps]]. */
  private def recoverZorderCompact(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Unit =
    graft.sources.IO.recoverDirSwaps(fs,
      new org.apache.hadoop.fs.Path(p.toString + "__compact_tmp"),
      new org.apache.hadoop.fs.Path(p, "data"),
      new org.apache.hadoop.fs.Path(p.toString + "__compact_old"), "fid=")

  private def clearZorderTombstones(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Unit = {
    val t = new org.apache.hadoop.fs.Path(p, "tombstones")
    if (fs.exists(t)) fs.delete(t, true)
    // tombstones retire AFTER the dir swaps — re-stale the serve memos so
    // a racing serve can't pin a tombstone relation over deleted files
    graft.sources.StoreProtocol.invalidateStore(p.toString)
  }

  private val zorderMemo = graft.SessionCache.store[(String, String), String]

  /** Session-memoized served table (the lex-store pattern: a
    * [[graft.SessionCache.storePath]] with the per-JVM nonce; a new
    * session always rebuilds). */
  private[graft] def servedZorderPath(spark: SparkSession,
      dir: String): String =
    zorderStorePath(spark, dir, "base")(writeZorderTable(spark, dir, _))

  private def zorderStorePath(spark: SparkSession, dir: String,
      variant: String)(build: String => Unit): String =
    zorderMemo(spark, (variant, dir)) {
      val path = graft.SessionCache.storePath(s"graft_zorder_$variant", dir,
        graft.SessionCache.jvmNonce)
      build(path)
      path
    }

  /** The base/increment split the lifecycle stores exercise: increments
    * are ~2/5 of the corpus by a deterministic event_id residue (NULL
    * ids stay in the base — a residue of NULL places nowhere). */
  private def zorderSplit(spark: SparkSession, dir: String,
      residues: Seq[Long]): (DataFrame, Seq[DataFrame]) = {
    val ev = Tables.events(spark, dir)
    val r = pmod(coalesce(col("event_id"), lit(0L)), lit(5L))
    (ev.where(!r.isin(residues.map(Long.box): _*)),
      residues.map(x => ev.where(r === lit(x))))
  }

  /** Store for `events_2d_appended`: base build over ~3/5 of the corpus
    * against its OWN sample's cutpoints, then two content-keyed
    * increments appended against the STORED cutpoints — the second
    * append replayed verbatim to exercise the ledger no-op in the query
    * path itself. Serving reads base + increment files through one
    * partition-pruned scan; the oracle is the raw-table filter over the
    * UNION corpus, so the hash proves append-served ≡ rebuild ≡ raw. */
  private def appendedZorderPath(spark: SparkSession, dir: String): String =
    zorderStorePath(spark, dir, "app") { path =>
      val (base, incs) = zorderSplit(spark, dir, Seq(3L, 4L))
      writeZorderTableFrom(base, path)
      incs.foreach(appendZorderTable(spark, path, _))
      appendZorderTable(spark, path, incs.last) // at-least-once replay
    }

  /** Store for `events_2d_compacted`: the appended store's lifecycle
    * continued — after the increments land (3 files in the hottest fid
    * dirs), [[compactZorderStore]] rewrites every multi-file dir to one
    * file. Same serve, same oracle: compaction must be invisible. */
  private def compactedZorderPath(spark: SparkSession, dir: String): String =
    zorderStorePath(spark, dir, "cmp") { path =>
      val (base, incs) = zorderSplit(spark, dir, Seq(3L, 4L))
      writeZorderTableFrom(base, path)
      incs.foreach(appendZorderTable(spark, path, _))
      compactZorderStore(spark, path)
    }

  /** Store for `events_2d_erasure`: full build, then subject 3 erased
    * (tombstone only — the serve-side anti-join path; the physical
    * rewrite is spec-verified via [[compactZorderStore]]). */
  private def erasedZorderPath(spark: SparkSession, dir: String): String =
    zorderStorePath(spark, dir, "ers") { path =>
      writeZorderTable(spark, dir, path)
      eraseZorderSubject(spark, path, 3L)
      eraseZorderSubject(spark, path, 3L) // replayed request: no-op
    }

  /** 2-D serve from the appended store (base + 2 increments + a replayed
    * increment) — the registered append-lifecycle query. */
  def eventsServed2dAppended(spark: SparkSession, dir: String): DataFrame =
    eventsServed2dFrom(spark, appendedZorderPath(spark, dir), 5L,
      "2024-01-05", "2024-02-20")

  /** 2-D serve from the appended-then-compacted store — the registered
    * compaction-lifecycle query. */
  def eventsServed2dCompacted(spark: SparkSession, dir: String): DataFrame =
    eventsServed2dFrom(spark, compactedZorderPath(spark, dir), 7L,
      "2024-01-10", "2024-03-01")

  /** Erasure verification — the registered governance query: subject 3
    * erased (served as the zero row a from-scratch store without the
    * subject would give), subject 5 untouched; both rows from ONE store
    * so the oracle proves erasure removed exactly the subject. */
  def eventsServed2dErasure(spark: SparkSession, dir: String): DataFrame = {
    val path = erasedZorderPath(spark, dir)
    eventsServed2dFrom(spark, path, 3L, "2024-01-03", "2024-02-15")
      .unionAll(eventsServed2dFrom(spark, path, 5L, "2024-01-03", "2024-02-15"))
  }

  /** Store for `events_2d_erasure_batch`: full build, then subjects 3
    * and 9 erased in ONE DataFrame-shaped request (the DSAR batch path —
    * one writer entry and one tmp cycle for the whole batch), the same
    * request replayed (content-keyed no-op), then an OVERLAPPING request
    * {9, 11} whose shared subject is already tombstoned — only 11 is
    * fresh, so the overlap must not double-land. */
  private def erasedBatchZorderPath(spark: SparkSession, dir: String): String =
    zorderStorePath(spark, dir, "ersb") { path =>
      def req(ids: Long*): DataFrame = {
        val sp = spark
        import sp.implicits._
        ids.toDF("user_id")
      }
      writeZorderTable(spark, dir, path)
      eraseZorderSubjects(spark, path, req(3L, 9L))
      eraseZorderSubjects(spark, path, req(3L, 9L)) // replayed: no-op
      eraseZorderSubjects(spark, path, req(9L, 11L)) // overlap: 11 fresh
    }

  /** Batch-erasure verification — the registered multi-subject
    * governance query: subjects 3, 9 (one request) and 11 (an
    * overlapping second request) all serve the zero row; subject 5 is
    * untouched — four rows from ONE store, so the oracle proves the
    * batch request erased exactly its subjects. */
  def eventsServed2dErasureBatch(spark: SparkSession, dir: String): DataFrame = {
    val path = erasedBatchZorderPath(spark, dir)
    Seq(3L, 9L, 11L, 5L)
      .map(eventsServed2dFrom(spark, path, _, "2024-01-03", "2024-02-15"))
      .reduce(_ unionAll _)
  }

  /** As-of serve from the base z-store — the registered point-lookup
    * query: two subjects at two horizons (one mid-corpus, one past the
    * last event so the whole history is in scope), each answered by the
    * latest surviving row from the pruned ≤4-of-32 file set. */
  def eventsAsofServed(spark: SparkSession, dir: String): DataFrame = {
    val path = servedZorderPath(spark, dir)
    eventsAsofServedFrom(spark, path, 3L, "2024-01-20 00:00:00")
      .unionAll(eventsAsofServedFrom(spark, path, 5L, "2024-02-10 12:00:00"))
  }

  /** Compaction planner — [[layoutZorder]]'s maintenance sibling: given
    * per-partition (day) row counts, assign consecutive partitions to
    * merge groups of ~`targetRows` — the small-file coalescing pass a
    * lakehouse table needs continuously (many tiny daily files → scan
    * task flood; OPTIMIZE/rewrite planning). Ordered run coalescing, not
    * general bin packing: preserving day order keeps time-locality for
    * pruning, and the assignment is a pure prefix-sum function
    * (group = exclusive-cumulative-rows DIV target) both engines replay.
    * One fact aggregation; the prefix window runs over the DAY grid only
    * (dimension-sized — the no-global-fact-sort rule). NULL days group
    * as 'unknown' (engines disagree on NULL sort order, and an unplaced
    * file is still a file). */
  def compactionPlan(spark: SparkSession, dir: String,
      targetRows: Long = 2000L): DataFrame = {
    val byDay = Tables.events(spark, dir)
      .groupBy(coalesce(date_format(col("ts"), "yyyy-MM-dd"),
        lit("unknown")).as("day"))
      .agg(count(lit(1)).as("n_rows"))
    // bounded: runs on the per-day aggregate (one row per calendar day)
    val before = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byDay
      .withColumn("cum_before", coalesce(sum("n_rows").over(before), lit(0L)))
      .withColumn("group_id", expr(s"cum_before DIV $targetRows"))
      .select(col("day"), col("n_rows"), col("cum_before"), col("group_id"))
  }

  /** Data-quality checks — the dbt-test / Deequ-style contract gate a
    * pipeline runs on every drop, one row per check: referential
    * integrity (orphan foreign keys, via aggregate-then-left-join so the
    * key relation, not the fact, is the join's build side), key
    * uniqueness (duplicate event ids — NULL ids count as violations: a
    * row without identity can't be deduplicated or upserted), and
    * NOT-NULL rates on the columns the operators contractually filter.
    * All integer counts; the RI checks are honest fact-keyed shuffles
    * with the dimension side pre-aggregated to distinct keys. */
  private[graft] def riCheck(name: String, fact: DataFrame, fk: String,
      dim: DataFrame, dk: String): DataFrame =
    fact.select(col(fk).as("k"))
      .join(dim.select(col(dk).as("k")).distinct()
        .withColumn("hit", lit(1)), Seq("k"), "left")
      .agg(count(lit(1)).as("n_checked"),
        // sum over an EMPTY fact is NULL; the oracle's FILTER count is 0
        coalesce(sum(when(col("k").isNotNull && col("hit").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_violations"))
      .select(lit(name).as("check"), col("n_checked"),
        col("n_violations"), (col("n_violations") === 0).as("ok"))

  private[graft] def nullCheck(name: String, t: DataFrame,
      c: String): DataFrame =
    t.agg(count(lit(1)).as("n_checked"),
        coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_violations"))
      .select(lit(name).as("check"), col("n_checked"),
        col("n_violations"), (col("n_violations") === 0).as("ok"))

  def dqChecks(spark: SparkSession, dir: String): DataFrame = {
    def ri(name: String, fact: DataFrame, fk: String, dim: DataFrame,
        dk: String): DataFrame = riCheck(name, fact, fk, dim, dk)
    val ev = Tables.events(spark, dir)
    val uniq = ev.agg(count(lit(1)).as("n_checked"),
        (count(lit(1)) - countDistinct(col("event_id"))).as("n_violations"))
      .select(lit("events_unique_event_id").as("check"), col("n_checked"),
        col("n_violations"), (col("n_violations") === 0).as("ok"))
    ri("lineitem_fk_orderkey", Tables.lineitem(spark, dir), "l_orderkey",
        Tables.orders(spark, dir), "o_orderkey")
      .unionByName(ri("orders_fk_custkey", Tables.orders(spark, dir),
        "o_custkey", Tables.customer(spark, dir), "c_custkey"))
      .unionByName(ri("customer_fk_nationkey", Tables.customer(spark, dir),
        "c_nationkey", Tables.nation(spark, dir), "n_nationkey"))
      .unionByName(uniq)
      .unionByName(nullCheck("events_ts_not_null", ev, "ts"))
      .unionByName(nullCheck("documents_text_not_null",
        Tables.documents(spark, dir), "text"))
  }

  /** Exact join-cardinality probe — [[skewProfile]]'s two-relation
    * sibling, and the pre-flight a planner (or an engineer) runs before
    * committing a 100 TB shuffle join: the output size of a prospective
    * equi-join is Σ_k cnt_left(k)·cnt_right(k), computable from the two
    * per-key COUNT relations without materializing a single joined row.
    * Cost: one aggregation per side (map-side partials collapse each
    * fact to its |keys| relation) plus a |keys|⋈|keys| join — versus the
    * join itself, whose very size is the unknown being probed. One row
    * per candidate join: exact pair count, matching-key count, the
    * hottest key and its contribution (the salting decision input), and
    * the left-side amplification factor.
    *
    * Determinism: the hot key rides a (pairs, key) struct max — total
    * order, since keys are unique in the count-join relation (ties on
    * pairs break to the lexicographically largest key in both engines).
    * NULL keys never equi-join, so both count relations drop them before
    * pairing (they still count toward left/right_rows). */
  def joinSizeProbe(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    probeJoinSize("events_self_user", ev, col("user_id"), ev, col("user_id"))
      .unionByName(probeJoinSize("lineitem_orders",
        Tables.lineitem(spark, dir), col("l_orderkey"),
        Tables.orders(spark, dir), col("o_orderkey")))
      .unionByName(probeJoinSize("orders_customer",
        Tables.orders(spark, dir), col("o_custkey"),
        Tables.customer(spark, dir), col("c_custkey")))
  }

  private[graft] def probeJoinSize(name: String, l: DataFrame, lKey: Column,
      r: DataFrame, rKey: Column): DataFrame = {
    val lc = l.groupBy(lKey.cast("string").as("key")).agg(count(lit(1)).as("cl"))
    val rc = r.groupBy(rKey.cast("string").as("key")).agg(count(lit(1)).as("cr"))
    // sum over an EMPTY count relation is NULL; the oracle's count(*)
    // over the empty table is 0 — state the same total
    val lr = lc.agg(coalesce(sum("cl"), lit(0L)).as("left_rows"))
    val rr = rc.agg(coalesce(sum("cr"), lit(0L)).as("right_rows"))
    val j = lc.where(col("key").isNotNull)
      .join(rc.where(col("key").isNotNull), "key")
      .select(col("key"), (col("cl") * col("cr")).as("pairs"))
    j.agg(count(lit(1)).as("n_join_keys"),
        coalesce(sum("pairs"), lit(0L)).as("pairs"),
        max(struct(col("pairs").as("p"), col("key").as("k"))).as("m"))
      .crossJoin(broadcast(lr)).crossJoin(broadcast(rr))
      .select(lit(name).as("join_name"), col("left_rows"), col("right_rows"),
        col("n_join_keys"), col("pairs"),
        col("m.p").as("max_key_pairs"), col("m.k").as("hot_key"),
        // guarded: an EMPTY probe side has no amplification (NULL, both
        // engines) — ANSI aborts even a double division by zero
        when(col("left_rows") > 0,
          round(col("pairs").cast("double") / col("left_rows").cast("double"),
            6)).as("amplification"))
  }

  /** Per-column table profile — the ANALYZE-TABLE / data-quality pass a
    * pipeline runs before trusting a new drop: row count, NULL count,
    * and EXACT distinct count for every column, one output row per
    * column. All-integer (no min/max rendering — cross-engine string
    * forms of doubles/timestamps disagree; the extreme probe's NaN
    * would poison a min anyway). Spark plans the multi-column distinct
    * aggregation as ONE pass over the scan (Expand — each row fans out
    * |cols| tagged copies, partially aggregated map-side before the one
    * exchange); the approximate sibling at unbounded cardinality is
    * approx_distinct's HLL. */
  def profileEvents(spark: SparkSession, dir: String): DataFrame =
    profileFrom(Tables.events(spark, dir),
      Seq("event_id", "ts", "user_id", "event_type", "value", "props"))

  def profileDocuments(spark: SparkSession, dir: String): DataFrame =
    profileFrom(Tables.documents(spark, dir),
      Seq("doc_id", "text", "lang", "source", "n_chars"))

  private[graft] def profileFrom(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).cast("long").as("n_rows") +: cols.flatMap(c => Seq(
      count(col(c)).cast("long").as(s"nn_$c"),
      countDistinct(col(c)).cast("long").as(s"nd_$c")))
    val one = df.agg(aggs.head, aggs.tail: _*)
    // pivot the single stats row to one output row per column: explode a
    // literal column-name array against the broadcast 1-row relation
    one.select(col("n_rows"),
        explode(array(cols.map { c =>
          struct(lit(c).as("column"),
            (col("n_rows") - col(s"nn_$c")).as("n_null"),
            col(s"nd_$c").as("n_distinct"))
        }: _*)).as("s"))
      .select(col("s.column").as("column"), col("n_rows"),
        col("s.n_null").as("n_null"), col("s.n_distinct").as("n_distinct"))
  }

  /** Gap-based sessionization (30 min): lag + running sum of session starts.
    * Partition-local window work — one shuffle on user_id, then linear.
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame =
    sessionizeFrom(Tables.events(spark, dir))

  private[graft] def sessionizeFrom(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // an event without a timestamp cannot be placed in a session — and the
    // engines' NULL sort orders differ (Spark NULLS FIRST, SQL NULLS LAST),
    // so leaving them in makes the gap arithmetic engine-dependent. All
    // three sessionizers and the oracle share this filter.
    events.where(col("ts").isNotNull)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > lit(1800000000L), 1).otherwise(0))
      .withColumn("session_id", sum("is_new").over(run))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count("*").as("n_events"),
        round(sum("value"), 2).as("session_value"),
        date_format(min("ts"), TsUs).as("session_start"),
        date_format(max("ts"), TsUs).as("session_end"))
  }

  /** The SAME sessions from Spark's native `session_window` aggregation —
    * the third sessionizer (window-function [[sessionize]], custom-state
    * `StatefulSessionize`, built-in this), all checked against one SQL
    * oracle. Where the built-in exists, prefer it: session_window is a
    * single streaming-capable aggregation (no lag window, no running
    * sum), with state merging handled by the engine.
    *
    * Boundary alignment: session_window merges on STRICT window overlap
    * (t₂ < t₁ + gap), while the oracle's rule keeps t₂ − t₁ ≤ gap in one
    * session — so the gap here is 30 minutes + 1 µs, making the two
    * rules agree at every microsecond timestamp. The ordinal session_id
    * the oracle emits is a per-user rank over SESSION starts — a window
    * over the session-grain relation (~|events|/session_size rows), not
    * the fact table. */
  def sessionizeNative(spark: SparkSession, dir: String): DataFrame = {
    // session_window silently drops NULL-ts rows; filter them explicitly
    // so all three sessionizers state the same contract in the same place
    val sess = Tables.events(spark, dir).where(col("ts").isNotNull)
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes 1 microseconds").as("sw"))
      .agg(count("*").as("n_events"),
        round(sum("value"), 2).as("session_value"),
        date_format(min("ts"), TsUs).as("session_start"),
        date_format(max("ts"), TsUs).as("session_end"))
    val byStart = Window.partitionBy("user_id").orderBy(col("sw.start"))
    sess
      .withColumn("session_id", row_number().over(byStart).cast("long"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("session_value"), col("session_start"), col("session_end"))
  }

  /** Per-key top-k via window rank (top 3 events per user by value). */
  def topEventsPerUser(spark: SparkSession, dir: String): DataFrame =
    topEventsPerUserFrom(Tables.events(spark, dir))

  private[graft] def topEventsPerUserFrom(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id"))
    events
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 3)
      .select(col("user_id"), col("rk"), col("event_id"), col("event_type"), col("value"))
  }

  /** Frequent-user detection: exact heavy hitters above 1.15× mean load.
    * The per-key counts shrink the data by ~events/users before the tiny
    * threshold cross-join, so this stays one real shuffle at any scale.
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    heavyHittersFrom(Tables.events(spark, dir))

  private[graft] def heavyHittersFrom(events: DataFrame): DataFrame = {
    val counts = events
      .groupBy("user_id").agg(count("*").as("n_events"))
    val thr = counts.agg((avg("n_events") * lit(1.15)).as("thr"))
    counts.crossJoin(broadcast(thr))
      .where(col("n_events") > col("thr"))
      .select(col("user_id"), col("n_events"))
  }

  /** Approximate heavy hitters: the constant-memory twin of
    * [[heavyHitters]], completing the sketch family (approx_distinct =
    * HLL, value_percentiles_approx = t-digest, this = count-min). The
    * sketch build is a single pass whose partial (map-side) state is
    * bounded at d·w counters per partition — the distributed CMS merge,
    * expressed declaratively; the probe joins the dimension-sized
    * distinct-key relation against the BROADCAST d·w sketch and takes
    * min over the d counters. CMS only ever OVER-estimates, so every
    * true heavy hitter survives the re-threshold — recall 1 vs the
    * exact operator, precision traded for memory. The threshold's key
    * denominator is the deterministic HLL estimate padded UP by 5%
    * (≈3σ at m=4096): an HLL UNDER-estimate would otherwise push thr
    * above the exact operator's avg·1.15 bar and drop a borderline true
    * heavy hitter. Everything is built on the pinned md5 family
    * ([[Sketches]]) — counters and estimates are exact integers, so the
    * whole operator replays hash-identically in the SQL oracle. NULL
    * keys are excluded (the sketches don't track them); the exact
    * operator remains the NULL-accounting path. Nothing ever collects
    * to the driver.
    */
  def heavyHittersApprox(spark: SparkSession, dir: String): DataFrame =
    heavyHittersApproxFrom(Tables.events(spark, dir))

  private[graft] def heavyHittersApproxFrom(events: DataFrame): DataFrame = {
    // the final cast('long') on the string key would turn a non-integral
    // user_id into silent NULL key rows — keep the old explicit contract
    // error instead of emitting them
    val keyType = events.schema("user_id").dataType
    require(Seq("long", "integer", "short", "byte")
        .contains(keyType.typeName),
      s"heavy_hitters_approx needs an integral user_id key, got $keyType: " +
        "the sketch round-trips keys through strings and casts back to long")
    val vals = events
      .select(col("user_id")).where(col("user_id").isNotNull)
      .select(col("user_id").cast("string").as("s"))
    // one combined pass builds the CMS counters, the HLL key estimate,
    // and the exact total (Sketches.cmsWithThreshold); the only other
    // fact-relation scan is the distinct-key probe side. The scalar
    // relation rides in as a broadcast — empty input keeps it empty
    // (no key estimate), so the result is empty without a special case.
    val (sketch, scalars) = Sketches.cmsWithThreshold(vals)
    val est = Sketches.cmsEstimates(vals.distinct(), sketch)
    val thr = lit(1.15) * col("total").cast("double") /
      (col("k").cast("double") * lit(1.05))
    est.crossJoin(broadcast(scalars))
      .where(col("est") > thr)
      .select(col("s").cast("long").as("user_id"), col("est").as("n_events_est"))
  }

  /** Key-skew profile: the pre-flight a 100 TB join/groupBy runs before
    * choosing mitigation (salt via [[JoinOps.saltedJoin]], broadcast, AQE
    * skew hints). Emits the top-N heaviest keys with global context:
    * `skew` = key_rows / mean_rows_per_key — once skew approaches the
    * shuffle partition count, one reducer holds a partition-sized key and
    * melts. Cost shape: one map-side-combined per-key count, a 1-row
    * global aggregate riding in as a broadcast cross join, and a
    * distributed TakeOrdered over the per-key relation — nothing here
    * touches the fact table twice. The skew arithmetic is double from the
    * start (n_rows × n_keys overflows BIGINT at petabyte scale). */
  def skewProfile(spark: SparkSession, dir: String, topN: Int = 5): DataFrame =
    skewProfileFrom(Tables.events(spark, dir), col("user_id"), topN)

  private[graft] def skewProfileFrom(df: DataFrame, keyExpr: Column,
      topN: Int): DataFrame = {
    val perKey = df
      .groupBy(keyExpr.cast("string").as("key"))
      .agg(count("*").as("n_rows"))
    val totals = perKey.agg(count("*").as("n_keys"),
      sum(col("n_rows")).as("total_rows"))
    perKey.crossJoin(broadcast(totals))
      .withColumn("skew",
        round(col("n_rows").cast("double") * col("n_keys") / col("total_rows"), 4))
      .orderBy(col("n_rows").desc, col("key"))
      .limit(topN)
      .select(col("key"), col("n_rows"), col("n_keys"), col("total_rows"), col("skew"))
  }

  /** Exact percentiles of event value per level (type-7 interpolation,
    * matching DuckDB's quantile_cont — and Spark's own `percentile`:
    * v_lo + (v_hi - v_lo) * frac at rank (n-1)*p).
    *
    * Distributed two-phase rank, NOT `Window.partitionBy(event_type)`:
    * strata are FEW and HUGE (~5 event types over the whole fact table),
    * so a per-stratum window sends 1/5 of 100 TB through one reducer's
    * sort. (And not the `percentile` aggregate either — it buffers every
    * group value in a non-spilling aggregation buffer.) Instead:
    *
    *  1. sample per-stratum quantile boundaries (approx_percentile,
    *     constant memory) and FREEZE them as a map literal — one
    *     driver-side action over a dimension-sized result (|types| rows ×
    *     B-1 doubles), the same pattern as the k-means centroid fit and
    *     the perplexity vocab;
    *  2. bucket every value by binary search against its stratum's frozen
    *     bounds ([[graft.expressions.BucketIndex]], codegen'd O(log B));
    *  3. rank within (event_type, bucket) — types×B window partitions of
    *     ~1/B of a stratum each, hash-distributed, sort-spillable;
    *  4. global rank = local rank + bucket offset, where offsets come
    *     from per-(stratum, bucket) counts — a dimension-sized relation
    *     windowed and broadcast back;
    *  5. the interpolation picks are max(when(rn = target)) aggregates —
    *     map-side combined to ≤|types| rows per task before the exchange.
    *
    * Why frozen literal bounds and not repartitionByRange /a lazy
    * boundary subtree: the bucketed relation is read twice (ranks +
    * counts), and both RangePartitioner (samples seeded by rdd.id) and
    * approx_percentile (merge-order-sensitive) can yield DIFFERENT
    * boundaries on independent materializations — correctness would
    * silently hinge on exchange reuse collapsing the two reads. A literal
    * is the same on every read by construction; any boundary set is
    * correct (offsets come from actual counts), boundaries only steer
    * balance. Ties/skew: values equal to a boundary share one bucket, so
    * a pathological single-value stratum degrades to one sorted spillable
    * bucket — the exact-rank floor, with `valuePercentilesApprox` as the
    * sanctioned constant-memory path.
    */
  /** Session-scoped memo of the frozen quantile boundaries (a
    * [[graft.SessionCache]] scratch entry holding driver-side values):
    * computing the bounds is a full-scan approx_percentile action that
    * runs at PLAN-CONSTRUCTION time (see [[valuePercentilesFrom]]), so
    * every re-construction — each bench pass, each EXPLAIN — would repay
    * it. Keyed by (session, input dir, buckets); entries are
    * |types| × (buckets−1) doubles. */
  private val boundsMemo =
    graft.SessionCache.scratch[(String, Int), Map[String, Seq[Double]]](_ => ())

  /** Releases the whole scratch lifetime of `spark`
    * ([[graft.SessionCache.releaseScratch]]), not only frozen bounds. */
  def releaseCache(spark: SparkSession): Unit =
    graft.SessionCache.releaseScratch(spark)

  /** NOTE: constructing this DataFrame runs a distributed job (the frozen
    * boundary sampling — see step 1 in [[valuePercentilesFrom]]'s doc);
    * plan construction is NOT lazy here, by design. The bounds are
    * memoized per (session, dir, buckets) so repeated construction —
    * bench passes, EXPLAINs, spec plan() calls — pays the scan once. */
  def valuePercentiles(spark: SparkSession, dir: String): DataFrame =
    valuePercentilesFrom(
      Tables.events(spark, dir).select(col("event_type"), col("value")),
      boundsDir = Some((spark, dir)))

  private[graft] def valuePercentilesFrom(ev: DataFrame,
      buckets: Int = 64,
      boundsDir: Option[(SparkSession, String)] = None): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    // count(*) (incl. NULL values — the oracle's n_events/avg divisor) and
    // count(value) (non-null — the quantile_cont rank base) both in one pass
    // the percentile DOMAIN is the finite values: NaN and ±Inf rank
    // engine-dependently (Spark sorts NaN greatest; DuckDB's
    // quantile_cont drops NaN but keeps Inf, and interpolation through
    // either poisons the quantile), so both sides exclude them — the
    // oracle via CASE WHEN isfinite(value). They still count in n_events.
    val finite = !isnan(col("value")) &&
      abs(col("value")) <= lit(Double.MaxValue)
    val counts = ev.groupBy("event_type")
      .agg(count("*").as("n_events"),
        count(when(finite, col("value"))).as("n_nn"),
        // decimal sum, unrounded: see q1PricingSummary for why; try_cast
        // so NaN/±Inf/out-of-range values NULL out of the sum instead of
        // aborting the job (domain contract shared with metricsByService)
        sum(expr("try_cast(value AS DECIMAL(12,2))")).cast("double").as("sum_v"))
    // rank the finite non-null values only (see the domain note above)
    val nn = ev.where(col("value").isNotNull && finite)
    def computeBounds(): Map[String, Seq[Double]] = {
      val fracs = (1 until buckets).map(_.toDouble / buckets)
      val boundRows = nn.groupBy("event_type")
        .agg(approx_percentile(col("value"), typedLit(fracs), lit(1000)).as("bs"))
        .collect()
      boundRows.iterator
        .filter(!_.isNullAt(0)) // the NULL stratum gets the empty-bounds fallback
        .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    }
    // NOTE: an eager action at construction either way — any boundary set
    // is CORRECT (offsets come from actual counts; bounds only steer
    // balance), so a memoized snapshot is safe even if the input grew
    // since. Caveat documented on valuePercentiles: bounds frozen from an
    // EMPTY input degrade every stratum to one bucket (the single-reducer
    // regime) — releaseCache(spark) after bulk-loading an input that was
    // empty at first construction.
    val boundsMap: Map[String, Seq[Double]] = boundsDir match {
      case Some((spark, dir)) => boundsMemo(spark, (dir, buckets))(computeBounds())
      case None => computeBounds()
    }
    // try_element_at + empty-array fallback, not element_at: a stratum
    // absent from the frozen map (NULL type, or one that appeared after
    // plan construction) must not fail ANSI map access — it degrades to a
    // single bucket (0) for that stratum, which ranks correctly through
    // the same offset math, just without the balance the boundaries buy.
    val bucketCol = Bridge.column(graft.expressions.BucketIndex(
      Bridge.expression(col("value")),
      Bridge.expression(coalesce(
        try_element_at(typedLit(boundsMap), col("event_type")),
        typedLit(Seq.empty[Double])))))
    val bucketed = nn.withColumn("bucket", bucketCol)
    val wB = Window.partitionBy("event_type", "bucket").orderBy(col("value"))
    val localRanked = bucketed
      .withColumn("lrk", row_number().over(wB).cast("long"))
    val wOff = Window.partitionBy("event_type").orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // offset of each bucket within its stratum's global order (windowed
    // over |types| × B rows — dimension-sized by construction)
    val offsets = bucketed.groupBy(col("event_type"), col("bucket"))
      .agg(count("*").as("cnt"))
      .withColumn("offset", coalesce(sum("cnt").over(wOff), lit(0L)))
      .select(col("event_type").as("o_type"), col("bucket").as("o_bucket"),
        col("offset"))
    // null-SAFE joins (<=>): groupBy and window treat the NULL stratum as
    // a real group — the SQL GROUP BY does too, so its rows must reach the
    // rank math, not fall out of an equi-join (plain = never matches NULL)
    val ranked = localRanked
      .join(broadcast(offsets),
        col("event_type") <=> col("o_type") && col("bucket") === col("o_bucket"))
      .drop("o_type", "o_bucket")
      .join(broadcast(counts.select(col("event_type").as("c_type"), col("n_nn"))),
        col("event_type") <=> col("c_type"))
      .drop("c_type")
      .withColumn("rn", col("offset") + col("lrk"))
    val ps = Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99")
    def pos(p: Double): Column = (col("n_nn") - 1).cast("double") * lit(p)
    def vAt(idx: Column): Column = max(when(col("rn") === idx, col("value")))
    val picks = ps.flatMap { case (p, nm) => Seq(
      vAt(floor(pos(p)).cast("long") + 1).as(s"lo_$nm"),
      vAt(ceil(pos(p)).cast("long") + 1).as(s"hi_$nm"))
    }
    val qs = ps.map { case (p, nm) =>
      round(col(s"lo_$nm") +
        (col(s"hi_$nm") - col(s"lo_$nm")) * (pos(p) - floor(pos(p))), 4).as(nm)
    }
    // partial agg reduces each task to ≤|types| pick rows pre-exchange
    val quant = ranked.groupBy(col("event_type"), col("n_nn"))
      .agg(picks.head, picks.tail: _*)
      .select(col("event_type").as("q_type") +: qs: _*)
    // null-safe left join so every group surfaces: all-NULL-value groups
    // with NULL percentiles, and the NULL-type group with its REAL
    // percentiles (the SQL GROUP BY computes quantile_cont for it)
    counts.join(quant, col("event_type") <=> col("q_type"), "left")
      .select(col("event_type"), col("p50"), col("p90"), col("p99"),
        (col("sum_v") / col("n_events")).as("avg_value"), col("n_events"))
  }

  /** Constant-memory percentile path for 100 TB: t-digest-backed
    * `approx_percentile` with a 10⁴ accuracy parameter (≤0.01% rank
    * error). rows-only check — sketch internals are engine-specific; the
    * spec bounds its error against the exact operator instead. */
  def valuePercentilesApprox(spark: SparkSession, dir: String): DataFrame = {
    // same finite-values domain as the exact operator (NaN would poison
    // the t-digest's compare-based merge; Inf its interpolation)
    val v = when(!isnan(col("value")) &&
      abs(col("value")) <= lit(Double.MaxValue), col("value"))
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        approx_percentile(v, lit(0.5), lit(10000)).as("p50_approx"),
        approx_percentile(v, lit(0.9), lit(10000)).as("p90_approx"),
        approx_percentile(v, lit(0.99), lit(10000)).as("p99_approx"),
        count("*").as("n_events"))
  }

  /** Deterministic sampled percentiles — the oracle-verifiable member of
    * the quantile family next to [[valuePercentiles]] (exact) and
    * [[valuePercentilesApprox]] (t-digest, whose merge is inherently
    * order-dependent and therefore rows-only forever). Per group, the k
    * rows with the smallest salted md5(event_id) form a uniform sample —
    * a real fixed-size distributed sketch (bottom-k of a union is the
    * merge of bottom-k's; rank error ~√(p(1−p)/k) ≈ 0.8% at k=4096,
    * INDEPENDENT of corpus size) that is also a pure function of the
    * corpus, so the whole operator replays in SQL.
    *
    * Scale shape: the sample selection is a rank-≤k window that Spark
    * rewrites to WindowGroupLimit — each map task ships at most k rows
    * per group into the shuffle, never the corpus. The percentile math
    * then runs on ≤k rows per group (bounded regardless of corpus), with
    * the same interpolation + round(…,4) contract as the exact operator.
    * Same finite-values domain as the exact twin; NULL group keys stay
    * groups (null-safe joins).
    *
    * SESSION-WIDE side effect, by design: running this RAISES
    * `spark.sql.optimizer.windowGroupLimitThreshold` to `k` for the rest
    * of the session (never lowers it) — the threshold must cover k at
    * whatever later point a consumer executes the lazy plan, so it
    * cannot be scope-restored around construction. The raised threshold
    * only widens WindowGroupLimit eligibility for other queries; it
    * changes no result. */
  def valuePercentilesSampled(spark: SparkSession, dir: String,
      k: Int = 4096): DataFrame =
    valuePercentilesSampledFrom(Tables.events(spark, dir)
      .select(col("event_type"), col("value"), col("event_id")), k)

  private[graft] def valuePercentilesSampledFrom(ev: DataFrame,
      k: Int = 4096): DataFrame = {
    // InsertWindowGroupLimit only fires for limits up to
    // spark.sql.optimizer.windowGroupLimitThreshold (default 1000) —
    // below k=4096, so without this the sample cut would shuffle the
    // WHOLE fact table just to keep 4096 rows per group. Raising the
    // threshold to cover k restores the map-side ≤k-per-group bound
    // (the entire scale story of this operator); plan-pinned in
    // PlanShapeSpec. Same in-library conf precedent as Tables.events'
    // nanosAsLong.
    val spark = ev.sparkSession
    val thKey = "spark.sql.optimizer.windowGroupLimitThreshold"
    if (spark.conf.get(thKey).toLong < k) spark.conf.set(thKey, k)
    val finite = !isnan(col("value")) &&
      abs(col("value")) <= lit(Double.MaxValue)
    val counts = ev.groupBy("event_type").agg(count("*").as("n_events"))
    val hk = Sketches.md5mod(
      concat(lit("sample:"), col("event_id").cast("string")),
      graft.expressions.SigUtil.P)
    val wS = Window.partitionBy("event_type").orderBy(col("hk"), col("event_id"))
    val sample = ev.where(col("value").isNotNull && finite)
      .withColumn("hk", hk)
      .withColumn("srk", row_number().over(wS))
      .where(col("srk") <= k)
    val wV = Window.partitionBy("event_type").orderBy(col("value"))
    val ranked = sample
      .withColumn("rn", row_number().over(wV).cast("long"))
      .withColumn("n_s", count(lit(1)).over(Window.partitionBy("event_type")))
    // quantile_cont interpolation, the exact operator's formulation
    val ps = Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99")
    def pos(p: Double): Column = (col("n_s") - 1).cast("double") * lit(p)
    def vAt(idx: Column): Column = max(when(col("rn") === idx, col("value")))
    val picks = ps.flatMap { case (p, nm) => Seq(
      vAt(floor(pos(p)).cast("long") + 1).as(s"lo_$nm"),
      vAt(ceil(pos(p)).cast("long") + 1).as(s"hi_$nm"))
    }
    val qs = ps.map { case (p, nm) =>
      round(col(s"lo_$nm") +
        (col(s"hi_$nm") - col(s"lo_$nm")) * (pos(p) - floor(pos(p))), 4)
        .as(s"${nm}_sample")
    }
    val quant = ranked.groupBy(col("event_type"), col("n_s"))
      .agg(picks.head, picks.tail: _*)
      .select(col("event_type").as("q_type") +: col("n_s").as("n_sample") +: qs: _*)
    // left + null-safe: all-NULL/non-finite groups surface with NULL
    // percentiles and a 0 sample size, the NULL-type group with real ones
    counts.join(quant, col("event_type") <=> col("q_type"), "left")
      .select(col("event_type"), col("p50_sample"), col("p90_sample"),
        col("p99_sample"), coalesce(col("n_sample"), lit(0L)).as("n_sample"),
        col("n_events"))
  }

  /** Equi-depth value bucketing via SAMPLED cutpoints — the
    * RangePartitioner primitive as an operator: assign every event its
    * per-type value decile WITHOUT a global sort. The naive form (ntile
    * over a full partition) sorts the whole fact table per key — the
    * classic 100 TB anti-pattern; this is how Spark's own
    * RangePartitioner works instead: a bounded deterministic sample
    * (the [[valuePercentilesSampled]] bottom-k-by-md5 cut,
    * WindowGroupLimit-bounded) yields per-type cutpoint arrays at exact
    * integer sample ranks (rank_j = max(1, ⌊j·n_s/buckets⌋) — pure
    * integer/floor arithmetic, no interpolation), which broadcast to a
    * single scan-side assignment: bucket = |{cuts ≤ value}|.
    *
    * Contracts: NULL / non-finite values and types with no finite
    * values get a NULL bucket (the extreme-probe rule); a value EQUAL
    * to a cutpoint counts that cut and lands on the upper side,
    * consistently on both engines (the ≤ comparison is pinned); with
    * n_s < buckets the duplicate cutpoints simply merge adjacent
    * buckets. The sample, the
    * ranks, and the comparison are pure corpus functions — the oracle
    * replays the member set and the assignment exactly. */
  def equidepthBuckets(spark: SparkSession, dir: String,
      buckets: Int = 10, k: Int = 4096): DataFrame =
    equidepthBucketsFrom(Tables.events(spark, dir), buckets, k)

  private[graft] def equidepthBucketsFrom(ev: DataFrame,
      buckets: Int = 10, k: Int = 4096): DataFrame = {
    require(buckets >= 2 && buckets <= 1000, s"buckets in [2,1000]: $buckets")
    val spark = ev.sparkSession
    // the valuePercentilesSampled WindowGroupLimit raise (plan-pinned
    // there) — same sample machinery, same bound
    val thKey = "spark.sql.optimizer.windowGroupLimitThreshold"
    if (spark.conf.get(thKey).toLong < k) spark.conf.set(thKey, k)
    val finite = !isnan(col("value")) &&
      abs(col("value")) <= lit(Double.MaxValue)
    val hk = Sketches.md5mod(
      concat(lit("sample:"), col("event_id").cast("string")),
      graft.expressions.SigUtil.P)
    val wS = Window.partitionBy("event_type").orderBy(col("hk"), col("event_id"))
    val sample = ev.where(col("value").isNotNull && finite)
      .withColumn("hk", hk)
      .withColumn("srk", row_number().over(wS))
      .where(col("srk") <= k)
    val wV = Window.partitionBy("event_type").orderBy(col("value"))
    val ranked = sample
      .withColumn("rn", row_number().over(wV).cast("long"))
      .withColumn("n_s", count(lit(1)).over(Window.partitionBy("event_type")))
    // exact integer rank of cutpoint j; the double divide is exact for
    // j·n_s ≤ 9·4096 ≪ 2^52 and mirrored token-for-token in SQL
    def cutRank(j: Int): Column = greatest(lit(1L),
      floor((lit(j.toLong) * col("n_s")).cast("double") /
        lit(buckets.toDouble)).cast("long"))
    val cutCols = (1 until buckets).map(j =>
      max(when(col("rn") === cutRank(j), col("value"))).as(s"c_$j"))
    val cuts = ranked.groupBy(col("event_type"))
      .agg(cutCols.head, cutCols.tail: _*)
      .select(col("event_type").as("c_type"),
        array((1 until buckets).map(j => col(s"c_$j")): _*).as("cuts"))
    ev.select(col("event_id"), col("event_type"), col("value"))
      .join(broadcast(cuts), col("event_type") <=> col("c_type"), "left")
      .select(col("event_id"), col("event_type"), col("value"),
        when(col("value").isNotNull && finite && col("cuts").isNotNull,
          size(filter(col("cuts"), c => c <= col("value"))).cast("long"))
          .as("bucket"))
  }

  /** As-of join: each event annotated with the user's most recent strictly
    * earlier error event — the "what was already broken when this
    * happened" context an incident dashboard needs. One shuffle on
    * user_id + a spillable time sort ([[JoinOps.asofJoin]]); ties at equal
    * timestamps are pre-reduced to max event_id so both engines pick the
    * same row. */
  def asofPrevError(spark: SparkSession, dir: String): DataFrame =
    asofPrevErrorFrom(Tables.events(spark, dir))

  private[graft] def asofPrevErrorFrom(events: DataFrame): DataFrame = {
    val ev = events
      .select(col("event_id"), col("ts"), col("user_id"))
    val errs = events
      .where(col("event_type") === "error")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("prev_error_id"))
    JoinOps.asofJoin(ev, errs, "user_id", "ts", "ts", "prev", strict = true)
      .select(col("event_id"),
        date_format(col("ts"), TsUs).as("ts_us"),
        col("user_id"),
        col("prev.prev_error_id").as("prev_error_id"),
        date_format(col("prev.ts"), TsUs).as("prev_error_ts_us"))
  }

  /** Batch twin of the Structured Streaming pipeline: tumbling 1-hour
    * window counts by level (graft.streaming runs the same plan over
    * readStream with a watermark).
    */
  def streamWindowedCounts(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamPipeline.windowedCounts(Tables.events(spark, dir))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("hour"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Per-user activity percentile rank — "how heavy is this user" — the
    * global-ranking statistic computed WITHOUT a global sort. The naive
    * form is `percent_rank() OVER (ORDER BY n_events)`: an unpartitioned
    * ordered window, i.e. every user row through ONE reducer — the
    * classic 100 TB killer (and exactly what the SQL oracle runs,
    * because the oracle engine is single-node anyway). The distributed
    * decomposition: ties share a rank, so percent_rank is a pure
    * function of the COUNT-OF-COUNTS histogram —
    *   pct(u) = |{v : n(v) < n(u)}| / (N − 1)
    * — one per-user aggregation, one histogram aggregation over the
    * distinct activity levels (a log-scale handful of rows at any corpus
    * size), a prefix sum + total via windows over THAT tiny relation,
    * and a broadcast join back. The per-user relation shuffles once, on
    * user_id; nothing is ever globally sorted. Exact integers into one
    * final divide; N = 1 → rank undefined → NULL. */
  def userPercentiles(spark: SparkSession, dir: String): DataFrame =
    userPercentilesFrom(Tables.events(spark, dir))

  private[graft] def userPercentilesFrom(events: DataFrame): DataFrame = {
    val counts = events.where(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_events"))
      .localCheckpoint(false) // histogram + join-back: one events scan
    val hist = counts.groupBy(col("n_events").as("v"))
      .agg(count(lit(1)).cast("long").as("nu"))
    // unpartitioned windows, safe here and only here: they run on the
    // count-of-counts relation, never on users (the whole point)
    val below = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val pref = hist
      .withColumn("below", coalesce(sum(col("nu")).over(below), lit(0L)))
      .withColumn("total", sum(col("nu")).over(Window.partitionBy()))
    counts
      .join(broadcast(pref.select(col("v").as("n_events"),
        col("below"), col("total"))), Seq("n_events"))
      .select(col("user_id"), col("n_events"), col("below").as("n_below"),
        when(col("total") > 1, round(col("below").cast("double") /
          (col("total") - 1).cast("double"), 6)).as("pct_rank"))
  }
}
