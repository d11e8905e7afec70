package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextFns
import graft.operators.Relational

object SparkTest {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Same rationale as the Bench/Verify mains (r19): the audited bounded
    // global-window sites are pinned by PlanShapeSpec; their per-execution
    // "No Partition Defined" warning flooded the 20-minute test log with
    // thousands of lines, burying real warnings. Suite-level session setup
    // only — the library never mutes logs.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    s
  }
  val Sf = "/root/testdata/sf0.001"

  /** The session's listener bus (package-private in Spark, read through
    * its JVM accessor). */
  def bus: AnyRef = {
    val sc = session.sparkContext
    sc.getClass.getMethod("listenerBus").invoke(sc)
  }

  def drainBus(): Unit =
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)

  /** Spark jobs started while `f` runs; the listener bus is drained on
    * both sides so every job-start event is counted, and only those. */
  def jobsOf(f: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    drainBus()
    session.sparkContext.addSparkListener(l)
    try { f; drainBus(); n.get }
    finally session.sparkContext.removeSparkListener(l)
  }
}

class CoreSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  import SparkTest.Sf

  // the *_none search points verify the EMPTY result set against the
  // oracle (a keyword matching nothing is a dashboard request like any
  // other) — zero rows is their correct answer, not a broken operator
  private val deliberatelyEmpty =
    Set("search_entries_none", "search_all_none", "search_bm25_none",
      "template_novelty",
      // the synthetic corpus has no cross-source exact dups by
      // construction — empty is the correct, hash-compared answer
      // (planted dups are exercised by their own spec)
      "dedup_cross_source")

  test("every query runs on sf0.001 and returns rows") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, Sf).count()
      if (deliberatelyEmpty(name)) assert(n == 0, s"query $name should be empty")
      else assert(n > 0, s"query $name returned no rows")
    }
  }

  test("every oracle key has a matching query") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracleSql keys without queries: $extra")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("PII redaction matches the reference semantics") {
    import spark.implicits._
    val df = Seq(
      "User john.doe@email.com logged in",
      "Payment with card 4111 1111 1111 1111 done",
      "nothing sensitive here"
    ).toDF("text").select(TextFns.redactPii(col("text")).as("t"))
    val out = df.as[String].collect()
    assert(out(0) == "User [REDACTED_EMAIL] logged in")
    assert(out(1) == "Payment with card [REDACTED_CARD] done")
    assert(out(2) == "nothing sensitive here")
  }

  test("secret redaction matches the reference semantics") {
    import spark.implicits._
    val df = Seq("api_key: abc123 and token=xyz and a@b.co")
      .toDF("text").select(TextFns.redactSecrets(col("text")).as("t"))
    assert(df.as[String].head() == "api_key=[REDACTED] and token=[REDACTED] and [REDACTED_EMAIL]")
  }

  test("foldCase pins the two JVM-vs-utf8proc lowercase divergences") {
    import spark.implicits._
    // The contract is the SIMPLE Unicode lowercase mapping — what DuckDB's
    // utf8proc lower() computes natively, so the tokenizing oracles stay
    // plain lower(text). The JVM's full mapping diverges on exactly two
    // paths, both neutralized by foldCase: U+0130 İ (full: i+U+0307,
    // simple: plain i) and word-final Σ (full: ς, simple: σ).
    val out = Seq("DİYARBAKIR", "İstanbul",
        "ΟΔΥΣΣΕΥΣ ΣΟΦΙΑΣ", "τέλος", "CafÉ MiXeD ascii42")
      .toDF("text").select(TextFns.foldCase(col("text")).as("t"))
      .as[String].collect()
    assert(out(0) == "diyarbakir")   // NOT the JVM's "di̇yarbakir"
    assert(out(1) == "istanbul")
    assert(out(2) == "οδυσσευσ σοφιασ") // every CAPITAL Σ → σ, incl. final
    assert(out(3) == "τέλος")        // pre-existing final ς is untouched
    assert(out(4) == "café mixed ascii42")
    // no-op on pure ASCII: foldCase == lower
    val asciiEq = Seq("The Quick BROWN fox_42!")
      .toDF("text")
      .select((TextFns.foldCase(col("text")) === lower(col("text"))).as("eq"))
      .as[Boolean].head()
    assert(asciiEq)
    // NEEDLE twin: a keyword folded on the driver must fold to the same
    // bytes as the haystack column fold — a JVM-lowered "İT" is i+U+0307+t
    // and can never match a simple-folded haystack; the String overload
    // pre-translates the two divergent capitals first.
    assert(TextFns.foldCase("İT") == "it")
    assert(TextFns.foldCase("ΟΔΥΣΣΕΥΣ") == "οδυσσευσ")
    assert(TextFns.foldCase("Quick BROWN42") == "quick brown42")
    val hay = Seq("ERROR İTEM missing").toDF("text")
      .select(TextFns.foldCase(col("text")).as("t"))
      .as[String].head()
    assert(hay.contains(TextFns.foldCase("İTEM")),
      s"needle and haystack folds must meet: '$hay'")
  }

  test("sessionize splits on >30min gaps per user") {
    val n = Relational.sessionize(spark, Sf)
    // sessions never exceed total events; at least one session per user
    val users = graft.sources.Tables.events(spark, Sf)
      .select(countDistinct("user_id")).head().getLong(0)
    val sessions = n.count()
    assert(sessions >= users)
    // session event counts sum to the total event count
    val total = n.agg(sum("n_events")).head().getLong(0)
    val events = graft.sources.Tables.events(spark, Sf).count()
    assert(total == events)
  }

  test("dedup_exact keeps one row per distinct text") {
    val docs = graft.sources.Tables.documents(spark, Sf)
    val distinctTexts = docs.select("text").distinct().count()
    assert(graft.operators.TextOps.dedupExact(spark, Sf).count() == distinctTexts)
  }

  test("table profile: one row per column, shared row count, exact " +
    "distinct/null invariants, single Expand pass") {
    val p = graft.operators.Relational.profileEvents(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(p.keySet == Set("event_id", "ts", "user_id", "event_type",
      "value", "props"))
    val nRows = p.values.map(_._1).toSet
    assert(nRows.size == 1, s"every column reports the same row count: $p")
    assert(p("event_id") == ((nRows.head, 0L, nRows.head)),
      s"the key column is dense and unique: $p")
    p.foreach { case (c, (n, nulls, nd)) =>
      assert(nd <= n - nulls, s"$c: distincts bounded by non-null rows: $p")
      assert(nulls >= 0 && nd >= 0, s"$c: $p")
    }
    val df = graft.operators.Relational.profileEvents(spark, Sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Expand"),
      s"multi-column distinct must plan as one Expand pass:\n${plan.take(1500)}")
  }

  test("q4 semi-join counts orders once, never per matching line") {
    val ord = graft.sources.Tables.orders(spark, Sf)
      .where(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp_ntz") &&
             col("o_orderdate") <  lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    // independent derivation: inner join + distinct orderkeys (the
    // fan-out-then-repair form LeftSemi exists to avoid)
    val li = graft.sources.Tables.lineitem(spark, Sf)
      .where(col("l_quantity") >= 40)
      .select(col("l_orderkey"), col("l_shipdate"))
    val expected = ord.join(li,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate"))
      .select("o_orderkey", "o_orderpriority").distinct()
      .groupBy("o_orderpriority").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = Relational.q4OrderPriority(spark, Sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // the EXISTS must bite: strictly fewer qualifying orders than
    // windowed orders, and at least one per priority on this data
    assert(got.values.sum < ord.count())
    assert(got.nonEmpty && got.values.forall(_ > 0))
  }

  test("q13 histogram partitions the customer universe, bucket 0 real") {
    val custs = graft.sources.Tables.customer(spark, Sf).count()
    val h = Relational.q13CustomerDistribution(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h.values.sum == custs,
      s"every customer lands in exactly one bucket: $h")
    // bucket 0 == customers with NO non-urgent order (independent anti)
    val zero = graft.sources.Tables.customer(spark, Sf)
      .join(graft.sources.Tables.orders(spark, Sf)
          .where(col("o_orderpriority") =!= "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .count()
    assert(h.getOrElse(0L, 0L) == zero)
  }

  test("q22 dormant customers: above-average balance and truly orderless " +
    "since the cutoff") {
    val cust = graft.sources.Tables.customer(spark, Sf)
    val avgBal = cust.where(col("c_acctbal") > 0)
      .agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") /
            count(lit(1)))).head().getDouble(0)
    val recentCusts = graft.sources.Tables.orders(spark, Sf)
      .where(col("o_orderdate") >= lit("2000-01-01 00:00:00").cast("timestamp_ntz"))
      .select("o_custkey").distinct()
      .collect().map(_.getLong(0)).toSet
    val expected = cust.select("c_custkey", "c_mktsegment", "c_acctbal")
      .collect()
      .filter(r => r.getDouble(2) > avgBal && !recentCusts(r.getLong(0)))
      .groupBy(_.getString(1)).map { case (s, rs) => s -> rs.length.toLong }
    val got = Relational.q22DormantCustomers(spark, Sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
    assert(got.values.sum > 0, "the dormancy cutoff must bite on sf0.001")
  }

  test("join_size_probe predicts the executed join's cardinality exactly") {
    val probe = Relational.joinSizeProbe(spark, Sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(4), r.getLong(5), r.getString(6)))).toMap
    val ev = graft.sources.Tables.events(spark, Sf)
    // the ground truth the probe exists to avoid computing: run the joins
    val selfPairs = ev.select(col("user_id").as("k")).where(col("k").isNotNull)
      .join(ev.select(col("user_id").as("k")).where(col("k").isNotNull), "k")
      .count()
    assert(probe("events_self_user")._1 == selfPairs)
    val loPairs = graft.sources.Tables.lineitem(spark, Sf)
      .join(graft.sources.Tables.orders(spark, Sf),
        col("l_orderkey") === col("o_orderkey")).count()
    assert(probe("lineitem_orders")._1 == loPairs)
    // hot key: the self-join's hottest key contributes max(c)² pairs
    val hot = ev.where(col("user_id").isNotNull)
      .groupBy("user_id").count()
      .orderBy(col("count").desc, col("user_id").cast("string").desc)
      .head()
    assert(probe("events_self_user")._2 == hot.getLong(1) * hot.getLong(1))
  }

  test("z-order layout bounds BOTH dimensions' file fan-in; interleave " +
    "arithmetic exact; rows conserved") {
    // hand-checked Morton points: interleave(ub=1010b, db=0101b)
    // = 10011001b = 153; (15,15) = 255; (0,0) = 0
    def morton(ub: Long, db: Long): Long =
      (0 until 4).map(i => ((ub >> i) & 1L) << (2 * i + 1) |
        ((db >> i) & 1L) << (2 * i)).sum
    assert(morton(10, 5) == 153 && morton(15, 15) == 255 && morton(0, 0) == 0)
    val rows = graft.operators.Relational.zorderRows(
      graft.sources.Tables.events(spark, Sf), bits = 4, files = 32, k = 4096)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.length == graft.sources.Tables.events(spark, Sf).count())
    rows.foreach { case (ub, db, z, f) =>
      assert(ub >= 0 && ub < 16 && db >= 0 && db < 16)
      assert(z == morton(ub, db), s"z must be the Morton key: ($ub,$db)->$z")
      assert(f == z / 8 && f >= 0 && f < 32)
    }
    // the z-curve locality guarantee — file_id = z's top 5 bits
    // (ub3,db3,ub2,db2,ub1): a fixed user bucket frees only (db3,db2)
    // → ≤4 files; a fixed day bucket frees (ub3,ub2,ub1) → ≤8 files.
    // A 1-D day sort would put a hot user in EVERY file.
    val byUb = rows.groupBy(_._1).map { case (_, rs) => rs.map(_._4).distinct.size }
    val byDb = rows.groupBy(_._2).map { case (_, rs) => rs.map(_._4).distinct.size }
    assert(byUb.max <= 4, s"user-bucket fan-in must be ≤4: ${byUb.max}")
    assert(byDb.max <= 8, s"day-bucket fan-in must be ≤8: ${byDb.max}")
    assert(byUb.max == 4 && byDb.max == 8,
      "the bound is tight on a dense corpus — both curves fully used")
  }

  test("k-anonymity flags re-identifiable and homogeneous groups") {
    import spark.implicits._
    // group A: 3 subjects (fails k=3? no — k=3 needs >=3: passes),
    // values all one bucket (fails l=2); group B: 2 subjects (fails
    // k=3), two buckets (passes l=2); repeated rows of one subject
    // must not inflate n_subjects
    val ev = Seq(
      ("a", "2024-01-01 10:00:00", 1L, 5.0),
      ("a", "2024-01-01 11:00:00", 2L, 6.0),
      ("a", "2024-01-01 12:00:00", 3L, 7.0),
      ("a", "2024-01-01 13:00:00", 3L, 8.0),
      ("b", "2024-01-01 10:00:00", 1L, 5.0),
      ("b", "2024-01-01 11:00:00", 2L, 15.0)
    ).toDF("event_type", "s", "user_id", "value")
      .select(col("event_type"), to_timestamp(col("s")).as("ts"),
        col("user_id"), col("value"))
    val out = graft.operators.LogOps.kAnonymityFrom(ev, k = 3, l = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4),
          r.getBoolean(5), r.getBoolean(6)))).toMap
    assert(out("a") == ((4L, 3L, 1L, true, false)),
      s"A: 4 rows, 3 subjects (dup collapsed), 1 bucket: $out")
    assert(out("b") == ((2L, 2L, 2L, false, true)),
      s"B: 2 rows, 2 subjects, 2 buckets: $out")
  }

  test("scd2 intervals tile each user's timeline: runs alternate state, " +
    "valid_to chains to the next valid_from, events conserved") {
    val iv = graft.operators.EventFlows.scd2Intervals(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)),
        r.getString(3), Option(r.getString(4)), r.getLong(5)))
    val evCount = graft.sources.Tables.events(spark, Sf)
      .where(col("ts").isNotNull).count()
    assert(iv.map(_._6).sum == evCount, "every timed event is in one interval")
    iv.groupBy(_._1).foreach { case (u, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq,
        s"user $u: island ids are dense from 1")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._3 != b._3, s"user $u: consecutive runs must differ")
          assert(a._5.contains(b._4),
            s"user $u: valid_to must chain to the next valid_from")
          assert(a._4 <= b._4, s"user $u: intervals ordered")
        case _ => ()
      }
      assert(sorted.last._5.isEmpty, s"user $u: the open interval has no end")
    }
  }

  test("compaction plan: prefix arithmetic exact, rows conserved, groups " +
    "ordered and target-bounded") {
    val p = graft.operators.Relational.compactionPlan(spark, Sf, 500L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    assert(p.map(_._2).sum ==
      graft.sources.Tables.events(spark, Sf).count())
    var cum = 0L
    p.foreach { case (_, n, cumBefore, g) =>
      assert(cumBefore == cum, "exclusive prefix sum in day order")
      assert(g == cum / 500L, "group = cum_before DIV target")
      cum += n
    }
    // every group except possibly the last accumulates >= target
    val byG = p.groupBy(_._4).map { case (g, rs) => g -> rs.map(_._2).sum }
    val lastG = byG.keys.max
    byG.foreach { case (g, tot) =>
      if (g != lastG) assert(tot >= 500L - p.map(_._2).max,
        s"group $g holds ~target rows (modulo one file crossing the cut)")
    }
  }

  test("dq fixtures: planted orphan and planted NULLs are counted; clean " +
    "corpus passes every check") {
    import spark.implicits._
    val fact = Seq(1L, 2L, 2L, 99L).toDF("fk")
    val dim = Seq(1L, 2L, 3L).toDF("dk")
    val ri = graft.operators.Relational
      .riCheck("t", fact, "fk", dim, "dk").head()
    assert(ri.getLong(1) == 4 && ri.getLong(2) == 1 && !ri.getBoolean(3))
    // a NULL FK is not an orphan
    val riNull = graft.operators.Relational.riCheck("t",
      Seq(Some(1L), None).toDF("fk"), "fk", dim, "dk").head()
    assert(riNull.getLong(2) == 0 && riNull.getBoolean(3))
    val nn = graft.operators.Relational.nullCheck("t",
      Seq(Some("a"), None, None).toDF("c"), "c").head()
    assert(nn.getLong(1) == 3 && nn.getLong(2) == 2 && !nn.getBoolean(3))
    val all = graft.operators.Relational.dqChecks(spark, Sf).collect()
    assert(all.length == 6 && all.forall(_.getBoolean(3)),
      s"the clean testdata passes every contract: ${all.mkString(";")}")
  }

  test("lang_id_eval: shares sum to 1 per class, matrix covers the corpus") {
    val m = graft.operators.TextOps.langIdEval(spark, Sf).collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getLong(2), r.getBoolean(4), r.getDouble(5)))
    assert(m.map(_._3).sum ==
      graft.sources.Tables.documents(spark, Sf).count())
    m.groupBy(_._1).foreach { case (lbl, rows) =>
      val s = rows.map(_._5).sum
      assert(math.abs(s - 1.0) < 1e-4, s"$lbl shares sum to 1: $s")
    }
    m.foreach { case (lbl, pred, _, correct, _) =>
      assert(correct == (lbl == pred), "correct flag is the diagonal")
    }
  }

  test("golden records: survivor is a maximal member, evidence consistent " +
    "with the cluster relation, every doc accounted for") {
    val clusters = graft.operators.NearDup.dedupClusters(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val chars = graft.sources.Tables.documents(spark, Sf)
      .select("doc_id", "n_chars").distinct()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val golden = graft.operators.NearDup.goldenRecords(spark, Sf)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val members = clusters.groupBy(_._2)
    assert(golden.keySet == members.keySet, "one golden row per cluster")
    assert(golden.values.map(_._3).sum == chars.size,
      "members partition the corpus")
    members.foreach { case (c, ms) =>
      val (rep, repChars, nMembers, _) = golden(c)
      assert(ms.exists(_._1 == rep), s"cluster $c: survivor is a member")
      assert(repChars == chars(rep))
      assert(nMembers == ms.length && nMembers == ms.head._3,
        s"cluster $c: member count matches dedup_clusters")
      val maxChars = ms.map(m => chars(m._1)).max
      assert(repChars == maxChars, s"cluster $c: longest member survives")
      // deterministic tie-break: smallest doc_id among the longest
      assert(rep == ms.filter(m => chars(m._1) == maxChars).map(_._1).min)
    }
  }

  test("z-table pruning law: any (user, day-range) predicate touches " +
    "at most 4 of 32 files, and the pruned set covers the true files") {
    val (assigned, cutsDf) = graft.operators.Relational.zorderAssigned(
      graft.sources.Tables.events(spark, Sf), 4, 32, 4096)
    val cutsRow = cutsDf.head()
    val cutsU = cutsRow.getSeq[Long](0)
    val cutsD = cutsRow.getSeq[Long](1)
    val rows = assigned
      .where(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"),
        expr("unix_micros(ts) DIV 86400000000").as("d"), col("file_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val users = rows.map(_._1).distinct.take(20)
    val (dLo, dHi) = (rows.map(_._2).min, rows.map(_._2).max)
    users.foreach { u =>
      for ((lo, hi) <- Seq((dLo, dHi), (dLo, dLo + 3), (dHi - 2, dHi))) {
        val fids = graft.operators.Relational.zorderPrunedFids(
          cutsU, cutsD, u, lo, hi, 4, 32)
        assert(fids.size <= 4, s"user $u days [$lo,$hi]: ${fids.size} files")
        val truth = rows.filter(r => r._1 == u && r._2 >= lo && r._2 <= hi)
          .map(_._3).distinct
        assert(truth.forall(fids.contains),
          s"pruned set must cover every file holding matches: $truth vs $fids")
      }
    }
  }

  test("q18 equals the classic double-aggregate formulation") {
    // the textbook Q18 re-joins lineitem against its own HAVING subquery
    // and sums quantity a second time — the pre-aggregated form must give
    // the identical relation
    val li = graft.sources.Tables.lineitem(spark, Sf)
    val qty = sum(col("l_quantity").cast("decimal(12,2)"))
    val keys = li.groupBy(col("l_orderkey").as("k")).agg(qty.as("tq"))
      .where(col("tq") > 180).select(col("k"))
    val classic = graft.sources.Tables.orders(spark, Sf)
      .join(keys, col("o_orderkey") === col("k"), "left_semi")
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"))
      .agg(qty.cast("double").as("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(20)
      .collect().map(r => (r.getLong(0), r.getDouble(4))).toSeq
    val got = Relational.q18LargeOrders(spark, Sf)
      .collect().map(r => (r.getLong(2), r.getDouble(5))).toSeq
    assert(got == classic)
  }

  test("dedup_media: digest groups partition the media universe; the " +
    "keeper is the smallest copy; identical bytes collapse across kinds") {
    import spark.implicits._
    val media = graft.operators.Multimodal.mediaTable(spark, Sf)
    val out = graft.operators.Multimodal.dedupMedia(spark, Sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
    assert(out.map(_._2._2).sum == media.count(),
      "every media row lands in exactly one digest group")
    out.foreach { case (_, (keeper, n, kinds, dup)) =>
      assert(dup == (n > 1) && kinds >= 1 && kinds <= math.min(n, 3))
      assert(keeper >= 0)
    }
    // planted: one payload under three ids (and three kinds by id % 3)
    val planted = Seq((3L, "same bytes"), (4L, "same bytes"),
      (5L, "same bytes"), (7L, "unique bytes")).toDF("doc_id", "text")
      .select(col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("media_id"), lit(3)) + 1).cast("int")).as("kind"),
        encode(col("text"), "UTF-8").as("payload"))
    val g = planted
      .select(md5(col("payload")).as("d"), col("media_id"), col("kind"))
      .groupBy("d").agg(min("media_id").as("keeper"),
        count(lit(1)).as("n"), countDistinct("kind").as("k"))
      .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(g(3L) == ((3L, 3L)), s"three copies, three kinds, keeper 3: $g")
    assert(g(7L) == ((1L, 1L)))
  }

  test("q2 min-supplier: every selected supplier is its part's true " +
    "minimum, ties to the smallest suppkey") {
    val ps = graft.sources.Tables.lineitem(spark, Sf)
      .select("l_partkey", "l_suppkey").distinct()
      .join(graft.sources.Tables.supplier(spark, Sf),
        col("l_suppkey") === col("s_suppkey"))
      .select("l_partkey", "l_suppkey", "s_acctbal")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byPart = ps.groupBy(_._1)
    val got = Relational.q2MinSupplier(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(4)))
    assert(got.length == 50)
    got.foreach { case (part, supp, bal) =>
      val members = byPart(part)
      val minBal = members.map(_._3).min
      assert(bal == minBal, s"part $part: $bal must be the min $minBal")
      assert(supp == members.filter(_._3 == minBal).map(_._2).min,
        s"part $part: tie must break to the smallest suppkey")
    }
    // deterministic final order: acctbal DESC then partkey
    assert(got.map(r => (-r._3, r._1)).toSeq ==
      got.map(r => (-r._3, r._1)).sorted.toSeq)
  }

  test("dsar report covers exactly the request set with faithful totals") {
    val rep = graft.operators.LogOps.dsarReport(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ev = graft.sources.Tables.events(spark, Sf)
      .where(col("user_id").isNotNull)
      .groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Md5LowerMod is the UNSIGNED mod — Long.remainderUnsigned, not a
    // sign-normalized % (2^64 is not a multiple of 20)
    val expected = ev.keySet.filter { u =>
      java.lang.Long.remainderUnsigned(graft.expressions.Kernels.md5LowerOf(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"dsar:$u")),
        20L) == 0L
    }
    assert(rep.keySet == expected, "the report serves exactly the request set")
    rep.foreach { case (u, n) => assert(n == ev(u), s"subject $u row count") }
    assert(rep.nonEmpty)
  }

  test("heavy_hitters only returns users above the threshold") {
    val hh = Relational.heavyHitters(spark, Sf)
    val minN = hh.agg(min("n_events")).head().getLong(0)
    val avgN = graft.sources.Tables.events(spark, Sf)
      .groupBy("user_id").count().agg(avg("count")).head().getDouble(0)
    assert(minN > avgN * 1.15)
  }

  test("approx heavy hitters find every exact heavy hitter, never undercount") {
    val exact = Relational.heavyHitters(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val approx = Relational.heavyHittersApprox(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // lossy-counting candidates + CMS over-estimation => recall 1
    val missed = exact.keySet -- approx.keySet
    assert(missed.isEmpty, s"approx must contain every exact heavy hitter; missed $missed")
    exact.foreach { case (id, n) =>
      assert(approx(id) >= n, s"CMS must never under-estimate: user $id $n -> ${approx(id)}")
    }
  }

  test("deterministic HLL estimates within rse bounds in both regimes") {
    import spark.implicits._
    // linear-counting regime (n << m=4096): real corpus, per-group
    val exact = graft.sources.Tables.events(spark, Sf)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("nu"),
        countDistinct(col("props")).as("np"), count("*").as("ne"))
      .collect().map(r => Option(r.getString(0)) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val est = graft.operators.LogOps.approxDistinct(spark, Sf)
      .collect().map(r => Option(r.getString(0)) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (g, (nu, np, ne)) =>
      val (eu, ep, en) = est(g)
      assert(en == ne, s"$g: n_events must be exact")
      // 3x the 1.6% rse, floored for tiny groups
      def ok(e: Long, n: Long) = math.abs(e - n) <= math.max(3, 0.05 * n)
      assert(ok(eu, nu), s"$g users: est $eu vs exact $nu")
      assert(ok(ep, np), s"$g props: est $ep vs exact $np")
    }
    // raw-estimator regime (n > 2.5m): 20k distinct synthetic keys —
    // the branch the real corpus never reaches
    val big = spark.range(60000)
      .select((col("id") % 20000).as("user_id"),
        lit("t").as("event_type"), lit(null).cast("string").as("props"))
    val bigEst = graft.operators.Sketches.approxDistinctCounts(big)
      .collect().head
    val e = bigEst.getLong(1)
    assert(math.abs(e - 20000) <= 0.06 * 20000, // ~4x rse at m=4096
      s"raw-regime estimate $e vs exact 20000")
    assert(bigEst.getLong(3) == 60000)
  }

  test("durable HLL sketches: slice merge equals the one-pass sketch exactly") {
    import spark.implicits._
    import graft.operators.Sketches
    def wipe(p: String) = {
      new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively(); ()
    }
    val base = "/tmp/graft_hll_store"
    Seq("", "_a", "_b", "_a__sketch_tmp").foreach(s => wipe(base + s))
    // two overlapping daily slices (ids 1..600 and 400..1000): idempotent
    // register max must make the overlap free, not double-counted
    def slice(lo: Long, hi: Long) = spark.range(lo, hi + 1)
      .select(lit("t").as("g0"), col("id").as("v"))
    Sketches.writeHllSketch(slice(1, 600), col("g0"), col("v"), base + "_a")
    Sketches.writeHllSketch(slice(400, 1000), col("g0"), col("v"), base + "_b")
    val merged = Sketches.mergeHllEstimate(
      Seq(Sketches.readHllSketch(spark, base + "_a"),
        Sketches.readHllSketch(spark, base + "_b")), "n").collect()
    val onePass = Sketches.hllDistinct(
      slice(1, 600).union(slice(400, 1000)), col("g0"), col("v"), "n").collect()
    assert(merged.map(_.toSeq).toSeq == onePass.map(_.toSeq).toSeq,
      s"merge must be BIT-identical to the one-pass sketch: " +
        s"${merged.toSeq} vs ${onePass.toSeq}")
    // the estimate is also accurate (1000 true distinct)
    val est = merged.head.getLong(1)
    assert(math.abs(est - 1000) <= 0.05 * 1000, s"estimate $est vs 1000")
    // replaying a slice into the merge changes nothing (idempotence)
    val replayed = Sketches.mergeHllEstimate(
      Seq(Sketches.readHllSketch(spark, base + "_a"),
        Sketches.readHllSketch(spark, base + "_b"),
        Sketches.readHllSketch(spark, base + "_a")), "n").collect()
    assert(replayed.map(_.toSeq).toSeq == merged.map(_.toSeq).toSeq)
    // crash walk: a half-written tmp (no _SUCCESS) next to a live store
    // is ignored by readers and healed by the next writer entry
    val fs = new org.apache.hadoop.fs.Path(base + "_a")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(base + "_a__sketch_tmp"))
    assert(Sketches.readHllSketch(spark, base + "_a").count() > 0)
    assert(fs.exists(new org.apache.hadoop.fs.Path(base + "_a__sketch_tmp")),
      "a reader must not delete a writer's tmp")
    Sketches.writeHllSketch(slice(1, 600), col("g0"), col("v"), base + "_a")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(base + "_a__sketch_tmp")),
      "writer entry heals tmp debris")
    // ERASURE is a slice rebuild (register max is not invertible — no
    // tombstone or negative increment exists for a sketch): rebuilding
    // slice _a without ids 1..99 must make the merged store BIT-identical
    // to slices built from scratch without them, and the estimate drops
    val subject = col("v") < 100L
    Sketches.eraseHllSubject(slice(1, 600), subject, col("g0"), col("v"),
      base + "_a")
    val erasedMerge = Sketches.mergeHllEstimate(
      Seq(Sketches.readHllSketch(spark, base + "_a"),
        Sketches.readHllSketch(spark, base + "_b")), "n").collect()
    val scratch = Sketches.hllDistinct(
      slice(100, 600).union(slice(400, 1000)), col("g0"), col("v"), "n")
      .collect()
    assert(erasedMerge.map(_.toSeq).toSeq == scratch.map(_.toSeq).toSeq,
      "erased-slice merge must equal the from-scratch-without-subject sketch")
    assert(erasedMerge.head.getLong(1) < est,
      "the estimate must visibly drop with 99 subjects erased")
    // idempotent: the rebuild writes the same registers
    Sketches.eraseHllSubject(slice(1, 600), subject, col("g0"), col("v"),
      base + "_a")
    assert(Sketches.mergeHllEstimate(
      Seq(Sketches.readHllSketch(spark, base + "_a"),
        Sketches.readHllSketch(spark, base + "_b")), "n").collect()
      .map(_.toSeq).toSeq == erasedMerge.map(_.toSeq).toSeq)
  }

  test("log_templates collapses variable parts into one template per shape") {
    import spark.implicits._
    val ev = Seq(
      (1L, "error", "user 4711 failed with code deadbeef99"),
      (2L, "error", "user 42 failed with code c0ffee1234"),
      (3L, "error", "disk full on /dev/sda1"),
      (4L, "signup", "user 9 failed with code abcdef0123")).toDF("event_id", "event_type", "props")
    val out = graft.operators.LogOps.logTemplatesFrom(ev)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out(("error", "user <num> failed with code <hex>")) == (2L, 1L),
      s"both error lines must collapse to one template: $out")
    assert(out(("signup", "user <num> failed with code <hex>")) == (1L, 4L),
      "templates are per level")
    assert(out.contains(("error", "disk full on /dev/sda<num>")))
  }

  test("template_novelty flags only shapes absent from the baseline period") {
    import spark.implicits._
    val t = java.sql.Timestamp.valueOf(_: String)
    val ev = Seq(
      // shape A exists in both periods; shape B only after the split
      (1L, "error", "user 1 timeout", t("2024-01-10 10:00:00")),
      (2L, "error", "user 2 timeout", t("2024-01-25 10:00:00")),
      (3L, "error", "oom in pod 77", t("2024-01-25 11:00:00")),
      (4L, "error", "oom in pod 9", t("2024-01-26 11:00:00")),
      // NULL props in both periods: NOT novel (null-safe anti-join)
      (5L, "error", null, t("2024-01-11 10:00:00")),
      (6L, "error", null, t("2024-01-25 12:00:00"))).toDF("event_id", "event_type", "props", "ts")
    val out = graft.operators.LogOps
      .templateNoveltyFrom(ev, "2024-01-20 00:00:00")
      .collect().map(r => Option(r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out == Map(Some("oom in pod <num>") -> ((2L, 3L))),
      s"only the post-split-only shape is novel: $out")
  }

  test("template_trending ranks the shape whose rate grew most") {
    import spark.implicits._
    val t = java.sql.Timestamp.valueOf(_: String)
    // "timeout" 4->1, "oom" 1->4: oom trends up (5/2), timeout down (2/5)
    val ev = (
      (1 to 4).map(i => (i.toLong, "error", s"timeout $i", t("2024-01-10 10:00:00"))) ++
      Seq((5L, "error", "oom 1", t("2024-01-11 10:00:00"))) ++
      Seq((6L, "error", "timeout 9", t("2024-01-25 10:00:00"))) ++
      (7 to 10).map(i => (i.toLong, "error", s"oom $i", t("2024-01-25 11:00:00")))
    ).toDF("event_id", "event_type", "props", "ts")
    val rows = graft.operators.LogOps
      .templateTrendingFrom(ev, "2024-01-20 00:00:00", topN = 10).collect()
    assert(rows.head.getString(1) == "oom <num>" &&
      rows.head.getDouble(4) == 2.5, s"oom must rank first: ${rows.head}")
    val tmo = rows.find(_.getString(1) == "timeout <num>").get
    assert(tmo.getDouble(4) == 0.4, s"timeout must trend down: $tmo")
  }

  test("clean_c4 keeps punctuated prose lines, drops fragments and template docs") {
    import spark.implicits._
    val prose = (1 to 10).map(i => s"word$i").mkString(" ") + "."
    val fragment = "too short"
    val unpunctuated = (1 to 10).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, s"$prose\n$fragment\n$unpunctuated\n$prose"),
      (2L, s"$fragment\n$unpunctuated"),
      (3L, s"$prose\nsee the {template} block")).toDF("doc_id", "text")
    val out = graft.operators.TextOps
      .cleanC4From(docs, minWords = 5, requirePunct = true)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(2) == 2L && out(1L).getBoolean(4),
      s"doc 1 keeps its two prose lines: ${out(1L)}")
    assert(out(1L).getString(3) == s"$prose\n$prose")
    assert(out(2L).getLong(2) == 0L && !out(2L).getBoolean(4),
      "all-fragment doc is dropped with empty kept set")
    assert(out(2L).getString(3) == "", "zero kept lines -> empty string, not NULL")
    assert(!out(3L).getBoolean(4), "brace-bearing template doc is dropped")
  }

  test("pii_scan counts planted PII per class; clean docs stay zero") {
    import spark.implicits._
    val docs = Seq(
      (1L, "contact alice@example.com or bob@test.org today", "web"),
      (2L, "card 4111 1111 1111 1111 on file", "web"),
      (3L, "api_key=abc123 and TOKEN: deadbeef", "code"),
      (4L, "perfectly clean prose with no identifiers", "web"),
      (5L, null.asInstanceOf[String], "web")).toDF("doc_id", "text", "source")
    val out = graft.operators.TextOps.piiScanFrom(docs, col("source"))
      .collect().map(r => r.getString(0) -> r).toMap
    val web = out("web")
    assert(web.getLong(1) == 3 && web.getLong(2) == 2,
      s"web: 3 non-null docs, 2 carrying PII: $web")
    assert(web.getLong(3) == 2, s"two planted emails in web: $web")
    assert(web.getLong(4) == 1, s"one planted card in web: $web")
    val code = out("code")
    assert(code.getLong(5) == 1 && code.getLong(6) == 1,
      s"code: one api_key and one token (case-insensitive): $code")
    assert(code.getLong(3) == 0 && code.getLong(4) == 0,
      s"no emails or cards in code: $code")
  }

  test("funnel stages require strict timestamp order (click before view is no conversion)") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val ev = Seq(
      // user 1: full in-order funnel
      (1L, 1L, "view", t(1)), (2L, 1L, "click", t(2)), (3L, 1L, "purchase", t(3)),
      // user 2: click BEFORE first view — stage stops at 1
      (4L, 2L, "click", t(1)), (5L, 2L, "view", t(2)),
      // user 3: purchase before click — stage stops at 2
      (6L, 3L, "view", t(1)), (7L, 3L, "purchase", t(2)), (8L, 3L, "click", t(3)),
      // user 4: never entered the funnel (no view) — absent from output
      (9L, 4L, "click", t(1)), (10L, 4L, "purchase", t(2)))
      .toDF("event_id", "user_id", "event_type", "ts")
    val out = graft.operators.EventFlows.funnelStepsFrom(ev)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(out == Map(1L -> 3L, 2L -> 1L, 3L -> 2L),
      s"strict-order stages and funnel-entry filter: $out")
    // the windowed form: a click 2 days after the view converts in the
    // unbounded funnel but NOT within a 1-day hop window
    val late = Seq(
      (11L, 9L, "view", Timestamp.valueOf("2024-01-01 10:00:00")),
      (12L, 9L, "click", Timestamp.valueOf("2024-01-03 10:00:00")))
      .toDF("event_id", "user_id", "event_type", "ts")
    val unbounded = graft.operators.EventFlows.funnelStepsFrom(late)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    val windowed = graft.operators.EventFlows.funnelStepsFrom(late, withinDays = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(unbounded == Map(9L -> 2L) && windowed == Map(9L -> 1L),
      s"1-day hop window must reject the late click: $unbounded vs $windowed")
  }

  test("retention cohorts: offset-0 is the full cohort, retention never exceeds 1") {
    val out = graft.operators.EventFlows.retentionCohorts(spark, Sf).cache()
    assert(out.where(col("day_offset") === 0 &&
      (col("n_users") =!= col("cohort_size") || col("retention") =!= 1.0))
      .count() == 0, "offset 0 must be the cohort itself")
    assert(out.where(col("n_users") > col("cohort_size") ||
      col("day_offset") < 0).count() == 0)
    // cohort sizes partition the user base exactly
    val users = graft.sources.Tables.events(spark, Sf)
      .where(col("user_id").isNotNull)
      .select("user_id").distinct().count()
    val sizes = out.select("cohort_day", "cohort_size").distinct()
      .agg(sum("cohort_size")).head().getLong(0)
    assert(sizes == users, s"cohorts must partition the $users users, got $sizes")
    out.unpersist()
  }

  test("event transitions: per-from probabilities sum to ~1, pair count conserved") {
    val out = graft.operators.EventFlows.eventTransitions(spark, Sf).cache()
    val sums = out.groupBy("from_type").agg(sum("p").as("sp"), sum("n").as("sn"))
      .collect()
    sums.foreach(r => assert(math.abs(r.getDouble(1) - 1.0) < 1e-4,
      s"probabilities for ${r.getString(0)} sum to ${r.getDouble(1)}"))
    // total consecutive pairs = sum over users of (events - 1)
    val expected = graft.sources.Tables.events(spark, Sf)
      .where(col("user_id").isNotNull && col("event_type").isNotNull)
      .groupBy("user_id").agg((count("*") - 1).as("pairs"))
      .agg(sum("pairs")).head().getLong(0)
    assert(out.agg(sum("n")).head().getLong(0) == expected,
      "every consecutive pair counted exactly once")
    out.unpersist()
  }

  test("dedup_cross_source surfaces only cross-source exact duplicates") {
    import spark.implicits._
    val docs = Seq(
      (1L, "shared text", "web"), (2L, "shared text", "books"),
      (3L, "shared text", "web"), // same-source copy joins the group
      (4L, "single source dup", "web"), (5L, "single source dup", "web"),
      (6L, "unique", "books")).toDF("doc_id", "text", "source")
    val out = graft.operators.TextOps.dedupCrossSourceFrom(docs).collect()
    assert(out.length == 1, s"only the cross-source group survives: ${out.toSeq}")
    val g = out.head
    assert(g.getLong(1) == 1L && g.getLong(2) == 3L && g.getLong(3) == 2L,
      s"first_doc_id=1, 3 copies, 2 sources: $g")
    assert(g.getString(4) == "books,web", s"sorted distinct source list: $g")
  }

  test("dedup_lines strips corpus-wide boilerplate, keeps order and blank lines") {
    import spark.implicits._
    val docs = Seq(
      (1L, "COOKIE BANNER\nalpha one\n\nbeta two"),
      (2L, "COOKIE BANNER\ngamma three"),
      (3L, "  COOKIE BANNER  \ndelta four"), // trims to the same key
      (4L, null.asInstanceOf[String]),
      (5L, "COOKIE BANNER")) // every line boilerplate -> empty doc
      .toDF("doc_id", "text")
    val out = graft.operators.TextOps.dedupLinesFrom(docs, maxDocs = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 5L), "NULL text stays out")
    assert(out(1L) == ((4L, 3L, "alpha one\n\nbeta two")),
      s"banner removed, blank line and order preserved: ${out(1L)}")
    assert(out(2L) == ((2L, 1L, "gamma three")) &&
      out(3L) == ((2L, 1L, "delta four")), s"${out(2L)} ${out(3L)}")
    assert(out(5L) == ((1L, 0L, "")),
      s"an all-boilerplate doc survives as empty: ${out(5L)}")
    // below the threshold nothing is removed: 2 docs sharing a line pass
    val ok = graft.operators.TextOps.dedupLinesFrom(
      docs.where(col("doc_id") <= 2), maxDocs = 2).collect()
    assert(ok.forall(r => r.getLong(1) == r.getLong(2)),
      s"2 occurrences <= maxDocs must keep every line: ${ok.toSeq}")
  }

  test("anomaly_spikes flags a planted rate spike, not its steady baseline") {
    import spark.implicits._
    val t = java.sql.Timestamp.valueOf(_: String)
    // 9 steady days (~10 events) then a 60-event day 10 for "error";
    // a steady "signup" stream rides along as the control group
    val steady = (1 to 9).flatMap { d =>
      val n = 10 + (d % 3) // 10..12: nonzero variance, no spike
      (1 to n).map(i => (s"error", t(f"2024-04-$d%02d 0${i % 9}:00:00")))
    }
    val spike = (1 to 60).map(i => ("error", t(f"2024-04-10 0${i % 9}:10:00")))
    val ctrl = (1 to 10).flatMap(d =>
      (1 to 5).map(i => ("signup", t(f"2024-04-$d%02d 0${i % 9}:20:00"))))
    val ev = (steady ++ spike ++ ctrl).toDF("event_type", "ts")
    val out = graft.operators.LogOps.anomalySpikesFrom(ev)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(6)).toMap
    assert(out(("error", "2024-04-10")), "the planted spike day must be flagged")
    assert(out.count(_._2) == 1,
      s"only the spike day may be flagged: ${out.filter(_._2).keys}")
  }

  test("gap-filled timeline surfaces zero-incident days") {
    import spark.implicits._
    val t = java.sql.Timestamp.valueOf(_: String)
    // day 2 of the 3-day range has no events at all
    val ev = Seq(
      (1L, t("2024-03-01 10:00:00")), (2L, t("2024-03-01 11:00:00")),
      (3L, t("2024-03-03 09:00:00"))).toDF("event_id", "ts")
    val out = graft.operators.LogOps.metricsTimelineFilledFrom(ev)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("2024-03-01" -> 2L, "2024-03-02" -> 0L, "2024-03-03" -> 1L),
      s"gap day must surface as zero: $out")
  }

  test("rollup emits leaf counts, day subtotals, and a grand total that agree") {
    import spark.implicits._
    val t = java.sql.Timestamp.valueOf(_: String)
    val ev = Seq(
      (t("2024-03-01 10:00:00"), "error"), (t("2024-03-01 11:00:00"), "error"),
      (t("2024-03-01 12:00:00"), "click"), (t("2024-03-02 09:00:00"), null))
      .toDF("ts", "event_type")
    val out = graft.operators.LogOps.metricsRollupFrom(ev)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out(("2024-03-01", "error")) == 2L && out(("2024-03-01", "click")) == 1L)
    assert(out(("2024-03-02", "unknown")) == 1L, "NULL level lands in the unknown bucket")
    assert(out(("2024-03-01", "ALL")) == 3L && out(("2024-03-02", "ALL")) == 1L,
      "per-day subtotals must sum their leaves")
    assert(out(("ALL", "ALL")) == 4L, "grand total row")
    assert(out.size == 3 + 2 + 1, s"leaves + day subtotals + grand total only: $out")
  }

  test("pivot matrix zero-fills absent cells and buckets NULL type as unknown") {
    import spark.implicits._
    val t = java.sql.Timestamp.valueOf(_: String)
    val ev = Seq(
      (t("2024-03-01 10:00:00"), "click"), (t("2024-03-01 11:00:00"), "click"),
      (t("2024-03-01 12:00:00"), null), (t("2024-03-02 09:00:00"), "error"))
      .toDF("ts", "event_type")
    val out = graft.operators.LogOps.eventsPivotFrom(ev)
      .collect().map(r => r.getString(0) ->
        graft.operators.LogOps.PivotLevels.zipWithIndex
          .map { case (l, i) => l -> r.getLong(i + 1) }.toMap).toMap
    assert(out("2024-03-01") ==
      Map("click" -> 2L, "error" -> 0L, "purchase" -> 0L, "signup" -> 0L,
        "view" -> 0L, "unknown" -> 1L), out("2024-03-01").toString)
    assert(out("2024-03-02")("error") == 1L && out("2024-03-02")("click") == 0L)
  }

  test("moving average counts a gap day as zero, not a shorter window") {
    import spark.implicits._
    val t = java.sql.Timestamp.valueOf(_: String)
    // days: 4, (gap=0), 2 incidents -> 3-day trailing avgs 4.0, 2.0, 2.0
    val ev = ((1 to 4).map(i => (i.toLong, t(s"2024-03-01 0$i:00:00"))) ++
      Seq((9L, t("2024-03-03 09:00:00")), (10L, t("2024-03-03 10:00:00"))))
      .toDF("event_id", "ts")
    val out = graft.operators.LogOps.metricsMovingAvgFrom(ev, days = 3)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out("2024-03-01") == ((4L, 4.0)))
    assert(out("2024-03-02") == ((0L, 2.0)), "gap day must enter as an explicit 0")
    assert(out("2024-03-03") == ((2L, 2.0)), s"window spans the zero day: $out")
  }

  test("skew_profile ranks the heaviest key first with the right skew factor") {
    import spark.implicits._
    // key "hot" holds 6 of 10 rows over 5 distinct keys: skew = 6*5/10 = 3
    val rows = Seq.fill(6)("hot") ++ Seq("a", "b", "c", "d")
    val df = rows.zipWithIndex.map { case (k, i) => (i.toLong, k) }
      .toDF("event_id", "k")
    val out = graft.operators.Relational
      .skewProfileFrom(df, col("k"), topN = 2).collect()
    assert(out.length == 2 && out(0).getString(0) == "hot", out.mkString(";"))
    assert(out(0).getLong(1) == 6L && out(0).getLong(2) == 5L &&
      out(0).getLong(3) == 10L && out(0).getDouble(4) == 3.0, out(0).toString)
  }
}
