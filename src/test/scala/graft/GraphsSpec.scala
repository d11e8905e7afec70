package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Graphs, TextOps}

/** Fixed-budget PageRank: analytic fixed points, probability-mass laws,
  * dangling redistribution, the driver/distributed differential (byte-
  * identical doubles), degenerate graphs, the lineage-cut hygiene and
  * job budget of the distributed loop; the min-label components gate. */
class GraphsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  import SparkTest.Sf

  private def edgesDf(es: Seq[(String, String, Long)]): DataFrame = {
    import spark.implicits._
    es.toDF("from_type", "to_type", "n")
  }

  private def ranksOf(df: DataFrame): Map[String, Double] =
    df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("two-node fixed point: a→b→a at equal weight is uniform; " +
    "asymmetric counts shift mass to the heavier sink") {
    // symmetric 2-cycle: the stationary (and every-iteration) vector is
    // uniform regardless of damping — rank(a)=rank(b)=0.5 exactly
    val sym = Graphs.pagerankOnEdges(
      edgesDf(Seq(("a", "b", 3L), ("b", "a", 3L))), iters = 10,
      driverCap = Long.MaxValue)
    assert(ranksOf(sym) == Map("a" -> 0.5, "b" -> 0.5))
    // a→b plus b→b self-loop beyond a's return edge: b must out-rank a
    val skew = ranksOf(Graphs.pagerankOnEdges(
      edgesDf(Seq(("a", "b", 9L), ("b", "a", 1L), ("b", "b", 9L))),
      iters = 10, driverCap = Long.MaxValue))
    assert(skew("b") > skew("a"),
      s"the heavier attractor must out-rank its source: $skew")
  }

  test("mass conservation and dangling redistribution: ranks sum to 1, " +
    "every node positive, a dangling sink still leaks mass back") {
    // star into a dangling center: d has NO out-edges
    val g = edgesDf(Seq(("a", "d", 1L), ("b", "d", 1L), ("c", "d", 1L),
      ("a", "b", 1L)))
    val r = ranksOf(Graphs.pagerankOnEdges(g, iters = 10,
      driverCap = Long.MaxValue))
    assert(r.keySet == Set("a", "b", "c", "d"))
    assert(math.abs(r.values.sum - 1.0) < 1e-6,
      s"dangling mass must be redistributed, not lost: sum=${r.values.sum}")
    assert(r.values.forall(_ > 0), s"teleport keeps every node positive: $r")
    assert(r("d") == r.values.max, s"the sink holds the most mass: $r")
    // a and c have identical in/out structure modulo names → equal rank;
    // b gains a's extra edge → strictly above c
    assert(r("b") > r("c"), s"b receives a's split edge: $r")
  }

  test("differential: distributed loop is byte-identical to the driver " +
    "path on a seeded adversarial graph (hubs, sinks, self-loops)") {
    val rng = new scala.util.Random(11)
    val nodes = (0 until 37).map(i => s"n$i")
    val es = (0 until 300).map { _ =>
      // power-law-ish source choice: hubs 0..3 dominate
      val s = nodes(if (rng.nextBoolean()) rng.nextInt(4) else rng.nextInt(37))
      val t = nodes(rng.nextInt(37))
      (s, t, (1 + rng.nextInt(9)).toLong)
    }.groupBy(e => (e._1, e._2))
      .map { case ((s, t), g) => (s, t, g.map(_._3).sum) }.toSeq
    def both(g: Seq[(String, String, Long)], iters: Int) = {
      def run(cap: Long) = Graphs.pagerankOnEdges(edgesDf(g), iters,
        driverCap = cap).collect().map(r => (r.getString(0),
          r.getDouble(1))).sortBy(_._1).toSeq
      (run(Long.MaxValue), run(0L))
    }
    val (drv, dst) = both(es, 10)
    assert(drv == dst, "driver and distributed ranks must be BYTE-identical")
    assert(math.abs(drv.map(_._2).sum - 1.0) < 1e-5)
    // iters = 0 returns the initial state's ranks on both paths
    val (drv0, dst0) = both(es, 0)
    assert(drv0 == dst0 && drv0.map(_._1) == drv.map(_._1), s"$drv0 vs $dst0")
    assert(drv0.forall(_._2 == drv0.head._2), s"uniform start: $drv0")
    // every node has an out-edge: the observed dangling mass is 0.0
    val ring = nodes.indices.flatMap { i =>
      Seq((nodes(i), nodes((i + 1) % nodes.size), 1L + i % 3),
        (nodes(i), nodes((i * 7) % nodes.size), 2L))
    }.groupBy(e => (e._1, e._2))
      .map { case ((s, t), g) => (s, t, g.map(_._3).sum) }.toSeq
    val (drvR, dstR) = both(ring, 10)
    assert(drvR == dstR, "no-dangling graph: ranks must be BYTE-identical")
  }

  test("degenerate graphs: no transitions → empty output-typed result; " +
    "single self-loop node holds all the mass") {
    import spark.implicits._
    val empty = Graphs.pagerankOnEdges(
      edgesDf(Seq.empty), iters = 10, driverCap = Long.MaxValue)
    assert(empty.columns.toSeq == Seq("node", "rank") && empty.count() == 0)
    // one-event users produce no pairs: same empty result end-to-end
    val oneEach = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      10L, "view", 1.0, "{}")).toDF("event_id", "ts", "user_id",
      "event_type", "value", "props")
    assert(Graphs.pagerankFrom(oneEach, iters = 10).count() == 0)
    val self = ranksOf(Graphs.pagerankOnEdges(
      edgesDf(Seq(("a", "a", 5L))), iters = 10, driverCap = Long.MaxValue))
    assert(self == Map("a" -> 1.0), s"a 1-node graph is the whole mass: $self")
  }

  test("registered path equals the forced-distributed path on the real " +
    "corpus; the loop's lineage cuts do not accumulate across calls") {
    val ev = graft.sources.Tables.events(spark, Sf)
    val a = Graphs.pagerankFrom(ev, iters = 10)
      .collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1).toSeq
    val before = spark.sparkContext.getPersistentRDDs.size
    val b = Graphs.pagerankFrom(ev, iters = 10, driverCap = 0L)
      .collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(a == b, "gate choice must not change a single byte")
    val hooks = listenerState()
    // each _dist call frees the previous call's final cut: storage is
    // bounded at one pending cut, not one per call
    (1 to 3).foreach { _ =>
      Graphs.pagerankFrom(ev, iters = 10, driverCap = 0L).collect()
    }
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before + 1,
      s"pending-cut storage must not grow per call: $before → $after")
    // the per-round dangling-mass metric is read from the cut's own
    // query execution: nothing outlives the call on the listener bus or
    // in the session (an Observation installs a session listener, after
    // which every session clone — each persist() — adds a bus listener)
    assert(listenerState() == hooks,
      s"listeners/observations must not grow per call: $hooks → ${listenerState()}")
    assert(hooks._3 == 0, s"no Observation is left pending: $hooks")
    Graphs.freePendingCut()
  }

  private def bus: AnyRef = {
    val sc = spark.sparkContext
    sc.getClass.getMethod("listenerBus").invoke(sc)
  }

  private def drainBus(): Unit =
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)

  /** (SparkContext listeners, QueryExecutionListeners, Observations still
    * waiting for their metrics) — read through the JVM accessors of
    * Spark's package-private members. */
  private def listenerState(): (Int, Int, Int) = {
    drainBus()
    val busListeners = bus.getClass.getMethod("listeners").invoke(bus)
      .asInstanceOf[java.util.List[_]].size
    val qe = spark.listenerManager.getClass.getMethod("listListeners")
      .invoke(spark.listenerManager).asInstanceOf[Array[_]].length
    // the session's ObservationManager is lazy and registers a listener
    // when built: read the field, never the accessor
    def field(o: AnyRef, name: String): AnyRef = {
      val f = o.getClass.getDeclaredField(name)
      f.setAccessible(true)
      f.get(o)
    }
    val om = field(spark, "observationManager")
    (busListeners, qe, if (om == null) 0
      else field(om, "observations").asInstanceOf[java.util.Map[_, _]].size)
  }

  /** Spark jobs started while `f` runs; the listener bus is drained on
    * both sides so every job-start event is counted, and only those. */
  private def jobsOf(f: => Unit): Int = {
    val n = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    drainBus()
    spark.sparkContext.addSparkListener(l)
    try { f; drainBus(); n.get }
    finally spark.sparkContext.removeSparkListener(l)
  }

  test("job budget: a distributed PageRank round is at most two Spark " +
    "jobs; source_communities runs its bounded graph on the driver") {
    val ev = graft.sources.Tables.events(spark, Sf)
    def dist(iters: Int) = jobsOf {
      Graphs.pagerankFrom(ev, iters, driverCap = 0L).collect()
    }
    dist(5) // warm: file listing and schema work land outside the pin
    val (j5, j10) = (dist(5), dist(10))
    assert(j10 - j5 <= 10,
      s"5 extra rounds may cost at most 10 jobs: iters 5 → $j5, 10 → $j10")
    Graphs.freePendingCut()
    val sc = jobsOf { TextOps.sourceCommunities(spark, Sf).collect() }
    assert(sc <= 14, s"source_communities ran $sc jobs (27 with the ungated loop)")
  }

  test("distributed PageRank folds the dangling mass on an executor: task " +
    "results do not grow with the number of dangling nodes") {
    // hubs h0..h9 in a ring, each pointing at `leaves` dangling leaves
    def star(leaves: Int) = (0 until 10).flatMap { h =>
      (s"h$h", s"h${(h + 1) % 10}", 1L) +:
        (0 until leaves).map(i => (s"h$h", f"leaf$h%d_$i%04d", 1L))
    }
    // the largest serialized task result while the rank loop runs (the
    // loop is eager; the lazy output is never read back here)
    def maxTaskResult(leaves: Int): Long = {
      val m = new java.util.concurrent.atomic.AtomicLong(0L)
      val l = new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            m.accumulateAndGet(e.taskMetrics.resultSize, math.max)
      }
      val g = edgesDf(star(leaves))
      drainBus()
      spark.sparkContext.addSparkListener(l)
      try { Graphs.pagerankOnEdges(g, iters = 3, driverCap = 0L); drainBus() }
      finally spark.sparkContext.removeSparkListener(l)
      Graphs.freePendingCut()
      m.get
    }
    val (few, many) = (maxTaskResult(2), maxTaskResult(400))
    // 4000 (node, rank) pairs are > 60 KB; the observed mass is one double
    assert(many < few + 8192,
      s"task results grew with the dangling set: 20 → $few B, 4000 → $many B")
  }

  /** One min-label twin on `g`: the driver loop, else the distributed. */
  private def labelsOfMin(g: Seq[(String, String)], rounds: Int,
      driver: Boolean): Map[String, String] = {
    import spark.implicits._
    val sym = Graphs.symmetricEdges(g.toDF("u", "v"))
    val out = if (driver) Graphs.minLabelDriver(spark, sym, rounds)
      else Graphs.minLabelDistributed(sym, rounds)
    assert(out.columns.toSeq == Seq("node", "label"))
    labelsOf(out)
  }

  test("min-label components: driver path equals the forced-distributed " +
    "loop — fixed budget, not components; symmetric pair; self-loops, " +
    "NULL endpoints and supplementary-plane names in UTF-8 order") {
    // a path p0-…-p9 longer than the budget: after 3 rounds p9 has seen
    // only p6..p9, so its label is p6, not the component's p0
    val path = (0 until 9).map(i => (s"p$i", s"p${i + 1}"))
    // U+FF5E sorts BELOW U+1F600 in UTF-8 (EF… < F0…) but ABOVE it in
    // UTF-16 (FF5E > D83D): a JVM-String minimum would pick the emoji
    val (bmp, astral) = ("\uFF5E", "\uD83D\uDE00")
    val fixed = path ++ Seq(("x", "y"), ("y", "x"), ("s", "s"),
      ("p3", "p3"), (null, "p5"), ("q", null), (astral, bmp))
    val rng = new scala.util.Random(31)
    val names = (0 until 24).map(i =>
      if (i % 3 == 0) s"$astral$i" else if (i % 3 == 1) s"$bmp$i" else s"n$i")
    val seeded = fixed ++ (0 until 40).map { _ =>
      val a = if (rng.nextInt(10) == 0) null else names(rng.nextInt(24))
      (a, names(rng.nextInt(24)))
    }
    for (g <- Seq(fixed, seeded); rounds <- Seq(1, 3, 6)) {
      val drv = labelsOfMin(g, rounds, driver = true)
      val dst = labelsOfMin(g, rounds, driver = false)
      assert(drv == dst, s"rounds $rounds: driver $drv vs distributed $dst")
    }
    Graphs.freePendingCut()
    // the entry gates this graph onto the driver twin
    import spark.implicits._
    val l = labelsOf(Graphs.minLabelComponents(fixed.toDF("u", "v"), 3))
    assert(l("p9") == "p6" && l("p3") == "p0", s"fixed budget: $l")
    assert(l("x") == "x" && l("y") == "x", s"symmetric pair merges: $l")
    assert(!l.contains("s") && !l.contains("q") && !l.contains(null),
      s"self-loop-only and NULL-paired nodes get no label: $l")
    assert(l(astral) == bmp && l(bmp) == bmp, s"UTF-8 minimum: $l")
    // empty graph on both paths: empty, output-typed
    assert(labelsOfMin(Seq.empty, 3, driver = true).isEmpty)
    assert(labelsOfMin(Seq.empty, 3, driver = false).isEmpty)
    Graphs.freePendingCut()
  }

  private def labelsOf(df: DataFrame): Map[String, String] =
    df.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("label propagation: disconnected cliques converge to their min " +
    "member; weight beats count; isolated self-loop keeps its label") {
    // two triangles, no cross edges → two communities, each labeled by
    // its UTF-8-min member after the min label floods the clique
    val tri = edgesDf(Seq(
      ("a", "b", 1L), ("b", "c", 1L), ("c", "a", 1L),
      ("x", "y", 1L), ("y", "z", 1L), ("z", "x", 1L)))
    val l = labelsOf(Graphs.labelPropagationOnEdges(tri, rounds = 6,
      driverCap = Long.MaxValue))
    assert(l.keySet == Set("a", "b", "c", "x", "y", "z"))
    assert(Set(l("a"), l("b"), l("c")).size == 1, s"one community: $l")
    assert(Set(l("x"), l("y"), l("z")).size == 1, s"one community: $l")
    assert(l("a") != l("x"), s"cliques must not merge: $l")
    // weighted vote: m's heavy edge to z outvotes two light edges to a
    // neighborhood labeled 'a' — after round 1, m adopts z's label
    val w = labelsOf(Graphs.labelPropagationOnEdges(edgesDf(Seq(
      ("m", "a", 1L), ("m", "b", 1L), ("m", "z", 5L),
      ("a", "b", 9L))), rounds = 1, driverCap = Long.MaxValue))
    assert(w("m") == "z", s"weight must beat count: $w")
    // a self-loop-only node has no neighbors: label never changes
    val s = labelsOf(Graphs.labelPropagationOnEdges(edgesDf(Seq(
      ("solo", "solo", 4L), ("p", "q", 1L))), rounds = 6,
      driverCap = Long.MaxValue))
    assert(s("solo") == "solo", s"isolated node keeps its label: $s")
  }

  test("label propagation: distributed loop is byte-identical to the " +
    "driver path; real corpus labels come from the node set") {
    val rng = new scala.util.Random(23)
    val nodes = (0 until 29).map(i => s"n$i")
    val es = (0 until 200).map { _ =>
      (nodes(rng.nextInt(29)), nodes(rng.nextInt(29)),
        (1 + rng.nextInt(7)).toLong)
    }.groupBy(e => (e._1, e._2))
      .map { case ((a, b), g) => (a, b, g.map(_._3).sum) }.toSeq
    val drv = Graphs.labelPropagationOnEdges(edgesDf(es), rounds = 6,
      driverCap = Long.MaxValue).collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
    val dst = Graphs.labelPropagationOnEdges(edgesDf(es), rounds = 6,
      driverCap = 0L).collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
    assert(drv == dst, "driver and distributed labels must be identical")
    Graphs.freePendingCut()
    val ev = graft.sources.Tables.events(spark, Sf)
    val real = labelsOf(Graphs.labelPropagationFrom(ev, rounds = 6))
    assert(real.nonEmpty && real.values.toSet.subsetOf(real.keySet),
      s"labels are node names: $real")
    // empty graph → empty output-typed result
    val empty = Graphs.labelPropagationOnEdges(edgesDf(Seq.empty),
      rounds = 6, driverCap = Long.MaxValue)
    assert(empty.columns.toSeq == Seq("node", "label") && empty.count() == 0)
  }

  private def undirectedDf(es: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    es.toDF("u", "v")
  }

  private def triOf(df: DataFrame): Map[String, (Long, Long, Double)] =
    df.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap

  test("triangle counting: hand-verified motifs — K4 has 4 triangles " +
    "(3 per node, clustering 1), a path has none, a hub's coefficient " +
    "reflects its closed wedge fraction") {
    // K4: every node in C(3,2)=3 triangles, degree 3, clustering
    // 2*3/(3*2) = 1.0; 4 triangles total
    val k4 = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
      ("b", "d"), ("c", "d"))
    val t4 = triOf(Graphs.triangleCountOnEdges(undirectedDf(k4)))
    assert(t4 == Map(
      "a" -> ((3L, 3L, 1.0)), "b" -> ((3L, 3L, 1.0)),
      "c" -> ((3L, 3L, 1.0)), "d" -> ((3L, 3L, 1.0))), s"K4: $t4")
    assert(t4.values.map(_._2).sum / 3 == 4, "K4 holds 4 distinct triangles")
    // path a-b-c-d: zero triangles everywhere; degree-1 endpoints get
    // the defined 0.0 coefficient (no wedge to close)
    val path = triOf(Graphs.triangleCountOnEdges(
      undirectedDf(Seq(("a", "b"), ("b", "c"), ("c", "d")))))
    assert(path.values.forall(v => v._2 == 0L && v._3 == 0.0), s"$path")
    // hub h joined to a,b,c with only a-b closed: h sits in 1 of its
    // C(3,2)=3 wedges -> clustering 1/3
    val hub = triOf(Graphs.triangleCountOnEdges(
      undirectedDf(Seq(("h", "a"), ("h", "b"), ("h", "c"), ("a", "b")))))
    assert(hub("h") == ((3L, 1L, 0.333333)), s"hub: $hub")
    assert(hub("a") == ((2L, 1L, 1.0)) && hub("b") == ((2L, 1L, 1.0)), s"$hub")
    assert(hub("c")._2 == 0L && hub("c")._3 == 0.0, s"$hub")
  }

  test("triangle counting on events: self-loops and edge direction are " +
    "collapsed before counting; totals consistent across nodes") {
    import spark.implicits._
    // u1 walks a->b->a->b (parallel + reverse edges -> ONE undirected
    // edge), u2 walks a->a->b->c->a (self-loop dropped; closes a-b-c)
    val ev = Seq(
      ("e1", "2024-01-01 00:00:00", "u1", "a"),
      ("e2", "2024-01-01 00:01:00", "u1", "b"),
      ("e3", "2024-01-01 00:02:00", "u1", "a"),
      ("e4", "2024-01-01 00:03:00", "u1", "b"),
      ("e5", "2024-01-01 00:00:00", "u2", "a"),
      ("e6", "2024-01-01 00:01:00", "u2", "a"),
      ("e7", "2024-01-01 00:02:00", "u2", "b"),
      ("e8", "2024-01-01 00:03:00", "u2", "c"),
      ("e9", "2024-01-01 00:04:00", "u2", "a"))
      .toDF("event_id", "ts_s", "user_id", "event_type")
      .select(col("event_id"), to_timestamp(col("ts_s")).as("ts"),
        col("user_id"), col("event_type"))
    val t = triOf(Graphs.triangleCountFrom(ev))
    assert(t == Map("a" -> ((2L, 1L, 1.0)), "b" -> ((2L, 1L, 1.0)),
      "c" -> ((2L, 1L, 1.0))), s"one a-b-c triangle exactly once: $t")
    // every triangle contributes to exactly 3 nodes
    val empty = Graphs.triangleCountOnEdges(undirectedDf(Seq.empty))
    assert(empty.columns.toSeq ==
      Seq("node", "degree", "triangles", "clustering") && empty.count() == 0)
  }
}
