package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Iterative graph centrality over the event-transition graph — the
  * "which state dominates user journeys" statistic next to
  * [[EventFlows.eventTransitions]]'s local probabilities (the reference
  * dashboard aggregates incident timelines per service/level/day,
  * /root/reference/src/dashboard/app.py:14-43; centrality is the
  * whole-graph summary of the transition adjacency those timelines
  * induce).
  *
  * PageRank (Page et al. 1999) with damping `d`, uniform teleport, and
  * dangling-mass redistribution, run for a FIXED iteration budget — the
  * deterministic form every engine benchmarks (power iteration converges
  * geometrically; a fixed budget makes the result a pure function of the
  * graph, which is what the oracle hash checks).
  *
  * Scale shape: the ONLY corpus-sized work is the edge aggregation (one
  * user-keyed window + one (from,to) groupBy — the event_transitions
  * cost). The rank loop then runs over the AGGREGATED graph:
  *  - bounded graphs (type-transition graphs, service meshes — node count
  *    is a vocabulary, not a corpus) iterate driver-side under
  *    [[MaxDriverGraph]], the [[Cluster]] union-find / BPE driver-gate
  *    pattern: 10 merges of a 25-edge graph are not worth 30 Spark jobs;
  *  - above the cap (web-scale link graphs) the DISTRIBUTED loop takes
  *    over: per iteration one Pregel-style superstep over a rank state
  *    that carries each node's out-adjacency — one node-keyed exchange
  *    and aggregation of messages, the dangling mass folded at a sink key
  *    on an executor and observed on the round's cut job —
  *    lineage cut per round (eager localCheckpoint, previous cut freed —
  *    the BPE trainer protocol) so plan depth stays O(1) in the
  *    iteration budget. No driver-side row processing above the gate.
  *
  * Determinism contract (the pinned-fold float rules): every float SUM
  * whose accumulation order the engine does not define — the incoming
  * contributions of a node, the dangling rank mass — is a pinned-order
  * left fold over a sorted array (contributions by from-node, dangling by
  * node; both UTF-8 byte order on Spark, DuckDB, AND the driver path,
  * which compares UTF8String bytes, never JVM String order). Edge weights
  * n/out divide exact integers; the per-iteration update mirrors the
  * oracle's op order token-for-token:
  *   rank'(v) = (1−d)/N + d·(S_dangling/N + Σ_{u→v} rank(u)·w(u,v))
  * Both engine paths and the driver twin are byte-identical (spec'd), so
  * ONE SQL oracle checks all three. Rounding (·,6) happens once, at the
  * output.
  */
object Graphs {

  val Damping = 0.85
  val DefaultIters = 10

  /** Graph size up to which a loop iterates on the driver: PageRank and
    * min-label components count edges (a graph has at most twice as many
    * nodes), label propagation nodes + edges. Sized like [[Cluster]]'s
    * edge gate: a graph this small iterates faster on the driver than one
    * Spark job schedules; a web-scale graph never comes near it. */
  private[graft] val MaxDriverGraph = 1000000L

  /** PageRank over the directed event-type transition graph: nodes are
    * event types, edge weights are row-level transition counts
    * ([[EventFlows.transitionPairs]] — the one shared definition). */
  def pagerank(spark: SparkSession, dir: String,
      iters: Int = DefaultIters): DataFrame =
    pagerankFrom(Tables.events(spark, dir), iters)

  private[graft] def pagerankFrom(events: DataFrame, iters: Int,
      driverCap: Long = MaxDriverGraph): DataFrame = {
    val edgeCounts = EventFlows.transitionPairs(events)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).cast("long").as("n"))
    pagerankOnEdges(edgeCounts, iters, driverCap)
  }

  /** The generic core: PageRank over any aggregated multigraph
    * (from_type, to_type, n) with non-NULL endpoints. Returns
    * (node, rank) with rank rounded to 6 decimals at the output only. */
  private[graft] def pagerankOnEdges(edgeCounts: DataFrame, iters: Int,
      driverCap: Long): DataFrame = {
    val spark = edgeCounts.sparkSession
    // the PREVIOUS call's final lineage cut is no longer consumable once
    // a new ranking starts — free it here (single-flight per JVM, like
    // the stores; the BPE leak lesson applied at birth)
    freePendingCut()
    // out-degree normalization: exact integer counts into ONE divide —
    // deterministic given the same operands on every path
    val edges = edgeCounts
      .withColumn("w", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("from_type")))
          .cast("double"))
      .select(col("from_type"), col("to_type"), col("w"))
      .persist()
    val nEdges = edges.count()
    if (nEdges == 0) {
      edges.unpersist()
      // no transitions (degenerate corpora): empty, output-typed
      return emptyRanks(spark)
    }
    val out =
      if (nEdges <= driverCap) pagerankDriver(spark, edges, iters)
      else pagerankDistributed(edges, iters,
        Shuffles.sizedPartitions(edges, nEdges))
    edges.unpersist()
    out.select(col("node"), round(col("rank"), 6).as("rank"))
  }

  private def emptyRanks(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("node", StringType),
        StructField("rank", DoubleType))))
  }

  /** UTF-8 byte order — the order Spark's sort_array and DuckDB's
    * ORDER BY apply to strings; JVM String '<' (UTF-16 code units)
    * diverges on supplementary-plane keys, so the driver twin must not
    * use it. */
  private def utf8Lt(a: String, b: String): Boolean =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0

  /** Driver twin — op-order identical to [[pagerankDistributed]] and the
    * SQL oracle: pinned left folds from 0.0 over UTF-8-sorted keys. */
  private def pagerankDriver(spark: SparkSession, edges: DataFrame,
      iters: Int): DataFrame = {
    val eArr = edges.collect().map(r =>
      (r.getString(0), r.getString(1), r.getDouble(2)))
    val nodeArr = (eArr.map(_._1) ++ eArr.map(_._2)).distinct.sortWith(utf8Lt)
    val nD = nodeArr.length.toDouble
    val outNodes = eArr.map(_._1).toSet
    val inEdges: Map[String, Array[(String, Double)]] = eArr
      .groupBy(_._2)
      .map { case (dst, es) =>
        dst -> es.map(e => (e._1, e._3)).sortWith((x, y) => utf8Lt(x._1, y._1))
      }
    val dangling = nodeArr.filter(n => !outNodes.contains(n)) // node-sorted
    val tele = (1.0 - Damping) / nD
    var rank: Map[String, Double] = nodeArr.map(n => n -> 1.0 / nD).toMap
    var k = 0
    while (k < iters) {
      val s = dangling.foldLeft(0.0)((acc, n) => acc + rank(n))
      rank = nodeArr.map { v =>
        val inc = inEdges.getOrElse(v, Array.empty)
          .foldLeft(0.0)((acc, e) => acc + rank(e._1) * e._2)
        v -> (tele + Damping * (s / nD + inc))
      }.toMap
      k += 1
    }
    import spark.implicits._
    nodeArr.map(n => (n, rank(n))).toSeq.toDF("node", "rank")
  }

  /** Distributed rank loop — the 100 TB path. Each round is one
    * Pregel-style superstep: one node-keyed exchange and aggregation of
    * messages, and the round's eager lineage cut (previous cut freed — at
    * most one rank copy in executor storage). No join, no broadcast, and
    * the driver receives one double per round. */
  private def pagerankDistributed(edges: DataFrame, iters: Int,
      p: Int): DataFrame = {
    val spark = edges.sparkSession
    // The out-adjacency (node, out: array<struct<to_type, w>>), built
    // once by one node-keyed aggregation; destinations without out-edges
    // get an empty list, so its count is N.
    val adj = edges.select(col("from_type").as("node"),
        struct(col("to_type"), col("w")).as("e"))
      .unionByName(edges.select(col("to_type").as("node")),
        allowMissingColumns = true)
      .repartition(p, col("node"))
      .groupBy(col("node")).agg(collect_list(col("e")).as("out"))
      .persist()
    val nD = adj.count().toDouble
    val tele = lit((1.0 - Damping) / nD)
    if (iters == 0) {
      val cut = adj.select(col("node"), lit(1.0 / nD).as("rank"))
        .localCheckpoint()
      adj.unpersist()
      pendingCut.set((spark, org.apache.spark.sql.graft.Bridge.checkpointRddId(cut)))
      return cut
    }
    // The state between rounds is the cut (node, inc, out). A node's
    // rank is rank(s) over it, s being the previous round's dangling
    // mass, in the oracle's (s/N + inc) operand order. A round:
    //  - turns every node into messages (node, sink, from_type, c): one
    //    rank·w per out-edge, keyed by the destination, and for a node
    //    without out-edges (node, rank) keyed by the sink; plus one self
    //    row carrying `out` forward, so every node keeps its adjacency
    //    and gets a rank even without in-edges;
    //  - runs ONE repartition(p, node) + groupBy(node, sink) with the
    //    pinned fold over sorted (from_type, c): each node's `inc` (the
    //    empty list folds to 0.0), and at the sink the dangling mass over
    //    node-sorted ranks. That fold runs on an executor; the driver
    //    reads its one double as an observed metric of the cut job.
    // So a round is two jobs: the exchange's map stage and the cut.
    // Trade-off: the self rows ship the adjacency through every exchange
    // and every cut stores it. On a 100k-node, ~450k-edge graph (local[2],
    // 8 shuffle partitions) a round writes 15.4 MB of shuffle in 2 jobs;
    // the join-based loop this replaced wrote 11.8 MB in 6 jobs. Past the
    // driver gate rounds are byte-bound, so a compact adjacency (dense
    // UTF-8-ordered node ids) is the next step there (ROADMAP item 2).
    def rank(s: Double): Column =
      tele + lit(Damping) * (lit(s) / lit(nD) + col("inc"))
    def msg(key: Column, sink: Boolean, from: Column, c: Column): Column =
      struct(key.as("node"), lit(sink).as("sink"), from.as("from_type"),
        c.as("c"))
    var ranks = adj.select(col("node"), lit(1.0 / nD).as("rank"), col("out"))
    var state: DataFrame = null
    var lastCutId: Option[Int] = None
    var s = 0.0
    var k = 0
    while (k < iters) {
      val msgs = ranks.select(inline(concat(
        transform(col("out"), e => msg(e.getField("to_type"), sink = false,
          col("node"), col("rank") * e.getField("w"))),
        filter(array(msg(lit(null).cast("string"), sink = true,
          col("node"), col("rank"))), _ => size(col("out")) === 0))))
      val self = ranks.select(col("node"), lit(false).as("sink"), col("out"))
      val next = msgs.unionByName(self, allowMissingColumns = true)
        .repartition(p, col("node"))
        .groupBy(col("node"), col("sink"))
        .agg(pinnedSum(collect_list(when(col("c").isNotNull,
            struct(col("from_type"), col("c")))), "c").as("inc"),
          first(col("out"), ignoreNulls = true).as("out"))
        .observe("dangling", max(when(col("sink"), col("inc"))))
        .where(!col("sink"))
        .select(col("node"), col("inc"), col("out"))
      val cut = next.localCheckpoint() // eager: bounds plan depth
      // read from the cut's own query execution, not an Observation
      // (that installs a session-wide listener, and every session clone,
      // which each persist() makes, then adds one to the shared bus); no
      // sink group (every node has an out-edge) is the empty fold, 0.0
      val dm = next.queryExecution.observedMetrics("dangling")
      s = if (dm.isNullAt(0)) 0.0 else dm.getDouble(0)
      if (k == 0) adj.unpersist()
      Corpus.freeCheckpoint(spark, lastCutId)
      lastCutId = org.apache.spark.sql.graft.Bridge.checkpointRddId(cut)
      state = cut
      ranks = state.select(col("node"), rank(s).as("rank"), col("out"))
      k += 1
    }
    // the final cut backs the returned DataFrame — it stays pinned until
    // the next pagerank entry (or an explicit freePendingCut), never
    // until session end
    pendingCut.set((spark, lastCutId))
    state.select(col("node"), rank(s).as("rank"))
  }

  /** Pinned-order float sum: sort the (key, value) structs (UTF-8 key
    * order first), then fold the `value` fields left from 0.0. */
  private def pinnedSum(structs: Column, value: String): Column =
    aggregate(transform(sort_array(structs), x => x.getField(value)),
      lit(0.0), (acc, x) => acc + x)

  /** The distributed loop's final cut, freed on the NEXT pagerank entry
    * (the result DataFrame may still be consumed after return — freeing
    * inside the loop would drop storage the caller reads). One slot per
    * JVM is enough: rankings are single-flight per session, like the
    * store writers. */
  private val pendingCut =
    new java.util.concurrent.atomic.AtomicReference[(SparkSession, Option[Int])]

  private[graft] def freePendingCut(): Unit = {
    val p = pendingCut.getAndSet(null)
    if (p != null && !p._1.sparkContext.isStopped)
      Corpus.freeCheckpoint(p._1, p._2)
  }

  // ----------------------------------------------------------------
  // Label propagation
  // ----------------------------------------------------------------

  val LpaRounds = 6

  /** Synchronous weighted label propagation (Raghavan et al. 2007) over
    * the UNDIRECTED transition graph — community structure next to
    * [[pagerank]]'s centrality: each round every node adopts the label
    * with the highest total edge weight among its neighbors (score DESC,
    * label ASC tie-break — fully deterministic), for a FIXED round
    * budget. Labels start as the node names; nodes sharing a final label
    * are one community. Everything is exact integers and string
    * comparisons — no float anywhere — so the oracle replay is trivially
    * bit-exact.
    *
    * Same scale split as pagerank: the corpus-sized work is the edge
    * aggregation; the round loop runs on the aggregated graph —
    * driver-side under [[MaxDriverGraph]], else a distributed loop (one
    * neighbor join + one (node, label) aggregation + one rank window per
    * round, lineage cut per round). Self-loops are dropped (a node's own
    * label does not vote); isolated / self-loop-only nodes keep their
    * label forever. Synchronous LPA can oscillate on bipartite
    * structures — the fixed budget makes the result a pure function of
    * the graph either way, which is what the oracle checks. */
  def labelPropagation(spark: SparkSession, dir: String,
      rounds: Int = LpaRounds): DataFrame =
    labelPropagationFrom(Tables.events(spark, dir), rounds)

  private[graft] def labelPropagationFrom(events: DataFrame, rounds: Int,
      driverCap: Long = MaxDriverGraph): DataFrame = {
    val edgeCounts = EventFlows.transitionPairs(events)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).cast("long").as("n"))
    labelPropagationOnEdges(edgeCounts, rounds, driverCap)
  }

  private[graft] def labelPropagationOnEdges(edgeCounts: DataFrame,
      rounds: Int, driverCap: Long): DataFrame = {
    val spark = edgeCounts.sparkSession
    freePendingCut()
    val noSelf = edgeCounts.where(col("from_type") =!= col("to_type"))
    val sym = noSelf
      .select(col("from_type").as("u"), col("to_type").as("v"), col("n"))
      .unionByName(noSelf.select(col("to_type").as("u"),
        col("from_type").as("v"), col("n")))
      .groupBy(col("u"), col("v")).agg(sum(col("n")).cast("long").as("w"))
      .persist()
    val nEdges = sym.count()
    // node universe INCLUDES self-loop-only nodes (they keep their label)
    val nodes = edgeCounts.select(col("from_type").as("node"))
      .union(edgeCounts.select(col("to_type").as("node"))).distinct()
      .persist()
    val nNodes = nodes.count()
    if (nNodes == 0) {
      sym.unpersist(); nodes.unpersist()
      return emptyLabels(spark)
    }
    val out =
      if (nNodes + nEdges <= driverCap) lpaDriver(spark, sym, nodes, rounds)
      else {
        // same size-adaptive re-pin as the pagerank loop (r20): sym is
        // re-read once per round on its join key v, labels 2× per round
        val p = Shuffles.sizedPartitions(sym, nNodes + nEdges)
        val conf = spark.sessionState.conf.numShufflePartitions
        val symP = if (p < conf)
          sym.repartition(p, col("v")).persist() else sym
        val nodesP = if (p < conf)
          nodes.repartition(p, col("node")).persist() else nodes
        val r = lpaDistributed(symP, nodesP, rounds, p)
        if (symP ne sym) symP.unpersist()
        if (nodesP ne nodes) nodesP.unpersist()
        r
      }
    sym.unpersist(); nodes.unpersist()
    out
  }

  private def emptyLabels(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("node", StringType),
        StructField("label", StringType))))
  }

  /** Driver twin — identical integer/string semantics, UTF-8 tie-break
    * order (never JVM String order). */
  private def lpaDriver(spark: SparkSession, sym: DataFrame,
      nodes: DataFrame, rounds: Int): DataFrame = {
    val eArr = sym.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2)))
    val nodeArr = nodes.collect().map(_.getString(0)).sortWith(utf8Lt)
    val nbrs: Map[String, Array[(String, Long)]] = eArr.groupBy(_._1)
      .map { case (u, es) => u -> es.map(e => (e._2, e._3)) }
    var label: Map[String, String] = nodeArr.map(n => n -> n).toMap
    var k = 0
    while (k < rounds) {
      label = nodeArr.map { v =>
        val votes = nbrs.getOrElse(v, Array.empty)
          .groupBy(e => label(e._1))
          .map { case (l, es) => (l, es.map(_._2).sum) }
        if (votes.isEmpty) v -> label(v)
        else v -> votes.toSeq
          .sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && utf8Lt(a._1, b._1)))
          .head._1
      }.toMap
      k += 1
    }
    import spark.implicits._
    nodeArr.map(n => (n, label(n))).toSeq.toDF("node", "label")
  }

  /** Fixed-budget MIN-LABEL propagation over an undirected string-keyed
    * edge list (u, v) — connected components as a pure fixed-round
    * function (each round every node takes the minimum of its own and its
    * neighbors' labels; converges to true components once the budget
    * covers the component diameter, and is a well-defined pure function
    * of the graph at ANY budget — the pagerank/LPA fixed-budget
    * contract, replayable as an unrolled CTE chain). Unlike weighted
    * LPA, min-label CANNOT oscillate: labels are monotone non-increasing
    * per node, so a 2-node component merges in one round (the symmetric
    * pair that synchronous LPA swaps forever on an even budget —
    * discovered by [[TextOps.sourceCommunitiesFrom]]'s spec). String
    * minima are UTF-8/binary on both engines. Self-loops and NULL
    * endpoints are dropped; only nodes with an edge get a label.
    *
    * Same scale split as pagerank/LPA: the symmetric edge relation is
    * built and counted once; at most [[MaxDriverGraph]] symmetric edges
    * (both directions, so the count also bounds the node count) run the
    * rounds on the driver ([[minLabelDriver]]), else
    * [[minLabelDistributed]] runs them. Both run exactly `rounds`
    * synchronous rounds and are identical (spec'd). */
  private[graft] def minLabelComponents(edges: DataFrame,
      rounds: Int): DataFrame = {
    freePendingCut()
    val sym = symmetricEdges(edges).persist()
    val out =
      if (sym.count() <= MaxDriverGraph)
        minLabelDriver(edges.sparkSession, sym, rounds)
      else minLabelDistributed(sym, rounds)
    sym.unpersist()
    out
  }

  /** Both directions of every edge, NULL endpoints and self-loops
    * dropped, distinct — the relation both min-label twins read. */
  private[graft] def symmetricEdges(edges: DataFrame): DataFrame =
    edges
      .select(col("u"), col("v"))
      .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      .where(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v"))
      .distinct()

  /** Distributed twin of the min-label loop over [[symmetricEdges]]: one
    * equi-join + one min aggregation per round, lineage cut per round,
    * previous cut freed, the final cut pending until the next call. */
  private[graft] def minLabelDistributed(sym0: DataFrame,
      rounds: Int): DataFrame = {
    val spark = sym0.sparkSession
    freePendingCut()
    // size the loop relations from the edge count (the pagerank/LPA
    // re-pin, r20) — sym is re-read on v every round, labels 2× per
    // round; dimension-sized inputs land at p = 1
    val conf = spark.sessionState.conf.numShufflePartitions
    val p = Shuffles.sizedPartitions(sym0, sym0.count())
    val sym = if (p < conf) sym0.repartition(p, col("v")).persist() else sym0
    val nodes = sym.select(col("u").as("node")).distinct()
    var labels = nodes.select(col("node"), col("node").as("label"))
      .repartition(p, col("node"))
      .localCheckpoint()
    var lastCutId = org.apache.spark.sql.graft.Bridge.checkpointRddId(labels)
    var k = 0
    while (k < rounds) {
      // one exchange per round — the LPA-round layout-sharing pattern
      val best = sym
        .join(labels.select(col("node").as("v"), col("label").as("nl")),
          Seq("v"))
        .repartition(p, col("u"))
        .groupBy(col("u").as("node")).agg(min(col("nl")).as("best"))
      val next = labels.join(best, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("best"), col("label")))
            .as("label"))
        .localCheckpoint()
      Corpus.freeCheckpoint(spark, lastCutId)
      lastCutId = org.apache.spark.sql.graft.Bridge.checkpointRddId(next)
      labels = next
      k += 1
    }
    if (sym ne sym0) sym.unpersist()
    pendingCut.set((spark, lastCutId))
    labels
  }

  /** Driver twin of the min-label loop: exactly `rounds` synchronous
    * rounds over the collected symmetric edges, minima in UTF-8 byte
    * order (never JVM String order). */
  private[graft] def minLabelDriver(spark: SparkSession, sym: DataFrame,
      rounds: Int): DataFrame = {
    val nbrs: Map[String, Array[String]] = sym.collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
    val nodeArr = nbrs.keys.toArray.sortWith(utf8Lt)
    var label: Map[String, String] = nodeArr.map(n => n -> n).toMap
    var k = 0
    while (k < rounds) {
      label = nodeArr.map { v =>
        v -> nbrs(v).foldLeft(label(v)) { (m, u) =>
          if (utf8Lt(label(u), m)) label(u) else m
        }
      }.toMap
      k += 1
    }
    import spark.implicits._
    nodeArr.map(n => (n, label(n))).toSeq.toDF("node", "label")
  }

  // ----------------------------------------------------------------
  // Triangle counting
  // ----------------------------------------------------------------

  /** Per-node triangle counts + local clustering coefficient over the
    * UNDIRECTED simple transition graph — the motif statistic next to
    * [[pagerank]]'s centrality and [[labelPropagation]]'s communities
    * (how clique-like is each state's neighborhood). Self-loops dropped,
    * parallel/reverse edges collapse to one undirected edge.
    *
    * Algorithm: degree-ordered orientation (Chiba–Nishizeki / the
    * standard distributed formulation): orient every undirected edge
    * from its (degree, node)-smaller endpoint to its larger one, then
    * count directed wedges a→b→c closed by a→c. Each triangle is
    * enumerated exactly ONCE, and every node's oriented out-degree is
    * bounded by O(sqrt(m)) on any graph — the join never explodes on a
    * hub the way the naive neighbor-pair join does. That bound is the
    * whole 100 TB story: on a web-scale graph the wedge join is the
    * only super-linear step and orientation caps it at m^(3/2) total
    * work, evenly distributed, with no driver path needed (three
    * equi-joins on the AGGREGATED edge relation — the corpus-sized work
    * remains the one transitionPairs aggregation).
    *
    * Determinism: everything is integers and string comparisons until
    * the final clustering ratio 2·T / (d·(d−1)) — exact integer operands
    * into one fixed-order double expression, rounded once at the output.
    * Node order ties in the orientation break by UTF-8 byte order (`<`
    * on both engines is bytewise). */
  def triangleCount(spark: SparkSession, dir: String): DataFrame =
    triangleCountFrom(Tables.events(spark, dir))

  private[graft] def triangleCountFrom(events: DataFrame): DataFrame = {
    val undirected = EventFlows.transitionPairs(events)
      .where(col("from_type") =!= col("to_type"))
      .select(least(col("from_type"), col("to_type")).as("u"),
        greatest(col("from_type"), col("to_type")).as("v"))
      .distinct()
    triangleCountOnEdges(undirected)
  }

  /** The generic core over any distinct undirected edge set (u, v),
    * u ≠ v. Returns (node, degree, triangles, clustering). */
  private[graft] def triangleCountOnEdges(undirected0: DataFrame): DataFrame = {
    // the edge set feeds the degree aggregation AND (via orientation)
    // three legs of the wedge join — without a lineage cut every leg
    // replays the corpus-sized transitionPairs window (5 events scans);
    // cut once at the aggregated (vocabulary-sized) edge relation
    val undirected = undirected0.localCheckpoint(false)
    val deg = undirected.select(col("u").as("node"))
      .unionByName(undirected.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).cast("long").as("degree"))
    // orient: smaller (degree, node) endpoint -> larger; du/dv come from
    // the aggregated degree relation (vocabulary-sized -> broadcast)
    val lower = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = undirected
      .join(broadcast(deg.select(col("node").as("u"), col("degree").as("du"))), Seq("u"))
      .join(broadcast(deg.select(col("node").as("v"), col("degree").as("dv"))), Seq("v"))
      .select(when(lower, col("u")).otherwise(col("v")).as("a"),
        when(lower, col("v")).otherwise(col("u")).as("b"))
      .localCheckpoint(false) // three wedge-join legs read it
    // wedges a->b->c closed by a->c: each triangle counted exactly once
    val tri = oriented
      .join(oriented.select(col("a").as("b"), col("b").as("c")), Seq("b"))
      .join(oriented.select(col("a"), col("b").as("c")), Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
    val perNode = tri.select(col("a").as("node"))
      .unionByName(tri.select(col("b").as("node")))
      .unionByName(tri.select(col("c").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).cast("long").as("t"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("t"), lit(0L)).as("triangles"),
        when(col("degree") >= 2,
          round((lit(2.0) * coalesce(col("t"), lit(0L)).cast("double")) /
            (col("degree") * (col("degree") - 1)).cast("double"), 6))
          .otherwise(lit(0.0)).as("clustering"))
  }

  private def lpaDistributed(sym: DataFrame, nodes: DataFrame,
      rounds: Int, p: Int): DataFrame = {
    val spark = sym.sparkSession
    var labels = nodes.select(col("node"), col("node").as("label"))
      .repartition(p, col("node"))
      .localCheckpoint()
    var lastCutId = org.apache.spark.sql.graft.Bridge.checkpointRddId(labels)
    var k = 0
    while (k < rounds) {
      // one exchange per round (r20, §2.4): hash(u, p) BEFORE the
      // aggregation satisfies the (u, nl) grouping, the u-keyed vote
      // window, and — after the u→node rename — the label join against
      // the checkpoint's preserved hash(node, p) layout, so the round's
      // vote count, rank, join, and checkpoint all share it
      val best = sym
        .join(labels.select(col("node").as("v"), col("label").as("nl")),
          Seq("v"))
        .repartition(p, col("u"))
        .groupBy(col("u"), col("nl"))
        .agg(sum(col("w")).cast("long").as("s"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("u")).orderBy(col("s").desc, col("nl"))))
        .where(col("rk") === 1)
        .select(col("u").as("node"), col("nl").as("best"))
      val next = labels.join(best, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("best"), col("label")).as("label"))
        .localCheckpoint()
      Corpus.freeCheckpoint(spark, lastCutId)
      lastCutId = org.apache.spark.sql.graft.Bridge.checkpointRddId(next)
      labels = next
      k += 1
    }
    pendingCut.set((spark, lastCutId))
    labels
  }
}
