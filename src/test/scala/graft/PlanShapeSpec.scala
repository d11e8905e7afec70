package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Regression tests for the physical-plan properties the engine's 100 TB
  * story depends on. A change that silently loses pushdown, codegen, or
  * rank-limit would still pass value checks — these specs catch it.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  import SparkTest.Sf

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, Sf).queryExecution.executedPlan.toString

  test("ingest filters push down to the parquet scan") {
    // assert on the scan node's metadata, not the rendered plan string —
    // simpleString truncates long PushedFilters lists, so a new pushed
    // filter can shove an old one past the cutoff and break a string match
    val exec = SparkEntry.queries("ingest_errors")(spark, Sf)
      .queryExecution.executedPlan
    val pushed = exec.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata.getOrElse("PushedFilters", "")
    }.mkString("\n")
    assert(pushed.contains("EqualTo(event_type,error)"),
      s"event_type filter must reach the scan; pushed: $pushed")
  }

  test("scans read only the columns a query needs") {
    val p = plan("metrics_by_namespace")
    assert(p.contains("ReadSchema: struct<source:string"),
      s"namespace metrics must scan only source (+agg cols):\n$p")
    assert(!p.contains("text"), s"must not scan the text column:\n$p")
  }

  test("star joins broadcast their dimension sides") {
    val p = plan("q5_region_revenue")
    assert(p.contains("BroadcastHashJoin"), s"dims must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("top-k windows use rank-limit pushdown (WindowGroupLimit)") {
    assert(plan("top_events_per_user").contains("WindowGroupLimit"))
    assert(plan("vector_knn").contains("WindowGroupLimit"))
  }

  test("incident_report caps each day's lines with a bounded top-N before the exchange") {
    // the per-day line cap must plan as a partial top-N per map task
    // BEFORE the exchange, bounded by maxLines — a plain Window + Filter
    // (or an uncapped collect_list) would gather every line of a day on
    // one reducer and only then drop the excess, i.e. the unbounded-
    // group-state shape the cap exists to remove. Counts and lines come
    // from that one aggregate: no window branch, no join back.
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // every node of the final adaptive plan, through its query stages
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case other => other.children.flatMap(nodes)
    })
    // the bound of each partial collect_top_k (CollectTopK is
    // private[spark]; its second field is the heap size)
    def partialTopN(p: SparkPlan): Seq[Any] = p match {
      case a: BaseAggregateExec => a.aggregateExpressions
        .filter(e => e.mode == Partial &&
          e.aggregateFunction.prettyName == "collect_top_k")
        .map(_.aggregateFunction.productElement(1))
      case _ => Nil
    }
    Seq("incident_report" -> 1000, "incident_report_cap" -> 25,
        "search_all" -> 1000).foreach { case (q, cap) =>
      val df = SparkEntry.queries(q)(spark, Sf)
      df.collect()
      val all = nodes(df.queryExecution.executedPlan)
      val belowExchange = all.collect {
        case x: ShuffleExchangeExec => nodes(x.child).flatMap(partialTopN)
      }.flatten
      assert(belowExchange == Seq(cap),
        s"$q's line cap must be one partial top-$cap below the exchange:\n" +
          df.queryExecution.executedPlan)
      assert(!all.exists(n => n.nodeName.contains("Window") ||
          n.nodeName.contains("Join")),
        s"$q must not rank in a window branch or join the count back:\n" +
          df.queryExecution.executedPlan)
    }
  }

  test("job budget: incident_report and search_all run as one scan and one exchange") {
    Seq("incident_report", "search_all").foreach { q =>
      SparkEntry.queries(q)(spark, Sf).collect() // warm: listing lands outside
      val jobs = SparkTest.jobsOf { SparkEntry.queries(q)(spark, Sf).collect() }
      assert(jobs <= 2, s"$q ran $jobs jobs (4 with the count/report join)")
    }
  }

  test("native kernel projections stay inside whole-stage codegen") {
    // both queries carry the distinct-entity exchange, so their plans are
    // adaptive — codegen spans only render on the FINAL plan; execute
    // first, then assert the kernel projection landed inside a span
    Seq("embed_text", "doc_fingerprint").foreach { q =>
      val df = SparkEntry.queries(q)(spark, Sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("*("), s"$q projection must be codegen'd:\n$p")
      assert(!p.contains("lambdafunction"),
        s"$q stats must be kernel-computed, not interpreted HOFs:\n$p")
    }
  }

  test("search_entries plans a distributed TakeOrdered with pushed filters") {
    val p = plan("search_entries")
    assert(p.contains("TakeOrderedAndProject"),
      s"ordered LIMIT must be a distributed top-N, not a global sort:\n$p")
  }

  test("feedback_upsert merge is a keyed shuffle join") {
    val p = plan("feedback_upsert")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"full-outer MERGE must be a keyed join:\n$p")
  }

  test("ANN corpus normalize is the native kernel, not an interpreted HOF") {
    Seq("ann_cosine_topk", "knn_label_vote").foreach { q =>
      val p = plan(q)
      assert(!p.contains("lambdafunction"),
        s"$q corpus side must use VecL2Normalize, found interpreted HOF:\n$p")
      assert(p.toLowerCase.contains("vecl2normalize"), s"$q must use the native kernel:\n$p")
    }
  }

  test("value_percentiles ranks inside quantile buckets, not whole strata") {
    val p = plan("value_percentiles")
    // a Window partitioned by event_type ALONE would sort 1/5 of the fact
    // table on one reducer at 100 TB (VERDICT r3 finding #1); the rank
    // window must carry the frozen-boundary bucket in its partition key
    assert(!p.matches("(?s).*windowspecdefinition\\(event_type#\\d+, value#.*"),
      s"found a per-stratum rank window over the raw values:\n$p")
    assert(p.matches("(?s).*windowspecdefinition\\(event_type#\\d+, bucket#\\d+, value#\\d+ ASC.*"),
      s"rank window must partition by (event_type, bucket):\n$p")
  }

  test("sampled percentiles bound the sample cut via WindowGroupLimit") {
    // the bottom-k-by-hash cut must ship <= k rows per group per map
    // task into the shuffle; losing the rank-limit rewrite would shuffle
    // the whole fact table just to pick 4096 rows per group
    val p = plan("value_percentiles_sampled")
    assert(p.contains("WindowGroupLimit"),
      s"sample selection must plan as WindowGroupLimit:\n$p")
  }

  test("sketch builds aggregate partially before their one exchange") {
    // HLL registers and CMS counters are classic partial-agg shapes: a
    // plan without map-side combine would shuffle raw keys — the exact
    // thing a sketch exists to avoid at 100 TB
    for (q <- Seq("approx_distinct", "heavy_hitters_approx")) {
      val p = plan(q)
      assert(p.contains("partial_"),
        s"$q's sketch build must map-side combine:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: no cartesian:\n$p")
    }
  }

  test("corpus_shuffle's position window is sharded, never one reducer") {
    // the permutation op must not plan a global window: the position
    // numbering partitions on the shard key (hashpartitioning), not a
    // SinglePartition exchange that would funnel the corpus through one
    // task at 100 TB
    val p = plan("corpus_shuffle")
    assert(!p.contains("SinglePartition"),
      s"corpus_shuffle must not exchange to a single partition:\n$p")
    assert(p.contains("hashpartitioning(shard"),
      s"position window must partition on the shard key:\n$p")
  }

  test("length_buckets aggregates partially before its one exchange") {
    val p = plan("length_buckets")
    assert(p.contains("partial_"),
      s"bucket stats must map-side combine:\n$p")
    assert(p.sliding("Exchange".length).count(_ == "Exchange") <= 2,
      s"one shuffle (plus AQE read) is the whole cost:\n$p")
  }

  test("rollup plans grouping sets in one aggregate, not three passes") {
    val p = plan("metrics_rollup")
    assert(p.contains("Expand"), s"rollup must expand grouping sets inline:\n$p")
    assert(p.contains("partial_count"), s"rollup must map-side combine:\n$p")
    assert(p.sliding("FileScan".length).count(_ == "FileScan") == 1,
      s"subtotals must not re-scan the fact table:\n$p")
  }

  test("events_pivot aggregates map-side; the pivot stage sees only (day,level) rows") {
    val p = plan("events_pivot")
    assert(p.contains("pivotfirst"), s"enumerated pivot must plan pivotfirst:\n$p")
    assert(p.contains("partial_count"),
      s"the (day, level) pre-aggregate must map-side combine:\n$p")
    assert(!p.contains("Join"), s"no distinct-scan join to discover columns:\n$p")
  }

  test("moving average windows the day relation, never the raw events") {
    val p = plan("metrics_moving_avg")
    assert(p.contains("specifiedwindowframe(RowFrame, -6, currentrow"),
      s"trailing 7-row frame over the filled timeline:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"day-domain gap-fill join must broadcast:\n$p")
    // the unpartitioned window's input is the day-cardinality relation,
    // already one partition from the 2-value min/max agg — its sort must
    // be LOCAL (global=false). A global sort would mean the window slid
    // down onto the event stream.
    assert(!p.matches("(?s).*Sort \\[[^\\]]*\\], true,.*"),
      s"no global sort anywhere in the moving-average plan:\n$p")
  }

  test("dedup_lines counts line hashes, not line text, and removes via anti join") {
    val p = plan("dedup_lines")
    assert(p.contains("LeftAnti"),
      s"boilerplate removal must be an anti join:\n$p")
    assert("Exchange hashpartitioning\\(doc_id#\\d+L?, hk#\\d+L?".r
      .findFirstIn(p).isDefined,
      s"the distinct stage must exchange (doc_id, line-hash) pairs:\n$p")
    assert("functions=\\[\\], output=\\[hk#".r.findFirstIn(p).isDefined,
      s"the distinct aggregate must project the 8-byte hash only — raw " +
        s"line text must never enter the counting exchange:\n$p")
  }

  test("no query plans a CartesianProduct") {
    SparkEntry.queries.keys.foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name plans a CartesianProduct — an unbroadcast cross join:\n$p")
    }
  }

  test("LSH candidate joins are equi-joins, not nested loops") {
    val p = plan("dedup_minhash")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"band join must be an equi-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("interval join is a bin equi-join, never a nested-loop range join") {
    val p = plan("interval_join")
    assert(p.contains("BroadcastHashJoin"),
      s"the bin key must carry the join as a hash join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"a raw range predicate would plan a nested loop over the fact:\n$p")
    // TPC-H join-shape pins: semi and anti joins must stay semi/anti —
    // a rewrite through fan-out+distinct or an inner join would still
    // pass value checks on mild data
    val q4 = plan("q4_order_priority")
    assert(q4.contains("LeftSemi"), s"Q4 EXISTS must plan as LeftSemi:\n$q4")
    val q22 = plan("q22_dormant_customers")
    assert(q22.contains("LeftAnti"), s"Q22 NOT EXISTS must plan as LeftAnti:\n$q22")
  }

  test("bloom-pruned join: both bit probes are broadcast semi-joins, " +
    "no extra fact shuffle") {
    val p = plan("bloom_pruned_join")
    val semis = "BroadcastHashJoin .*LeftSemi".r.findAllIn(p).size
    assert(semis >= 2, s"both Bloom bit relations must probe as broadcast " +
      s"LeftSemi at the scan:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the z-order sample must map-side-prune, not sort the fact globally
    val z = plan("layout_zorder")
    assert(z.contains("WindowGroupLimit"),
      s"the bottom-k sample window must push its rank limit:\n$z")
  }

  test("z-table serving partition-prunes to the predicate's file set") {
    // sparkPlan, not executedPlan: AQE wraps the tree and hides the
    // scan node until execution
    val exec = SparkEntry.queries("events_2d_served")(spark, Sf)
      .queryExecution.sparkPlan
    val scans = exec.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.metadata.getOrElse("Location", "").contains("/data") => s
    }
    assert(scans.nonEmpty, "the served query scans the z-table data dirs")
    scans.foreach { s =>
      val pf = s.metadata.getOrElse("PartitionFilters", "")
      assert(pf.contains("fid"),
        s"the fid predicate must reach PartitionFilters: $pf")
      assert(s.selectedPartitions.partitionCount <= 4,
        s"a single-user predicate reads ≤4 of 32 dirs, " +
          s"got ${s.selectedPartitions.partitionCount}")
    }
  }

  test("incremental dedup pre-filters the index side with a broadcast semi-join") {
    val p = plan("dedup_incremental")
    // the corpus/index side must be pruned by the batch's band-key set
    // BEFORE any exchange — a broadcast LeftSemi against the batch keys
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"index side must be semi-filtered by the broadcast batch keys:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("tfidf top-k plans as a rank-limit, df as a pre-aggregated join") {
    val p = plan("tfidf_keywords")
    // partial top-5 per map task BEFORE the doc exchange
    assert(p.contains("WindowGroupLimit"),
      s"per-doc top-k must plan as a rank-limit:\n$p")
    // df must NOT be a count-over-term window on the (doc, term) pair
    // relation: a stopword's window partition is the corpus's entire doc
    // set buffered in ONE task, and AQE cannot split a window partition.
    // The groupBy(term).count equi-join keeps the no-vocab-broadcast
    // property (join strategy is stats-driven — a 10⁸-row term relation
    // won't broadcast) while hot term keys stay AQE-skew-split eligible.
    assert(!p.contains("windowspecdefinition(term"),
      s"df must not be a window partitioned by term:\n$p")
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[term".r
      .findFirstIn(p).isDefined,
      s"df must join back onto tf on the term key:\n$p")
  }

  test("multi-reference plans collapse duplicate subtrees via AQE exchange reuse") {
    // funnel/retention/PMI reference a shared relation more than once in
    // the logical plan; the runtime must execute it once. This is a
    // RUNTIME property (AQE reuse happens after stages materialize), so
    // run the query and inspect the final adaptive plan.
    Seq("bigram_pmi" -> 1, "retention_cohorts" -> 1, "funnel_steps" -> 2)
      .foreach { case (name, minReuse) =>
        val df = SparkEntry.queries(name)(spark, Sf)
        df.collect()
        val p = df.queryExecution.executedPlan.toString
        val n = "ReusedExchange".r.findAllIn(p).length
        assert(n >= minReuse,
          s"$name must reuse its duplicate subtree at runtime " +
            s"(expected >= $minReuse ReusedExchange, got $n):\n${p.take(3000)}")
      }
  }

  test("bm25 plans a distributed top-k over broadcast df/stats sides") {
    val p = plan("search_bm25")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-k cut must be a distributed top-N, not a global sort:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the ≤|q|-row df and 1-row stats sides must broadcast — a shuffle " +
        s"join here would shuffle the whole matched-doc relation:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"df join must broadcast:\n$p")
    assert(!p.contains("lambdafunction"),
      s"the score chain must be plain codegen'd arithmetic, no HOFs:\n$p")
  }

  test("heavy-hitters' combined build scans the fact relation once") {
    // the tag filters on the sketch base are group-key predicates that
    // Catalyst pushes through the aggregate — without the lineage cut at
    // the aggregated base, the sketch/total/key-estimate derivations
    // would each rescan the fact table. The final plan must contain ONE
    // events file scan (the distinct-key probe side); the combined build
    // lives in the checkpointed base's lineage, computed once.
    val df = SparkEntry.queries("heavy_hitters_approx")(spark, Sf)
    df.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case qs: QueryStageExec => scans(qs.plan)
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(scans)
      }
    val evScans = scans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("events")))
    assert(evScans.length == 1,
      s"exactly one events scan in the serving plan (probe side), got " +
        s"${evScans.length}:\n${df.queryExecution.executedPlan.toString.take(3000)}")
  }

  test("span dedup and dsir run ONE corpus pass; dsir LM sides broadcast") {
    // both operators derive every consumer (per-gram/per-token stats AND
    // the per-doc scoring relation) from one aggregated base whose
    // exchange AQE reuses — a formulation drift back to re-evaluating
    // the corpus-sized explode per consumer would still be value-correct,
    // so the one-scan property is pinned on the executed plan
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case qs: QueryStageExec => scans(qs.plan)
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(scans)
      }
    def docScansOf(q: String): (Int, String) = {
      val df = SparkEntry.queries(q)(spark, Sf)
      df.collect()
      val plan = df.queryExecution.executedPlan
      (scans(plan).count(_.relation.location.rootPaths
        .exists(_.toString.contains("documents"))), plan.toString)
    }
    // the aggregated base is lineage-cut with a lazy localCheckpoint, so
    // the ONE documents scan lives inside the checkpointed RDD: the
    // final plan must show ZERO direct documents rescans AND the
    // ExistingRDD scan of the cut (a drift back to multi-evaluation
    // shows up as documents FileSourceScans reappearing)
    val (spansScans, sp) = docScansOf("dedup_spans")
    assert(!sp.contains("CartesianProduct"), sp)
    assert(spansScans == 0 && sp.contains("ExistingRDD"),
      s"dedup_spans must read its one pass through the checkpointed " +
        s"base, got $spansScans direct scans:\n${sp.take(3000)}")
    // the DESTRUCTIVE form: the gram pass lives in the checkpointed
    // fixed-width (doc, start, hash) base (both the dup-counting and
    // coverage consumers read it), and the token/reassembly pass is the
    // ONE direct documents scan — a drift to a second token scan (the
    // old count-then-rejoin shape) or a re-exploded gram side fails here
    val (remScans, rp) = docScansOf("dedup_spans_removal")
    assert(!rp.contains("CartesianProduct"), rp)
    assert(remScans == 1 && rp.contains("ExistingRDD"),
      s"dedup_spans_removal must pay one token scan plus the " +
        s"checkpointed gram base, got $remScans direct scans:\n${rp.take(3000)}")
    val (dsirScans, dp) = docScansOf("dsir_weights")
    assert(!dp.contains("CartesianProduct"), dp)
    // the vocab side is the memoized buildVocab cache (InMemory scan) —
    // at most one direct documents scan may appear while that cache
    // first materializes
    assert(dsirScans <= 1 && dp.contains("ExistingRDD"),
      s"dsir_weights scoring must read the checkpointed dt, got " +
        s"$dsirScans direct scans:\n${dp.take(3000)}")
    assert(dp.contains("BroadcastHashJoin"), s"LM joins must broadcast:\n$dp")
  }

  test("the r16 multi-consumer operators run ONE fact scan through " +
    "their lineage cuts; no cartesians") {
    // triangles / corr / user-percentiles / locf / source_overlap each
    // feed 2-3 consumers (degree+wedge legs, sums+self-join+domain,
    // histogram+join-back, levels+domain+grid, sizes+pair-join) from one
    // aggregated base behind a lazy localCheckpoint — a formulation
    // drift back to per-consumer re-evaluation would still be
    // value-correct, so the scan count is pinned on the executed plan
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case qs: QueryStageExec => scans(qs.plan)
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(scans)
      }
    def pin(q: String, table: String): Unit = {
      val df = SparkEntry.queries(q)(spark, Sf)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val n = scans(plan).count(_.relation.location.rootPaths
        .exists(_.toString.contains(table)))
      val s = plan.toString
      assert(!s.contains("CartesianProduct"), s"$q:\n${s.take(2000)}")
      assert(n == 0 && s.contains("ExistingRDD"),
        s"$q must read $table once through its checkpointed base, got " +
          s"$n direct scans:\n${s.take(3000)}")
    }
    pin("graph_triangles", "events")
    pin("corr_pairs", "events")
    pin("user_percentiles", "events")
    pin("metrics_locf", "events")
    pin("source_overlap", "documents")
  }

  test("perceptual media signature is the native kernel: no object " +
    "round-trip, inside whole-stage codegen") {
    // the registered query localCheckpoints its result (its executed
    // plan is just the checkpoint scan) — pin the SIGNATURE stage the
    // operator composes from
    import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = graft.operators.Multimodal.perceptualBase(
      graft.operators.Multimodal.mediaTable(spark, Sf))
    df.collect()
    val exec = df.queryExecution.executedPlan
    val p = exec.toString
    assert(!p.contains("DeserializeToObject") && !p.contains("MapPartitions"),
      s"perceptual signature must be a kernel projection, not an encoder " +
        s"round-trip:\n$p")
    // CollapseProject may fold the kernel projection into the entity-
    // distinct aggregate's result expressions, and a rendered
    // HashAggregate shows only its output attributes — so read the
    // expression trees and the generated code, never the plan string
    def nodes(n: SparkPlan): Seq[SparkPlan] = n match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case qs: QueryStageExec => nodes(qs.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    def holdsKernel(n: SparkPlan): Boolean = n.expressions.exists(
      _.exists(_.isInstanceOf[graft.expressions.PerceptualSig]))
    val all = nodes(exec)
    assert(all.exists(holdsKernel),
      s"expected the PerceptualSig kernel in the plan:\n$p")
    // the static call PerceptualSig.doGenCode emits: a CodegenFallback
    // kernel would sit inside a span too, but only as an interpreted call
    val bodies = all.collect {
      case w: WholeStageCodegenExec if w.exists(holdsKernel) =>
        w.doCodeGen()._2.body
    }
    assert(bodies.exists(_.contains("graft.expressions.Kernels.perceptualSig(")),
      s"the signature kernel must be generated code inside a codegen span " +
        s"(${bodies.size} spans hold it):\n$p")
  }

  test("unpartitioned windows run on bounded relations, never a fact") {
    // The audited global-window sites are bounded BY DESIGN (day grids,
    // limit(k) survivors, cutpoint samples, aggregated shares) — their
    // WindowExec warnings are benign noise. This pin EXECUTES the two
    // largest carriers (the zorder cutpoint sampler and the count-of-
    // counts percentile histogram) and asserts the measured row count
    // entering every unpartitioned WindowExec stays dimension-sized, so
    // a refactor that seats one on a fact relation fails here instead of
    // hiding in the warning flood.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    def unpartitionedWindows(p: SparkPlan): Seq[WindowExec] = {
      val here = p match {
        case w: WindowExec if w.partitionSpec.isEmpty => Seq(w)
        case _ => Nil
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      here ++ kids.flatMap(unpartitionedWindows)
    }
    // a window's direct child is usually a Sort (no row metric) — walk
    // down to the first descendant that measured its output rows (the
    // nodes between are row-preserving sorts/projections/exchanges)
    def inputRows(p: SparkPlan): Option[Long] =
      p.metrics.get("numOutputRows").map(_.value).orElse(p match {
        case a: AdaptiveSparkPlanExec => inputRows(a.executedPlan)
        case q: QueryStageExec => inputRows(q.plan)
        case other => other.children.headOption.flatMap(inputRows)
      })
    // sf0.001 has ~12k events; the bound must separate "dimension-sized"
    // (cut samples ≤ 4096 + ties, day grids ≤ 100, histograms ≤ 1000)
    // from "someone windowed the fact" (≥ 12k)
    val bound = 6000L
    for (q <- Seq("layout_zorder", "user_percentiles")) {
      val df = SparkEntry.queries(q)(spark, Sf)
      df.write.format("noop").mode("overwrite").save()
      val ws = unpartitionedWindows(df.queryExecution.executedPlan)
      assert(ws.nonEmpty, s"$q: expected at least one global window " +
        "(did the operator shape change? re-audit the bound)")
      val measured = ws.flatMap(w => inputRows(w.child).map(w -> _))
      assert(measured.nonEmpty,
        s"$q: no global window exposed an input row count — pin is blind")
      measured.foreach { case (w, n) => assert(n <= bound,
        s"$q: an unpartitioned window consumed $n rows (> $bound) — " +
          s"it is sitting on a fact relation:\n$w")
      }
    }
  }
}
