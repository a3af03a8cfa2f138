package graft

import org.apache.spark.sql.catalyst.plans.logical.ReturnAnswer
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{CorpusScope, Dedup, PipelineOps, Relational, StreamingModel, Vector}
import graft.pipeline.{IngestPipeline, PipelineConfig}
import graft.plans.{CollectSortExec, CollectSortStrategy}

/** Physical-plan assertions on the real sf0.001 tables: the properties
  * that decide whether a plan survives a 100×–1000× scale-up. Locking them
  * in as tests means a refactor that silently de-optimizes (drops a
  * pushdown, loses a broadcast, full-sorts a top-k) fails CI, not the
  * cluster. */
class PlanSpec extends AnyFunSuite with SparkFixture {
  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private object Plans extends AdaptiveSparkPlanHelper

  /** Every file scan in `df`'s executed plan, through AQE stages and
    * subqueries. */
  private def scans(df: org.apache.spark.sql.DataFrame): Seq[FileSourceScanExec] =
    Plans.collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }

  /** The root paths the file scans of `df` read. Path checks go through
    * these, not the plan string, where Spark cuts a scan's `Location` at
    * 100 characters. */
  private def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
    scans(df).flatMap(_.relation.location.rootPaths.map(_.toString))

  private def scansPath(df: org.apache.spark.sql.DataFrame, part: String): Boolean =
    scanPaths(df).exists(_.contains(part))

  test("scan_project_filter pushes the range filter into the parquet scan") {
    val p = plan(Relational.scanProjectFilter(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"range filter not pushed:\n$p")
  }

  test("scan_project_filter prunes ReadSchema to the referenced columns") {
    val p = plan(Relational.scanProjectFilter(spark, dir))
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_comment") && !read.contains("l_returnflag") &&
      read.contains("l_shipdate") && read.contains("l_extendedprice"),
      s"columns not pruned: $read")
  }

  test("dimension lookups broadcast (fact side never shuffles)") {
    val p = plan(Relational.joinBroadcastDim(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dimension join degraded to SMJ:\n$p")
  }

  test("latest-snapshot top-1 is TakeOrderedAndProject, not a global sort") {
    val p = plan(PipelineOps.latestSnapshot(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), s"top-1 plans a full sort:\n$p")
  }

  test("multi-key sort+limit is TakeOrderedAndProject") {
    val p = plan(Relational.sortMultikeyLimit(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), s"limit not fused into sort:\n$p")
  }

  test("collected sort: agg_pricing_summary merges sorted runs on the driver, no range exchange") {
    val p = plan(Relational.aggPricingSummary(spark, dir))
    assert(p.contains("CollectSort") && !p.contains("rangepartitioning"),
      s"collected sort still range-shuffles:\n$p")
  }

  test("collected sort: toRdd and a coalesce(1).write keep the range exchange") {
    val df = Relational.aggPricingSummary(spark, dir)
    val rows = df.collect()
    assert(df.queryExecution.toRdd.count() == rows.length)
    // AQE wraps the final plan in a result stage, a leaf to collectFirst
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case q: QueryStageExec => unwrap(q.plan)
      case other => other
    }
    val range = unwrap(df.queryExecution.executedPlan)
      .collectFirst { case c: CollectSortExec => c.rangePlan }.get
    val exchange = range.collectFirst { case e: ShuffleExchangeExec => e }.get
    assert(exchange.outputPartitioning.isInstanceOf[RangePartitioning], s"$range")
    assert(exchange.metrics("shuffleRecordsWritten").value == rows.length,
      s"toRdd did not run the range exchange:\n$range")
    assert(range.collect { case s: SortExec => s.global } == Seq(true),
      s"range path keeps the per-partition pre-sort:\n$range")
    // Verify's spelling: the sort is under the coalesce, not the answer root
    val w = df.coalesce(1)
    val wp = plan(w)
    assert(wp.contains("rangepartitioning") && !wp.contains("CollectSort"), wp)
    val out = tempDir("graft-collect-sort") + "/o"
    w.write.parquet(out)
    assert(spark.read.parquet(out).collect().toSeq == rows.toSeq)
  }

  test("collected sort: ETL latest-artifact choice stays TakeOrderedAndProject") {
    val m = java.nio.file.Paths.get(tempDir("graft-manifest"))
    Seq("snap_2024-01-01.zip", "snap_2024-01-02.zip", "notes.txt")
      .foreach(n => java.nio.file.Files.write(m.resolve(n), "x".getBytes))
    val p = plan(new IngestPipeline(PipelineConfig(m.toString, s"$m/state"), (_, _) => ())
      .candidates(spark))
    assert(p.contains("TakeOrderedAndProject") && !p.contains("CollectSort"), p)
  }

  test("collected sort: a streaming Sort is not rewritten") {
    def sorted(df: org.apache.spark.sql.DataFrame) =
      ReturnAnswer(df.orderBy("value").queryExecution.analyzed)
    assert(CollectSortStrategy(sorted(spark.readStream.format("rate").load())).isEmpty)
    assert(CollectSortStrategy(sorted(spark.range(3).toDF("value"))).nonEmpty)
  }

  test("incremental anti-check broadcasts the tiny state side") {
    val p = plan(PipelineOps.incrementalAnti(spark, dir))
    assert(p.contains("Broadcast") && p.contains("LeftAnti"), s"state join not broadcast:\n$p")
  }

  test("brute-force simsearch broadcasts the probe side") {
    val p = plan(Vector.simsearchTopk(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"probes not broadcast:\n$p")
  }

  test("pricing summary aggregates map-side (partial) before the shuffle") {
    val p = plan(Relational.aggPricingSummary(spark, dir))
    assert(p.contains("HashAggregate"), s"no hash aggregate:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial+final agg pair:\n$p")
  }

  test("stream_late_filter: the only unpartitioned window runs over the bucket summary") {
    // Round 1's scale-killer was ONE global Window.orderBy over all events
    // (single-task sort); round 2 still ran an unpartitioned prefix max
    // over the #users-sized per-user summary. The two-level plan may keep
    // an unpartitioned window ONLY over the per-BUCKET aggregate
    // (grouping key `b` = user_id div 4096, #users/4096 rows) — asserted
    // by grouping key, not just "some aggregate below", so a regression
    // back to the user-level prefix max fails here.
    val plan = StreamingModel.lateFilter(spark, dir).queryExecution.sparkPlan
    val unpart = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(unpart.nonEmpty, "expected the bucket-summary prefix max")
    unpart.foreach { w =>
      val nearestAgg = w.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }
      assert(nearestAgg.exists(_.groupingExpressions.map(_.name) == Seq("b")),
        s"unpartitioned window not over the bucket-level aggregate:\n$w")
    }
  }

  test("stream_session_state: no unpartitioned window over a frame that grows with the session count") {
    // The r14 perf-weak mark: the merged-order close scan (watermark
    // marks ∪ session-timeout thresholds) ran as ONE unpartitioned
    // window — |S|+|B| rows through a single task, and |S| grows with
    // the corpus. The de-weak shards it by calendar day (two-level
    // bucket cumsum), so the only legal unpartitioned windows left are
    // the batch-frame scans (order key `batch_id`, |epochs| rows) and
    // the day-bucket prefix sum (order key `bkt`, calendar-bounded).
    // Any unpartitioned window ordering on the merged time value `v`
    // (or anything else session-sized) is the regression this locks out.
    val sp = StreamingModel.sessionStateModel(spark, dir)
      .queryExecution.sparkPlan
    val offenders = sp.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty &&
            w.orderSpec.flatMap(_.references.map(_.name.toLowerCase))
              .exists(n => n != "batch_id" && n != "bkt") => w
    }
    assert(offenders.isEmpty,
      s"unpartitioned window over a session-sized frame:\n${offenders.mkString("\n")}")
  }

  test("wedge-pair build: the wedge-join probe rows stay two columns (weight rides the key)") {
    // The 53.7 s → 9.6 s win (SOAK_r11 §4) hinges on the wedge probe row
    // staying exactly (node, wk): every A/B'd spelling that carried the
    // per-center weight as a THIRD column through the self-join hit a
    // consistent ~3.5× cliff. Since round 12 the wedge enumeration lives
    // in the shared per-corpus BUILD (Dedup.wedgePairsBuild, serving both
    // common-neighbors and adamic-adar); the lock inspects that build
    // plan, so a refactor that grows either side fails here instead of
    // silently costing every rebuild.
    val plan = Dedup.wedgePairsBuild(spark, dir).queryExecution.sparkPlan
    val wedge = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.leftKeys.exists(_.references.exists(_.name == "wk")) => j
    }
    assert(wedge.nonEmpty, s"wedge join keyed on wk not found:\n$plan")
    wedge.foreach { j =>
      assert(j.left.output.size == 2 && j.right.output.size == 2,
        s"wedge probe row grew beyond two columns (the 3.5× cliff): " +
          s"left=${j.left.output.map(_.name)} right=${j.right.output.map(_.name)}")
    }
  }

  test("join_range_binned: BETWEEN containment plans as a hash join on bin, no nested loop") {
    // The whole point of the bin bucketing: a pure-interval join with no
    // equi key would plan BroadcastNestedLoopJoin (every order against
    // every epoch); the bin column gives the planner an equi key.
    val p = plan(Relational.joinRangeBinned(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval join degraded to a loop join:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"no equi join on bin:\n$p")
  }

  test("window_topk_custom plans through the custom TopKPerKeyExec") {
    val plan = Relational.windowTopkCustom(spark, dir).queryExecution.sparkPlan
    val topk = plan.collect { case t: graft.plans.TopKPerKeyExec => t }
    assert(topk.nonEmpty, s"TopKPerKeyExec absent:\n$plan")
  }

  test("pipe_partition_prune: day filter reaches PartitionFilters") {
    val p = plan(PipelineOps.partitionPrune(spark, dir))
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("p_date") && !pf.replaceAll("\\s", "").contains("PartitionFilters:[]"),
      s"day filter not in PartitionFilters:\n$p")
  }

  test("SQL-text path optimizes like the DSL: sql_agg_revenue broadcasts dims") {
    // Catalyst is API-agnostic — the parser's plan must get the same
    // physical treatment the DataFrame DSL gets.
    val p = plan(graft.ops.SqlSurface.sqlAggRevenue(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join via SQL text:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial+final agg:\n$p")
  }

  test("window_topk_custom needs exactly one hash shuffle for the heap exec") {
    // ClusteredDistribution on the keys → EnsureRequirements inserts ONE
    // hash exchange (visible in executedPlan; sparkPlan predates the
    // preparation rules); the final presentation orderBy contributes the
    // only other (range) exchange. More hash exchanges = a regression.
    val p = plan(Relational.windowTopkCustom(spark, dir))
    assert(p.contains("TopKPerKey"), s"TopKPerKeyExec absent:\n$p")
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashShuffles == 1, s"expected exactly 1 hash exchange:\n$p")
  }

  test("text_decontaminate broadcasts the eval shingle set (corpus never shuffles)") {
    val p = plan(graft.ops.Text.decontaminate(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"eval side not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for the eval join:\n$p")
  }

  test("pipe_gap_detect: the expected-grid check is a left-anti join") {
    val p = plan(PipelineOps.gapDetect(spark, dir))
    assert(p.contains("LeftAnti"), s"gap check not an anti join:\n$p")
  }

  test("events_attribution: both attribution windows fuse into one partitioned exec") {
    val p = plan(Relational.eventsAttribution(spark, dir))
    assert("Window \\[".r.findAllIn(p).size == 1,
      s"the two last() windows did not fuse into one Window exec:\n$p")
    assert(p.contains("user_id"), s"window not partitioned by user:\n$p")
  }

  test("pipe_quality_checks: referential check joins against distinct parent keys without shuffling orders twice") {
    val p = plan(PipelineOps.qualityChecks(spark, dir))
    // all four table scans appear exactly once per check family: 2 orders row-check
    // scans would show as >3 orders scans total (row checks + dup + orphan)
    val ordersScans = "orders\\.parquet".r.findAllIn(p).size
    assert(ordersScans <= 3, s"orders scanned more than 3 times ($ordersScans):\n$p")
  }

  test("sweep: no declared query plans a CartesianProduct, an unpartitioned window over raw input, or a ScalaUDF") {
    // The two 100 TB-killers, checked across the ENTIRE declared surface
    // so no future query reintroduces them: a true cartesian join
    // (broadcast nested-loop against a bounded side is fine and excluded
    // by name), and a Window with no partitioning whose input is not an
    // aggregated (already tiny) frame — the round-1 stream_late_filter
    // regression, generalized. Third check (r14): no per-row ScalaUDF
    // anywhere in a declared plan — the engine eliminated the class
    // (last survivor: agg_countmin_heavy's CMS serve, now the native
    // CmsEstimateLong expression); a ScalaUDF is a codegen/pushdown
    // black box and this locks the door behind it. The declared UDAF
    // surface (udaf(), a ScalaAggregator) is a different node and
    // intentionally not matched.
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, dir).queryExecution.sparkPlan
      val cartesian = plan.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }
      val rawWindow = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
      }.filterNot(_.collectFirst {
        // bounded-input exemptions: an aggregate collapses the corpus to
        // a model-sized frame; a limit (TakeOrdered / GlobalLimit) bounds
        // the frame to k rows — either way the windowed input is tiny by
        // construction, not corpus-sized
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
        case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
        case l: org.apache.spark.sql.execution.GlobalLimitExec => l
      }.nonEmpty)
      val scalaUdfs = plan.flatMap(_.expressions.flatMap(_.collect {
        case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u
      }))
      (if (cartesian.nonEmpty) Seq(s"$name: CartesianProduct") else Nil) ++
        (if (rawWindow.nonEmpty) Seq(s"$name: unpartitioned window over raw input") else Nil) ++
        (if (scalaUdfs.nonEmpty)
          Seq(s"$name: per-row ScalaUDF (${scalaUdfs.map(_.udfName.getOrElse("?")).mkString(",")})")
         else Nil)
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("epoch-frame invariant: every unpartitioned batch_id window rides the canonical epoch derivation") {
    // Family-level invariant (StreamingModel object doc, r16): an
    // unpartitioned prefix window ordered by `batch_id` is legal ONLY
    // because epochs are minted by the stream runtime — bounded by
    // wall-clock, not data. This guard closes the naming loophole: in
    // every declared stream plan that uses such a window, every Alias
    // DEFINING batch_id must be (a) the canonical epoch derivation
    // `event_id div EpochRows`, (b) a plain rename of an existing
    // column, or (c) a null/literal pad (the session-state mark rows).
    // A future op deriving "batch_id" from row content (doc count,
    // user bucket, value range…) fails here instead of silently riding
    // the whitelist.
    import org.apache.spark.sql.catalyst.expressions.{
      Alias, AttributeReference, Cast, Coalesce, IntegralDivide, Literal}
    def isCanonicalEpoch(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
      e match {
        case d: IntegralDivide =>
          d.left.references.map(_.name.toLowerCase).toSet == Set("event_id") &&
            d.right.foldable &&
            String.valueOf(d.right.eval()) ==
              graft.ops.StreamingModel.EpochRows.toString
        case c: Cast => isCanonicalEpoch(c.child)
        case _ => false
      }
    def isLiteralPad(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
      e.foldable
    val offenders = graft.ops.StreamingModel.queries.toSeq.sortBy(_._1)
      .flatMap { case (name, fn) =>
        val plan = fn(spark, dir).queryExecution.sparkPlan
        val epochWindows = plan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.isEmpty &&
                w.orderSpec.flatMap(_.references.map(_.name.toLowerCase))
                  .contains("batch_id") => w
        }
        if (epochWindows.isEmpty) Nil
        else {
          val defs = plan.flatMap(_.expressions.flatMap(_.collect {
            case a: Alias if a.name.toLowerCase == "batch_id" => a
          }))
          // pass-through forms: a plain rename, a full-outer join's key
          // merge (coalesce over attributes that are themselves named
          // batch_id), or a literal pad
          def passThrough(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
            e match {
              case _: AttributeReference => true
              case c: Coalesce => c.children.forall {
                case a: AttributeReference => a.name.toLowerCase == "batch_id"
                case ch => ch.foldable
              }
              case _ => false
            }
          val bad = defs.filterNot(a => isCanonicalEpoch(a.child) ||
            passThrough(a.child) || isLiteralPad(a.child))
          val hasCanonical = defs.exists(a => isCanonicalEpoch(a.child))
          (if (bad.nonEmpty)
            Seq(s"$name: batch_id defined by a non-canonical expression: " +
              bad.map(_.child.sql).mkString("; "))
           else Nil) ++
            (if (!hasCanonical)
              Seq(s"$name: unpartitioned batch_id window but no canonical " +
                "epoch derivation (event_id div EpochRows) in the plan")
             else Nil)
        }
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("join_bucketed_colocated: neither side shuffles (bucket layout satisfies the join)") {
    // With broadcast disabled the join must still plan with NO exchange
    // on either key — the bucket metadata provides the distribution.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Relational.joinBucketedColocated(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning(o_orderkey") &&
        !p.contains("Exchange hashpartitioning(l_orderkey"),
        s"bucketed join still shuffles a join side:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("sweep: every join keyed solely on a low-cardinality blocking key is block-size-capped") {
    // The third 100 TB-killer, generalized from round 3's two `weak`
    // marks: a pair join whose ONLY equi keys are designated blocking
    // columns (`source` ~20 values, `label` 10 values, semdedup's
    // cluster id `cl` 8 values) emits |block|²
    // rows per block — fine at sf0.1, a never-finishing task at a 100 TB
    // block. Such a join is allowed only when (a) ONE side is an
    // AGGREGATE grouped on the join keys — at most one row per key
    // value, so the join output is bounded by the OTHER side's row
    // count, linear at any scale (semdedup's per-cluster accounting,
    // the norm-outlier stats broadcast-back, every dimension-enrich
    // join) — or (b) BOTH inputs are block-bounded through the
    // deterministic block-size-cap discipline, which materializes as a
    // Filter on a row_number attribute named `rn` below the join
    // (NearJacBlockCap / LevBudgetPerSource). Joins with any
    // high-cardinality key (bucket, bsig, shingle, doc_id…) are exempt —
    // their output is bounded by the signature collision structure.
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, dir).queryExecution.sparkPlan
      plan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
            if j.leftKeys.nonEmpty =>
          val keys = j.leftKeys.flatMap(_.references.map(_.name.toLowerCase)).toSet
          // One-row-per-key-value at the join input. Two strengths
          // (ADVICE r15 #1): single-side legalization needs the
          // aggregate grouped EXACTLY on the join keys — grouping on a
          // strict superset (e.g. (label, day) joined on label) emits
          // MANY rows per join-key value and bounds nothing. The
          // superset form stays acceptable only inside the both-sides-
          // bounded path, where each side is independently capped.
          def aggKeyed(p: org.apache.spark.sql.execution.SparkPlan,
              exact: Boolean): Boolean =
            p.collectFirst {
              case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
                  if a.groupingExpressions.nonEmpty && {
                    val g = a.groupingExpressions
                      .flatMap(_.references.map(_.name.toLowerCase)).toSet
                    if (exact) g == keys else keys.subsetOf(g)
                  } => a
            }.nonEmpty
          def bounded(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
            p.collectFirst {
              case f: org.apache.spark.sql.execution.FilterExec
                  if f.condition.references.exists(_.name == "rn") => f
              // the TopKWindowRewrite rule may have replaced the
              // row_number-cap Filter with the heap exec — same bound,
              // different node
              case t: graft.plans.TopKPerKeyExec => t
            }.nonEmpty || aggKeyed(p, exact = false)
          if (keys.subsetOf(Set("source", "label", "cl")) &&
              !(bounded(j.left) && bounded(j.right)) &&
              !aggKeyed(j.left, exact = true) && !aggKeyed(j.right, exact = true))
            Some(s"$name: uncapped join keyed only on ${keys.mkString(",")}")
          else None
      }.flatten
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("simsearch_pq_index: search side retrains nothing and reads the persisted bucketed codes") {
    // First call may build (train + persist). After that, constructing the
    // search frame must touch the build path zero times — the build/search
    // separation that makes the index servable at 100 TB — and the plan
    // must scan the persisted bucketed code table, not raw embeddings,
    // for the ADC stage.
    Vector.simsearchPqIndex(spark, dir).collect()
    val builds = CorpusScope.builds("pqIndex")
    val df = Vector.simsearchPqIndex(spark, dir)
    assert(CorpusScope.builds("pqIndex") == builds,
      "second construction re-entered the index build (retraining)")
    val p = plan(df)
    assert(p.contains("g_pq_codes_"),
      s"search does not scan the persisted code table:\n$p")
    // persisted replay must be bit-identical to the in-memory training run
    val fromIndex = df.collect().toSeq
    val inMemory = Vector.simsearchPq(spark, dir).collect().toSeq
    assert(fromIndex == inMemory, "persisted-index result drifted from in-memory PQ")
  }

  test("AQE skew join: the plain join of a skewed key splits partitions at runtime") {
    // join_salted_skew proves MANUAL salting (oracle-equal to the plain
    // join). This is its runtime twin: on a real cluster the first line
    // of defense is AQE's skew-join split — the same plain shuffle join,
    // no salt column, with the skewed partition carved into
    // advisory-sized reader chunks after the map stage's sizes are known.
    // Thresholds are lowered so the mechanism triggers at test scale; the
    // session is isolated so the tuned confs leak nowhere.
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32768")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    import org.apache.spark.sql.functions.{col, when}
    // hot key 0 holds half the big side; the rest is uniform
    val big = s.range(0, 200000)
      .select(when(col("id") % 2 === 0, 0L).otherwise(col("id")).as("k"),
        col("id").as("v"))
    val small = s.range(0, 200000).select(col("id").as("k"))
    val joined = big.join(small, "k")
    // collect() (not count()) so THIS frame's QueryExecution runs — AQE
    // finalizes the plan only on execution, and count() plans separately
    assert(joined.collect().length == 200000)
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("skew"),
      s"AQE did not split the skewed partition (no skew marker in final plan):\n$p")
    assert(p.contains("AQEShuffleRead"),
      s"no AQE shuffle reader in final plan:\n$p")
  }

  test("simsearch_index_upsert: upsert encodes only the batch, serve retrains nothing") {
    // First call builds the standing index + appends the batch's codes.
    Vector.simsearchIndexUpsert(spark, dir).collect()
    // one build covers the standing train+encode AND the batch
    // encode+append, so an unchanged count rules out both
    val builds = CorpusScope.builds("pqUpsert")
    val df = Vector.simsearchIndexUpsert(spark, dir)
    assert(CorpusScope.builds("pqUpsert") == builds,
      "second construction re-entered the standing build or the batch encode+append")
    val p = plan(df)
    assert(p.contains("g_pqu_codes_"),
      s"serve does not scan the persisted+appended code table:\n$p")
    // The batch-encode plan itself: zero Lloyd jobs is structural (it is
    // one broadcast join + argmin agg, no iteration), and it must touch
    // ONLY the batch slice of the raw embeddings — the vec_id % 5 = 0
    // predicate reaches the scan — and never the standing code table.
    val cbs = spark.read.parquet(Vector.ensurePqUpsertIndex(spark, dir)._2)
    val bp = plan(Vector.pqUpsertBatchCodes(spark, dir, cbs))
    assert(!bp.contains("g_pqu_codes_"),
      s"batch encode rescans the standing code table:\n$bp")
    assert(bp.contains("BroadcastHashJoin"),
      s"codebook join is not a broadcast:\n$bp")
    assert(bp.linesIterator.exists(l => l.contains("PushedFilters") &&
      l.contains("vec_id")),
      s"batch predicate not pushed to the embeddings scan:\n$bp")
  }

  test("simsearch_ivf_index: serve retrains nothing and partition-prunes to the probed cells") {
    Vector.simsearchIvfIndex(spark, dir).collect()
    val builds = CorpusScope.builds("ivfIndex")
    val df = Vector.simsearchIvfIndex(spark, dir)
    assert(CorpusScope.builds("ivfIndex") == builds,
      "second construction re-entered the index build (retraining)")
    val p = plan(df)
    assert(scansPath(df, "cells_"),
      s"serve does not scan the persisted cell-partitioned corpus:\n$p")
    // The probed-cell IN list must reach the scan as a PartitionFilter —
    // the inverted-file promise: a serve lists only the probed cells'
    // directories, so serve cost scales with nprobe/cells, not corpus size.
    val pf = p.linesIterator.filter(_.contains("PartitionFilters"))
      .find(_.contains("cell")).getOrElse("")
    assert(pf.contains("cell IN") || pf.contains("cell#"),
      s"probed cells not pushed as PartitionFilters:\n$p")
    // Probe selection must read the 10-row persisted probe table, not
    // rescan the corpus: the only cells_ scan in a serve plan is the
    // partition-pruned scoring scan.
    assert(scansPath(df, "probes_"),
      s"probe selection does not read the persisted probe table:\n$p")
    val fromIndex = df.collect().toSeq
    val inMemory = Vector.simsearchIvf(spark, dir).collect().toSeq
    assert(fromIndex == inMemory, "persisted-index serve drifted from in-memory IVF")
  }

  test("simsearch_ivf_upsert: upsert assigns only the batch, serve retrains nothing") {
    // First call builds the standing index + appends the batch's cells.
    Vector.simsearchIvfUpsert(spark, dir).collect()
    // one build covers the standing train+assign AND the batch
    // assign+append, so an unchanged count rules out both
    val builds = CorpusScope.builds("ivfUpsert")
    val df = Vector.simsearchIvfUpsert(spark, dir)
    assert(CorpusScope.builds("ivfUpsert") == builds,
      "second construction re-entered the standing build or the batch assign+append")
    val p = plan(df)
    assert(scansPath(df, "cells_u_"),
      s"serve does not scan the persisted+appended cell layout:\n$p")
    // Appended batch partitions join the same inverted file: the probed
    // cells still arrive as PartitionFilters over the unified layout.
    val pf = p.linesIterator.filter(_.contains("PartitionFilters"))
      .find(_.contains("cell")).getOrElse("")
    assert(pf.contains("cell IN") || pf.contains("cell#"),
      s"probed cells not pushed as PartitionFilters:\n$p")
    assert(scansPath(df, "probes_u_"),
      s"probe selection does not read the persisted probe table:\n$p")
    // The batch-assign plan itself: zero Lloyd jobs is structural (one
    // broadcast of the 16-row centroid table + argmax agg, no iteration),
    // and it must touch ONLY the batch slice of the raw embeddings —
    // never the standing cell layout.
    val cents = spark.read.parquet(Vector.ensureIvfUpsertIndex(spark, dir)._2)
    val batch = Vector.ivfUpsertBatchAssign(spark, dir, cents)
    val bp = plan(batch)
    assert(!scansPath(batch, "cells_u_"),
      s"batch assign rescans the standing cell layout:\n$bp")
    assert(bp.contains("BroadcastNestedLoopJoin") || bp.contains("BroadcastHashJoin"),
      s"centroid join is not a broadcast:\n$bp")
    assert(bp.contains("% 6") || bp.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("vec_id")),
      s"batch predicate not applied at the embeddings scan:\n$bp")
  }

  test("dedup_index_probe: probe retrains nothing and reads the persisted signature tables") {
    // Build once (three signature artifacts), then probing must re-enter
    // the build zero times and the probe plan must scan the persisted
    // hash/bucket/set tables — the standing corpus is never re-signed.
    Dedup.indexProbe(spark, dir).collect()
    val builds = CorpusScope.builds("dedupIndex")
    val df = Dedup.indexProbe(spark, dir)
    assert(CorpusScope.builds("dedupIndex") == builds,
      "second construction re-entered the index build (re-signing)")
    val p = plan(df)
    Seq("shash_", "sbkt_", "ssets_").foreach { t =>
      assert(scansPath(df, t), s"probe does not scan persisted $t table:\n$p")
    }
    // persisted probe must be bit-identical to the inline incremental path
    val fromIndex = df.collect().toSeq
    val inline = Dedup.incremental(spark, dir).collect().toSeq
    assert(fromIndex == inline, "persisted-index probe drifted from inline incremental")
  }

  test("simsearch_knn_join: per-query top-3 runs the heap exec, not a window sort") {
    val p = plan(Vector.simsearchKnnJoin(spark, dir))
    assert(p.contains("TopKPerKey"), s"kNN join lost the heap top-k exec:\n$p")
    // the only window allowed is the rhs bucket-membership cap (keyed on
    // bucket); a window keyed on v1 would be the corpus-sized ranking
    // sort the heap exec exists to avoid
    val winLines = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(winLines.forall(l => l.contains("bucket") && !l.contains("v1")),
      s"kNN join plans a per-query ranking window:\n${winLines.mkString("\n")}")
  }

  test("format roundtrips: reads are schema-explicit scans of the right source") {
    val csv = plan(PipelineOps.csvRoundtrip(spark, dir))
    assert(csv.contains("FileScan csv"), s"csv roundtrip does not scan csv:\n$csv")
    val json = plan(PipelineOps.jsonRoundtrip(spark, dir))
    assert(json.contains("FileScan json"), s"json roundtrip does not scan json:\n$json")
    val orc = plan(PipelineOps.orcRoundtrip(spark, dir))
    assert(orc.contains("orc") && orc.contains("Scan"),
      s"orc roundtrip does not scan orc:\n$orc")
  }

  test("cluster_kmeans_assign: centroids broadcast, argmin is a partial agg, no window") {
    // The textbook k-means assignment plan: tiny centroid side broadcasts
    // (nested-loop against a bounded side), the corpus streams map-side,
    // and the per-vector argmin is min(struct) with map-side partials —
    // a window formulation would shuffle AND sort the k-times-expanded
    // corpus instead.
    val df = Vector.clusterKmeansAssign(spark, dir)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin"), s"centroids not broadcast:\n$p")
    assert(p.contains("partial_min"), s"argmin lost its map-side partial:\n$p")
    assert(df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"argmin planned as a window:\n$p")
  }

  test("bpe merge: the corpus never hash-shuffles and no window remains") {
    // The BpeMergeOnce rewrite's contract: pair counting shuffles only
    // (t1, t2) partial counts, the winner broadcasts, the merge is
    // per-row — nothing repartitions the corpus by doc_id and the
    // candidate-run parity windows are gone from the physical plan.
    val df = graft.ops.Text.bpeMerge(spark, dir)
    val p = plan(df)
    assert(!p.contains("Exchange hashpartitioning(doc_id"),
      s"corpus hash-shuffled by doc_id:\n$p")
    assert(df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"window formulation still planned:\n$p")
  }

  test("text_repetition_stats: per-doc bigram stat stays per-row (no explode, one rollup shuffle)") {
    val p = plan(graft.ops.Text.repetitionStats(spark, dir))
    assert(!p.contains("Generate"),
      s"per-doc statistic explodes the corpus token stream:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1, s"expected only the source/flagged rollup exchange, got $exchanges:\n$p")
  }

  test("join_star_schema: dims broadcast, only the fact-fact join shuffles, date filter pushes down") {
    val df = Relational.joinStarSchema(spark, dir)
    val p = plan(df)
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 3,
      s"expected supplier/nation/region to broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in star join:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate")
      || p.contains("GreaterThanOrEqual(o_orderdate"),
      s"order-date range not pushed into the orders scan:\n$p")
  }

  test("pipe_sample_topk_hash: the custom heap exec serves the reservoir (no ranking window)") {
    val p = plan(PipelineOps.sampleTopkHash(spark, dir))
    assert(p.contains("TopKPerKey"), s"custom exec not planned:\n$p")
    assert(!p.contains("Window"), s"ranking window crept back in:\n$p")
  }

  test("events_rfm: boundary scoring plans no window at all (broadcast quantiles)") {
    val plan = Relational.eventsRfm(spark, dir).queryExecution.sparkPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"RFM regressed to a window/ntile sort:\n$plan")
    assert(plan.toString.contains("BroadcastExchange") ||
      plan.toString.contains("BroadcastNestedLoopJoin"),
      s"quantile bounds not broadcast:\n$plan")
  }

  test("events_user_entropy: aggregation twin stays explode-free") {
    val p = plan(Relational.eventsUserEntropy(spark, dir))
    assert(!p.contains("Generate"), s"entropy aggregation explodes rows:\n$p")
    assert(p.contains("HashAggregate"), s"no hash aggregation:\n$p")
  }

  test("join_topk_revenue: global top-10 over the aggregate is TakeOrderedAndProject") {
    val p = plan(Relational.joinTopkRevenue(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k over aggregate plans a full sort:\n$p")
  }

  test("pipe_token_budget_sample: the only unpartitioned window runs over the 16-bucket aggregate") {
    val plan = PipelineOps.tokenBudgetSample(spark, dir).queryExecution.sparkPlan
    val unpart = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(unpart.nonEmpty, "expected the bucket-offset prefix sum")
    unpart.foreach { w =>
      val nearestAgg = w.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }
      assert(nearestAgg.exists(_.groupingExpressions.map(_.name) == Seq("bkt")),
        s"unpartitioned window not over the bucket-level aggregate:\n$w")
    }
  }

  test("agg_quantile_histogram: two-level cumsum — no single-task sort of the full histogram") {
    // r12 ran ONE global Window.orderBy(cents) over the whole value-domain
    // histogram plus an empty-partition window for n (two single-task
    // passes). The two-level shape may keep an unpartitioned window ONLY
    // over the per-BUCKET subtotal frame (grouping key `bkt` = cents div
    // 1e5, ~domain/1e5 rows); the within-bucket running sum must be
    // partitioned BY bkt, so no task ever sorts more than one bucket.
    val plan = Relational.aggQuantileHistogram(spark, dir)
      .queryExecution.sparkPlan
    val wins = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    val unpart = wins.filter(_.partitionSpec.isEmpty)
    assert(unpart.nonEmpty, "expected the bucket-subtotal prefix sum")
    unpart.foreach { w =>
      val nearestAgg = w.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }
      assert(nearestAgg.exists(_.groupingExpressions.map(_.name) == Seq("bkt")),
        s"unpartitioned window not over the bucket-level aggregate:\n$w")
    }
    assert(wins.exists(_.partitionSpec.flatMap(_.references.map(_.name))
        .contains("bkt")),
      s"within-bucket running sum lost its bkt partitioning:\n$plan")
  }

  test("join_prune_dynamic: fact scan carries a dynamic pruning partition filter") {
    val df = PipelineOps.joinPruneDynamic(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning on the fact scan:\n$p")
  }

  test("text_char_entropy: per-row projection, no hash shuffle, codegen'd") {
    val df = graft.ops.Text.charEntropyScore(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"per-row statistic plans a hash shuffle:\n$p")
    assert(p.contains("char_entropy") && p.contains("*("),
      s"entropy expression not in a codegen stage:\n$p")
  }

  test("agg_sketch_union: sketches aggregate partial+final (mergeable state)") {
    val p = plan(Relational.aggSketchUnion(spark, dir))
    // DataSketches HLL buffers plan through ObjectHashAggregate with a
    // map-side partial pass — the property that makes the two-level
    // build→union architecture shuffle fixed-size sketches, not rows.
    assert(p.contains("ObjectHashAggregate"), s"no object hash aggregate:\n$p")
    assert(p.contains("hll_union_agg") || p.contains("hll_sketch_agg"),
      s"sketch aggs missing from plan:\n$p")
  }

  test("whole-stage codegen covers the pricing-summary pipeline") {
    // AQE prints the final plan (with codegen stages) only after execution
    val df = Relational.aggPricingSummary(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codegen stages render as "*(n) Operator" in the final plan string
    assert(p.contains("*(") , s"codegen absent:\n$p")
  }

  test("embedding_whiten: serve path is join-free and hash-shuffle-free") {
    // The per-row whitening transform must run over broadcast-literal
    // μ/σ arrays: no join of any kind and no hash exchange — the only
    // exchange the plan may carry is the final presentation sort's
    // range partitioning.
    val p = plan(Vector.embeddingWhiten(spark, dir))
    assert(!p.contains("Join"), s"whitening serve path plans a join:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"whitening serve path hash-shuffles:\n$p")
  }

  test("simsearch_filtered: heap top-k exec, and the candidate join keys on bucket+label") {
    val df = Vector.simsearchFiltered(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerKey"), s"filtered ANN ranks via a window, not the heap exec:\n$p")
    assert(p.contains("bucket") && !p.contains("CartesianProduct"),
      s"candidate join lost the bucket key:\n$p")
  }

  test("pipe_curriculum_order: no stage-only window; offsets join broadcasts") {
    // Per-doc positions must come from the two-pass bucket spelling: every
    // ranking window is partitioned by (stage, bkt) — never stage alone,
    // which would sort the corpus on 4 tasks — and the ≤4×256-row offset
    // table reaches the docs via broadcast.
    val df = PipelineOps.pipeCurriculumOrder(spark, dir)
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      val keys = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
      val overAggregate = w.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.nonEmpty
      // the offsets window IS stage-partitioned but runs over the
      // ≤4×256-row (stage,bkt) counts aggregate — the sanctioned form;
      // only a stage-only window over raw docs is the scale killer
      assert(keys != Set("stage") || overAggregate,
        s"curriculum window partitioned on stage alone over raw input: $keys")
    }
    assert(plan(df).contains("BroadcastHashJoin"),
      s"offset join not broadcast:\n${plan(df)}")
  }

  test("window_topk_rewrite: the declared idiom plans through the heap exec") {
    val df = Relational.windowTopkRewrite(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("TopKPerKey"), s"rewrite did not fire in the declared query:\n$p")
    assert(!p.contains("Window ["), s"WindowExec survived:\n$p")
  }

  test("join_bloom_prefilter: a runtime bloom filter prunes the lineitem side, child session reused") {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    def tableMetaSize = graft.ops.CorpusScope.statsString.split(" ")
      .collectFirst { case kv if kv.startsWith("tableMeta=") =>
        kv.stripPrefix("tableMeta=").split("/")(0).toInt }.getOrElse(0)
    // start under the LRU bound, so a second call's new entries could not
    // hide behind evictions
    graft.ops.CorpusScope.drop("tableMeta")
    val df = Relational.joinBloomPrefilter(spark, dir)
    val opt = df.queryExecution.optimizedPlan
    val blooms = opt.collect {
      case f: Filter if f.condition.exists(_.isInstanceOf[BloomFilterMightContain]) => f
    }
    assert(blooms.nonEmpty, s"no might_contain runtime filter:\n$opt")
    blooms.foreach { f =>
      assert(f.condition.references.map(_.name).toSet == Set("l_orderkey"),
        s"bloom filter not on the lineitem key: ${f.condition}")
      val builds = f.condition.collect { case q: ScalarSubquery => q.plan }
      assert(builds.exists(_.exists(_.expressions.exists(
          _.exists(_.isInstanceOf[BloomFilterAggregate])))),
        s"might_contain not fed by a BloomFilterAggregate: ${f.condition}")
    }
    val entries = tableMetaSize
    val again = Relational.joinBloomPrefilter(spark, dir)
    assert(again.sparkSession eq df.sparkSession, "child session rebuilt per call")
    assert(tableMetaSize == entries, "second call added tableMeta entries")
    assert(again.collect().toSeq == df.collect().toSeq)
  }

  test("pipe_mv_incremental: the standing slice is never rescanned") {
    // The merge plan may read raw events exactly ONCE (the batch slice,
    // with the %7 filter pushed to the scan); the standing side must
    // come from the persisted MV parquet.
    val df = PipelineOps.pipeMvIncremental(spark, dir)
    df.collect()
    // AQE's toString prints the initial plan again below the final one —
    // count raw-events scans in the FINAL section only
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val eventScans = "events\\.parquet".r.findAllIn(p).length
    assert(eventScans == 1,
      s"expected exactly one raw-events scan (the batch), got $eventScans:\n$p")
    assert(scansPath(df, "/mv_"), s"persisted MV not read:\n$p")
  }

  test("events_ab_ttest: sufficient statistics aggregate partially map-side") {
    // The t-test must shuffle (n, Σv, Σv²) partials, never sample rows:
    // a partial_count/partial_sum pair below the exchange proves it.
    val p = plan(Relational.eventsAbTtest(spark, dir))
    assert(p.contains("partial_count") || p.contains("partial"),
      s"no map-side partial aggregation in the t-test plan:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("dedup_prefix_boilerplate: detect aggregates, apply broadcasts — corpus shuffles once") {
    val p = plan(graft.ops.Text.dedupPrefixBoilerplate(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"the threshold-filtered boilerplate set must broadcast back:\n$p")
    // The only hash exchange is the prefix agg; the corpus side of the
    // apply join never repartitions.
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx <= 1, s"apply side reshuffles the corpus ($hashEx exchanges):\n$p")
  }

  test("stream_join_within: equi join on user_id with the band residual — no theta join") {
    val p = plan(StreamingModel.joinWithin(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"time band must be a residual on the user_id equi join, not the join key:\n$p")
    assert(p.contains("user_id"), s"equi key missing:\n$p")
  }

  test("events_holt_forecast: the recursion is one fold — no per-step job, no window") {
    val p = plan(Relational.eventsHoltForecast(spark, dir))
    assert(!p.contains("Window"), s"Holt must not plan a window:\n$p")
    // daily agg (partial+final) plus the single-row gather: the fold
    // itself adds no exchange.
    assert(p.contains("partial"), s"daily series lacks map-side partials:\n$p")
  }

  test("dedup_cc_incremental: serve probe scans documents only for the batch slice") {
    // The fixpoint checkpoints eagerly, so the serve-path properties
    // live in the probe-edge subplan (what actually executes at serve).
    val edges = Dedup.ccProbeEdges(spark, dir)
    val p = plan(edges)
    val docScans = p.linesIterator.count(l =>
      l.contains("documents.parquet") && l.contains("FileScan"))
    assert(docScans >= 1 && docScans <= 2, // star edges + probe bands, batch slice each
      s"unexpected documents scan count ($docScans):\n$p")
    assert(p.contains("g_ccbkt_"),
      s"probe must read the persisted bucketed standing buckets:\n$p")
    assert(scansPath(edges, "cclbl_"),
      s"probe must read the persisted standing labels:\n$p")
  }

  test("dedup_cc_incremental: the probe never shuffles the bucketed index side") {
    // With broadcast disabled, the (band, bsig) bucket layout must
    // satisfy the probe join's distribution — only the batch side may
    // exchange. At 100 TB this is the difference between re-shuffling
    // the standing index every serve and scanning it in place.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(Dedup.ccProbeEdges(spark, dir))
      assert(p.contains("Bucketed: true"),
        s"index scan not served from the bucket layout:\n$p")
      // THREE (source, band, bsig) exchanges may exist, all batch-side:
      // the batch-internal star-edge bucket aggregation, the batch
      // PROBE bucket aggregation (the cap that mirrors the oracle's bb
      // QUALIFY), and the probe side re-hashing into the index's
      // 16-bucket layout for the join. A fourth would be the INDEX side
      // re-shuffling — the regression this test pins (unbucketed, the
      // scan feeds its own exchange and the plan shows "Bucketed: false
      // (disabled by query planner)").
      val probeKeyEx = p.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning(source") &&
          l.contains("band") && l.contains("bsig"))
      assert(probeKeyEx <= 3,
        s"index side re-shuffles despite bucket layout ($probeKeyEx probe-key exchanges):\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"probe join missing with broadcast disabled:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("text_bm25_index: serve bucket-prunes to the query terms, corpus never rescanned") {
    val df = graft.ops.Text.bm25IndexServe(spark, dir)
    val p = plan(df)
    assert(!scansPath(df, "documents.parquet"),
      s"serve path rescans the corpus:\n$p")
    val postings = scans(df).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("postings_")))
    assert(postings.nonEmpty, s"postings index scan missing:\n$p")
    assert(postings.exists(_.partitionFilters.exists(_.references.exists(_.name == "pt"))),
      s"pt filter did not reach PartitionFilters (no static pruning):\n$p")
  }

  test("window_rolling_slope: all five sums ride ONE partitioned window stage") {
    val p = plan(Relational.windowRollingSlope(spark, dir))
    val winOps = p.linesIterator.count(_.trim.startsWith("Window"))
    assert(winOps <= 2, // row_number ordinal + the shared trailing frame
      s"trailing sums split across window stages ($winOps):\n$p")
    assert(!p.linesIterator.exists(l =>
      l.contains("Window") && !l.contains("user_id")),
      s"unpartitioned window over raw events:\n$p")
  }

  test("text_winnowing: per-row array math — no window, no join, one sort only") {
    val p = plan(graft.ops.Text.queries("text_winnowing")(spark, dir))
    assert(!p.contains("Window") && !p.contains("Join"),
      s"winnowing must stay a per-row projection:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, // the final doc_id sort's range exchange
      s"winnowing plans $exchanges exchanges (expected ≤1, the sort):\n$p")
  }

  test("pipe_freshness_sla: high-water mark broadcast, no window over raw events") {
    val p = plan(PipelineOps.pipeFreshnessSla(spark, dir))
    assert(!p.contains("Window"), s"freshness must not window raw events:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"global max not broadcast:\n$p")
  }

  test("agg_theil_decomposition / agg_hhi_concentration: hash aggs, no raw-row window") {
    val pt = plan(Relational.aggTheilDecomposition(spark, dir))
    assert(!pt.contains("Window"), s"theil must not window raw customers:\n$pt")
    assert(pt.contains("HashAggregate"), s"theil lost map-side partials:\n$pt")
    val ph = plan(Relational.aggHhiConcentration(spark, dir))
    assert(!ph.contains("Window") && ph.contains("HashAggregate"),
      s"hhi must be two hash aggs:\n$ph")
  }

  test("events_poisson_anomaly: lambda math on the daily frame, totals broadcast") {
    val p = plan(Relational.eventsPoissonAnomaly(spark, dir))
    assert(!p.contains("Window"), s"poisson must not window raw events:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"per-type totals not broadcast into the daily frame:\n$p")
  }

  // ---- round-16 locks: the 100 TB claims the new ops' docs make -------

  test("dedup_exact_substring: one gram pass, every window partitioned") {
    // r16: the gram explode (Generate) must appear exactly ONCE — the
    // old groupBy+join-back shape ran it twice and broadcast the
    // unbounded duplicated-gram set. r17: the occurrence count is the
    // SALTED two-level window (every partition bounded by (h, salt)
    // bucketing — the single-level window put a whole hot gram in one
    // task), still one Generate, still no corpus-scaled broadcast. The
    // run-merge HashAggregates keep their partial+final pair, every
    // window stays partitioned — an unpartitioned window over the gram
    // frame is the single-task sort that kills this plan at corpus
    // scale.
    // sparkPlan, not executedPlan: collect() does not descend into an
    // un-finalized AdaptiveSparkPlanExec (the stream_late_filter lock
    // learned the same lesson).
    val exec = graft.ops.Text.dedupExactSubstring(spark, dir)
      .queryExecution.sparkPlan
    val p = exec.toString
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"run-merge aggs lost their partial/final pair:\n$p")
    assert(exec.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g }.size == 1,
      s"gram explode must run exactly once (the r16 respell):\n$p")
    val windows = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"unpartitioned window in the gram-run merge:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"gram join degraded to a product:\n$p")
  }

  test("text_ngram_novelty: no shingle-keyed window, owner aggs keep partials") {
    // r17: shingle ownership is two map-side-combinable hash aggs (min
    // owner per shingle, owners counted by doc) — a Window here would
    // mean the hot-shingle single-task shape came back, and the only
    // join must be doc-keyed (never on the high-cardinality shingle).
    val exec = graft.ops.Text.ngramNovelty(spark, dir)
      .queryExecution.sparkPlan
    val p = exec.toString
    assert(exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty,
      s"novelty must not window the shingle frame:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"owner/count aggs lost their partial/final pairs:\n$p")
    // (the one-row decile-bounds crossJoin is a broadcast nested loop
    // by design — only an unbroadcast product is a degradation here)
    assert(!p.contains("CartesianProduct"),
      s"novelty join degraded to a product:\n$p")
  }

  test("agg_conformal_interval: group-sized frames broadcast back, never sort-merge") {
    // train / k-selection / q10 are all <= |groups| rows; each joins the
    // split scans via broadcast (the norm-outlier stats-broadcast shape).
    // A SortMergeJoin here means a full lineitem shuffle per split pass.
    val p = plan(Relational.aggConformalInterval(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"stats frames not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a group-sized join degraded to SMJ:\n$p")
  }

  test("join_asof_grouped_backfill: one window exec over one uid shuffle") {
    // The doc's claim verbatim: the as-of resolution is ONE union-tag
    // pass — all four window functions (asof last x2, global first x2)
    // share a single uid-partitioned WindowExec over a single
    // shuffle+sort, and no dimension row fans out per fact (no join at
    // all in the resolution).
    val exec = Relational.joinAsofGroupedBackfill(spark, dir)
      .queryExecution.sparkPlan
    val p = exec.toString
    val windows = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.size == 1,
      s"expected ONE shared WindowExec, got ${windows.size}:\n$p")
    assert(windows.head.partitionSpec.nonEmpty,
      s"as-of window lost its uid partitioning:\n$p")
    val shuffles = exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
    // exactly three exchanges may exist: the dim pre-aggregation's
    // partial→final shuffle (before the union), ONE uid shuffle feeding
    // the shared window, and the final orderBy's range partitioning —
    // anything more means the resolution itself started shuffling per
    // fact.
    assert(shuffles.size <= 3,
      s"union-tag pass shuffles beyond dim-agg + window + sort:\n$p")
    assert(!p.contains("Join"), s"resolution must not join dim rows per fact:\n$p")
  }

  test("simsearch_bucket_audit: pure two-level hash aggs, zero joins") {
    val exec = Vector.simsearchBucketAudit(spark, dir)
      .queryExecution.sparkPlan
    val p = exec.toString
    assert(!p.contains("Join"), s"bucket audit must not join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"expected partial+final pairs for both agg levels:\n$p")
  }
}
