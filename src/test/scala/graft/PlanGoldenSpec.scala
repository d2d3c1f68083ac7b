package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Golden-file gate on the PHYSICAL plan shape of every batch query.
  *
  * SCALECHECK audits size-driven plan flips at 10x and PlanShapeSpec pins
  * the KNN strategy decision, but until this spec nothing pinned the plan
  * the other ~70 queries actually get — and the one engine bug this round
  * (an unhinted O(|test|) join build-broadcasting a measured-132 MB side
  * off lying LogicalRDD stats) was exactly a silent plan-shape defect that
  * every VALUE gate passed. This spec freezes, per query, the structural
  * facts that matter at 100 TB:
  *
  *   - join strategies (+ build side — WHICH side broadcasts is the
  *     difference between a scalar-attach and an executor OOM),
  *   - cartesian/BNLJ presence (legal only where the operator is a
  *     declared all-pairs baseline),
  *   - shuffle/broadcast exchange COUNTS (a regression from 2 to 4
  *     exchanges is invisible to correctness and 2x the wire cost),
  *   - per-scan pushed-filter/partition-filter presence and the read
  *     column count (a scan that stops pruning reads the whole table).
  *
  * Golden fingerprints live in `src/test/resources/plan_golden.tsv`. On a
  * DELIBERATE plan change, audit the new plan (`.explain("formatted")`),
  * then regenerate with:
  *
  * {{{ SPARK_GRAFT_PLAN_REGEN=1 sbt 'testOnly graft.PlanGoldenSpec' }}}
  *
  * and commit the diff — the diff IS the reviewable plan-change record.
  *
  * Fingerprints are taken from the AQE `initialPlan` (post-
  * EnsureRequirements, pre-runtime-reoptimization): deterministic given
  * the sf0.001 stats, and it is the plan whose exchanges/builds encode the
  * compile-time strategy decisions this gate exists to pin. Queries run in
  * a FRESH session in sorted order, so session-keyed memos (q25/q26/q31
  * share the HAR cascade) contribute the same deterministic LogicalRDD
  * leaves on every run regardless of which other suites ran first.
  */
class PlanGoldenSpec extends SparkTestBase {

  private val goldenPath = new java.io.File("src/test/resources/plan_golden.tsv")

  /** Streaming queries execute a bounded micro-batch run and return the
    * sink's contents — their returned frame is a memory-sink scan, not
    * the streaming plan (StreamingOracle documents that contract), so
    * there is no batch plan to pin here.
    */
  private val streaming = Set(
    "q67_stream_window", "q68_stream_dedup", "q69_stream_state",
    "q70_stream_interval_join", "q71_stream_asof", "q78_stream_knn")

  /** The initial adaptive plan: exchanges inserted, no runtime re-plan. */
  private def physical(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }

  /** Last path segment with the temp-dir random suffix stripped:
    * `/tmp/graft_csv8123…` → `graft_csv`, warehouse/testdata dirs pass
    * through (digits only ever TRAIL in staged names).
    */
  private def scanName(s: FileSourceScanExec): String = {
    val last = s.relation.location.rootPaths.headOption
      .map(_.getName).getOrElse("?")
    last.reverse.dropWhile(_.isDigit).reverse match {
      case "" => last
      case n => n
    }
  }

  private def fingerprint(df: DataFrame): String = {
    val root = physical(df)
    // subqueriesAll reaches plans nested in expressions (scalar
    // subqueries like q50's corpus-size count) at any depth
    val plans = root +: root.subqueriesAll
    val nodes = plans.flatMap(_.collect { case p => p })
    val joins = nodes.collect {
      case j: BroadcastHashJoinExec => s"BHJ:${j.joinType}:${j.buildSide}"
      case j: ShuffledHashJoinExec => s"SHJ:${j.joinType}:${j.buildSide}"
      case j: SortMergeJoinExec => s"SMJ:${j.joinType}"
      case j: BroadcastNestedLoopJoinExec => s"BNLJ:${j.joinType}:${j.buildSide}"
      case _: CartesianProductExec => "CARTESIAN"
    }.sorted
    val xchg = nodes.count(_.isInstanceOf[ShuffleExchangeExec])
    val bcast = nodes.count(_.isInstanceOf[BroadcastExchangeExec])
    val sorts = nodes.count(_.isInstanceOf[SortExec])
    val wins = nodes.count(_.isInstanceOf[WindowExec])
    val rdds = nodes.count(_.isInstanceOf[RDDScanExec])
    val mems = nodes.count(_.isInstanceOf[InMemoryTableScanExec])
    // codegen SPAN count: an operator or custom Expression silently
    // falling out of whole-stage codegen splits a span — a hot-path perf
    // regression no value gate can see (r11 proved interpreted==codegen
    // PARITY; this pins that codegen is actually IN USE). Under AQE the
    // collapse runs per query stage at materialization, so the initial
    // plan carries no spans — apply the collapse rule here, compile-time
    // deterministic, no execution.
    val wsc = plans.map(p =>
      org.apache.spark.sql.execution.CollapseCodegenStages()(p)
        .collect { case w: WholeStageCodegenExec => w }.size).sum
    val scans = nodes.collect { case s: FileSourceScanExec =>
      val pushed = s.metadata.get("PushedFilters").exists(_ != "[]")
      val parts = s.partitionFilters.exists(
        _.references.nonEmpty) // dynamic/static partition pruning in play
      scanName(s) +
        (if (pushed) ":pf" else "") +
        (if (parts) ":part" else "") +
        s":${s.requiredSchema.size}"
    }.sorted
    s"joins=[${joins.mkString(",")}];xchg=$xchg;bcast=$bcast;" +
      s"sort=$sorts;win=$wins;rdd=$rdds;mem=$mems;wsc=$wsc;" +
      s"scans=[${scans.mkString(",")}]"
  }

  private val batchQueries =
    SparkEntry.queries.toSeq.sortBy(_._1).filterNot(q => streaming(q._1))

  /** One pass in a fresh session; memos build in sorted-name order. */
  private lazy val current: Map[String, String] = {
    val s = spark.newSession()
    try batchQueries.map { case (name, fn) =>
      name -> fingerprint(fn(s, sf001))
    }.toMap
    finally SparkEntry.clearSessionCaches(s)
  }

  private lazy val golden: Map[String, String] =
    if (!goldenPath.exists) Map.empty
    else scala.io.Source.fromFile(goldenPath, "UTF-8").getLines()
      .filter(_.nonEmpty).map { l =>
        val Array(n, fp) = l.split("\t", 2); n -> fp
      }.toMap

  private def regen: Boolean = sys.env.contains("SPARK_GRAFT_PLAN_REGEN")

  test("golden file covers exactly the batch query surface") {
    if (regen) {
      goldenPath.getParentFile.mkdirs()
      val w = new java.io.PrintWriter(goldenPath, "UTF-8")
      try current.toSeq.sortBy(_._1).foreach { case (n, fp) => w.println(s"$n\t$fp") }
      finally w.close()
      info(s"regenerated ${goldenPath} with ${current.size} fingerprints")
    }
    assert(goldenPath.exists, s"missing ${goldenPath}; regenerate with " +
      "SPARK_GRAFT_PLAN_REGEN=1 sbt 'testOnly graft.PlanGoldenSpec'")
    assert(golden.keySet === current.keySet,
      s"golden/batch-surface mismatch — only in golden: ${golden.keySet.diff(current.keySet).toSeq.sorted}; " +
        s"only in surface: ${current.keySet.diff(golden.keySet).toSeq.sorted}. " +
        "Audit the plan, then regenerate (see scaladoc).")
  }

  for ((name, _) <- batchQueries)
    test(s"plan shape pinned: $name") {
      assume(goldenPath.exists, "golden file missing (covered by the surface test)")
      golden.get(name) match {
        case None => fail(s"$name missing from golden (covered by the surface test)")
        case Some(g) =>
          assert(current(name) === g,
            s"\nPHYSICAL PLAN SHAPE CHANGED for $name\n  golden:  $g\n  current: ${current(name)}\n" +
              "If deliberate: audit with .explain(\"formatted\"), regenerate the golden " +
              "(SPARK_GRAFT_PLAN_REGEN=1), and commit the diff as the plan-change record.")
      }
    }
}
