package graft.tools

import graft.SparkEntry
import org.apache.spark.SparkConf

/** Full 82-query oracle gate on the two-hostname standalone mini
  * cluster (round-13 directive #1 — the highest-leverage evidence gap):
  * every correctness gate to date runs in ONE JVM (`local[*]`), where
  * task results never serialize across a process boundary, shuffle
  * fetches are local and deterministic, and broadcast values are shared
  * by reference. Serialization, locality, fetch-order, and
  * broadcast-lifecycle bugs exist only ACROSS JVMs — and the single
  * class of nondeterminism found in 13 rounds (withRowId assignment
  * order) surfaced exactly on the multi-JVM path. This gate runs the
  * ENTIRE query surface against two separate 4-core executor JVMs
  * registered under distinct hostnames ([[org.apache.spark.deploy.GraftMiniCluster]])
  * and dumps each result in the Verify layout, so
  * `tools/check_oracle.py` replays the same DuckDB oracles against the
  * multi-JVM outputs; `tools/minicluster_gate.py` orchestrates both
  * runs and merges the hash results + any local-vs-cluster plan flips
  * into `MINICLUSTER_r{N}.json`.
  *
  * Two modes:
  *  - default (cluster): start the mini cluster, execute every query
  *    EXACTLY ONCE as the gated parquet write (Verify layout), capture
  *    that same execution's final adaptive plan through a
  *    `QueryExecutionListener` — so the audited operator histogram and
  *    the hash-gated output come from ONE execution (advisor finding
  *    r14: the earlier two-execution form could record a plan AQE
  *    re-planned away from the one that produced the gated bytes, and
  *    doubled gate wall-clock);
  *  - `--local`: the identical write+capture path on `local[8]` — the
  *    comparison baseline for the plan-flip diff (its parquet is
  *    discarded; the DuckDB gate for single-JVM outputs is the
  *    standing CORRECTNESS artifact).
  *
  * Run: SPARK_DRIVER_MEM=16g sbt "Test/runMain graft.tools.MiniClusterGate [--local] [sfDir outDir]"
  */
object MiniClusterGate {

  def main(args: Array[String]): Unit = {
    val localMode = args.contains("--local")
    val pos = args.filterNot(_.startsWith("--"))
    val sfDir = pos.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = pos.lift(1).getOrElse(
      if (localMode) "/tmp/graft_minicluster/local"
      else "/tmp/graft_minicluster/cluster")

    val master =
      if (localMode) "local[8]"
      else org.apache.spark.deploy.GraftMiniCluster.start(
        new SparkConf(), Seq("runsc", "vm"), cores = 4, memoryMb = 5120)

    val base = graft.GraftSession.builder(master, 8)
      .config("spark.ui.enabled", "false")
    val builder = if (localMode) base else {
      // Executor JVMs come from SPARK_HOME's launcher: this build's
      // classes and the JDK17 module opens must ride the executor conf
      // (same recipe as the specfaults rehearsal — sbt forks this JVM
      // with a full -classpath). user.timezone pinned so executor-side
      // temporal defaults cannot diverge from the session conf.
      val addOpens = Seq(
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
        .map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")
      base
        .config("spark.executor.memory", "4g")
        .config("spark.executor.extraClassPath",
          System.getProperty("java.class.path"))
        .config("spark.executor.extraJavaOptions",
          addOpens + " -Dfile.encoding=UTF-8 -Duser.timezone=UTC")
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (!localMode) {
      // both executors must be REGISTERED (not merely requested) under
      // the two distinct worker hostnames before any query runs — a
      // gate that silently ran driver-local would prove nothing
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      def infos = spark.sparkContext.statusTracker.getExecutorInfos
      while (infos.length < 3 && System.nanoTime() < deadline)
        Thread.sleep(500)
      val hosts = infos.map(_.host()).toSeq.sorted
      println(s"[minicluster] executor hosts: ${hosts.mkString(",")}")
      require(Seq("runsc", "vm").forall(h => hosts.exists(_.contains(h))),
        s"expected executors on BOTH worker aliases (runsc, vm), got $hosts")
    }

    new java.io.File(outDir).mkdirs()
    val names = SparkEntry.queries.keys.toSeq.sorted
    val plans = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val errs = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // ONE execution per query: the gated write IS the audited run. The
    // write command runs through its own QueryExecution (not the
    // DataFrame's), so the final adaptive plan is captured via the
    // session's ExecutionListenerManager; the listener bus is async, so
    // drain it (ListenerBridge) before reading the capture.
    val captured = new java.util.concurrent.atomic.AtomicReference[
      org.apache.spark.sql.execution.QueryExecution]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = captured.set(qe)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    })
    names.foreach { n =>
      try {
        captured.set(null)
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$n")
        val sec = (System.nanoTime() - t0) / 1e9
        if (!org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext))
          System.err.println(s"[minicluster] $n: listener bus drain timed out")
        val qe = captured.get()
        require(qe != null, s"no QueryExecution captured for $n")
        plans(n) = SuiteRehearsal.fmt(SuiteRehearsal.shape(qe.executedPlan))
        println(f"[minicluster] $n%-26s ok $sec%6.2f s  ${plans(n)}")
      } catch { case e: Throwable =>
        errs(n) = (Option(e.getMessage).getOrElse(e.toString)).take(400)
        println(s"[minicluster] $n FAILED: ${errs(n)}")
      }
    }

    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def dump(path: String, m: scala.collection.Map[String, String]): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
        m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    dump(s"$outDir/plans.json", plans)
    dump(s"$outDir/errors.json", errs)
    if (!localMode)
      dump(s"$outDir/oracle_sql.json",
        scala.collection.mutable.LinkedHashMap(SparkEntry.oracleSql.toSeq: _*))

    spark.stop()
    if (!localMode) org.apache.spark.deploy.GraftMiniCluster.stop()
    println(s"[minicluster] done: ${plans.size} ok, ${errs.size} failed -> $outDir")
    if (errs.nonEmpty) sys.exit(1)
  }
}
