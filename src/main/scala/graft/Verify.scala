package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_CONF="k=v;k=v" — session-conf overrides applied AFTER
    // the defaults, the standing mechanism for the planner-config
    // robustness matrix (AQE off, codegen fully disabled, ANSI off,
    // split-size/reader variants) that rounds 11-12 ran by hand
    val extraConf = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"SPARK_GRAFT_CONF entry '$kv' is not k=v")
        (kv.take(i), kv.drop(i + 1))
      }
    val builder = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
    val spark = extraConf.foldLeft(builder) { case (b, (k, v)) =>
      System.err.println(s"[verify] conf override: $k=$v")
      b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q12,q28 dumps a name-prefix subset (iteration aid,
    // same contract as Bench; the driver never sets it so official runs
    // are full)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    // a subset run must not leave earlier full-run outputs beside a
    // freshly dumped oracle map (check_oracle would compare stale
    // parquet against new SQL): drop every non-selected query dir
    if (only.isDefined) {
      val selected = SparkEntry.queries.keySet
        .filter(n => only.forall(_.exists(n.startsWith)))
      // a filter that matches nothing (typo) must not wipe prior full-run
      // outputs and then dump nothing — fail loudly instead
      if (selected.isEmpty) {
        System.err.println(
          s"[verify] SPARK_GRAFT_ONLY=${only.get.mkString(",")} matched no query names; aborting")
        spark.stop()
        sys.exit(2)
      }
      Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && !selected.contains(f.getName))
        .foreach { d =>
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
            f.delete(); ()
          }
          rm(d)
        }
    }
    SparkEntry.queries.filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          // record THEN rethrow fatals: a query-level NonFatal failure
          // is a per-query artifact entry (the driver's compare marks
          // just that query red), but an OOM/LinkageError poisons the
          // whole JVM — swallowing it would dress a dying run up as a
          // green-looking artifact with a few missing outputs
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          if (!scala.util.control.NonFatal(e)) throw e
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
