package graft.tools

/** Standalone tier synthesizer: `reps` id-shifted copies of the sf0.1
  * tables into `dest` (the [[SuiteRehearsal.generateTier]] synth,
  * runnable without the full rehearsal — `tools/scalecheck.py`'s
  * tier100 stage needs just the tier, in its own short-lived JVM, so
  * the 100x Verify that follows starts from a fresh session).
  *
  * Run: sbt "Test/runMain graft.tools.TierSynth <reps> <dest> [table,table,...]"
  */
object TierSynth {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: TierSynth <reps> <dest> [tables]")
    val reps = args(0).toInt
    val dest = args(1)
    val only = args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = graft.GraftSession.builder("local[16]", 16)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SuiteRehearsal.generateTier(spark, reps, dest, only)
    println(s"[tiersynth] wrote ${reps}x tier -> $dest" +
      only.map(t => s" (tables: ${t.toSeq.sorted.mkString(",")})").getOrElse(""))
    spark.stop()
  }
}
