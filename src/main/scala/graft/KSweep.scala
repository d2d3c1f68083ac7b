package graft

import graft.core.KnnParams
import graft.operators.{Evaluation, Knn}
import org.apache.spark.sql.functions._

/** Hyper-parameter sweep driver — the reference ran k in {5,10,20,50,70}
  * as manual notebook cells, one table + accuracy per k
  * (`Team11-Project.py:237-322`, `:391-476`). Here: one main, k list and
  * distance as args, a JSON result line per (distance, k).
  *
  * Usage: runMain graft.KSweep [sfDir] [distance[,distance...]] [k,k,...]
  *
  * `har:<sfDir>` runs the sweep on the published HAR-shaped workload
  * instead of the embeddings table ([[SparkEntry.harWorkload]]; at
  * sf0.1 that is the reference's full 7352 train x 2947 test x 561,
  * with the q25/q26 cascade parameters — exact banded DTW, Sakoe-Chiba
  * 10%, PAA candidate ranking), so
  *   runMain graft.KSweep har:/root/testdata/sf0.1 dtw 5,10,20,50,70
  * reproduces the reference's Tables I/II sweep row-for-row: one pair
  * pass for all five k (Knn.sweepClassify ranks once at k=max), one
  * saveAsTable + re-read evaluation per k (the reference's lifecycle).
  */
object KSweep {
  def main(args: Array[String]): Unit = {
    val rawDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val harMode = rawDir.startsWith("har:")
    val sfDir = if (harMode) rawDir.stripPrefix("har:") else rawDir
    val distances = args.lift(1).getOrElse("euclidean,dtw").split(",").toSeq
    val ks = args.lift(2).getOrElse("1,5,10,20").split(",").map(_.toInt).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val (train, test, truth) =
      if (harMode) {
        // localCheckpoint-backed frames; re-caching would double the
        // block footprint for no reuse win
        SparkEntry.harWorkload(spark, sfDir)
      } else {
        val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val tr = e.filter(col("vec_id") % 2 === 0).select(
          col("vec_id").as("train_id"),
          col("embedding").cast("array<double>").as("train_series"), col("label"))
        val te = e.filter(col("vec_id") % 2 === 1).select(
          col("vec_id").as("test_id"),
          col("embedding").cast("array<double>").as("test_series"))
        val th = e.filter(col("vec_id") % 2 === 1).select(
          col("vec_id").as("test_id"), col("label"))
        tr.cache().count(); te.cache().count()
        (tr, te, th)
      }

    for (d <- distances) {
      // one-pass sweep: the pair matrix is scored once per distance, every
      // k votes on its rank prefix; the per-(distance,k) result tables —
      // the reference's sweep shape (`Team11-Project.py:199`, `:237-322`:
      // saveAsTable then re-read for evaluation) — are sliced from one
      // materialized sweep frame (tiny: |test| x |ks| rows)
      val t0 = System.nanoTime()
      // har mode: the q25/q26 cascade parameters (exact banded DTW,
      // Sakoe-Chiba 10% = band 56 at L=561, PAA-Manhattan candidate
      // ranking, 16x margin) — the published workload's scale path
      val params =
        if (harMode) KnnParams(distance = d, band = 56, lbPruning = true,
          candidateFactor = 16, coarsenFactor = 8)
        else KnnParams(distance = d)
      val sweep = Knn.sweepClassify(train, test, params, ks)
        .localCheckpoint()
      val sweepSec = (System.nanoTime() - t0) / 1e9
      for (k <- ks) {
        val tk0 = System.nanoTime()
        val tableName = s"graft_knn_${d}_k$k"
        val back = graft.sources.TableSink.overwriteTable(
          sweep.filter(col("k") === k).select("test_id", "predicted_label"), tableName)
        // LEFT from truth (the 3-arg overload), not an inner join: a test
        // row the sweep emitted no prediction for must count as INCORRECT
        // — an inner join shrinks numerator and denominator together and
        // silently inflates the reported sweep accuracy (the same class
        // the r17 review fixed in Evaluation.accuracy itself)
        val acc = Evaluation.accuracy(back, truth, "test_id")
          .head().getDouble(0)
        val sec = sweepSec / ks.size + (System.nanoTime() - tk0) / 1e9
        println(f"""{"distance":"$d","k":$k,"accuracy":$acc,"sec":$sec%.2f,"table":"$tableName"}""")
      }
      graft.core.Materialize.releaseCheckpoint(sweep)
    }
    spark.stop()
  }
}
