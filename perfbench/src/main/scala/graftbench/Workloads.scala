package graftbench

import graft.core.KnnParams
import graft.ingest.SeriesIngest
import graft.operators.{Evaluation, Knn}
import graft.sources.TableSink
import graft.streaming.StreamingClassify
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What one iteration did: whether its output passed the check, and a
  * reason when it did not.
  */
final case class Outcome(ok: Boolean, detail: String = "")

/** One benchmark workload. `setup` generates and stages the seeded
  * inputs; `iterate` runs the library path once and checks its output.
  * `items` is the number of test series one iteration classifies;
  * `counts` are the computed pair counts the per-layer ratios need.
  */
trait Workload {
  def setup(spark: SparkSession, seed: Long, work: java.io.File): Unit
  /** Computes the expected outputs the checks compare against. Not part
    * of set-up time: it is the benchmark's oracle, not the workload.
    */
  def oracle(): Unit = ()
  def iterate(t: Tracer): Outcome
  def items: Long
  def counts: Map[String, Double] = Map.empty
  /** Micro-batch progress of the last iteration (streaming only). */
  def progress: Seq[Map[String, Double]] = Nil
  /** One-off lifecycle timings in seconds (streaming start and stop). */
  def timings: Map[String, Double] = Map.empty
  /** True when the staged inputs cannot feed another iteration. */
  def exhausted: Boolean = false
  /** Releases what `setup` started; called before the session stops. */
  def close(): Unit = ()
}

object Workloads {
  val names: Seq[String] = Seq("har_1nn_dtw", "har_knn_eu_k5", "stream_knn_1nn")

  def apply(name: String): Workload = name match {
    case "har_1nn_dtw" => new Har1nnDtw
    case "har_knn_eu_k5" => new HarKnnEuK5
    case "stream_knn_1nn" => new StreamKnn1nn
    case other => throw new IllegalArgumentException(
      s"unknown workload $other; expected one of ${names.mkString(", ")}")
  }

  /** HAR series length, Sakoe-Chiba band (10%) and PAA factor of the
    * reference-sized workload.
    */
  val L = 561
  val Band = 56
  val Paa = 8

  /** The seed shifts the generator's id ranges: ids select both the
    * series' noise and (id mod 6) their class, so a new seed is a new
    * draw of the same distribution.
    */
  def trainOffset(seed: Long): Long = Math.floorMod(seed, 100000L) * 20000L
  def testOffset(seed: Long): Long = trainOffset(seed) + 10000000L

  /** (id, label = id mod 6, series) rows for ids off until off + n. */
  def harFrame(spark: SparkSession, n: Long, off: Long,
      idCol: String, seriesCol: String): DataFrame =
    spark.range(n).select(
      (col("id") + off).as(idCol),
      pmod(col("id") + off, lit(6)).cast("double").as("label"),
      call_function("graft_har_series", col("id") + off, lit(L)).as(seriesCol))

  /** Accuracy 1.0 over exactly n rows, as [[Evaluation.accuracy]] reports. */
  def checkAccuracy(r: Row, n: Long): Outcome = {
    val acc = r.getAs[Double]("accuracy")
    val got = r.getAs[Long]("n")
    if (acc == 1.0 && got == n) Outcome(ok = true)
    else Outcome(ok = false, s"accuracy $acc over $got rows, expected 1.0 over $n")
  }
}

import Workloads._

/** The reference's Model 2 at its published size: exact banded DTW 1-NN
  * through the PAA-ranked broadcast cascade, then accuracy.
  */
final class Har1nnDtw extends Workload {
  val nTrain = 7352L
  val nTest = 737L
  val params = KnnParams(distance = "dtw", band = Band, lbPruning = true,
    candidateFactor = 16, coarsenFactor = Paa)
  private var train: DataFrame = _
  private var test: DataFrame = _
  private var truth: DataFrame = _

  def setup(spark: SparkSession, seed: Long, work: java.io.File): Unit = {
    train = harFrame(spark, nTrain, trainOffset(seed), "train_id", "train_series")
      .localCheckpoint()
    val t = harFrame(spark, nTest, testOffset(seed), "test_id", "test_series")
      .localCheckpoint()
    test = t.select("test_id", "test_series")
    truth = t.select("test_id", "label")
  }

  def items: Long = nTest
  override def counts: Map[String, Double] = Map(
    "knn_pairs" -> (nTrain * nTest).toDouble,
    "paa_manhattan_pairs" -> (nTrain * nTest).toDouble,
    "dtw_pairs" -> (params.candidateFactor.toLong * params.k * nTest).toDouble)

  def iterate(t: Tracer): Outcome = {
    val pred = t.step("operators.knn")(Knn.classify1NN(train, test, params))
    val acc = t.span("operators.eval")(Evaluation.accuracy(pred, truth, "test_id").head())
    checkAccuracy(acc, nTest)
  }
}

/** The reference's Model 1 lifecycle: raw text tables are parsed and
  * zipped by position, classified by a cartesian k=5 Euclidean KNN,
  * written to a table, re-read and scored.
  */
final class HarKnnEuK5 extends Workload {
  val nTrain = 736L
  val nTest = 295L
  val params = KnnParams(k = 5, distance = "euclidean", strategy = "cartesian")
  private var spark: SparkSession = _
  private var testOff = 0L

  def setup(spark: SparkSession, seed: Long, work: java.io.File): Unit = {
    this.spark = spark
    testOff = testOffset(seed)
    stage(nTrain, trainOffset(seed), "train")
    stage(nTest, testOff, "test")
  }

  /** The reference's raw Hive tables: one space-separated feature string
    * per row (with stray whitespace) and one label string per row, in
    * the same order.
    */
  private def stage(n: Long, off: Long, side: String): Unit = {
    val src = harFrame(spark, n, off, "id", "series").orderBy("id")
    TableSink.overwriteTable(src.select(concat(lit(" "),
      concat_ws("  ", col("series").cast("array<string>")), lit(" ")).as("value")).coalesce(1),
      s"graftbench_x_$side")
    TableSink.overwriteTable(src.select(col("label").cast("int").cast("string").as("value"))
      .coalesce(1), s"graftbench_y_$side")
  }

  def items: Long = nTest
  override def counts: Map[String, Double] = Map(
    "knn_pairs" -> (nTrain * nTest).toDouble,
    "euclidean_pairs" -> (nTrain * nTest).toDouble)

  def iterate(t: Tracer): Outcome = {
    val tr = t.step("ingest.parse_train")(SeriesIngest.loadLabeledSeries(
      spark.table("graftbench_x_train"), spark.table("graftbench_y_train")))
    val te = t.step("ingest.parse_test")(SeriesIngest.loadLabeledSeries(
      spark.table("graftbench_x_test"), spark.table("graftbench_y_test")))
    val train = tr.select(col("row_id").as("train_id"), col("series").as("train_series"),
      col("label"))
    val test = te.select(col("row_id").as("test_id"), col("series").as("test_series"))
    val truth = te.select(col("row_id").as("test_id"), col("label"))
    val pred = t.step("operators.knn")(Knn.classify(train, test, params))
    val back = t.span("sources.write")(TableSink.overwriteTable(pred, "graftbench_knn_eu_k5"))
    val rows = t.span("sources.read")(back.collect())
    val acc = t.span("operators.eval")(Evaluation.accuracy(back, truth, "test_id").head())
    // row_id r is the r-th staged row, generated from id testOff + r - 1
    val wrong = rows.count(r =>
      r.getAs[Double]("predicted_label") != Math.floorMod(testOff + r.getAs[Long]("test_id") - 1, 6L))
    val ids = rows.map(_.getAs[Long]("test_id")).toSet
    if (rows.length != nTest || ids != (1L to nTest).toSet)
      Outcome(ok = false, s"${rows.length} predictions for ${ids.size} ids, expected $nTest")
    else if (wrong > 0) Outcome(ok = false, s"$wrong predictions differ from id mod 6")
    else checkAccuracy(acc, nTest)
  }
}

/** The KNN layer used incrementally: a static HAR train set and one
  * long-running streaming 1-NN query. Test series arrive as parquet files
  * of 30 series; an iteration lands one file in the watched directory
  * and waits for its checked predictions (a closed loop with one file in
  * flight), so its wall time is the micro-batch latency a user sees.
  */
final class StreamKnn1nn extends Workload {
  val nTrain = 7352L
  val maxBatches = 16
  val oracleBatches = 3
  val batchSize = 30
  val params = KnnParams(distance = "euclidean")
  private var spark: SparkSession = _
  private var train: DataFrame = _
  private var staged: Seq[(java.io.File, Set[Long])] = Nil
  private var next = 0
  private var inputDir: java.io.File = _
  private var testSeries: DataFrame = _
  private var expected: Map[Long, (Double, Double)] = Map.empty
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _
  private var sinkName = ""
  private var last: Seq[Map[String, Double]] = Nil
  private var lifecycle = Map.empty[String, Double]

  def setup(spark: SparkSession, seed: Long, work: java.io.File): Unit = {
    this.spark = spark
    train = harFrame(spark, nTrain, trainOffset(seed), "train_id", "train_series")
      .localCheckpoint()
    val n = maxBatches * batchSize
    // seeded batch assignment: a shuffled id order cut into batches
    val batchOf = new scala.util.Random(seed).shuffle((0 until n).toList).zipWithIndex
      .map { case (id, pos) => id.toLong -> pos / batchSize }
    val test = harFrame(spark, n, testOffset(seed), "test_id", "test_series")
      .select("test_id", "test_series")
      .join(spark.createDataFrame(batchOf.map { case (id, b) => (id + testOffset(seed), b) })
        .toDF("test_id", "batch"), "test_id")
      .localCheckpoint()
    val stage = new java.io.File(work, "stream_stage")
    FileUtils.deleteQuietly(stage)
    test.repartition(col("batch")).write.partitionBy("batch").parquet(stage.getPath)
    staged = (0 until maxBatches).map { b =>
      val dir = new java.io.File(stage, s"batch=$b")
      val file = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      require(file.length == 1, s"batch $b staged as ${file.length} files")
      (file.head, batchOf.collect { case (id, `b`) => id + testOffset(seed) }.toSet)
    }
    next = 0
    testSeries = test.drop("batch")

    inputDir = new java.io.File(work, "stream_in")
    val ckpt = new java.io.File(work, "stream_ckpt")
    FileUtils.deleteQuietly(inputDir)
    FileUtils.deleteQuietly(ckpt)
    inputDir.mkdirs()
    sinkName = "graftbench_stream"
    val t0 = System.nanoTime()
    val in = spark.readStream.schema(testSeries.schema).option("maxFilesPerTrigger", 1)
      .parquet(inputDir.getPath)
    query = StreamingClassify.classifyStream1NN(train, in, params)
      .writeStream.outputMode("update").format("memory").queryName(sinkName)
      .option("checkpointLocation", ckpt.getPath)
      .trigger(Trigger.ProcessingTime(0L)).start()
    lifecycle = Map("start_s" -> (System.nanoTime() - t0) / 1e9)
  }

  /** Batch [[Knn.classify1NN]] over the series of the first
    * `oracleBatches` staged files, the fixed sample every set-up streams
    * first (its warm-up and first measured iterations).
    */
  override def oracle(): Unit = {
    val sample = staged.take(oracleBatches).flatMap(_._2)
    // every set-up of a run stages the same series, so one answer serves all
    expected = StreamKnn1nn.oracles.getOrElseUpdate(sample.toSet, Knn.classify1NN(
      train, testSeries.filter(col("test_id").isin(sample: _*)), params)
      .collect().map(r => r.getAs[Long]("test_id") ->
        (r.getAs[Double]("predicted_label"), r.getAs[Double]("min_distance"))).toMap)
  }

  override def close(): Unit = if (query != null) {
    val t0 = System.nanoTime()
    query.stop()
    lifecycle += "stop_s" -> (System.nanoTime() - t0) / 1e9
    query = null
  }

  def items: Long = batchSize.toLong
  override def counts: Map[String, Double] = Map(
    "knn_pairs" -> (nTrain * batchSize).toDouble,
    "euclidean_pairs" -> (nTrain * batchSize).toDouble)
  override def progress: Seq[Map[String, Double]] = last
  override def timings: Map[String, Double] = lifecycle

  private def dataBatches = query.recentProgress.count(_.numInputRows > 0)

  override def exhausted: Boolean = next >= staged.size

  def iterate(t: Tracer): Outcome = {
    val (file, ids) = staged(next)
    next += 1
    val before = dataBatches
    t.span("streaming.batch") {
      java.nio.file.Files.move(file.toPath, new java.io.File(inputDir, f"batch_$next%03d.parquet").toPath)
      while (dataBatches == before) {
        if (query.exception.isDefined) throw query.exception.get
        Thread.sleep(2)
      }
    }
    last = query.recentProgress.filter(_.numInputRows > 0).lastOption.toSeq.map { p =>
      val d = p.durationMs
      Map("batch_ms" -> d.getOrDefault("triggerExecution", 0L).toDouble,
        "add_batch_ms" -> d.getOrDefault("addBatch", 0L).toDouble,
        "query_planning_ms" -> d.getOrDefault("queryPlanning", 0L).toDouble,
        "wal_commit_ms" -> d.getOrDefault("walCommit", 0L).toDouble,
        "rows" -> p.numInputRows.toDouble)
    }
    val rows = t.span("streaming.read_sink")(
      spark.table(sinkName).filter(col("test_id").isin(ids.toSeq: _*)).collect())
    val got = rows.map(r =>
      r.getAs[Long]("test_id") -> (r.getAs[Double]("predicted_label"), r.getAs[Double]("min_distance"))).toMap
    val wrongLabel = got.count { case (id, (l, _)) => l != Math.floorMod(id, 6L) }
    val differ = got.count { case (id, p) => expected.get(id).exists(_ != p) }
    if (rows.length != ids.size || got.keySet != ids)
      Outcome(ok = false, s"${rows.length} streamed predictions for ${ids.size} series")
    else if (differ > 0) Outcome(ok = false, s"$differ streamed predictions differ from batch classify1NN")
    else if (wrongLabel > 0) Outcome(ok = false, s"$wrongLabel predictions differ from id mod 6")
    else Outcome(ok = true)
  }
}

object StreamKnn1nn {
  private val oracles =
    scala.collection.mutable.Map.empty[Set[Long], Map[Long, (Double, Double)]]
}
