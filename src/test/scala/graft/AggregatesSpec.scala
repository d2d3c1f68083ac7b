package graft

import graft.functions.SeriesFunctions
import graft.operators.BoundedTopKByScore
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

/** The native TypedImperativeAggregate bounded top-k vs an in-memory
  * oracle AND the typed Dataset Aggregator — including score ties, which
  * must break by id to keep candidate selection deterministic.
  */
class AggregatesSpec extends SparkTestBase {
  import spark.implicits._

  private val rnd = new scala.util.Random(11)
  // deliberate tie collisions: scores drawn from a small discrete set
  private val rows: Seq[(Long, Long, Double)] =
    for (g <- 0L until 20L; i <- 0L until 200L)
      yield (g, i, (rnd.nextInt(40) / 7.0))

  private def oracle(k: Int): Map[Long, Seq[Long]] =
    rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(r => (r._3, r._2)).sorted.take(k).map(_._2)
    }

  test("graft_topk_ids matches in-memory oracle (ties broken by id)") {
    val df = rows.toDF("gid", "id", "score")
    for (k <- Seq(1, 5, 32)) {
      val got = df.groupBy(col("gid"))
        .agg(SeriesFunctions.topkIds(col("score"), col("id"), k).as("ids"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
      assert(got === oracle(k), s"k=$k")
    }
  }

  test("graft_topk_ids matches the typed Dataset Aggregator") {
    val df = rows.toDF("gid", "id", "score")
    val k = 8
    val native = df.groupBy(col("gid"))
      .agg(SeriesFunctions.topkIds(col("score"), col("id"), k).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val agg = new BoundedTopKByScore(k)
    val typed = df.as[(Long, Long, Double)]
      .groupByKey(_._1).agg(agg.toColumn)
      .collect().map { case (g, ids) => g -> ids.toSet }.toMap
    assert(native === typed)
  }

  test("graft_topk_ids: fewer rows than k returns all, sorted") {
    val df = Seq((1L, 10L, 3.0), (1L, 11L, 1.0)).toDF("gid", "id", "score")
    val got = df.groupBy(col("gid"))
      .agg(SeriesFunctions.topkIds(col("score"), col("id"), 5).as("ids"))
      .head().getSeq[Long](1)
    assert(got === Seq(11L, 10L))
  }

  test("graft_topk_pairs matches the in-memory (score, id) oracle") {
    val df = rows.toDF("gid", "id", "score")
    for (k <- Seq(1, 6, 32)) {
      val got = df.groupBy(col("gid"))
        .agg(SeriesFunctions.topkPairs(col("score"), col("id"), k).as("tk"))
        .collect().map(r => r.getLong(0) ->
          r.getSeq[Row](1).map(p => (p.getDouble(0), p.getLong(1))).toSeq)
        .toMap
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        g -> rs.map(r => (r._3, r._2)).sorted.take(k)
      }
      assert(got === want, s"k=$k")
    }
  }

  test("graft_block_topk == pair distance + row_number (all kernels and edge cases)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    // the block scan must return exactly the reference pair formulation's
    // top-k (a per-pair distance + row_number over (dist, train_id)):
    // same kernels, same order, same null and zero-distance handling —
    // every kernel, exclusion on and off, ties, NaN, -0.0, null series,
    // null struct, null label, unequal lengths, with codegen on and off.
    // Int ids and string labels: the scan keeps the input types.
    val rnd2 = new scala.util.Random(7)
    def series(i: Int, len: Int): Array[Double] =
      Array.tabulate(len)(t => math.sin(t * 0.7 + (i % 10)) + (i % 10) * 0.1)
    val trainRows: Seq[(Int, Array[Double], String)] =
      (1 to 60).map { i =>
        // every 10th id repeats a series: exact distance ties across ids
        val len = if (i % 7 == 0) 9 else 12 // unequal lengths
        (i, series(i, len), if (i == 13) null else s"c${i % 4}") // a null label
      } ++ Seq(
        (61, Array.fill(12)(-0.0), "zero"),               // -0.0 elements
        (62, Array.fill(12)(Double.NaN), "nan"),          // NaN distances
        (63, null.asInstanceOf[Array[Double]], "none"))   // null series: skipped
    val testRows: Seq[(Long, Array[Double])] =
      (101L to 112L).map(i => i -> Array.tabulate(12)(t => math.sin(t * 0.7) + rnd2.nextGaussian() * 0.2)) ++
        Seq(
          113L -> series(5, 12),               // an exact zero-distance self match
          114L -> Array.fill(12)(0.0),         // ties 0.0 with the -0.0 entry
          115L -> null.asInstanceOf[Array[Double]]) // null test series: no neighbors
    val train = trainRows.toDF("train_id", "train_series", "label")
    val test = testRows.toDF("test_id", "test_series")
    val entry = struct(col("train_id"), col("train_series"), col("label"))
    // a null block entry (null struct) must be skipped
    val block = train.agg(collect_list(entry).as("block"))
      .select(concat(col("block"),
        array(lit(null).cast(train.select(entry).schema.head.dataType))).as("block"))
    def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)
    val kernels = Seq[(String, Int, (Column, Column) => Column)](
      ("euclidean", -1, SeriesFunctions.euclidean),
      ("sqdist", -1, SeriesFunctions.sqdist),
      ("manhattan", -1, SeriesFunctions.manhattan),
      ("cosine", -1, (a, b) => lit(1.0) - SeriesFunctions.cosine(a, b)),
      ("dtw", 2, (a, b) => SeriesFunctions.dtw(a, b, 2)),
      ("fastdtw", 1, (a, b) => SeriesFunctions.fastdtw(a, b, 1)),
      ("lb_keogh", -1, (a, b) => SeriesFunctions.lbKeogh(SeriesFunctions.envelope(a, 2), b)))
    def run(): Unit = for ((kind, param, dist) <- kernels; exclude <- Seq(true, false); k <- Seq(1, 4)) {
      val w = Window.partitionBy(col("test_id")).orderBy(col("dist"), col("train_id"))
      val pairs = test.crossJoin(train)
        .select(col("test_id"), col("train_id"), col("label"),
          dist(col("test_series"), col("train_series")).as("dist"))
      val reference = (if (exclude) pairs.filter(col("dist") =!= 0.0)
          else pairs.filter(col("dist").isNotNull))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        .collect().groupBy(_.getLong(0)).map { case (t, rs) =>
          t -> rs.sortBy(_.getInt(4)).map(r => (bits(r.getDouble(3)), r.getInt(1), r.getString(2))).toSeq
        }
      val probe = if (kind == "lb_keogh") SeriesFunctions.envelope(col("test_series"), 2)
        else col("test_series")
      val scanned = test.crossJoin(broadcast(block))
        .select(col("test_id"),
          SeriesFunctions.blockTopK(probe, col("block"), k, kind, param, exclude).as("nn"))
      assert(scanned.schema("nn").dataType === ArrayType(StructType(Seq(
        StructField("dist", DoubleType, nullable = false),
        StructField("train_id", IntegerType, nullable = false),
        StructField("label", StringType, nullable = true))), containsNull = false))
      val got = scanned.collect().filter(r => !r.isNullAt(1) && r.getSeq[Row](1).nonEmpty)
        .map(r => r.getLong(0) -> r.getSeq[Row](1).map(n =>
          (bits(n.getDouble(0)), n.getInt(1), n.getString(2))).toSeq).toMap
      assert(got === reference, s"kind=$kind exclude=$exclude k=$k")
    }
    run()
    for ((conf, value) <- Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")) {
      spark.conf.set(conf, value)
      try run() finally spark.conf.unset(conf)
    }
  }

  test("graft_block_topk output owns its memory: a reused block buffer leaves it intact") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, UnsafeProjection}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val entry = StructType(Seq(StructField("train_id", IntegerType),
      StructField("train_series", ArrayType(DoubleType)), StructField("label", StringType)))
    // an UnsafeProjection reuses its output buffer, like the row buffers a
    // partitioned plan hands the scan: the second block overwrites the first
    val proj = UnsafeProjection.create(StructType(Seq(StructField("block", ArrayType(entry)))))
    def block(label: String) = proj(InternalRow(new GenericArrayData(Array[Any](InternalRow(
      1, UnsafeArrayData.fromPrimitiveArray(Array(0.0, 1.0)), UTF8String.fromString(label))))))
      .getArray(0)
    val scanner = new graft.functions.BlockScanner(1, 0, -1, false, entry.fields.map(_.dataType))
    val out = scanner.scan(UnsafeArrayData.fromPrimitiveArray(Array(0.0, 0.0)), block("first"))
    block("other")
    assert(out.getStruct(0, 3).getUTF8String(2).toString === "first")
    assert(out.getStruct(0, 3).getInt(1) === 1)
  }

  test("heap selection ties -0.0 with 0.0 like a window sort (id breaks the tie)") {
    // SQLOrderingUtil ordering: -0.0 == 0.0, so the k=1 winner is the
    // SMALLER id regardless of zero sign — java.lang.Double.compare
    // would pick the -0.0 row even when its id is larger
    val df = Seq((1L, 10L, 0.0), (1L, 9L, -0.0), (2L, 10L, -0.0), (2L, 9L, 0.0))
      .toDF("gid", "id", "score")
    val got = df.groupBy(col("gid"))
      .agg(SeriesFunctions.topkIds(col("score"), col("id"), 1).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).head).toMap
    assert(got === Map(1L -> 9L, 2L -> 9L))
  }
}
