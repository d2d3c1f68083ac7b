package graft

import graft.operators.{AsofJoin, Dedup, RangeJoin, SimilaritySearch}
import graft.streaming.StreamingClassify
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Boundary-comparator probes: every oracle inequality or tie rule gets
  * a fixture row landing EXACTLY on its boundary, driven through the
  * REAL operator. The q42 session-gap bug (a `>=`-vs-`>` disagreement
  * that survived 8 rounds because sf0.01 had no event exactly at
  * lastEvent+gap) is the template this sweep generalizes: test data
  * without boundary-exact rows proves nothing about the comparator.
  *
  * Each test names the query whose oracle encodes the probed semantics;
  * the comparator inventory lives in NOTES_r10.
  */
class BoundarySpec extends SparkTestBase {
  import spark.implicits._

  // q47 oracle: `r.ts <= l.ts` with a tolerance variant gap <= tol
  test("q47/asof: a match at EXACTLY the tolerance bound is kept (gap <= tol)") {
    val left = Seq((1L, "a", 100L)).toDF("event_id", "key", "ts")
    val right = Seq((10L, "a", 95L)).toDF("event_id", "key", "ts")
    def run(tol: Long) = AsofJoin.asofBackward(left, right, Seq("key"), "ts",
      Seq("event_id"), tolerance = Some(tol))
      .collect().map(r => Option(r.get(3)).map(_ => r.getLong(3))).head
    assert(run(5L) === Some(10L)) // gap 5 == tol 5: kept
    assert(run(4L) === None)      // gap 5 > tol 4: nulled
  }

  // q47 oracle tie rule: ORDER BY r.ts DESC, r.event_id DESC LIMIT 1
  test("q47/asof: right rows tied at one (key, ts) resolve to the greatest payload") {
    val left = Seq((1L, "a", 10L)).toDF("event_id", "key", "ts")
    val right = Seq((3L, "a", 10L), (7L, "a", 10L), (5L, "a", 9L))
      .toDF("event_id", "key", "ts")
    val got = AsofJoin.asofBackward(left, right, Seq("key"), "ts", Seq("event_id"))
      .collect().head
    // ts=10 (== left ts, inclusive) beats ts=9; id 7 beats 3 on the tie
    assert(got.getLong(3) === 7L)
  }

  // q49 oracle: BETWEEN is inclusive both ends; the bucketed rewrite
  // must agree where a row sits EXACTLY on a bucket multiple AND
  // exactly on the window edge (ts 400 is both, at width 200)
  test("q49/range: rows exactly on bucket multiples and window edges join once") {
    val left = Seq((1L, "a", 300L)).toDF("event_id", "key", "ts")
    val right = Seq((10L, "a", 200L), (11L, "a", 400L),
      (12L, "a", 401L), (13L, "a", 199L)).toDF("event_id", "key", "ts")
    val got = RangeJoin.rangePairs(left, right, Seq("key"), "ts",
      -100L, 100L, Seq("event_id"))
    assert(got.collect().map(_.getAs[Long]("range_event_id")).sorted
      === Array(10L, 11L))
    assert(got.count() === 2) // once each, despite the 2-bucket explode
  }

  // q58 oracle: ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
  test("q58/frame: the 7-row trailing mean drops the oldest row exactly at row 8") {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val rows = (1 to 8).map(i => (1L, i.toLong, i.toDouble))
      .toDF("user_id", "ts", "value")
      .withColumn("mavg7", avg(col("value")).over(w.rowsBetween(-6, 0)))
      .orderBy("ts").collect()
    assert(rows(6).getDouble(3) === 4.0) // mean(1..7): frame just full
    assert(rows(7).getDouble(3) === 5.0) // mean(2..8): row 1 left the frame
  }

  // q67 oracle: s // 300 * 300 — floor semantics; Spark's window() is
  // start-inclusive / end-exclusive, so the boundary event must OPEN
  // the next window, not close the previous one
  test("q67/window: an event EXACTLY on the 5-minute boundary opens the next window") {
    val df = Seq((299L, "click", 1.0), (300L, "click", 2.0))
      .toDF("s", "event_type", "value")
      .withColumn("ts", timestamp_seconds(col("s")))
    val got = StreamingClassify.windowedEventStats(df)
      .select(unix_timestamp(col("window.start")).as("ws"), col("n"))
      .orderBy("ws").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((0L, 1L), (300L, 1L)))
  }

  // q70 oracle: BETWEEN c_s - 1800 AND c_s + 1800 — inclusive; probed
  // through the REAL watermarked stream-stream join (memory sink)
  test("q70/interval: a view EXACTLY 30 minutes out matches; one second beyond does not") {
    val dir = java.nio.file.Files.createTempDirectory("graft_boundary_iv")
    val c0 = 10000L
    Seq((100L, 1L, c0)).toDF("click_id", "user_id", "s")
      .write.parquet(s"$dir/clicks")
    Seq((200L, 1L, c0 - 1800L), (201L, 1L, c0 + 1800L),
      (202L, 1L, c0 + 1801L), (203L, 1L, c0 - 1801L))
      .toDF("view_id", "user_id", "s").write.parquet(s"$dir/views")
    def stream(name: String, tsAs: String) = {
      val sch = spark.read.parquet(s"$dir/$name").schema
      spark.readStream.schema(sch).parquet(s"$dir/$name")
        .withColumn(tsAs, timestamp_seconds(col("s"))).drop("s")
    }
    val joined = StreamingClassify.intervalJoin(
      stream("clicks", "click_ts"), "click_ts",
      stream("views", "view_ts"), "view_ts",
      "user_id", "10 minutes", "30 minutes")
    val qn = "graft_boundary_iv"
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName(qn).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table(qn).select("view_id").collect()
      .map(_.getLong(0)).sorted
    spark.catalog.dropTempView(qn)
    assert(got === Array(200L, 201L))
  }

  // q71 oracle: r.s <= e.s, ties on (user, second) -> MAX(value)
  test("q71/asof-enrich: a reference EXACTLY at the probe ts is visible; ties take MAX value") {
    val probes = Seq((1L, 1L, 100L), (2L, 1L, 99L), (3L, 1L, 150L))
      .toDF("id", "key", "ts")
    val refs = Seq((1L, 100L, 5.0), (1L, 100L, 7.0))
      .toDF("key", "ts", "value")
    val got = StreamingClassify.asofEnrichStream(probes, refs)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.get(3)).map(_ => r.getDouble(3))))
    assert(got.toSeq === Seq(
      (1L, Some(7.0)), // ref at EXACTLY probe ts visible; max of the tie
      (2L, None),      // refs sit 1s after this probe: invisible
      (3L, Some(7.0))))
  }

  // q24 oracle: ROUND(cos, 6) >= threshold — the round-then-compare
  // must keep a pair landing exactly ON the threshold
  test("q24/cosine threshold: a cosine that ROUNDS to exactly the threshold is kept") {
    val at = math.sqrt(1.0 - 0.3 * 0.3)
    val below = math.sqrt(1.0 - 0.29999 * 0.29999)
    val df = Seq(
      (1L, Seq(1.0, 0.0)),
      (2L, Seq(0.3, at)),         // cos(1,2) rounds to 0.300000
      (3L, Seq(0.29999, below))). // cos(1,3) rounds to 0.299990
      toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDupPairs(df, "vec_id", "embedding",
      threshold = 0.3, roundDp = 6)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)))
    assert(!got.contains((1L, 3L)))
  }

  // q15/q22 oracle: jaccard >= threshold; 2/4 is exact in double
  test("q15/jaccard threshold: a pair at EXACTLY the threshold is kept") {
    val df = Seq(
      (1L, "a b c d"), // 2-shingles {ab, bc, cd}
      (2L, "a b c e"), // {ab, bc, ce}: inter 2, union 4 -> exactly 0.5
      (3L, "x y z w"))
      .toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(df, "doc_id", "text",
      shingleSize = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq((1L, 2L, 0.5)))
  }

  // q20 oracle: ROW_NUMBER() OVER (ORDER BY cos DESC, item_id) — a
  // score tie straddling the rank-k cutoff must resolve by id
  test("q20/top-k: a score tie at the rank-k boundary resolves by item id") {
    val q = Seq((1L, Seq(1.0, 0.0))).toDF("query_id", "query_vec")
    val corpus = Seq(
      (30L, Seq(1.0, 0.0)),  // cos 1.0: rank 1
      (20L, Seq(0.6, 0.8)),  // cos 0.6, tied
      (10L, Seq(0.6, 0.8)))  // cos 0.6, tied: smaller id takes rank 2
      .toDF("item_id", "item_vec")
    val got = SimilaritySearch.bruteForceTopK(q, corpus, 2)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Number]("rank").longValue, r.getAs[Long]("item_id")))
    assert(got.toSeq === Seq((1L, 30L), (2L, 10L)))
  }

  // Knn's one-block/many-block branch: `measured <= cap` packs ONE block
  test("knn: a train side measured EXACTLY at the broadcast cap packs one block; " +
      "one byte less packs several — same neighbors and predictions") {
    import graft.core.KnnParams
    import graft.operators.Knn
    val train = spark.range(60).select(col("id").as("train_id"),
      call_function("graft_har_series", col("id"), lit(24)).as("train_series"),
      pmod(col("id"), lit(3)).cast("double").as("label")).localCheckpoint()
    val test = spark.range(15).select((col("id") + 1000).as("test_id"),
      call_function("graft_har_series", col("id") + 1000, lit(24)).as("test_series"))
    val trainSel = train.select("train_id", "train_series", "label")
    val measured = Knn.measuredBytes(trainSel).get.toLong
    val p = KnnParams(k = 3, distance = "euclidean")
    def run(cap: Long): (Boolean, Set[Seq[Any]], Set[Seq[Any]]) = {
      spark.conf.set("spark.graft.knn.broadcastFloor", cap.toString)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", cap.toString)
      try (Knn.oneBlock(trainSel, p),
        Knn.neighbors(train, test, p).collect().map(_.toSeq).toSet,
        Knn.classify(train, test, p).collect().map(_.toSeq).toSet)
      finally {
        spark.conf.unset("spark.graft.knn.broadcastFloor")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
    try {
      val (oneAt, nAt, cAt) = run(measured)
      val (oneBelow, nBelow, cBelow) = run(measured - 1)
      assert(oneAt, s"measured $measured == cap must pack one block")
      assert(!oneBelow, s"measured $measured > cap ${measured - 1} must pack several blocks")
      assert(nAt.size === 45)
      assert(nBelow === nAt)
      assert(cBelow === cAt)
    } finally graft.core.Materialize.releaseCheckpoint(train)
  }
}
