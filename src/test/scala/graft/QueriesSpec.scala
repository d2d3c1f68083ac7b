package graft

/** Smoke: every declared query runs on sf0.001 and the flagship entry
  * returns rows (the driver's own checks, pre-flighted here).
  */
class QueriesSpec extends SparkTestBase {

  test("entry (flagship) returns rows with expected schema") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.toSeq === Seq("test_id", "predicted_label", "label"))
    assert(df.count() > 0)
  }

  test("GraftSession.getOrCreate yields a session with graft functions") {
    val s = GraftSession.getOrCreate()
    assert(s.sql("SELECT graft_euclidean(array(0.0d,0.0d), array(3.0d,4.0d)) d")
      .head().getDouble(0) === 5.0)
    // s is built by GraftSession.builder (TestSpark). Its newSession()s
    // (ShuffleCensus and PlanGoldenSpec measure on them) get no register
    // call: the confs, the functions and the optimizer rule must all come
    // from the builder
    val fresh = s.newSession()
    assert(fresh.experimental.extraOptimizations.isEmpty)
    for (x <- Seq(s, fresh)) {
      assert(x.conf.get("spark.sql.adaptive.enabled") === "true")
      assert(x.conf.get("spark.sql.session.timeZone") === "UTC")
      assert(x.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") === "65536")
      assert(x.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    }
    assert(fresh.sql("SELECT graft_dtw(array(0.0d, 1.0d), array(0.0d, 2.0d)) d")
      .head().getDouble(0) === 1.0)
    // distances 5, 4.47, 4.12, 4 from (3, 4): two rows pass 4.2
    val filtered = fresh.range(4)
      .selectExpr("array(cast(id AS double), 0.0d) AS a", "array(3.0d, 4.0d) AS b")
      .where("graft_euclidean(a, b) <= 4.2")
    val plan = filtered.queryExecution.optimizedPlan
    val conds = plan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }
    assert(conds.nonEmpty && conds.forall(c =>
      c.exists(_.isInstanceOf[graft.functions.SquaredDistance]) &&
        !c.exists(_.isInstanceOf[graft.functions.EuclideanDistance])), plan.toString)
    assert(filtered.count() === 2)
    assert(fresh.experimental.extraOptimizations.isEmpty)
  }

  test("oracleSql keys are a subset of queries keys") {
    val qs = SparkEntry.queries.keySet
    val orphan = SparkEntry.oracleSql.keySet.diff(qs)
    assert(orphan.isEmpty, s"oracle SQL without query: $orphan")
  }

  test("q28 oracle appears after the query runs and embeds the live fit") {
    // the fit-at-verify-time gate: running q28 stashes the centroids its
    // plan used, and oracleSql then carries a q45-style replay built
    // from those EXACT literals (Verify runs queries before dumping, so
    // the driver always sees the entry)
    SparkEntry.queries("q28_ann_ivf")(spark, sf001).count()
    val sql = SparkEntry.oracleSql.get("q28_ann_ivf")
    assert(sql.isDefined, "q28 oracle missing after the query ran")
    // 16 cells -> 16 centroid literal rows in the ctr CTE
    assert(sql.get.sliding("AS idx".length).count(_ == "AS idx") === 16)
    // the replay embeds the same centroids the plan used: re-derive the
    // fit on q28's corpus frame and spot-check a coordinate literal
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$sf001/embeddings.parquet")
    val corpus = e.filter(col("vec_id") % 10 =!= 0)
      .select(col("vec_id").as("item_id"), col("embedding").as("item_vec"))
    val centers = operators.SimilaritySearch.fitOrGetCentroids(corpus, numCells = 16)
    assert(sql.get.contains(java.lang.Double.toString(centers(0)(0))),
      "oracle SQL does not embed the fitted centroid literals")
  }

  test("session_window merges an event arriving EXACTLY at the gap boundary") {
    // pins the semantics q42's oracle comparator encodes (strict >):
    // events 300 s apart under a "5 minutes" gap share a session; 301 s
    // splits. Found by the r9 10x rehearsal — sf0.01 (the driver tier)
    // carries no exactly-at-gap pair, sf0.1 does (users 812/1298). If a
    // Spark upgrade flips this boundary, this fails before the driver
    // gate does.
    import org.apache.spark.sql.functions._
    val df = spark.range(1).select(
      explode(array(lit(1000L), lit(1300L), lit(1601L))).as("s"))
      .select(lit(1L).as("user_id"), timestamp_seconds(col("s")).as("tss"))
    val out = df.groupBy(col("user_id"), session_window(col("tss"), "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("session_window.start")).as("start"), col("n"))
      .orderBy("start").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Seq((1000L, 2L), (1601L, 1L)))
  }

  test("q28 oracle degrades to rows-only when live fits diverge, recovers on cleanup") {
    // r9 keying: the stash holds one fit per (session, sfDir); the oracle
    // entry exists only while every live fit agrees. A sibling session
    // fitting a DIFFERENT corpus (sf0.01 vs sf0.001) makes the stash
    // ambiguous — oracleSql must drop the entry (rows-only degrade)
    // rather than ship an oracle only one dumped output could match.
    SparkEntry.queries("q28_ann_ivf")(spark, sf001).count()
    assert(SparkEntry.oracleSql.contains("q28_ann_ivf"))
    val s2 = spark.newSession()
    try {
      SparkEntry.queries("q28_ann_ivf")(s2, "/root/testdata/sf0.01").count()
      assert(!SparkEntry.oracleSql.contains("q28_ann_ivf"),
        "divergent live fits must degrade q28 to rows-only")
    } finally SparkEntry.clearSessionCaches(s2)
    // with the ambiguous entry cleared, the original fit gates again
    assert(SparkEntry.oracleSql.contains("q28_ann_ivf"),
      "q28 oracle must recover once the diverging session's stash is cleared")
  }

  test("the IVF fit is deterministic across refits") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$sf001/embeddings.parquet")
    val corpus = e.filter(col("vec_id") % 10 =!= 0)
      .select(col("vec_id").as("item_id"), col("embedding").as("item_vec"))
    val a = operators.SimilaritySearch.fitOrGetCentroids(corpus, numCells = 16, refit = true)
    val b = operators.SimilaritySearch.fitOrGetCentroids(corpus, numCells = 16, refit = true)
    assert(a.length === b.length)
    for (i <- a.indices) assert(a(i).sameElements(b(i)), s"centroid $i differs across refits")
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"query $name runs on sf0.001 and is non-degenerate") {
      val df = fn(spark, sf001)
      val n = df.count()
      // pair queries may legitimately return few rows, but none should error
      assert(n >= 0)
      if (!Set("q22_minhash_pairs", "q23_simhash_pairs", "q15_ngram_jaccard")
        .contains(name)) assert(n > 0, s"$name returned no rows")
    }
  }
}
