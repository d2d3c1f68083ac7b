package graft

import graft.core.{KnnParams, Materialize}
import graft.operators.Knn
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the PHYSICAL plan of the KNN pair-join strategy decision on
  * checkpointed (LogicalRDD) inputs — what the q26 HAR cascade feeds it.
  *
  * Catalyst stats underestimate checkpointed frames (the estimate
  * pre-dates materialization and cannot see generated payload width), so
  * the auto strategy must read the block manager's measured size: a spec
  * failure here means the decision silently flipped — broadcast of a huge
  * train side (driver/executor OOM at scale) or partitioned cartesian of
  * a small one (per-partition shuffle re-reads for nothing).
  */
class PlanShapeSpec extends SparkTestBase {

  /** harSynth's shape: generated 561-point series behind a localCheckpoint. */
  private def synth(n: Int, offset: Int, idCol: String, seriesCol: String): DataFrame =
    spark.range(n).select(
      (col("id") + offset).as(idCol),
      pmod(col("id") + offset, lit(6)).cast("double").as("label"),
      call_function("graft_har_series", col("id") + offset, lit(561)).as(seriesCol))

  private val harParams = KnnParams(distance = "dtw", band = 56,
    lbPruning = true, candidateFactor = 16, coarsenFactor = 8)

  /** No BroadcastExchange anywhere in the plan may carry `payloadCol` —
    * catches broadcast HASH joins rebuilding an oversize side from lying
    * stats, not just the pair joins.
    */
  private def assertNoPayloadBroadcast(df: DataFrame, payloadCol: String): Unit = {
    val offending = df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
          if b.output.exists(_.name.startsWith(payloadCol)) => b
    }
    assert(offending.isEmpty,
      s"$payloadCol must never sit under a BroadcastExchange:\n${offending.mkString("\n")}")
  }

  test("storageBytes measures what stats cannot see on a checkpointed frame") {
    val ck = synth(500, 0, "train_id", "train_series").localCheckpoint()
    try {
      val planBytes = ck.queryExecution.optimizedPlan.stats.sizeInBytes
      val measured = Materialize.storageBytes(ck)
      assert(measured.isDefined, "checkpointed frame must report storage bytes")
      // 500 rows x 561 doubles is ~2.2 MB materialized; the range-derived
      // estimate is a few KB — an order-of-magnitude blind spot
      assert(measured.get > planBytes * 10,
        s"expected measured >> estimated, got measured=${measured.get} plan=$planBytes")
      assert(Materialize.storageBytes(spark.range(10).toDF("id")).isEmpty,
        "non-persisted frames report None")
    } finally Materialize.releaseCheckpoint(ck)
  }

  test("q26 cascade on broadcastable checkpointed inputs plans BroadcastNestedLoopJoin") {
    val train = synth(400, 0, "train_id", "train_series").localCheckpoint()
    val test = synth(60, 1000000, "test_id", "test_series")
      .select(col("test_id"), col("test_series")).localCheckpoint()
    try {
      val pred = Knn.classify1NN(train, test, harParams)
      val plan = pred.queryExecution.sparkPlan.toString
      assert(plan.contains("BroadcastNestedLoopJoin"),
        s"expected the pair joins to broadcast the train side, plan:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        "broadcastable train must not fall back to partitioned cartesian")
    } finally { Materialize.releaseCheckpoint(train); Materialize.releaseCheckpoint(test) }
  }

  test("oversize train, small test: the TEST side broadcasts, train streams") {
    // effective limit is max(autoBroadcastJoinThreshold=10m default,
    // floor): lower the floor so the 10m threshold governs, then cross
    // it with ~14 MB MEASURED train (the stats estimate is a few KB and
    // would keep broadcasting — only the block-manager size crosses)
    spark.conf.set("spark.graft.knn.broadcastFloor", "1m")
    val train = synth(3000, 0, "train_id", "train_series").localCheckpoint()
    val test = synth(40, 1000000, "test_id", "test_series")
      .select(col("test_id"), col("test_series")).localCheckpoint()
    try {
      val pred = Knn.classify1NN(train, test, harParams)
      val bnlj = pred.queryExecution.sparkPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }
      assert(bnlj.nonEmpty, "expected pair joins to broadcast the small test side")
      assert(bnlj.forall(_.right.output.exists(_.name.startsWith("test_id"))),
        "the broadcast (build-right) side must be the TEST side — the " +
          "oversize train side must stream, never replicate")
      // EVERY broadcast in the plan, hash joins included (the payload
      // join-back!), must be free of the oversize train payload
      assertNoPayloadBroadcast(pred, "train_series")
    } finally {
      spark.conf.unset("spark.graft.knn.broadcastFloor")
      Materialize.releaseCheckpoint(train); Materialize.releaseCheckpoint(test)
    }
  }

  test("as-of join plans as ONE hash exchange + window — no join operator") {
    val l = spark.range(100).select(col("id").as("event_id"),
      pmod(col("id"), lit(5)).as("key"), (col("id") * 7).as("ts"))
    val r = spark.range(100).select(col("id").as("event_id"),
      pmod(col("id"), lit(5)).as("key"), (col("id") * 3).as("ts"),
      col("id").cast("double").as("value"))
    val out = graft.operators.AsofJoin.asofBackward(
      l, r, Seq("key"), "ts", Seq("event_id", "value"))
    // executedPlan: sparkPlan pre-dates EnsureRequirements, which is
    // what inserts the Exchange this test pins
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"as-of must not plan a join:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1,
      s"expected exactly one hash exchange (the key shuffle), got:\n$plan")
  }

  test("range join plans as an equi join — never a nested loop") {
    val l = spark.range(100).select(col("id").as("event_id"),
      pmod(col("id"), lit(5)).as("key"), (col("id") * 7).as("ts"))
    val r = spark.range(100).select(col("id").as("event_id"),
      pmod(col("id"), lit(5)).as("key"), (col("id") * 3).as("ts"))
    val out = graft.operators.RangeJoin.rangePairs(
      l, r, Seq("key"), "ts", -100L, 100L, Seq("event_id"))
    val plan = out.queryExecution.sparkPlan
    val loops = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }
    assert(loops.isEmpty, s"range join must bucket to an equi join:\n$plan")
    val equi = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec if j.leftKeys.nonEmpty => j
    }
    assert(equi.nonEmpty, s"expected an equi join on (key, bucket):\n$plan")
  }

  test("k-fold CV on an oversize input never broadcasts the vector payload") {
    // CV's pair join feeds the WHOLE table in as both sides; on an
    // oversize (measured) input the strategy must degrade to a
    // partitioned cartesian — the round-5 unconditional broadcast(train)
    // OOMed executors at any real training-data scale
    spark.conf.set("spark.graft.knn.broadcastFloor", "1m")
    val big = spark.range(3000).select(
      col("id"),
      call_function("graft_har_series", col("id"), lit(561)).as("v"),
      pmod(col("id"), lit(6)).as("label")).localCheckpoint()
    try {
      val acc = graft.operators.CrossValidation
        .kfold1NNAccuracy(big, "id", "v", "label", folds = 5)
      val plan = acc.queryExecution.sparkPlan.toString
      assert(plan.contains("CartesianProduct"),
        s"oversize CV input must fall back to partitioned cartesian, plan:\n$plan")
      assertNoPayloadBroadcast(acc, "v")
      assertNoPayloadBroadcast(acc, "tv")
    } finally {
      spark.conf.unset("spark.graft.knn.broadcastFloor")
      Materialize.releaseCheckpoint(big)
    }
  }

  test("neither side fits: forced partitioned cartesian, no silent broadcast") {
    spark.conf.set("spark.graft.knn.broadcastFloor", "1m")
    val train = synth(3000, 0, "train_id", "train_series").localCheckpoint()
    val test = synth(3000, 1000000, "test_id", "test_series")
      .select(col("test_id"), col("test_series")).localCheckpoint()
    try {
      val pred = Knn.classify1NN(train, test, harParams)
      val plan = pred.queryExecution.sparkPlan.toString
      // Catalyst's own stats underestimate both checkpointed sides and
      // would BNLJ an unhinted cross join — the shuffle_replicate_nl
      // hint must win
      assert(plan.contains("CartesianProduct"),
        s"expected a true partitioned cartesian when neither side fits, plan:\n$plan")
      // neither payload may ride a BroadcastExchange anywhere in the plan
      assertNoPayloadBroadcast(pred, "train_series")
      assertNoPayloadBroadcast(pred, "test_series")
    } finally {
      spark.conf.unset("spark.graft.knn.broadcastFloor")
      Materialize.releaseCheckpoint(train); Materialize.releaseCheckpoint(test)
    }
  }

  test("int8TopK on an oversize corpus never broadcasts the corpus payload") {
    // int8 shrinks the corpus 8x, but an unbroadcastable corpus stays
    // unbroadcastable (12.5 TB at the 100 TB tier) — the r6 unconditional
    // broadcast(cq) must degrade to the measured-size strategy: query
    // side broadcasts (bounded), quantized corpus STREAMS, and the exact
    // rerank streams the full-precision corpus against slim broadcast
    // candidates.
    spark.conf.set("spark.graft.knn.broadcastFloor", "1m")
    val corpus = spark.range(3000).select(col("id").as("item_id"),
      call_function("graft_har_series", col("id"), lit(561)).as("item_vec"))
      .localCheckpoint()
    val queries = spark.range(40).select(col("id").as("query_id"),
      call_function("graft_har_series", col("id") + 5000, lit(561)).as("query_vec"))
      .localCheckpoint()
    try {
      val out = graft.operators.SimilaritySearch.int8TopK(queries, corpus, 5)
      // neither the quantized (c8) nor full-precision (cv/item_vec)
      // corpus payload may sit on the BUILD side of any broadcast join
      // (sparkPlan pre-dates exchange insertion, so pin the join nodes)
      import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
      val buildSides = out.queryExecution.sparkPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
          (if (j.buildSide == BuildLeft) j.left else j.right).output
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec =>
          (if (j.buildSide == BuildLeft) j.left else j.right).output
      }
      val offending = buildSides.filter(_.exists(a =>
        a.name.startsWith("c8") || a.name.startsWith("cv") || a.name.startsWith("item_vec")))
      assert(offending.isEmpty,
        s"oversize corpus payload must never broadcast, offending build sides: $offending")
    } finally {
      spark.conf.unset("spark.graft.knn.broadcastFloor")
      Materialize.releaseCheckpoint(corpus); Materialize.releaseCheckpoint(queries)
    }
  }

  test("int8TopK on a broadcastable corpus still broadcasts it (fast path)") {
    val corpus = spark.range(300).select(col("id").as("item_id"),
      call_function("graft_har_series", col("id"), lit(64)).as("item_vec"))
      .localCheckpoint()
    val queries = spark.range(20).select(col("id").as("query_id"),
      call_function("graft_har_series", col("id") + 5000, lit(64)).as("query_vec"))
      .localCheckpoint()
    try {
      val out = graft.operators.SimilaritySearch.int8TopK(queries, corpus, 5)
      // sparkPlan pre-dates EnsureRequirements (no BroadcastExchange yet):
      // pin the BNLJ build side instead
      val bnljC8 = out.queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
            if b.right.output.exists(_.name.startsWith("c8")) => b
      }
      assert(bnljC8.nonEmpty,
        "a small quantized corpus must take the broadcast prefilter path")
    } finally {
      Materialize.releaseCheckpoint(corpus); Materialize.releaseCheckpoint(queries)
    }
  }

  test("lshTopK bucket exchange carries slim triples, never vector payloads") {
    val corpus = spark.range(300).select(col("id").as("item_id"),
      call_function("graft_har_series", col("id"), lit(16)).as("item_vec"))
    val queries = spark.range(20).select(col("id").as("query_id"),
      call_function("graft_har_series", col("id") + 5000, lit(16)).as("query_vec"))
    val out = graft.operators.SimilaritySearch.lshTopK(
      queries, corpus, 5, dim = 16, bits = 6, tables = 4)
    // every exchange that moves bucket keys (the candidate-generation
    // shuffle, `tables`x the corpus row count) must be payload-free —
    // vectors join back by id only for the exact rerank
    val offending = out.queryExecution.sparkPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.output.exists(_.name == "bucket") &&
            e.output.exists(a => a.name.startsWith("qv") || a.name.startsWith("cv")) => e
    }
    assert(offending.isEmpty,
      s"bucket-join exchange must not carry vector payloads:\n${offending.mkString("\n")}")
  }

  test("stream-static KNN still plans broadcast when the train side exceeds the floor") {
    // regression: an oversize train used to route the STREAMING test
    // frame into fitsBroadcast, whose optimizedPlan.stats evaluation
    // throws on streaming sources — the flagship streaming query died
    // instead of taking the only executable stream-static plan
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val prevFloor = spark.conf.getOption("spark.graft.knn.broadcastFloor")
    spark.conf.set("spark.graft.knn.broadcastFloor", "1")
    try {
      val train = spark.range(50).select(col("id").as("train_id"),
        call_function("graft_har_series", col("id"), lit(8)).as("train_series"),
        pmod(col("id"), lit(6)).cast("double").as("label"))
      val stream = MemoryStream[Long]
      val test = stream.toDF().select(col("value").as("test_id"),
        call_function("graft_har_series", col("value") + 100, lit(8)).as("test_series"))
      val out = graft.streaming.StreamingClassify.classifyStream1NN(
        train, test, KnnParams(distance = "euclidean"))
      val qname = s"psb_${System.nanoTime()}"
      val q = out.writeStream.outputMode("update").format("memory")
        .queryName(qname).start()
      try {
        stream.addData(1L, 2L, 3L)
        q.processAllAvailable()
      } finally q.stop()
      assert(spark.table(qname).count() === 3)
    } finally {
      prevFloor match {
        case Some(v) => spark.conf.set("spark.graft.knn.broadcastFloor", v)
        case None    => spark.conf.unset("spark.graft.knn.broadcastFloor")
      }
    }
  }

  test("stream-static 1-NN over a one-block train runs stateless and equals batch classify1NN") {
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    import org.apache.spark.sql.execution.streaming.operators.stateful.{StateStoreRestoreExec, StateStoreSaveExec}
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val train = synth(300, 0, "train_id", "train_series").localCheckpoint()
    try {
      val p = KnnParams(distance = "euclidean")
      assert(Knn.oneBlock(train.select("train_id", "train_series", "label"), p),
        "fixture premise: the train side fits one block")
      val stream = MemoryStream[Long]
      def testSide(ids: DataFrame) = ids.select(col("value").as("test_id"),
        call_function("graft_har_series", col("value") + 100000, lit(561)).as("test_series"))
      val qname = s"psl_${System.nanoTime()}"
      val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val out = graft.streaming.StreamingClassify.classifyStream1NN(train, testSide(stream.toDF()), p)
      // the static block is packed once, at definition, as one owned persist
      val packed = spark.sparkContext.getPersistentRDDs.keySet.toSet.diff(persistedBefore)
      assert(packed.size === 1, s"expected one persisted block RDD, got $packed")
      val q = out.writeStream.outputMode("update").format("memory").queryName(qname).start()
      try {
        stream.addData(1L to 20L: _*)
        q.processAllAvailable()
        stream.addData(21L to 30L: _*)
        q.processAllAvailable()
        val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
        val stateful = plan.collect {
          case s: StateStoreSaveExec => s
          case r: StateStoreRestoreExec => r
        }
        assert(stateful.isEmpty, s"one-block stream must be stateless, plan:\n$plan")
      } finally q.stop()
      Materialize.releaseOwned(out)
      assert(spark.sparkContext.getPersistentRDDs.keySet.toSet.intersect(packed).isEmpty,
        "releaseOwned on the stream result must free the packed block")
      val batch = Knn.classify1NN(train, testSide((1L to 30L).toDF("value")), p)
      assert(spark.table(qname).collect().map(_.toSeq).toSet ===
        batch.collect().map(_.toSeq).toSet)
    } finally Materialize.releaseCheckpoint(train)
  }

  test("partitioned layout: a partition-column filter prunes at the directory level") {
    val stage = java.nio.file.Files.createTempDirectory("graft_part_spec")
    val ev = spark.range(1000).select(
      col("id").as("event_id"),
      (col("id") % 7).as("user_id"),
      (col("id") % 5).cast("string").as("event_type"))
    graft.operators.Partitioning.writePartitioned(
      ev, stage.toString, Seq("event_type"))
    val read = spark.read.parquet(stage.toString)
      .filter(col("event_type") === "3")
    val scans = read.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val scan = scans.head
    // the filter must land in PartitionFilters (directory pruning, no
    // footer reads outside the matching partition), not as a data filter
    assert(scan.partitionFilters.exists(_.toString.contains("event_type")),
      s"partition filter missing: ${scan.partitionFilters}")
    assert(scan.relation.location.inputFiles.length > 1, "layout must be multi-dir")
    assert(scan.inputRDDs().head.partitions.nonEmpty)
    // selected partitions: exactly the one matching directory (replay
    // the scan's own pruning through the public FileIndex API)
    val selected = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters).length
    assert(selected === 1, s"expected 1 pruned partition dir, got $selected")
    assert(read.count() === 200)
  }

  test("estimateTrusted fails closed on non-file relations; the pair join " +
      "plans partitioned (r16 advisory: the leaf CLASSES also cover " +
      "JDBC/connector reads whose sizeInBytes is connector-supplied)") {
    // a v1 LogicalRelation that is NOT a HadoopFsRelation — the
    // JDBC/custom-connector shape, whose size estimate can under-report
    // by any factor; trusting it would let fitsBroadcast replicate an
    // arbitrarily large side to every executor
    val nonFile = spark.read
      .format(classOf[graft.testsources.UnstableRelationProvider].getName)
      .load()
    assert(nonFile.queryExecution.optimizedPlan.collectLeaves().exists(
      _.isInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation]),
      "test premise: the custom source must plan as a v1 LogicalRelation")
    assert(!Materialize.estimateTrusted(nonFile),
      "a non-HadoopFs LogicalRelation (JDBC class) must fail the size " +
        "trust gate — same narrowing as stableForRowId (r16)")
    // ... while provably FILE-backed and literal leaves stay trusted
    assert(Materialize.estimateTrusted(
      spark.read.parquet(s"$sf001/nation.parquet")),
      "a parquet scan (HadoopFsRelation) must stay size-trusted")
    assert(Materialize.estimateTrusted(
      spark.sql("SELECT * FROM VALUES (1, 'a'), (2, 'b') AS t(id, v)")),
      "a LocalRelation must stay size-trusted")
    // end-to-end: a KNN whose BOTH sides root at the untrusted relation
    // must refuse every broadcast and degrade to the partitioned
    // cartesian (shuffle_replicate_nl), never gamble on the estimate
    val train = nonFile.select(col("v").as("train_id"),
      call_function("graft_har_series", col("v"), lit(8)).as("train_series"),
      pmod(col("v"), lit(2)).cast("double").as("label"))
    val test = nonFile.select(col("v").as("test_id"),
      call_function("graft_har_series", col("v") + 100, lit(8)).as("test_series"))
    val pred = Knn.classify(train, test, KnnParams(k = 1, distance = "euclidean"))
    val plan = pred.queryExecution.sparkPlan
    val pairBroadcasts = plan.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
          if b.output.exists(a =>
            a.name.startsWith("train_series") || a.name.startsWith("test_series")) => b
    }
    assert(pairBroadcasts.isEmpty,
      s"no pair-join side rooted at an untrusted relation may broadcast:\n$plan")
    assert(plan.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.nonEmpty,
      s"expected the partitioned-cartesian degrade path, plan:\n$plan")
    // and the result is still correct (each test row 1NN-matches itself
    // shifted — just assert it evaluates and covers every test row)
    assert(pred.count() === 20)
  }
}
