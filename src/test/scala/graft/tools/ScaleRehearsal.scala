package graft.tools

import graft.core.KnnParams
import graft.operators.{Dedup, Knn, SimilaritySearch}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One-off 10x scale rehearsal (round-7 directive #5): measure the two
  * headline scale claims instead of arguing them from plan audits.
  *
  *   1. q26's DTW prune cascade at the FULL published HAR size
  *      (73520 train x 29470 test x 561 — 10x the sf0.1 tier the bench
  *      measures), checking the strategy decisions degrade as designed
  *      (train+test payloads oversize -> nothing payload-heavy broadcasts)
  *      and recording wall time.
  *   2. q22/q27's MinHash-LSH dedup + cluster propagation on a 10x
  *      document corpus (50k docs = 10 shifted copies of sf0.1's 5000 —
  *      each doc gains 9 exact duplicates, the duplicate-heavy shape a
  *      dedup pipeline exists for), same banding as q22.
  *   3. streaming watermarked dedup over a genuinely multi-batch run:
  *      10 staged copies of sf0.1's events = 1M rows across 10
  *      micro-batches (maxFilesPerTrigger=1), content-keyed
  *      `dropDuplicatesWithinWatermark`. Measures sustained state-store
  *      throughput and — because every copy repeats the same digests and
  *      the watermark advances batch over batch — exercises the state
  *      EVICTION path the bounded q68 replay structurally cannot.
  *
  * Run: SPARK_DRIVER_MEM=48g sbt "Test/runMain graft.tools.ScaleRehearsal"
  * Results land in NOTES_r7.md (written by hand from this output).
  */
object ScaleRehearsal {

  /** Injected-fault counter for the `faults` case. A plain static works
    * because local-mode executors share the driver JVM and classloader;
    * a LongAccumulator would be ambiguous here (accumulator updates from
    * FAILED task attempts are not uniformly applied), and the count must
    * include the failed attempts — they ARE the injections.
    */
  private val injectedFailures = new java.util.concurrent.atomic.AtomicLong(0)

  /** One-shot latch for the `streamrecovery` torn-batch injection. */
  private val tornOnce = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def timed[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[rehearsal] $name: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    r
  }

  /** Join-operator census of an adaptive FINAL plan — call only AFTER
    * the frame's own QueryExecution has executed (with AQE on, the
    * pre-execution sparkPlan can differ from the runtime-replanned
    * tree). Query stages are leaves in the adaptive tree, so unwrap
    * them explicitly. Returns (joinKinds, bnljCount, cartesianCount).
    */
  private def finalJoinShape(
      plan: org.apache.spark.sql.execution.SparkPlan): (String, Int, Int) = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val kinds = scala.collection.mutable.ArrayBuffer.empty[String]
    var bnlj = 0
    var cart = 0
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other =>
        other match {
          case _: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => kinds += "broadcast"
          case _: org.apache.spark.sql.execution.joins.SortMergeJoinExec => kinds += "sortmerge"
          case _: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => kinds += "shuffledhash"
          case _: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => bnlj += 1
          case _: org.apache.spark.sql.execution.joins.CartesianProductExec => cart += 1
          case _ =>
        }
        other.children.foreach(walk)
    }
    walk(plan)
    (kinds.mkString(","), bnlj, cart)
  }

  private def planAudit(name: String, df: DataFrame, payloads: Seq[String]): Unit = {
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    val plan = df.queryExecution.sparkPlan
    val buildSides = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        (if (j.buildSide == BuildLeft) j.left else j.right).output.map(_.name)
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec =>
        (if (j.buildSide == BuildLeft) j.left else j.right).output.map(_.name)
    }
    val offending = buildSides.filter(_.exists(n => payloads.exists(n.startsWith)))
    val cart = plan.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.size
    println(s"[rehearsal] $name plan: broadcastBuildSides=${buildSides.size} " +
      s"cartesian=$cart payloadBroadcasts=${offending.size}")
    offending.foreach(o => println(s"[rehearsal]   OFFENDING build side: $o"))
  }

  /** The operator probe matrix shared by the `faults` (task-retry) and
    * `specfaults` (speculative duplicate-attempt) rehearsals: each entry
    * builds a gate operator's frame with an injecting wrapper applied to
    * the lineage the case targets. The wrapper decides WHAT to inject
    * (a thrown first attempt, a slowed first attempt, or nothing for
    * the control run of identical lineage shape).
    */
  private def faultChecks(spark: SparkSession, sf: String)
      : Seq[(String, (DataFrame => DataFrame) => DataFrame)] = {
    import graft.ingest.SeriesIngest
    import graft.operators.{AsofJoin, Partitioning}
    val events = spark.read.parquet(s"$sf/events.parquet")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_custkey").as("custkey"), col("o_orderkey"),
        col("o_totalprice"))
    val customer = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey").as("custkey"), col("c_name"))
    val embQ = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    def embC(w: DataFrame => DataFrame) = w(emb)
      .select(col("vec_id").as("item_id"), col("embedding").as("item_vec"))
    val L = 32
    def synth(n: Int, offset: Int, idCol: String, seriesCol: String) =
      spark.range(n).select(
        (col("id") + offset).as(idCol),
        pmod(col("id") + offset, lit(6)).cast("double").as("label"),
        call_function("graft_har_series", col("id") + offset, lit(L)).as(seriesCol))

    // Each check: injector -> result frame. The injector is applied to
    // the frame whose recompute path the check targets.
    Seq(
      // rows neither lost nor duplicated across a retried scan
      "scan_identity" -> (w => w(events)),
      // hash-agg with partial (map-side) aggregation under retry
      "groupby_agg" -> (w => w(events).groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("s"))),
      // retry DOWNSTREAM of a shuffle: the injected task is a consumer
      // of the agg's shuffle output and re-reads it on its 2nd attempt
      "agg_then_retry" -> (w => w(events.groupBy("user_id")
        .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("s")))),
      // order-sensitive id scheme: (partitionIdx, position) offsets
      "rowid_scan" -> (w => SeriesIngest.withRowId(w(docs))),
      // ids AFTER a round-robin shuffle (the sortBeforeRepartition path)
      "rowid_roundrobin" -> (w => SeriesIngest.withRowId(w(docs).repartition(7))),
      // the r13 safe form: ids after the SAME shuffle but through
      // withRowIdSorted(uniqueKey). Deliberately NOT named rowid_* so it
      // gets the EXACT canon (ids included): the sorted form's whole
      // contract is that the id-to-row pairing is a pure function of
      // the data — bit-identical between control and injected runs,
      // where plain withRowId above can only promise the permutation
      "sorted_rowid_shuffle" -> (w => SeriesIngest.withRowIdSorted(
        w(docs).repartition(7), Seq("doc_id"))),
      // keep-first exact dedup (min_by aggregate)
      "dedup_keepfirst" -> (w => graft.operators.Dedup
        .dropExactDuplicates(w(docs), "doc_id", "text")),
      // MID-based salt assignment feeding a replicated join
      "salted_join" -> (w => Partitioning.saltedJoin(w(orders), customer,
        "custkey", salt = 4)),
      // full-window as-of pick over a retried union
      "asof_backward" -> { w =>
        val ev = w(events)
        val views = ev.filter(col("event_type") === "view")
          .select("user_id", "ts", "event_id")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("user_id", "ts", "value")
        AsofJoin.asofBackward(views, purchases, Seq("user_id"), "ts", Seq("value"))
      },
      // bounded-heap top-k (TypedImperativeAggregate partials) with a
      // broadcast corpus whose build job itself gets retried
      "ann_brute_topk" -> (w => graft.operators.SimilaritySearch
        .bruteForceTopK(embQ, embC(w), k = 5)),
      // flagship KNN vote chain: distances -> heap -> majority vote
      "knn_vote" -> { w =>
        val train = w(synth(600, 0, "train_id", "train_series"))
        val test = synth(100, 1000000, "test_id", "test_series")
          .select(col("test_id"), col("test_series"))
        Knn.classify(train, test, KnnParams(k = 5, distance = "euclidean"))
      })  }

  def main(args: Array[String]): Unit = {
    // The `faults` case needs task RETRIES enabled (local mode defaults
    // to maxFailures=1, where the first injected failure is fatal);
    // local[16, 4] = 16 threads, 4 attempts per task. The `specfaults`
    // case needs a REAL multi-executor cluster with DISTINCT worker
    // hostnames: TaskSchedulerImpl guards the speculation checker with
    // !isLocal (local mode never duplicates an attempt), and
    // local-cluster registers both workers under ONE hostname, which
    // dequeueSpeculativeTask's hasAttemptOnHost filter then rejects —
    // measured here first: 10/10 probes VACUOUS-NO-SPECULATION under
    // local-cluster[2,2,1024] despite 3 s stragglers. GraftMiniCluster
    // starts the same in-process master + 2 executor JVMs (2 cores,
    // 1 GiB each) but under the container's two loopback aliases, so a
    // duplicate attempt has a legal host. Every other case keeps the
    // standard local[32] bench-shaped master.
    val isSpec = args.contains("specfaults")
    val master = if (args.contains("faults")) "local[16, 4]"
      else if (isSpec)
        org.apache.spark.deploy.GraftMiniCluster.start(
          new org.apache.spark.SparkConf(), Seq("runsc", "vm"),
          cores = 2, memoryMb = 1024)
      else "local[32]"
    val base = graft.GraftSession.builder(master, if (isSpec) 8 else 32)
      .config("spark.ui.enabled", "false")
    val builder = if (!isSpec) base else {
      // Executor JVMs are spawned by the in-process Worker through
      // SPARK_HOME's launcher: they get Spark's jars from SPARK_HOME
      // but NOT this build's classes or the JDK17 module opens — both
      // must ride the executor conf explicitly (sbt forks this JVM
      // with a full -classpath, so java.class.path carries everything
      // the executors need).
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
        .config("spark.speculation", "true")
        // quantile 0.5 of an 8-task stage: the checker activates once 4
        // tasks finish — the 6 fast tasks always clear it while the 2
        // slowed ones straggle (the default 0.75 would too, but with no
        // slack for scheduling order on 4 total cores)
        .config("spark.speculation.quantile", "0.5")
        .config("spark.speculation.interval", "100ms")
        // a speculative copy's ONLY legal host is the non-local one
        // (hasAttemptOnHost excludes the original's), and the default
        // 3 s locality wait is as long as the injected straggle — the
        // copy would intermittently never launch before the original
        // woke up (measured: 4/10 probes vacuous without this)
        .config("spark.locality.wait", "0")
        .config("spark.executor.memory", "1024m")
        .config("spark.executor.extraClassPath",
          System.getProperty("java.class.path"))
        .config("spark.executor.extraJavaOptions",
          addOpens + " -Dfile.encoding=UTF-8")
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val which = if (args.isEmpty) Set("har", "dedup", "stream", "ann") else args.toSet

    if (which("har")) {
      // ---- 1. HAR cascade at sf1 (the reference's full corpus size) ----
      val L = 561
      def synth(n: Int, offset: Int, idCol: String, seriesCol: String) =
        spark.range(n).select(
          (col("id") + offset).as(idCol),
          pmod(col("id") + offset, lit(6)).cast("double").as("label"),
          call_function("graft_har_series", col("id") + offset, lit(L)).as(seriesCol))
      val train = timed("har synth+checkpoint train (73520x561)") {
        val t = synth(73520, 0, "train_id", "train_series").localCheckpoint(); t.count(); t
      }
      val test = timed("har synth+checkpoint test (29470x561)") {
        val t = synth(29470, 1000000, "test_id", "test_series")
          .select(col("test_id"), col("test_series")).localCheckpoint()
        t.count(); t
      }
      val harParams = KnnParams(distance = "dtw", band = 56,
        lbPruning = true, candidateFactor = 16, coarsenFactor = 8)
      val pred = Knn.classify1NN(train, test, harParams)
      planAudit("har_sf1_cascade", pred, Seq("train_series", "test_series"))
      // persist + count = ONE cascade execution materializing all columns
      // (the earlier write-then-count shape ran the whole cascade twice
      // inside the timed block and a third time for the accuracy check —
      // NOTES_r7's first 151.7 s figure carries that 2x overstatement)
      val cached = pred.persist()
      val n = timed("har sf1 cascade (classify1NN, 73520x29470x561)") {
        cached.count()
      }
      // separable classes: predicted == test_id % 6 everywhere (from cache)
      val correct = cached.filter(col("predicted_label") === pmod(col("test_id"), lit(6))).count()
      println(s"[rehearsal] har sf1: rows=$n correct=$correct (expect $n)")
      cached.unpersist()
      graft.core.Materialize.releaseCheckpoint(train)
      graft.core.Materialize.releaseCheckpoint(test)
    }

    if (which("dedup")) {
      // ---- 2. MinHash LSH dedup + clusters on a 10x corpus ----
      val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      val big = timed("dedup corpus build (50k docs = 10 shifted copies)") {
        val d = docs.select(col("doc_id"), col("text"))
          .crossJoin(spark.range(10).select(col("id").as("rep")))
          .select((col("doc_id") + col("rep") * lit(1000000L)).as("doc_id"), col("text"))
          .localCheckpoint()
        d.count(); d
      }
      val pairs = Dedup.minhashLshPairs(big, "doc_id", "text",
        shingleSize = 2, numHashes = 96, numBands = 32, threshold = 0.3, roundDp = 6)
      planAudit("dedup_10x_pairs", pairs, Seq("text", "sh", "sig"))
      val np = timed("minhashLshPairs on 50k docs (q22 banding)")(pairs.count())
      println(s"[rehearsal] dedup 10x: verified near-dup pairs=$np")
      val clusters = Dedup.duplicateClusters(big, "doc_id", "text",
        shingleSize = 2, threshold = 0.3)
      val nc = timed("duplicateClusters on 50k docs (q27 config)") {
        clusters.select(countDistinct(col("cluster_id"))).collect()(0).getLong(0)
      }
      println(s"[rehearsal] dedup 10x: clusters=$nc over ${big.count()} docs")
      graft.core.Materialize.releaseCheckpoint(big)
    }

    if (which("ann")) {
      // ---- 4. ANN operators on a 600x corpus (round-7 restructures) ----
      // 1.2M vectors puts the int8-QUANTIZED corpus (1.2M x 64 B ~ 77 MB)
      // above the 64 MB broadcast floor, so the rehearsal exercises the
      // measured-size FALLBACK paths the r6 verdict asked for — not the
      // small-corpus broadcast fast path the bench tier takes.
      val base = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      val corpus = timed("ann corpus build (1.2M vectors = 600 id-shifted copies)") {
        val c = base.crossJoin(spark.range(600).select(col("id").as("rep")))
          .select((col("vec_id") + col("rep") * lit(1000000L)).as("item_id"),
            col("embedding").cast("array<double>").as("item_vec"))
          .localCheckpoint()
        c.count(); c
      }
      println(s"[rehearsal] ann corpus measured bytes=" +
        graft.core.Materialize.storageBytes(corpus).getOrElse(BigInt(-1)))
      val queries = base.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("query_vec"))
        .localCheckpoint()
      queries.count()

      // (a) sign-LSH: slim (table, bucket, id) exchange, payload join-back
      val lsh = SimilaritySearch.lshTopK(queries, corpus, k = 5, dim = 64)
      planAudit("ann_lsh_600x", lsh, Seq("query_vec", "item_vec", "qv", "cv"))
      val nl = timed("lshTopK on 1.2M corpus x 200 queries")(lsh.count())
      println(s"[rehearsal] ann lsh: result rows=$nl")

      // (b) int8 prefilter: quantized corpus above the floor -> the
      // corpus STREAMS through the pinned hash joins; only the bounded
      // query-side frames broadcast (q8 prefilter probes, then the slim
      // per-query candidate list for the exact rerank)
      val i8 = SimilaritySearch.int8TopK(queries, corpus, k = 5)
      planAudit("ann_int8_600x", i8, Seq("item_vec", "cv", "c8"))
      val ni = timed("int8TopK (240M quantized pairs prefilter + exact rerank)")(i8.count())
      println(s"[rehearsal] ann int8: result rows=$ni")

      // (c) IVF: bounded seeded sample fit, probe 4/16 cells, exact rerank
      val ivf = SimilaritySearch.ivfTopK(queries, corpus, k = 5)
      planAudit("ann_ivf_600x", ivf, Seq("item_vec", "cv"))
      val nv = timed("ivfTopK (16 cells, 4 probes, sampled fit)")(ivf.count())
      println(s"[rehearsal] ann ivf: result rows=$nv")

      graft.core.Materialize.releaseCheckpoint(corpus)
      graft.core.Materialize.releaseCheckpoint(queries)
    }

    if (which("ivfshuffle")) {
      // ---- 5b. IVF 1000x degrade path: the shuffle-on-`cell` plan ----
      // (round-9 directive #4) The q32/q32b 10x flip audit NAMES this
      // plan — "at 1000x neither side fits the broadcast threshold and
      // the probe join degrades to a shuffle on `cell`" — but no
      // rehearsal had ever executed it. Force the shape: 1.2M-vector
      // corpus, 20k queries (x4 probe rows each), broadcast disabled
      // entirely (the 100 TB case where BOTH sides exceed the driver).
      // Pins: the probe join is a SHUFFLE join keyed on `cell` — NO
      // BroadcastNestedLoopJoin, NO CartesianProduct — and the join
      // stage's parallelism is bounded by OCCUPIED CELLS, which is the
      // measured argument for why `ivfTopK` takes `numCells` explicitly
      // (a 16-cell index shuffles into <=16 occupied partitions no
      // matter how many executors exist; cells must scale with corpus).
      val base = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      val corpus = timed("ivfshuffle corpus build (1.2M vectors)") {
        val c = base.crossJoin(spark.range(600).select(col("id").as("rep")))
          .select((col("vec_id") + col("rep") * lit(1000000L)).as("item_id"),
            col("embedding").cast("array<double>").as("item_vec"))
          .localCheckpoint()
        c.count(); c
      }
      val queries = timed("ivfshuffle query build (20k queries)") {
        val q = base.filter(col("vec_id") % 10 === 0)
          .crossJoin(spark.range(100).select(col("id").as("qrep")))
          .select((col("vec_id") + col("qrep") * lit(1000000L)).as("query_id"),
            col("embedding").cast("array<double>").as("query_vec"))
          .localCheckpoint()
        q.count(); q
      }
      // (final-plan join census shared with the tier100 case: see
      // finalJoinShape at the object level)
      // per-stage shuffle-read record distribution: with a cell-keyed
      // exchange, tasks-with-records at the join stage <= occupied cells
      val stageRec = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long, Long)]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val rec = Option(e.taskMetrics)
            .map(_.shuffleReadMetrics.recordsRead).getOrElse(0L)
          if (rec > 0)
            stageRec.merge(e.stageId, (1, rec, rec), (a, b) =>
              (a._1 + b._1, math.max(a._2, b._2), a._3 + b._3))
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        Seq(16, 256).foreach { cells =>
          val ivf = SimilaritySearch.ivfTopK(queries, corpus, k = 5,
            numCells = cells)
          stageRec.clear()
          // Execute through the frame's OWN QueryExecution (a count()
          // plans a separate tree) so the adaptive plan asserted on
          // below is exactly the one that ran.
          val qe = ivf.queryExecution
          val n = timed(s"ivfTopK shuffle-on-cell (cells=$cells, 1.2Mx20k)") {
            spark.sparkContext.runJob(qe.toRdd,
              (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
                var c = 0L; while (it.hasNext) { it.next(); c += 1 }; c
              }).sum
          }
          val (kinds, bnlj, cart) = finalJoinShape(qe.executedPlan)
          println(s"[rehearsal] ivfshuffle cells=$cells final plan: joins=$kinds " +
            s"bnlj=$bnlj cartesian=$cart")
          assert(bnlj == 0 && cart == 0,
            s"degrade path must not execute BNLJ/cartesian (got bnlj=$bnlj cart=$cart)")
          assert(kinds.contains("sortmerge") || kinds.contains("shuffledhash"),
            s"probe join must shuffle on cell (got: $kinds)")
          Thread.sleep(500) // async listener bus tail
          import scala.jdk.CollectionConverters._
          stageRec.asScala.toSeq.sortBy(-_._2._3).take(2).foreach {
            case (sid, (tasks, maxRec, sumRec)) =>
              println(s"[rehearsal] ivfshuffle cells=$cells stage $sid: " +
                s"tasksWithRecords=$tasks maxRec=$maxRec avgRec=${sumRec / tasks} " +
                s"skew=${maxRec.toDouble / math.max(1L, sumRec / tasks)}")
          }
          println(s"[rehearsal] ivfshuffle cells=$cells: result rows=$n")
        }
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
        spark.sparkContext.removeSparkListener(listener)
      }
      graft.core.Materialize.releaseCheckpoint(corpus)
      graft.core.Materialize.releaseCheckpoint(queries)
    }

    if (which("tier100")) {
      // ---- 100x linearity: three-point scaling (sf0.1 -> 10x -> 100x)
      // for the linear/shuffle-scale gate queries. SCALECHECK pins
      // correctness one decade up; this measures whether the PLANS keep
      // near-linear wall-clock across TWO decades — the direct
      // measurement behind the 100 TB claim. Quadratic-by-design
      // baselines (q15/q20 brute pairs) and the probe-bounded ANN
      // family are excluded: their scale behavior has dedicated cases
      // (ivfshuffle, dedup, ann) and SCALECHECK classes. Every gate
      // query ends in a global ORDER BY (oracle hash determinism), so
      // the measured wall includes that n log n sort — ratios modestly
      // above 10 per decade are the sort's log factor plus
      // fixed-partition effects, not operator blowup.
      import graft.SparkEntry
      val t01dir = "/root/testdata/sf0.1"
      val tier100x = "/tmp/graft_tier100/sf0.1x100"
      // q50/q79 extend the census to the text-pipeline scale path
      // (token explode -> agg -> broadcast join-back; n-gram scan with
      // a broadcast eval side) — both with LINEAR output. The near-dup
      // pair families (q22/q24) stay excluded for a different reason
      // than cost: the id-shift synth gives every row ~copyFactor exact
      // duplicates, so their PAIR output is quadratic in the copy
      // factor by construction and a wall-clock ratio would measure the
      // synthetic duplication, not operator scaling (SCALECHECK verifies
      // them at 10x, where the 45-pairs-per-group shape is tractable).
      val queries = Seq("q1_filter_project", "q2_join", "q42_sessionize",
        "q57_daily", "q47_asof_join", "q49_range_join", "q14_dedup_exact",
        "q19_fingerprint", "q50_tfidf", "q79_decontaminate")
      val needed = Set("region", "nation", "customer", "orders", "lineitem",
        "events", "documents")
      val tier10x = {
        val shared = "/tmp/graft_suite10x/sf0.1x10"
        if (new java.io.File(s"$shared/lineitem.parquet").exists()) shared
        else {
          // don't half-populate the SHARED 10x path (scalecheck resumes
          // from it); synthesize a restricted private copy instead
          val own = "/tmp/graft_tier100/sf0.1x10"
          if (!new java.io.File(s"$own/lineitem.parquet").exists())
            timed("tier10 synth (restricted)")(
              SuiteRehearsal.generateTier(spark, 10, own, Some(needed)))
          own
        }
      }
      if (!new java.io.File(s"$tier100x/lineitem.parquet").exists())
        timed("tier100 synth")(
          SuiteRehearsal.generateTier(spark, 100, tier100x, Some(needed)))

      def run1(q: String, dir: String):
          (Double, org.apache.spark.sql.execution.SparkPlan) = {
        // execute through the frame's own QueryExecution so the final
        // plan asserted below is exactly the one that ran
        val qe = SparkEntry.queries(q)(spark, dir).queryExecution
        val t0 = System.nanoTime()
        spark.sparkContext.runJob(qe.toRdd,
          (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
            var c = 0L; while (it.hasNext) { it.next(); c += 1 }; c
          }).sum: Unit
        ((System.nanoTime() - t0) / 1e9, qe.executedPlan)
      }
      run1("q1_filter_project", t01dir) // JIT/IO warmup
      val report = queries.map { q =>
        def best2(dir: String) = math.min(run1(q, dir)._1, run1(q, dir)._1)
        val t01 = best2(t01dir)
        val t10 = best2(tier10x)
        val (t100, plan) = run1(q, tier100x) // JIT warmed by the smaller tiers
        val (kinds, bnlj, cart) = finalJoinShape(plan)
        // q50 attaches the corpus doc COUNT via crossJoin(broadcast(agg))
        // — a 1-row build side, the standard scalar-attach idiom: it
        // plans as BroadcastNestedLoopJoin but costs one broadcast of
        // one row regardless of scale. Allow exactly that one; any
        // OTHER BNLJ/cartesian is a real pair explosion.
        val allowedBnlj = Map("q50_tfidf" -> 1).getOrElse(q, 0)
        assert(bnlj <= allowedBnlj && cart == 0,
          s"$q grew a BNLJ/cartesian at 100x (joins=$kinds bnlj=$bnlj)")
        println(f"[tier100] $q%-18s t01=$t01%6.2f t10=$t10%6.2f t100=$t100%7.2f " +
          f"r10=${t10 / t01}%5.1fx r100=${t100 / t10}%5.1fx " +
          s"joins100=${if (kinds.isEmpty) "-" else kinds}")
        (q, t10, t100)
      }
      report.foreach { case (q, t10, t100) =>
        // generous bound: a 10x data step may cost up to 4x over linear
        // (sort log factor, spill, constant floors) before it reads as
        // superlinear operator blowup; the floor keeps sub-second t10
        // denominators from tripping on fixed overhead
        assert(t100 <= 40 * math.max(t10, 0.5),
          s"$q superlinear blowup at 100x: t10=$t10 t100=$t100")
      }
      println(s"[tier100] all ${report.size} queries completed 100x " +
        "within the linearity bound (t100 <= 40 * max(t10, 0.5s))")

      // ---- DTW cascade decades (round-12 directive #4) ----
      // The census above covers the relational/text shuffle-scale
      // paths; the flagship prune cascade (the q25/q26 family — the
      // engine's core scale claim vs the reference) previously had only
      // the 10x SCALECHECK point. The cascade's cost is pairs =
      // train x test, and the 100 TB shape is an INFERENCE firehose
      // against a curated train set — so the decades scale the TEST
      // side at the published train size (7352 x 561). Scaling both
      // sides multiplies pairs quadratically by construction; that
      // shape's full-size point is the standing `har` case. Plan
      // census: the designed pair generation IS a broadcast
      // nested-loop with the TRAIN side as build — so the assertion is
      // not "no BNLJ" but "no cartesian, and no build side ever
      // carries test_* columns" (broadcasting the side that scales is
      // the failure mode).
      locally {
        import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
        val L = 561
        def synthT(n: Int, offset: Int, idCol: String, seriesCol: String) =
          spark.range(n).select(
            (col("id") + offset).as(idCol),
            pmod(col("id") + offset, lit(6)).cast("double").as("label"),
            call_function("graft_har_series", col("id") + offset, lit(L)).as(seriesCol))
        val train = synthT(7352, 0, "train_id", "train_series").localCheckpoint()
        train.count()
        val p25 = KnnParams(k = 5, distance = "dtw", band = 8,
          lbPruning = true, candidateFactor = 8)
        def runCascade(nTest: Int): (Double, Long,
            org.apache.spark.sql.execution.SparkPlan) = {
          val test = synthT(nTest, 1000000, "test_id", "test_series")
            .select(col("test_id"), col("test_series")).localCheckpoint()
          test.count()
          val qe = Knn.classify(train, test, p25).queryExecution
          val t0 = System.nanoTime()
          val rows = spark.sparkContext.runJob(qe.toRdd,
            (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
              var c = 0L; while (it.hasNext) { it.next(); c += 1 }; c
            }).sum
          val dt = (System.nanoTime() - t0) / 1e9
          graft.core.Materialize.releaseCheckpoint(test)
          (dt, rows, qe.executedPlan)
        }
        // The failure mode at scale is broadcasting the PAYLOAD of the
        // side that grows: test_series is 561 doubles/row, so a
        // test-payload broadcast at t10 (~132 MB) or t100 (~1.3 GB)
        // would be the wrong plan. At t01 (2947 rows ~ 13 MB) the
        // measured-size strategy legitimately broadcasts the smaller
        // TEST side (train streams) — allowed there. Slim build sides
        // ((test_id, tau) — the per-test-point threshold join-back;
        // (test_id, ...) candidate id sets) are the scalar-attach
        // idiom: bytes per row are bounded, fine at any decade.
        def assertShape(tag: String, allowTestPayload: Boolean,
            plan: org.apache.spark.sql.execution.SparkPlan): Unit = {
          import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
          var cart = 0
          val badBuilds = scala.collection.mutable.ArrayBuffer.empty[String]
          def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = p match {
            case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
            case q: QueryStageExec => walk(q.plan)
            case other =>
              val build = other match {
                case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
                  Some(if (j.buildSide == BuildLeft) j.left else j.right)
                case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec =>
                  Some(if (j.buildSide == BuildLeft) j.left else j.right)
                case _: org.apache.spark.sql.execution.joins.CartesianProductExec =>
                  cart += 1; None
                case _ => None
              }
              build.foreach { b =>
                val names = b.output.map(_.name)
                if (!allowTestPayload && names.contains("test_series"))
                  badBuilds += names.mkString(",")
              }
              other.children.foreach(walk)
          }
          walk(plan)
          assert(cart == 0 && badBuilds.isEmpty,
            s"dtw cascade $tag: cartesian=$cart testPayloadBroadcasts=$badBuilds")
        }
        val decades = Seq(("t01", 2947), ("t10", 29470), ("t100", 294700))
        // warm JIT/codegen on the smallest tier before timing
        runCascade(500)
        val dtw = decades.map { case (tag, n) =>
          val (dt, rows, plan) = runCascade(n)
          assertShape(tag, allowTestPayload = tag == "t01", plan)
          assert(rows == n.toLong,
            s"dtw cascade $tag: expected $n predictions, got $rows")
          println(f"[tier100] dtw_cascade $tag%-5s test=$n%7d wall=$dt%7.2f s")
          (tag, dt)
        }
        val r10 = dtw(1)._2 / math.max(dtw(0)._2, 0.1)
        val r100 = dtw(2)._2 / math.max(dtw(1)._2, 0.1)
        println(f"[tier100] dtw_cascade per-decade ratios: r10=$r10%5.1fx r100=$r100%5.1fx")
        // same generous linear-plus-log bound as the relational census
        assert(dtw(2)._2 <= 40 * math.max(dtw(1)._2, 0.5),
          s"dtw cascade superlinear blowup: t10=${dtw(1)._2} t100=${dtw(2)._2}")
        graft.core.Materialize.releaseCheckpoint(train)
      }
    }

    if (which("memlimit")) {
      // ---- memory-pressure rehearsal (round-11 directive #2) ----
      // The standing 10x SCALECHECK validates plans and results at a
      // 48g heap; 100 TB kills engines via SPILL behavior, not plan
      // shape. This case runs the shuffle-heaviest gate queries at the
      // 10x tier under a deliberately constrained heap (run WITHOUT
      // SPARK_DRIVER_MEM so build.sbt's default -Xmx8g applies:
      //   sbt "Test/runMain graft.tools.ScaleRehearsal memlimit"
      // ) and records spill + peak-execution-memory from the task
      // metrics. Completion without OOM is the assertion; the table
      // lands in NOTES_r11.
      val tier = sys.env.getOrElse("GRAFT_TIER10", "/tmp/graft_suite10x/sf0.1x10")
      val heapMiB = Runtime.getRuntime.maxMemory() / (1L << 20)
      println(s"[rehearsal] memlimit heap=${heapMiB}MiB tier=$tier")
      // (spillMem, spillDisk, peakExecMem-max, shufRead, shufWrite, tasks)
      val m = new java.util.concurrent.atomic.AtomicReference(
        (0L, 0L, 0L, 0L, 0L, 0L))
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          Option(e.taskMetrics).foreach { tm =>
            m.updateAndGet { case (sm, sd, pk, sr, sw, n) =>
              (sm + tm.memoryBytesSpilled, sd + tm.diskBytesSpilled,
                math.max(pk, tm.peakExecutionMemory),
                sr + tm.shuffleReadMetrics.totalBytesRead,
                sw + tm.shuffleWriteMetrics.bytesWritten, n + 1)
            }
            ()
          }
      }
      spark.sparkContext.addSparkListener(listener)
      def gib(b: Long) = f"${b / 1073741824.0}%.2f"
      try {
        Seq("q50_tfidf", "q27_dedup_clusters", "q24_embedding_neardup",
          "q10_knn_eu_k5").foreach { q =>
          m.set((0L, 0L, 0L, 0L, 0L, 0L))
          // build INSIDE the timed block: some builders (q27's label
          // propagation) run their iterative work eagerly at build time
          val rows = timed(s"memlimit $q (10x tier, ${heapMiB}MiB heap)") {
            val qe = graft.SparkEntry.queries(q)(spark, tier).queryExecution
            spark.sparkContext.runJob(qe.toRdd,
              (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
                var c = 0L; while (it.hasNext) { it.next(); c += 1 }; c
              }).sum
          }
          Thread.sleep(500) // listener bus tail
          val (sm, sd, pk, sr, sw, n) = m.get()
          println(s"[rehearsal] memlimit $q: rows=$rows tasks=$n " +
            s"spillMemGiB=${gib(sm)} spillDiskGiB=${gib(sd)} " +
            s"peakExecMemGiB=${gib(pk)} shufReadGiB=${gib(sr)} " +
            s"shufWriteGiB=${gib(sw)}")
        }
      } finally spark.sparkContext.removeSparkListener(listener)
    }

    if (which("faults")) {
      // ---- fault-injection rehearsal (round 11, third session) ----
      // On a 1000-executor cluster, task retries and speculative
      // re-execution are ROUTINE — any operator whose output depends on
      // attempt-local state or on which attempt of a task wins silently
      // corrupts results at scale. This case re-executes representative
      // gate operators with first-attempt task failures injected at the
      // source (eagerly, and MID-STREAM after rows were already emitted
      // — exercising that Spark discards a failed attempt's partial
      // output instead of double-counting it) and asserts bit-identical
      // results against an uninjected control run of the same lineage
      // shape.
      //
      //   sbt "Test/runMain graft.tools.ScaleRehearsal faults"
      //
      // Scope (documented limitation): local mode retries ResultTask /
      // shuffle-map attempts but cannot LOSE shuffle files (single
      // executor, no executor death), so map-stage recompute after a
      // reducer has started — the SPARK-23207 shape — is covered by
      // design argument instead: `spark.sql.execution.sortBeforeRepartition`
      // (asserted true below) makes round-robin repartition inputs
      // deterministic, every scan is parquet (stable row order per
      // split), and the one order-sensitive id scheme (withRowId)
      // derives ids from (partitionIdx, position), both reproducible on
      // recompute.
      require(spark.sparkContext.master.matches("""local\[\d+,\s*\d+\]"""),
        s"faults case needs a retry-enabled master, got ${spark.sparkContext.master}")
      assert(spark.conf.get("spark.sql.execution.sortBeforeRepartition").toBoolean,
        "sortBeforeRepartition must stay at its true default (SPARK-23207)")
      import graft.ingest.SeriesIngest
      import graft.operators.{AsofJoin, Partitioning}
      import org.apache.spark.TaskContext
      val sf = sys.env.getOrElse("GRAFT_SF_DIR", "/root/testdata/sf0.01")

      /** Injecting wrapper: first task attempts throw — before any row
        * (`failAfter=0`, even-indexed partitions only, so some
        * partitions stay untouched) or after emitting `failAfter` rows
        * (partial-output discard path; applies to EVERY partition,
        * because row placement across file splits is data-dependent —
        * the 10x tier puts all 1.5M order rows in partition 1 of 4, and
        * a parity-restricted mid injection went vacuous there).
        * `inject=false` builds the identical RDD-scan lineage without
        * the failure, so control and injected runs compare the same
        * plan shape.
        */
      def wrap(df: DataFrame, inject: Boolean, failAfter: Int): DataFrame = {
        val schema = df.schema
        val rdd = df.rdd.mapPartitions { it =>
          val ctx = TaskContext.get()
          val doFail = inject && ctx != null && ctx.attemptNumber() == 0 &&
            (failAfter > 0 || ctx.partitionId() % 2 == 0)
          if (!doFail) it
          else if (failAfter == 0) {
            injectedFailures.incrementAndGet()
            throw new RuntimeException(
              s"[injected] eager first-attempt failure p=${ctx.partitionId()}")
          } else {
            var n = 0
            it.map { row =>
              n += 1
              if (n > failAfter) {
                injectedFailures.incrementAndGet()
                throw new RuntimeException(
                  s"[injected] mid-stream failure p=${ctx.partitionId()} " +
                    s"after $failAfter rows")
              }
              row
            }
          }
        }
        spark.createDataFrame(rdd, schema)
      }

      def canon(df: DataFrame): IndexedSeq[String] =
        df.collect().map(_.mkString("\u0001")).sorted.toIndexedSeq

      val checks = faultChecks(spark, sf)

      var failed = List.empty[String]
      checks.foreach { case (name, build) =>
        val control = canon(build(df => wrap(df, inject = false, failAfter = 0)))
        Seq("eager" -> 0, "mid" -> 16).foreach { case (mode, after) =>
          injectedFailures.set(0)
          val got = timed(s"faults $name/$mode") {
            canon(build(df => wrap(df, inject = true, failAfter = after)))
          }
          val nInj = injectedFailures.get()
          val ok = got == control && nInj > 0
          if (!ok) failed ::= s"$name/$mode"
          println(s"[rehearsal] faults $name/$mode: rows=${got.size} " +
            s"injected=$nInj match=${got == control}" +
            (if (nInj == 0) " VACUOUS-NO-INJECTION" else "") +
            (if (ok) " PASS" else " FAIL"))
        }
      }
      require(failed.isEmpty, s"fault-injection mismatches: ${failed.reverse.mkString(", ")}")
      println(s"[rehearsal] faults: all ${checks.size} operators retry-invariant " +
        "(eager + mid-stream injection)")
      // Speculative execution cannot be rehearsed in LOCAL mode:
      // TaskSchedulerImpl.start() guards the speculation thread with
      // `!isLocal`, so local mode never launches duplicate attempts.
      // The `specfaults` case covers it under local-cluster[2,2,1024].
    }

    if (which("specfaults")) {
      // ---- speculative-execution rehearsal (round 12) ----
      // The `faults` case pins retry-invariance (failed attempt ->
      // rerun); this pins DUPLICATE-ATTEMPT invariance: with
      // spark.speculation on, a straggling task gets a racing second
      // attempt on another executor while the original is STILL
      // RUNNING, and exactly one attempt's result may win — any
      // operator whose output depends on which attempt commits (or that
      // double-counts a speculated shuffle-map/result task) corrupts
      // silently at cluster scale. Same probe matrix as `faults`, with
      // the first attempt of 2-of-8 partitions SLOWED (not failed) so
      // the speculation checker provably fires, under a real 2-executor
      // local-cluster (separate JVMs — which is also why the injection
      // marker is the driver-side listener's speculative-task count,
      // not the faults case's in-JVM counter).
      //
      //   sbt "Test/runMain graft.tools.ScaleRehearsal specfaults"
      require(spark.sparkContext.master.startsWith("spark://"),
        s"specfaults needs the two-host mini cluster, got ${spark.sparkContext.master}")
      require(spark.conf.get("spark.speculation").toBoolean,
        "specfaults needs spark.speculation=true")
      import org.apache.spark.TaskContext
      val sf = sys.env.getOrElse("GRAFT_SF_DIR", "/root/testdata/sf0.01")
      val specLaunched = new java.util.concurrent.atomic.AtomicLong(0)
      val specWon = new java.util.concurrent.atomic.AtomicLong(0)
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onTaskStart(
            e: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
          if (e.taskInfo.speculative) specLaunched.incrementAndGet()
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskInfo.speculative && e.taskInfo.successful)
            specWon.incrementAndGet()
      })
      /** Slow-first-attempt wrapper: repartition(8) gives the injected
        * stage enough tasks for the quantile trigger (a 1-2 task scan
        * stage can never reach the done-quantile with its only straggler
        * outstanding), then first attempts of partitions 0 and 4 sleep
        * 3 s — ~15x the fast tasks, far past the multiplier threshold.
        * The speculative copy has attemptNumber 1 and runs at full
        * speed. inject=false builds identical lineage for the control.
        */
      def slowWrap(df: DataFrame, inject: Boolean): DataFrame = {
        val schema = df.schema
        val rdd = df.repartition(8).rdd.mapPartitions { it =>
          val ctx = TaskContext.get()
          if (inject && ctx != null && ctx.attemptNumber() == 0 &&
              ctx.partitionId() % 4 == 0)
            Thread.sleep(3000)
          it
        }
        spark.createDataFrame(rdd, schema)
      }
      def canon(df: DataFrame): IndexedSeq[String] =
        df.collect().map(_.mkString("\u0001")).sorted.toIndexedSeq
      /** The rowid probes get an order-free canon on a REAL cluster:
        * withRowId assigns ids by within-partition row order, and after
        * a shuffle that order is reduce-side fetch ARRIVAL order —
        * nondeterministic across executor JVMs (Spark's own
        * zipWithIndex contract; local-mode fetches happen to be
        * deterministic, which is why the `faults` case can pin the
        * exact pairing and this case measurably cannot — control vs
        * injected differed here with ZERO speculative tasks). The
        * invariant a duplicate attempt must preserve is: ids are
        * EXACTLY the permutation 1..N (a speculated counting-job or
        * id-job attempt must not double-count a partition or shift an
        * offset) over an unchanged row multiset.
        */
      def canonRowidFree(df: DataFrame): IndexedSeq[String] = {
        val idIdx = df.columns.indexOf("row_id")
        val rows = df.collect()
        val ids = rows.map(_.getLong(idIdx)).sorted.toIndexedSeq
        require(ids == (1L to rows.length.toLong),
          s"row ids must be exactly 1..${rows.length}")
        rows.map(_.toSeq.patch(idIdx, Nil, 1).mkString("\u0001"))
          .sorted.toIndexedSeq
      }
      val checks = faultChecks(spark, sf)
      var failed = List.empty[String]
      checks.foreach { case (name, build) =>
        val cf: DataFrame => IndexedSeq[String] =
          if (name.startsWith("rowid")) canonRowidFree else canon
        val control = cf(build(df => slowWrap(df, inject = false)))
        val before = specLaunched.get()
        val got = timed(s"specfaults $name") {
          cf(build(df => slowWrap(df, inject = true)))
        }
        // listener bus is async: flush before reading the counters
        org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
        val nSpec = specLaunched.get() - before
        val ok = got == control && nSpec > 0
        if (!ok) failed ::= name
        println(s"[rehearsal] specfaults $name: rows=${got.size} " +
          s"speculative=$nSpec match=${got == control}" +
          (if (nSpec == 0) " VACUOUS-NO-SPECULATION" else "") +
          (if (ok) " PASS" else " FAIL"))
      }
      require(failed.isEmpty,
        s"speculation mismatches: ${failed.reverse.mkString(", ")}")
      println(s"[rehearsal] specfaults: all ${checks.size} operators " +
        s"bit-identical under speculative duplicate attempts " +
        s"(launched=${specLaunched.get()}, won=${specWon.get()})")
    }

    if (which("concurrent")) {
      // ---- multi-tenant concurrency rehearsal (round 11) ----
      // A production driver runs MANY queries on one session at once
      // (FAIR scheduler, thread-per-request services). Single-threaded
      // gates never exercise the engine's shared mutable surfaces under
      // contention: the session-keyed memos (HAR synth/prediction
      // caches, IVF centroid fits — ConcurrentHashMaps with documented
      // lost-race semantics) and Catalyst itself. This case runs a
      // 16-query mix over 8 threads x 3 rounds in ONE session and
      // asserts every result stays bit-identical to its sequential
      // baseline.
      //
      //   sbt "Test/runMain graft.tools.ScaleRehearsal concurrent"
      //
      // Deliberately EXCLUDED, with the multi-tenancy contract stated:
      //   - q30/q41/q76-class fixed-name DDL (saveAsTable/overwrite):
      //     concurrent same-name writes race by SQL semantics on any
      //     engine; a multi-tenant driver namespaces or serializes DDL.
      //   - streaming replays (q67..q71, q78): the bounded ORACLE
      //     replay harness save/restores the session's shuffle-partition
      //     conf (test infra, not engine); production streaming queries
      //     are one-per-checkpoint-location by construction.
      // q26/q31 stay IN: their prediction-table memo is the documented
      // write-once-read-many shape, and q31 must see either the memo or
      // rebuild it — never a torn table.
      val sf = sys.env.getOrElse("GRAFT_SF_DIR", "/root/testdata/sf0.01")
      val mix = Seq(
        "q1_filter_project", "q4_agg", "q10_knn_eu_k5", "q17_quality",
        "q20_ann_cosine", "q22_minhash_pairs", "q24_embedding_neardup",
        "q26_har_model2_1nn", "q28_ann_ivf", "q31_har_accuracy",
        "q42_sessionize", "q45_ann_ivf_det", "q47_asof_join",
        "q50_tfidf", "q56_json", "q62_gapfill")
      def canonQ(name: String): IndexedSeq[String] =
        graft.SparkEntry.queries(name)(spark, sf)
          .collect().map(_.mkString("\u0001")).sorted.toIndexedSeq
      val baseline = timed("concurrent sequential baselines") {
        mix.map(n => n -> canonQ(n)).toMap
      }
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val rounds = 3
      timed(s"concurrent mix (${mix.size} queries x $rounds rounds, 8 threads)") {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
        try {
          (0 until rounds).foreach { r =>
            // drop the session memos while quiescent (the documented
            // lifecycle: release only between queries), so THIS round's
            // threads race on COLD memo creation — harSynth checkpoints,
            // the q26 prediction-table build q31 depends on, centroid
            // fits — instead of reading what the baselines warmed
            graft.SparkEntry.clearSessionCaches(spark)
            val tasks = new scala.util.Random(41 + r).shuffle(mix).map { n =>
              pool.submit(new Runnable {
                def run(): Unit =
                  try {
                    if (canonQ(n) != baseline(n)) failures.add(s"$n@round$r")
                  } catch {
                    case e: Throwable =>
                      failures.add(s"$n@round$r threw ${e.getClass.getSimpleName}: " +
                        s"${String.valueOf(e.getMessage).take(200)}")
                  }
              })
            }
            tasks.foreach(_.get())
          }
        } finally pool.shutdown()
      }
      require(failures.isEmpty,
        s"concurrent mismatches: ${failures.toArray.mkString("; ")}")
      println(s"[rehearsal] concurrent: ${mix.size} queries x $rounds rounds " +
        "across 8 threads all bit-identical to sequential baselines")
    }

    if (which("streamrecovery")) {
      // ---- streaming checkpoint-recovery rehearsal (round 11) ----
      // The metamorphic fuzz pinned streaming SEMANTICS (including real
      // multi-batch state accumulation); this pins RECOVERY — the
      // cluster-failure path. Three state shapes run twice each:
      //   reference: one query lifetime over 6 time-ordered files
      //     (maxFilesPerTrigger=1 -> 6 micro-batches);
      //   recovery:  the same query sees only the first 3 files,
      //     terminates (AvailableNow), the other 3 arrive, and it
      //     RESTARTS from the same checkpoint — watermark, window
      //     state, dedup digests, and mapGroupsWithState totals must
      //     all carry across the restart, and the sink must equal the
      //     reference exactly (no loss, no re-emission).
      // A fourth run injects a TORN BATCH: foreachBatch writes half its
      // rows and throws on the first attempt of batch 4, the query
      // dies, and the restart must overwrite the torn directory via the
      // idempotent batchId-keyed pattern (the production exactly-once
      // recipe for update-mode sinks).
      //
      //   sbt "Test/runMain graft.tools.ScaleRehearsal streamrecovery"
      import org.apache.spark.sql.streaming.Trigger
      import graft.streaming.StreamingClassify
      val sf = sys.env.getOrElse("GRAFT_SF_DIR", "/root/testdata/sf0.01")
      // removed recursively on SUCCESS at the end of the case (a plain
      // deleteOnExit cannot delete non-empty trees, and each run stages
      // multiple corpus copies — gigabytes at a larger GRAFT_SF_DIR);
      // kept on failure for post-mortem
      val work = java.nio.file.Files
        .createTempDirectory("graft_streamrecovery").toFile
      val events = spark.read.parquet(s"$sf/events.parquet")
      val eventsSchema = events.schema

      // 6 time-ordered single-file chunks with pinned names + mtimes so
      // FileStreamSource (sorted by timestamp, then path) sees a
      // deterministic file order in every run. Global window is fine in
      // tooling at sf0.01 scale.
      val chunks = {
        val w = org.apache.spark.sql.expressions.Window
          .orderBy("ts", "event_id")
        val idx = events.withColumn("_i", row_number().over(w) - lit(1))
        val n = events.count()
        val step = (n + 5) / 6
        (0 until 6).map { i =>
          val tmp = new java.io.File(work, s"_tmp$i")
          idx.filter(col("_i") >= i * step && col("_i") < (i + 1) * step)
            .drop("_i").coalesce(1)
            .write.mode("overwrite").parquet(tmp.getAbsolutePath)
          val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
          part
        }
      }
      def stageDir(name: String, upTo: Int): java.io.File = {
        val d = new java.io.File(work, name)
        d.mkdirs()
        chunks.take(upTo).zipWithIndex.foreach { case (src, i) =>
          val dst = new java.io.File(d, f"part$i%02d.parquet")
          if (!dst.exists()) {
            java.nio.file.Files.copy(src.toPath, dst.toPath)
            dst.setLastModified(1700000000000L + i * 60000L)
            ()
          }
        }
        d
      }
      // same normalization chain as the gate's event streams: physical
      // encoding -> epoch-nanos contract -> second-precision TIMESTAMP
      // event time (integral division; a double detour can't represent
      // ~1.7e18 exactly)
      def srcStream(dir: java.io.File): DataFrame =
        graft.sources.EventTime.nanos(
          spark.readStream.schema(eventsSchema)
            .option("maxFilesPerTrigger", 1)
            .parquet(dir.getAbsolutePath))
          .withColumn("ts", timestamp_seconds(expr("ts div 1000000000")))
      def path(name: String) = new java.io.File(work, name).getAbsolutePath
      def canonOut(dir: String): IndexedSeq[String] =
        spark.read.parquet(dir).collect()
          .map(_.mkString("\u0001")).sorted.toIndexedSeq

      // -- append-mode variants through the exactly-once FILE sink
      //    (reads go through the sink's _spark_metadata manifest)
      var failed = List.empty[String]
      def runAppend(name: String, tag: String, dir: java.io.File,
          build: DataFrame => DataFrame): Unit = {
        val q = build(srcStream(dir)).writeStream
          .format("parquet")
          .outputMode("append")
          .option("path", path(s"$name-$tag-out"))
          .option("checkpointLocation", path(s"$name-$tag-ckpt"))
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      def runBoth(name: String, build: DataFrame => DataFrame): Unit =
        timed(s"streamrecovery $name") {
          runAppend(name, "ref", stageDir(s"$name-ref-in", 6), build)
          val growDir = stageDir(s"$name-rec-in", 3)
          runAppend(name, "rec", growDir, build) // 3 batches, clean stop
          stageDir(s"$name-rec-in", 6)           // late files arrive
          runAppend(name, "rec", growDir, build) // restart from checkpoint
        }

      // windowed agg: deterministic append emissions -> bit-equality
      runBoth("window_agg", df => StreamingClassify.windowedEventStats(df))
      locally {
        val ref = canonOut(path("window_agg-ref-out"))
        val rec = canonOut(path("window_agg-rec-out"))
        val ok = ref == rec && ref.nonEmpty
        if (!ok) failed ::= "window_agg"
        println(s"[rehearsal] streamrecovery window_agg: refRows=${ref.size} " +
          s"recRows=${rec.size} match=${ref == rec}" +
          (if (ok) " PASS" else " FAIL"))
      }

      // dropDuplicatesWithinWatermark: bit-equality across restart is NOT
      // the operator's contract and this rehearsal MEASURED why — the
      // guarantee is one-sided (duplicates within the delay are dropped;
      // beyond it they "may or may not" be), and physical state eviction
      // timing differs across a restart (the recovery run's extra
      // no-data batch evicts expired digests the single-lifetime run
      // still holds, so re-arrivals start a new epoch: uniformly 3 kept
      // rows per digest in the reference vs 4 after restart on this
      // corpus). Both runs must instead satisfy the CONTRACT:
      //   (i)  hard dedup guarantee: no two kept rows of one digest
      //        within the 600 s delay of each other;
      //   (ii) the globally first row of each digest is kept (state was
      //        empty — emission is mandatory);
      //   (iii) exactly-once sink: no event emitted twice, every kept
      //        row is a real input row (payload intact through the
      //        manifest-committed restart).
      runBoth("dedup_content", df =>
        StreamingClassify.dedupStreamByContent(df, "props", "ts", "10 minutes"))
      locally {
        val delaySec = 600L
        val input = graft.sources.EventTime.nanos(
          spark.read.parquet(stageDir("dedup_content-ref-in", 6).getAbsolutePath))
          .select(col("event_id").cast("long"),
            col("props"), expr("ts div 1000000000").as("tsec"))
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        // earliest event-SECOND per digest: the stream's event time is
        // second-precision, and arrival order among same-second rows
        // after the state shuffle is not pinned — so the mandatory-first
        // check asserts a kept row exists AT the earliest second (any
        // id), not a specific event_id (a (tsec, event_id) min produced
        // a data-dependent false FAIL when same-second ids inverted
        // their sub-second order)
        val firstPerDigest = input.groupBy(_._2).map { case (p, rows) =>
          p -> rows.map(_._3).min
        }
        val inputById = input.map(r => r._1 -> r).toMap
        Seq("ref", "rec").foreach { tag =>
          val kept = spark.read.parquet(path(s"dedup_content-$tag-out"))
            .select(col("event_id").cast("long"), col("props"),
              unix_seconds(col("ts")).as("tsec"))
            .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
          val dupEmit = kept.groupBy(_._1).count(_._2.size > 1)
          val notInput = kept.count(k => !inputById.get(k._1).contains(k))
          val tooClose = kept.groupBy(_._2).valuesIterator.map { rows =>
            val ts = rows.map(_._3).sorted
            ts.zip(ts.drop(1)).count { case (a, b) => b - a < delaySec }
          }.sum
          val firstMissing = firstPerDigest.count { case (p, firstSec) =>
            !kept.exists(k => k._2 == p && k._3 == firstSec)
          }
          val ok = kept.nonEmpty && dupEmit == 0 && notInput == 0 &&
            tooClose == 0 && firstMissing == 0
          if (!ok) failed ::= s"dedup_content-$tag"
          println(s"[rehearsal] streamrecovery dedup_content-$tag: " +
            s"kept=${kept.length} dupEmit=$dupEmit notInput=$notInput " +
            s"withinDelayPairs=$tooClose firstMissing=$firstMissing" +
            (if (ok) " PASS" else " FAIL"))
        }
      }

      // -- update-mode mapGroupsWithState via idempotent foreachBatch
      //    (batchId-keyed overwrite), with and without a torn batch
      def runCents(tag: String, dir: java.io.File, torn: Boolean): Unit = {
        val out = path(s"cents-$tag-out")
        val q = StreamingClassify
          .runningUserStatsCents(srcStream(dir)).writeStream
          .outputMode("update")
          .option("checkpointLocation", path(s"cents-$tag-ckpt"))
          .foreachBatch { (df: DataFrame, bid: Long) =>
            if (torn && bid == 4 && tornOnce.compareAndSet(false, true)) {
              // torn write: half the batch lands, then the query dies
              df.limit(math.max(1, df.count().toInt / 2))
                .write.mode("overwrite").parquet(s"$out/batch=$bid")
              throw new RuntimeException("[injected] crash after torn batch write")
            }
            df.write.mode("overwrite").parquet(s"$out/batch=$bid")
          }
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      def centsFinal(tag: String): IndexedSeq[String] = {
        val all = spark.read.parquet(path(s"cents-$tag-out"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("batch").desc)
        all.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
          .select("user_id", "events", "total_value")
          .collect().map(_.mkString("\u0001")).sorted.toIndexedSeq
      }
      timed("streamrecovery cents (restart + torn batch)") {
        runCents("ref", stageDir("cents-ref-in", 6), torn = false)
        val grow = stageDir("cents-rec-in", 3)
        runCents("rec", grow, torn = false)
        stageDir("cents-rec-in", 6)
        runCents("rec", grow, torn = false)
        tornOnce.set(false)
        val tornDir = stageDir("cents-torn-in", 6)
        try {
          runCents("torn", tornDir, torn = true)
          failed ::= "cents-torn-no-crash"
        } catch {
          case e: Exception if String.valueOf(e.getMessage).contains("[injected]") ||
            Option(e.getCause).exists(c =>
              String.valueOf(c.getMessage).contains("[injected]")) =>
        }
        runCents("torn", tornDir, torn = false) // recover; batch 4 re-runs
      }
      val centsRef = centsFinal("ref")
      Seq("rec", "torn").foreach { tag =>
        val got = centsFinal(tag)
        val ok = got == centsRef && got.nonEmpty
        if (!ok) failed ::= s"cents-$tag"
        println(s"[rehearsal] streamrecovery cents-$tag: rows=${got.size} " +
          s"match=${got == centsRef}" + (if (ok) " PASS" else " FAIL"))
      }
      require(failed.isEmpty,
        s"streamrecovery mismatches: ${failed.reverse.mkString(", ")}")
      locally { // success: reclaim the staged corpora/checkpoints
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        Files.walk(work.toPath).sorted(Comparator.reverseOrder[Path]())
          .forEach(p => { Files.deleteIfExists(p); () })
      }
      println("[rehearsal] streamrecovery: window + mapGroupsWithState state " +
        "bit-identical across restart; dedup within its one-sided contract " +
        "both lifetimes; torn foreachBatch healed idempotently")
    }

    if (which("dedupskew")) {
      // ---- 6. exact-dedup keep-first under heavy duplicate skew ----
      // (round-8: dropExactDuplicates moved from a row_number window to
      // a min_by aggregate; this measures both forms on the shape that
      // would break a naive window — one boilerplate text duplicated
      // 2M-fold across a 4M-row corpus. Measured outcome: they TIE,
      // because Spark 4's WindowGroupLimit also prunes rank<=1 map-side;
      // the aggregate is kept for the simpler plan and for skew safety
      // that doesn't depend on the optimizer pattern-match firing.)
      import org.apache.spark.sql.expressions.Window
      val skewed = timed("skew corpus build (4M rows x ~400 B, one text x2M)") {
        val d = spark.range(4000000L).select(
          col("id").as("doc_id"),
          when(col("id") % 2 === 0,
            rpad(lit("the same boilerplate text repeated"), 400, "x"))
            .otherwise(rpad(concat(lit("unique text "), col("id")), 400, "y"))
            .as("text"))
          .repartition(64).localCheckpoint()
        d.count(); d
      }
      val viaAgg = graft.operators.Dedup.dropExactDuplicates(skewed, "doc_id", "text")
      val na = timed("dropExactDuplicates (min_by aggregate)")(viaAgg.count())
      val w = Window.partitionBy(xxhash64(col("text"))).orderBy(col("doc_id"))
      val viaWindow = skewed.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn")
      val nw = timed("row_number window form (pre-r8, for comparison)")(viaWindow.count())
      println(s"[rehearsal] dedup skew: kept agg=$na window=$nw (expect 2000001 both)")
      graft.core.Materialize.releaseCheckpoint(skewed)
    }

    if (which("saltskew")) {
      // ---- 7. salted join under a single hot key (round-9 directive #5)
      // The q40 operator's claim — "one hot key spreads over `salt` tasks
      // instead of melting one" — measured instead of argued. Shape: an
      // 8M-row fact where ONE key carries 4M rows (100,000-fold over the
      // uniform keys' ~40), joined to a 100k-key dim. Broadcast is disabled (a
      // broadcastable dim is the case where salting is pointless by
      // construction) so the join must shuffle, i.e. the 100 TB shape
      // where both sides exceed the driver. Three plans:
      //   (a) plain shuffle join, AQE skew-split OFF — the naive plan: the
      //       hot key's 2M rows land in ONE task (maxTask ~= wall).
      //   (b) plain join, AQE skew-split ON — Spark's runtime answer,
      //       sort-merge only.
      //   (c) saltedJoin(salt=32) — the explicit form, which also covers
      //       shuffled-hash joins and agg-feeding-join shapes AQE's
      //       skew rule can't touch.
      // A task-duration listener pins the straggler claim directly: (a)
      // must show one task dominating; (c) must show maxTask ~ wall/32.
      val taskMax = new java.util.concurrent.atomic.AtomicLong
      val taskCount = new java.util.concurrent.atomic.AtomicLong
      // per stage: (maxTaskMs, tasks, maxShuffleRecordsRead, sumShuffleRecordsRead)
      val stageMax = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int, Long, Long)]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          taskCount.incrementAndGet()
          val d = e.taskInfo.duration
          var cur = taskMax.get()
          while (d > cur && !taskMax.compareAndSet(cur, d)) cur = taskMax.get()
          val rec = Option(e.taskMetrics)
            .map(_.shuffleReadMetrics.recordsRead).getOrElse(0L)
          stageMax.merge(e.stageId, (d, 1, rec, rec),
            (a, b) => (math.max(a._1, b._1), a._2 + b._2,
              math.max(a._3, b._3), a._4 + b._4))
        }
      }
      spark.sparkContext.addSparkListener(listener)
      def joinTypes(df: DataFrame): String =
        df.queryExecution.sparkPlan.collect {
          case _: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => "broadcast"
          case _: org.apache.spark.sql.execution.joins.SortMergeJoinExec => "sortmerge"
          case _: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => "shuffledhash"
        }.mkString(",")
      def measured(name: String, df: DataFrame): Unit = {
        taskMax.set(0); taskCount.set(0); stageMax.clear()
        // noop write, NOT count(): a count lets Catalyst prune both
        // payloads at the scan, and a hot key of narrow rows costs
        // nothing — the full 400 B/row join output must flow for the
        // straggler to exist at all
        timed(name)(df.write.format("noop").mode("overwrite").save())
        // listener bus is async; give the tail events a moment to land
        Thread.sleep(500)
        println(s"[rehearsal] $name: plan=${joinTypes(df)} " +
          s"tasks=${taskCount.get()} maxTaskMs=${taskMax.get()}")
        // the skew pin is the shuffle-read RECORD distribution of the join
        // stage — deterministic where task millis on a contended local[32]
        // are not: every task competes for the same 32 cores, so a
        // balanced stage still shows wall-clock-sized task durations
        import scala.jdk.CollectionConverters._
        stageMax.asScala.toSeq.filter(_._2._4 > 0).sortBy(-_._2._3).take(3).foreach {
          case (sid, (mx, cnt, maxRec, sumRec)) =>
            val avg = sumRec / math.max(1, cnt)
            println(s"[rehearsal]   stage $sid tasks=$cnt maxTaskMs=$mx " +
              s"shuffleRecords max=$maxRec avg=$avg skew=${maxRec.toDouble / math.max(1L, avg)}")
        }
      }
      val fact = timed("saltskew fact build (8M rows, one key x4M)") {
        val d = spark.range(8000000L).select(
          when(col("id") % 2 === 0, lit(0L)).otherwise(col("id") % 100000L).as("key"),
          rpad(concat(lit("fact payload "), col("id")), 200, "f").as("fact_payload"))
          .repartition(64).localCheckpoint()
        d.count(); d
      }
      val dim = timed("saltskew dim build (100k keys)") {
        val d = spark.range(100000L).select(
          col("id").as("key"),
          rpad(concat(lit("dim payload "), col("id")), 200, "d").as("dim_payload"))
          .localCheckpoint()
        d.count(); d
      }
      val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
      val prevSkew = spark.conf.get("spark.sql.adaptive.skewJoin.enabled", "true")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        measured("saltskew (a) plain join, AQE skew OFF",
          fact.join(dim, Seq("key"), "inner"))
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        measured("saltskew (b) plain join, AQE skew ON",
          fact.join(dim, Seq("key"), "inner"))
        measured("saltskew (c) saltedJoin(salt=32)",
          graft.operators.Partitioning.saltedJoin(fact, dim, "key", salt = 32))
        if (which("saltdebug")) {
          // distribution probes: salt uniformity on the hot key, and join
          // output rows per physical partition
          val salted = fact.withColumn("_salt",
            pmod(pmod(hash(monotonically_increasing_id()), lit(32)) + 32, lit(32)))
          println("[rehearsal] hot-key salt distribution (expect ~125k each):")
          salted.filter(col("key") === 0).groupBy("_salt").count()
            .orderBy(desc("count")).limit(5).collect()
            .foreach(r => println(s"[rehearsal]   salt=${r.get(0)} n=${r.get(1)}"))
          println("[rehearsal] join-output rows per partition (top 8):")
          graft.operators.Partitioning.saltedJoin(fact, dim, "key", salt = 32)
            .withColumn("p", spark_partition_id()).groupBy("p").count()
            .orderBy(desc("count")).limit(8).collect()
            .foreach(r => println(s"[rehearsal]   part=${r.get(0)} n=${r.get(1)}"))
        }
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", prevSkew)
        spark.sparkContext.removeSparkListener(listener)
      }
      graft.core.Materialize.releaseCheckpoint(fact)
      graft.core.Materialize.releaseCheckpoint(dim)
    }

    if (which("decon")) {
      // ---- 5. decontamination at 10x corpus, BOTH join strategies ----
      // (round-8 directive #4: q79's scale claim needed measurement, and
      // the sf-tier eval set is ~30 KB of grams — the shuffle fallback
      // at Decontaminate.contaminated's join never executed.)
      //   (a) the q79 shape: 50k-doc corpus, 2% eval -> eval grams fit
      //       the 64 MB floor comfortably, broadcast path.
      //   (b) oversize eval: 50 tagged corpus copies checkpointed
      //       (measured 111 MB, past the floor via the same
      //       storageBytes-max-estimate decision every pair join uses)
      //       -> the gram join MUST degrade to the shuffle fallback.
      // Audit in both cases: no exchange and no broadcast build side
      // carries document text or token arrays — only slim (id, gram) /
      // (gram) rows move; text dies at the scan.
      def shuffleAudit(name: String, df: DataFrame, payloads: Seq[String]): Unit = {
        val plan = df.queryExecution.sparkPlan
        val exchanges = plan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
            e.child.output.map(_.name)
        }
        val bad = exchanges.filter(_.exists(n => payloads.exists(n.startsWith)))
        val joins = plan.collect {
          case _: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => "broadcast"
          case _: org.apache.spark.sql.execution.joins.SortMergeJoinExec => "sortmerge"
          case _: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => "shuffledhash"
        }
        println(s"[rehearsal] $name plan: exchanges=${exchanges.size} " +
          s"payloadExchanges=${bad.size} joins=${joins.mkString(",")}")
        bad.foreach(o => println(s"[rehearsal]   OFFENDING exchange: $o"))
      }
      // Inputs are checkpointed WIDE (64 partitions) to mirror the 100 TB
      // shape — a real corpus scan arrives with thousands of splits, so
      // Partitioning.spread no-ops and no text ever enters an exchange.
      // (A narrow single-split input WOULD take spread's documented tiny-
      // input repartition; that path is not the scale plan.)
      val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        .select(col("doc_id"), col("text"))
      val train = timed("decon corpus build (50k docs = 10 shifted copies)") {
        val d = docs.crossJoin(spark.range(10).select(col("id").as("rep")))
          .select((col("doc_id") + col("rep") * lit(1000000L)).as("doc_id"), col("text"))
          .repartition(64).localCheckpoint()
        d.count(); d
      }

      // (a) benchmark-sized eval: the broadcast fast path (64 partitions
      // is overkill for 100 docs but keeps the no-spread invariant)
      val evalSmall = docs.filter(col("doc_id") % 50 === 0)
        .repartition(64).localCheckpoint()
      evalSmall.count()
      val contA = graft.operators.Decontaminate.contaminated(train, evalSmall)
      shuffleAudit("decon_10x_broadcast_eval", contA, Seq("text", "_tk"))
      val na = timed("contaminated: 50k docs vs 100-doc eval (broadcast path)")(contA.count())
      println(s"[rehearsal] decon broadcast path: flagged=$na of 50000")

      // (b) oversize eval: each copy appends a distinct token tail so its
      // gram set genuinely differs; the ~111 MB checkpoint puts the measured
      // size past the floor and the join must go shuffle
      val evalBig = timed("oversize eval build (250k docs, ~111 MB checkpointed)") {
        val e = docs.crossJoin(spark.range(50).select(col("id").as("rep")))
          .select((col("doc_id") + col("rep") * lit(1000000L)).as("doc_id"),
            concat_ws(" ", col("text"),
              format_string("evaltag%d alpha beta gamma delta epsilon zeta eta", col("rep")))
              .as("text"))
          .repartition(64).localCheckpoint()
        e.count(); e
      }
      println(s"[rehearsal] oversize eval measured bytes=" +
        graft.core.Materialize.storageBytes(evalBig).getOrElse(BigInt(-1)))
      val contB = graft.operators.Decontaminate.contaminated(train, evalBig)
      shuffleAudit("decon_10x_shuffle_eval", contB, Seq("text", "_tk"))
      val nb = timed("contaminated: 50k docs vs 250k-doc eval (shuffle fallback)")(contB.count())
      println(s"[rehearsal] decon shuffle path: flagged=$nb of 50000")

      graft.core.Materialize.releaseCheckpoint(train)
      graft.core.Materialize.releaseCheckpoint(evalSmall)
      graft.core.Materialize.releaseCheckpoint(evalBig)
    }

    if (which("stream")) {
      // ---- 3. streaming dedup: 1M rows over 10 real micro-batches ----
      // Each staged copy is time-shifted by the full corpus span so the
      // event-time clock ADVANCES batch over batch: the watermark moves,
      // old dedup state evicts, and late-vs-duplicate handling is
      // genuinely multi-epoch (identical copies would instead arrive
      // wholesale behind the watermark and measure only the late-drop
      // path). Dedup key: (user_id, event_type, props) — the
      // mid-cardinality content key a real ingest pipeline uses.
      val src = "/root/testdata/sf0.1/events.parquet"
      val base = graft.sources.EventTime.nanos(spark.read.parquet(src))
      val bounds = base.select(min(expr("ts div 1000000000")),
        max(expr("ts div 1000000000"))).head()
      val spanSec = bounds.getLong(1) - bounds.getLong(0) + 3600L
      val stage = java.nio.file.Files.createTempDirectory("graft_rehearsal_stream")
      timed("stage 10 time-shifted copies (1M rows)") {
        (0 until 10).foreach { i =>
          val shifted = base.withColumn("ts",
            col("ts") + lit(i.toLong * spanSec * 1000000000L))
          val tmp = java.nio.file.Files.createTempDirectory(s"graft_shift_$i")
          shifted.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val part = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet"))
            .findFirst().get()
          java.nio.file.Files.move(part, stage.resolve(f"events_$i%02d.parquet"))
        }
      }
      val stream = graft.sources.EventTime.nanos(
        spark.readStream.schema(base.schema)
          .option("maxFilesPerTrigger", "1")
          .option("latestFirst", "false")
          .parquet(stage.toString))
        .withColumn("ts", timestamp_seconds(expr("ts div 1000000000")))
        .withColumn("content",
          concat_ws("|", col("user_id"), col("event_type"), col("props")))
      val deduped = graft.streaming.StreamingClassify.dedupStreamByContent(
        stream, "content", "ts", "10 minutes")
        .select(col("event_id"))
      val qname = s"rehearsal_${System.nanoTime()}"
      timed("streaming dedup, 10 micro-batches x 100k rows") {
        val q = deduped.writeStream.outputMode("append")
          .format("memory").queryName(qname).start()
        try q.processAllAvailable()
        finally {
          val prog = q.lastProgress
          if (prog != null && prog.stateOperators.nonEmpty) {
            val so = prog.stateOperators(0)
            println(s"[rehearsal] stream state (last batch): rowsTotal=${so.numRowsTotal} " +
              s"removed=${so.numRowsRemoved} memoryUsedBytes=${so.memoryUsedBytes}")
          }
          q.stop()
        }
      }
      val kept = spark.table(qname).count()
      println(s"[rehearsal] stream dedup: kept=$kept of 1,000,000 input rows")
    }

    if (which("streamstate")) {
      // ---- streaming STATE-GROWTH rehearsal (round 12) ----
      // The bounded-state claims for dedupStream / windowedEventStats /
      // intervalJoin ("state cannot grow monotonically; runs forever at
      // 100 TB/day", StreamingClassify scaladoc) were argued by
      // construction — watermark horizon bounds what the store holds —
      // but never MEASURED. This case drives 24 real micro-batches with
      // a strictly advancing event-time clock through each operator and
      // asserts the state-store metrics (numRowsTotal per batch, from
      // each batch's StreamingQueryProgress) PLATEAU instead of growing
      // with input. A fourth run drives the same feed through UNBOUNDED
      // dropDuplicates as a control: its state MUST grow linearly, or
      // the plateau probe is vacuous.
      //
      //   sbt "Test/runMain graft.tools.ScaleRehearsal streamstate"
      import org.apache.spark.sql.streaming.Trigger
      import graft.streaming.StreamingClassify
      val nBatches = 24
      val rowsPerBatch = 400
      val work = java.nio.file.Files
        .createTempDirectory("graft_streamstate").toFile
      // Batch b spans event-time [b*5min, (b+1)*5min): 300 unique
      // event_ids plus 100 same-batch duplicates (the within-horizon
      // dedup work), 50 cycling users, 4 event types. Event ids never
      // recur across batches, so bounded dedup state is exactly the
      // keys inside the watermark horizon — the population the store
      // should hold steady at — while unbounded state is every key ever.
      def stageFeed(name: String): java.io.File = {
        val d = new java.io.File(work, name)
        d.mkdirs()
        (0 until nBatches).foreach { b =>
          val rows = spark.range(rowsPerBatch).select(
            when(col("id") < 300, col("id") + lit(b * 1000L))
              .otherwise(col("id") - 300 + lit(b * 1000L)).as("event_id"),
            (col("id") % 50).as("user_id"),
            timestamp_seconds(lit(b * 300L) + (col("id") % 300)).as("ts"),
            concat(lit("type_"), col("id") % 4).as("event_type"),
            (col("id") * 0.25).as("value"))
          val tmp = new java.io.File(work, s"_tmp_$name$b")
          rows.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
          val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
          val dst = new java.io.File(d, f"batch$b%02d.parquet")
          java.nio.file.Files.move(part.toPath, dst.toPath)
          dst.setLastModified(1700000000000L + b * 60000L)
        }
        d
      }
      val feedSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType)))
      def srcStream(dir: java.io.File): DataFrame =
        spark.readStream.schema(feedSchema)
          .option("maxFilesPerTrigger", 1)
          .parquet(dir.getAbsolutePath)
      // run one op to completion; return (batchesWithInput, per-batch
      // series of (stateRows, stateBytes) ordered by batchId — no-data
      // batches included, they're where eviction lands)
      def runOp(name: String, build: () => DataFrame): (Int, Seq[(Long, Long)]) = {
        val q = build().writeStream.format("noop")
          .outputMode("append")
          .option("checkpointLocation",
            new java.io.File(work, s"$name-ckpt").getAbsolutePath)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val progs = q.recentProgress.sortBy(_.batchId)
        val withInput = progs.count(_.numInputRows > 0)
        val series = progs.toSeq.map(p =>
          (p.stateOperators.map(_.numRowsTotal).sum,
            p.stateOperators.map(_.memoryUsedBytes).sum))
        (withInput, series)
      }
      // plateau: the last third of the run holds no more state than the
      // middle third (x1.5 jitter allowance) AND final state is a small
      // fraction of everything ingested. 1.5x is deliberate slack for
      // horizon wobble; a leak that survives it is growing with input,
      // not jitter.
      var failed = List.empty[String]
      def assertPlateau(name: String, batches: Int,
          series: Seq[(Long, Long)], totalIn: Long): Unit = {
        val rows = series.map(_._1)
        val third = series.size / 3
        val maxMid = rows.slice(third, 2 * third).max
        val maxTail = rows.drop(2 * third).max
        val ok = batches >= 20 && maxTail <= maxMid * 3 / 2 &&
          rows.last < totalIn / 2
        if (!ok) failed ::= name
        println(f"[rehearsal] streamstate $name: batches=$batches " +
          f"maxMid=$maxMid maxTail=$maxTail finalRows=${rows.last} " +
          f"finalBytes=${series.last._2} totalIn=$totalIn " +
          (if (ok) "PLATEAU" else "*** GREW ***"))
      }
      val totalIn = (nBatches * rowsPerBatch).toLong
      timed("streamstate dedup bounded") {
        val feed = stageFeed("dedup-in")
        val (b, s) = runOp("dedup", () =>
          StreamingClassify.dedupStream(srcStream(feed),
            Seq("event_id"), "ts", "10 minutes"))
        assertPlateau("dedupStream", b, s, totalIn)
      }
      timed("streamstate windowed agg") {
        val feed = stageFeed("win-in")
        val (b, s) = runOp("win", () =>
          StreamingClassify.windowedEventStats(srcStream(feed)))
        assertPlateau("windowedEventStats", b, s, totalIn)
      }
      timed("streamstate interval join") {
        val left = stageFeed("ij-left-in")
        val right = stageFeed("ij-right-in")
        val (b, s) = runOp("ij", () =>
          StreamingClassify.intervalJoin(
            srcStream(left).withColumnRenamed("ts", "lts"), "lts",
            srcStream(right).select(col("user_id"),
              col("ts").as("rts"), col("value").as("rvalue")), "rts",
            "user_id", "5 minutes", "2 minutes"))
        assertPlateau("intervalJoin", b, s, totalIn * 2)
      }
      // control: UNBOUNDED dropDuplicates on the same feed must show the
      // growth the bounded operators avoid — otherwise the probe can't
      // see growth at all and every plateau above is vacuous
      timed("streamstate unbounded control") {
        val feed = stageFeed("ctl-in")
        val (b, s) = runOp("ctl", () =>
          srcStream(feed).dropDuplicates("event_id"))
        val rows = s.map(_._1)
        val third = s.size / 3
        val grew = b >= 20 && rows.last >= rows(third) * 2 &&
          rows.last >= nBatches * 300L // every unique key ever seen
        if (!grew) failed ::= "unbounded-control"
        println(s"[rehearsal] streamstate unbounded control: batches=$b " +
          s"rowsAtThird=${rows(third)} finalRows=${rows.last} " +
          (if (grew) "GREW (probe is sensitive)" else "*** DID NOT GROW ***"))
      }
      require(failed.isEmpty,
        s"streamstate failures: ${failed.reverse.mkString(", ")}")
      // cleanup on success only (post-mortem on failure)
      def rmTree(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rmTree)
        f.delete(); ()
      }
      rmTree(work)
      println("[rehearsal] streamstate: all three bounded operators " +
        "plateau under 24 advancing-watermark micro-batches; the " +
        "unbounded control grows — state is horizon-bound, not input-bound")
    }
    spark.stop()
    // after app deregistration, so workers reap executor children first
    org.apache.spark.deploy.GraftMiniCluster.stop()
  }
}
