package graftbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.util.control.NonFatal

/** The benchmark's JVM side. Runs one workload in one process at
  * local[cores] and writes everything it measured, unreduced, as one JSON
  * document; `run.py` turns that into the reported metrics.
  *
  * Usage: graftbench.Main --workload NAME --seed N --seconds S --trace 0|1
  *          --work DIR --out FILE
  *
  * Untraced: sets up three times (each a fresh session, fresh inputs
  * and one checked warm-up iteration), then runs checked iterations for
  * `seconds` and at least [[MinMeasured]] of them. Traced: sets up once, times the kernels, then alternates an
  * untraced and a traced iteration for `seconds`, recording spans, Spark
  * jobs and stages.
  */
object Main {
  /** Untraced runs measure at least this many iterations: a run's median
    * then always sits at the same point of the JIT warm-up curve, instead
    * of moving with how many iterations a slow or fast window admits.
    */
  val MinMeasured = 3

  final case class Iter(run: Int, traced: Boolean, wallS: Double, ok: Boolean, detail: String,
      progress: Seq[Map[String, Double]])

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = new java.io.File(opts("work"))
    val setups = if (traced) 1 else 3
    val cores = Runtime.getRuntime.availableProcessors()
    work.mkdirs()

    val iters = mutable.ArrayBuffer.empty[Iter]
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var workload: Workload = null
    var runId = 0

    def iterate(t: Tracer): Iter = {
      runId += 1
      t.beginRun(runId)
      val t0 = System.nanoTime()
      val out =
        try t.span("run")(workload.iterate(t))
        catch { case NonFatal(e) => Outcome(ok = false, s"${e.getClass.getName}: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      t.releaseMaterialized()
      val it = Iter(runId, t.on, wall, out.ok, out.detail, workload.progress)
      if (!out.ok) System.err.println(s"[graftbench] iteration $runId failed: ${out.detail}")
      iters += it
      it
    }

    for (i <- 0 until setups) {
      if (spark != null) { workload.close(); spark.stop() }
      val t0 = System.nanoTime()
      spark = graft.GraftSession.builder(s"local[$cores]", cores)
        .config("spark.ui.enabled", "false").getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      workload = Workloads(name)
      val t1 = System.nanoTime()
      workload.setup(spark, seed, work)
      val t2 = System.nanoTime()
      workload.oracle()
      val t3 = System.nanoTime()
      iterate(new Tracer(false, spark))
      val t4 = System.nanoTime()
      setupS += ((t4 - t0) - (t3 - t2)) / 1e9
      System.err.println(f"[graftbench] set-up ${i + 1}: session ${(t1 - t0) / 1e9}%.2f s, " +
        f"inputs ${(t2 - t1) / 1e9}%.2f s, warm-up ${(t4 - t3) / 1e9}%.2f s " +
        f"(oracle ${(t3 - t2) / 1e9}%.2f s, not counted)")
    }

    val listener = new JobListener
    val tracer = new Tracer(true, spark)
    val plain = new Tracer(false, spark)
    val kernels = if (traced) KernelProbe.run(seed) else Map.empty[String, Double]
    if (traced) spark.sparkContext.addSparkListener(listener)
    val start = System.nanoTime()
    val measured = mutable.ArrayBuffer.empty[Iter]
    def elapsed = (System.nanoTime() - start) / 1e9
    do {
      if (traced) {
        measured += iterate(plain)
        measured += iterate(tracer)
      } else measured += iterate(plain)
    } while ((elapsed < seconds || (!traced && measured.size < MinMeasured)) && !workload.exhausted)
    workload.close()
    if (traced) listener.drain(spark.sparkContext)
    spark.stop()

    val json = new Json
    json.obj {
      json.field("workload", name)
      json.field("seed", seed)
      json.field("cores", cores)
      json.field("traced", traced)
      json.field("items", workload.items)
      json.field("peak_rss_kb", peakRssKb)
      json.field("setup_s", setupS.toSeq)
      json.key("counts"); json.numMap(workload.counts)
      json.key("kernels"); json.numMap(kernels)
      json.key("timings"); json.numMap(workload.timings)
      json.key("iterations")
      json.arr(iters.toSeq) { it =>
        json.obj {
          json.field("run", it.run)
          json.field("traced", it.traced)
          json.field("measured", measured.exists(_ eq it))
          json.field("wall_s", it.wallS)
          json.field("ok", it.ok)
          json.field("detail", it.detail)
          json.key("progress"); json.arr(it.progress)(json.numMap)
        }
      }
      json.key("spans")
      json.arr(tracer.spans.toSeq) { s =>
        json.obj {
          json.field("name", s.name); json.field("start", s.start); json.field("end", s.end)
          json.field("parent", s.parent); json.field("run", s.run)
        }
      }
      json.key("jobs")
      json.arr(listener.jobs.values.toSeq) { j =>
        json.obj {
          json.field("id", j.id); json.field("group", j.group); json.field("start", j.start)
          json.field("end", j.end); json.field("stages", j.stages.map(_.toDouble))
        }
      }
      json.key("stages")
      json.arr(listener.stages.toSeq) { s =>
        json.obj {
          json.field("id", s.id); json.field("attempt", s.attempt); json.field("tasks", s.tasks)
          json.field("run_ms", s.runMs); json.field("cpu_ns", s.cpuNs); json.field("gc_ms", s.gcMs)
          json.field("shuffle_write", s.shuffleWrite); json.field("shuffle_read", s.shuffleRead)
          json.field("spill", s.spill)
        }
      }
    }
    val out = new java.io.File(opts("out"))
    java.nio.file.Files.write(out.toPath, json.result.getBytes("UTF-8"))
  }

  /** The process's peak resident set (VmHWM), in kB. */
  def peakRssKb: Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }
}

/** Minimal streaming JSON writer for the measurement dump. */
final class Json {
  private val sb = new StringBuilder
  private var first = true

  private def sep(): Unit = { if (!first) sb.append(','); first = false }
  def result: String = sb.toString

  def key(k: String): Unit = { sep(); str(k); sb.append(':'); first = true }
  def obj(body: => Unit): Unit = { sep(); sb.append('{'); first = true; body; sb.append('}'); first = false }
  def arr[T](xs: Seq[T])(each: T => Unit): Unit = {
    sep(); sb.append('['); first = true
    xs.foreach(each)
    sb.append(']'); first = false
  }
  def numMap(m: Map[String, Double]): Unit = obj(m.toSeq.sortBy(_._1).foreach { case (k, v) => field(k, v) })

  private def str(s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
  private def num(v: Double): Unit =
    if (v.isNaN || v.isInfinite) sb.append("null") else sb.append(v.toString)

  def field(k: String, v: String): Unit = { key(k); sep(); str(v) }
  def field(k: String, v: Double): Unit = { key(k); sep(); num(v) }
  def field(k: String, v: Long): Unit = { key(k); sep(); sb.append(v) }
  def field(k: String, v: Int): Unit = field(k, v.toLong)
  def field(k: String, v: Boolean): Unit = { key(k); sep(); sb.append(v) }
  def field(k: String, v: Seq[Double]): Unit = { key(k); arr(v) { x => sep(); num(x) } }
}
