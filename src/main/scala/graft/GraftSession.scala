package graft

import graft.functions.GraftExtensions
import org.apache.spark.sql.SparkSession

/** Public entry point: a SparkSession builder pre-configured for the graft
  * engine — extensions installed (native functions + optimizer rules) and
  * the confs the engine assumes (AQE on, UTC, nanos-tolerant parquet
  * reads). Every graft main, tool and test builds its sessions here and
  * adds only deployment settings (`SessionBuilderSpec` fails on any other
  * builder). Use [[graft.functions.GraftFunctions.register]] instead when
  * attaching to a session graft did not build.
  */
object GraftSession {

  def builder(master: String = "local[*]", shufflePartitions: Int = 0): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (shufflePartitions > 0)
      b.config("spark.sql.shuffle.partitions", shufflePartitions)
    b
  }

  def getOrCreate(master: String = "local[*]"): SparkSession = {
    val s = builder(master).getOrCreate()
    // builder extensions only apply to NEW sessions; make getOrCreate on a
    // pre-existing session equivalent
    graft.functions.GraftFunctions.register(s)
    s
  }
}
