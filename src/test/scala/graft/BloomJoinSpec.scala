package graft

import graft.operators.BloomJoin
import org.apache.spark.sql.functions._

class BloomJoinSpec extends SparkTestBase {

  test("bloom-prefiltered semi join equals the plain semi join (parquet-backed)") {
    val customer = spark.read.parquet(s"$sf001/customer.parquet")
    val build = spark.read.parquet(s"$sf001/orders.parquet")
      .filter(col("o_totalprice") > 300000.0)
    val got = BloomJoin.semiJoin(customer, build, "c_custkey", "o_custkey",
      expectedItems = 10000L)
      .select("c_custkey").orderBy("c_custkey").collect().map(_.getLong(0))
    val want = customer
      .join(build.select(col("o_custkey").as("c_custkey")), Seq("c_custkey"), "left_semi")
      .select("c_custkey").orderBy("c_custkey").collect().map(_.getLong(0))
    assert(want.nonEmpty && got.sameElements(want))
  }

  test("empty build side yields an empty result, schema preserved") {
    val customer = spark.read.parquet(s"$sf001/customer.parquet")
    val build = spark.read.parquet(s"$sf001/orders.parquet")
      .filter(col("o_totalprice") > 1e18)
    val out = BloomJoin.semiJoin(customer, build, "c_custkey", "o_custkey")
    assert(out.count() === 0)
    assert(out.columns.toSeq === customer.columns.toSeq)
  }

  test("bloom prefilter keeps every true match and prunes most non-members") {
    // probe ids 0..9999; build ids only 0..99 -> 1% true-match rate
    val probe = spark.range(10000).select(col("id").as("k"))
    val build = spark.range(100).select(col("id").as("k"))
    val bloom = build
      .agg(call_function("graft_bloom_agg", col("k"), lit(100L), lit(4096L)))
      .head().getAs[Array[Byte]](0)
    val passed = probe.filter(
      call_function("graft_might_contain", lit(bloom), col("k"))).count()
    // no false negatives: all 100 members pass
    assert(passed >= 100)
    // 4096 bits for 100 keys ~ 1% fpp: far below the 9900 non-members
    assert(passed < 1000, s"bloom passed $passed of 10000 probes")
  }
}
