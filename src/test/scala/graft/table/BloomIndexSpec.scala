package graft.table

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Partition bloom index: an equality filter on a non-partition key
  * plans only the partitions whose bloom might contain the value; a
  * stale index (any commit after the build) is silently ignored so
  * rows can never be dropped; results always equal the plain scan
  * exactly. */
class BloomIndexSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._
  import org.apache.spark.sql.functions.col

  private def fresh() = new VersionedTableStore(spark,
    Files.createTempDirectory("graft-bloom").toString)

  // 10 day-partitions, keys 1000*day .. 1000*day+99: every day's
  // key range is disjoint BUT the manifest only carries day stats,
  // so without the bloom a key lookup must scan all 10 partitions
  private def plant(vs: VersionedTableStore): Unit =
    vs.commitFull(
      (0 until 10).flatMap(day => (0 until 100).map(i =>
        (day * 1000L + i, s"v$day-$i", day))).toDF("k", "s", "day"),
      "t", partitionBy = Seq("day"))

  /** Day partitions the planned scan of `df` reads. */
  private def days(df: org.apache.spark.sql.DataFrame): Set[String] =
    PlannedScan.files(df).map(_.split("/day=")(1).takeWhile(_ != '/')).toSet

  test("indexed point lookup prunes to the owning partition, results exact") {
    val vs = fresh()
    plant(vs)
    assert(vs.buildBloomIndex("t", "k") === 10)
    val hit = vs.read("t").filter(col("k") === 3042L)
    assert(hit.select("s").as[String].collect().toSeq === Seq("v3-42"))
    // plan proof: only partitions the bloom admits are in the scan --
    // for a unique key that is (almost surely) exactly day=3
    val dirs = days(hit)
    assert(dirs.contains("3") && dirs.size <= 2,
      s"bloom should prune to ~1 partition, scanned days $dirs")
    // exactness parity with the unpruned scan, hit and miss
    val all = vs.read("t").collect().toSeq
    assert(hit.collect().toSeq === all.filter(_.getAs[Long]("k") == 3042L))
    val miss = vs.read("t").filter(col("k") === 999999L)
    assert(miss.count() === 0)
    assert(days(miss).size <= 1, s"an absent key scanned days ${days(miss)}")
  }

  test("a stale index is ignored: post-build commits stay visible") {
    val vs = fresh()
    plant(vs)
    vs.buildBloomIndex("t", "k")
    // new delta commit AFTER the build adds key 20042 in day=20
    vs.commitPartitions(Seq((20042L, "new", 20)).toDF("k", "s", "day"),
      "t", Seq("day"))
    // the index was built at the previous version: it must NOT be
    // consulted, or the new row would be wrongly pruned away
    val stale = vs.read("t").filter(col("k") === 20042L)
    assert(stale.select("s").as[String].collect().toSeq === Seq("new"))
    assert(days(stale).size === 11, "a stale index pruned partitions")
    // rebuild at the new head re-enables pruning, new row included
    assert(vs.buildBloomIndex("t", "k") === 11)
    val rebuilt = vs.read("t").filter(col("k") === 20042L)
    assert(rebuilt.select("s").as[String].collect().toSeq === Seq("new"))
    assert(days(rebuilt).contains("20") && days(rebuilt).size <= 2)
  }

  test("string keys and unpartitioned tables") {
    val vs = fresh()
    vs.commitFull(Seq((1L, "alpha"), (2L, "beta")).toDF("k", "s"), "u")
    assert(vs.buildBloomIndex("u", "s") === 1) // one "." rel
    val beta = vs.read("u").filter(col("s") === "beta")
    assert(beta.select("k").as[Long].collect().toSeq === Seq(2L))
    assert(PlannedScan.files(beta).nonEmpty)
    // the bloom excludes the only rel: nothing is planned at all
    val gamma = vs.read("u").filter(col("s") === "gamma")
    assert(gamma.count() === 0)
    assert(PlannedScan.files(gamma).isEmpty)
    // partitioned string key: the planned scan skips every partition
    // whose bloom excludes the value
    plant(vs)
    assert(vs.buildBloomIndex("t", "s") === 10)
    val hit = vs.read("t").filter(col("s") === "v7-13")
    assert(hit.select("k").as[Long].collect().toSeq === Seq(7013L))
    assert(days(hit).contains("7") && days(hit).size <= 2,
      s"string bloom should prune to ~1 partition, scanned days ${days(hit)}")
  }

  test("unsupported key types reject loudly") {
    val vs = fresh()
    vs.commitFull(Seq((1.5, "a")).toDF("x", "s"), "d")
    intercept[IllegalArgumentException] { vs.buildBloomIndex("d", "x") }
  }
}
