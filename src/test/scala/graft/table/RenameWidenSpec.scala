package graft.table

import java.nio.file.Files

import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Column identity evolution: METADATA-ONLY `renameColumn` (files
  * resolve by parquet field ID, so the logical name is free) and
  * `widenColumn` (lossless type promotions the parquet reader serves
  * natively). Behaviors derived on paper, not engine-vs-oracle:
  * old files under new names, mixed-width unions, time travel
  * serving each snapshot's own names, rejection of everything that
  * would corrupt (partition columns, pending MoR keys, lossy
  * retypes, pre-identity tables). */
class RenameWidenSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def fresh() = new VersionedTableStore(spark,
    Files.createTempDirectory("graft-rw").toString)

  test("rename serves pre-rename files under the new name, zero rewrite") {
    val vs = fresh()
    vs.commitFull(Seq((1, "a", 10), (2, "b", 20)).toDF("k", "v", "amt"), "t")
    val before = vs.read("t").inputFiles.toSet
    vs.renameColumn("t", "amt", "amount")
    // metadata-only: the exact same files serve the scan
    assert(vs.read("t").inputFiles.toSet === before)
    assert(vs.read("t").columns.toSeq === Seq("k", "v", "amount"))
    assert(vs.read("t").select("k", "amount").as[(Int, Int)].collect()
      .toSeq.sorted === Seq((1, 10), (2, 20)))
    // time travel: the pre-rename snapshot serves the OLD name
    assert(vs.readVersion("t", 1L).columns.toSeq === Seq("k", "v", "amt"))
    assert(vs.readVersion("t", 1L).select("amt").as[Int].collect().sorted
      .toSeq === Seq(10, 20))
  }

  test("post-rename delta files union with pre-rename files by ID") {
    val vs = fresh()
    vs.commitFull(Seq((1, "x", 10)).toDF("day", "v", "amt"), "t",
      partitionBy = Seq("day"))
    vs.renameColumn("t", "amt", "amount")
    // a delta commit written AFTER the rename stores the new name...
    vs.commitPartitions(Seq((2, "y", 20)).toDF("day", "v", "amount"), "t",
      Seq("day"))
    // ...and one scan unions both generations correctly
    assert(vs.read("t").select("day", "amount").as[(Int, Int)].collect()
      .toSeq.sorted === Seq((1, 10), (2, 20)))
    // compounding: rename again; both file generations still resolve
    vs.renameColumn("t", "amount", "amt_usd")
    assert(vs.read("t").select("day", "amt_usd").as[(Int, Int)].collect()
      .toSeq.sorted === Seq((1, 10), (2, 20)))
  }

  test("rename survives a later full rewrite (IDs are name-stable)") {
    val vs = fresh()
    vs.commitFull(Seq((1, 10)).toDF("k", "amt"), "t", partitionBy = Seq("k"))
    vs.renameColumn("t", "amt", "amount")
    vs.compact("t") // full rewrite under the NEW name
    vs.commitPartitions(Seq((2, 20)).toDF("k", "amount"), "t", Seq("k"))
    assert(vs.read("t").select("k", "amount").as[(Int, Int)].collect()
      .toSeq.sorted === Seq((1, 10), (2, 20)))
  }

  test("manifest stats follow the rename: readWhere still prunes") {
    val vs = fresh()
    vs.commitFull(
      (1 to 40).map(i => ((i - 1) / 10, i.toLong)).toDF("p", "ord"),
      "t", partitionBy = Seq("p"), statsColumns = Seq("ord"))
    vs.renameColumn("t", "ord", "order_id")
    val pruned = vs.read("t")
      .filter(org.apache.spark.sql.functions.col("order_id") === 4L)
    // value correctness AND the prune actually happened (4 rel dirs
    // with DISJOINT ord ranges; only p=0 [1,10] intersects [4,4])
    assert(pruned.select("p", "order_id").as[(Int, Long)].collect()
      .toSeq === Seq((0, 4L)))
    val planned = PlannedScan.files(pruned)
    assert(planned.nonEmpty && planned.forall(_.contains("p=0")),
      s"renamed stats failed to prune: ${planned.mkString(",")}")
  }

  test("rename rejections: partition column, collision, MoR keys, bad name") {
    val vs = fresh()
    vs.commitFull(Seq((1, "a", 10L)).toDF("p", "v", "id"), "t",
      partitionBy = Seq("p"))
    assertThrows[IllegalArgumentException](vs.renameColumn("t", "p", "q"))
    assertThrows[IllegalArgumentException](vs.renameColumn("t", "v", "id"))
    assertThrows[IllegalArgumentException](vs.renameColumn("t", "v", "V"))
    assertThrows[IllegalArgumentException](vs.renameColumn("t", "v", "a.b"))
    assertThrows[IllegalArgumentException](vs.renameColumn("t", "nope", "x"))
    // a pending merge-on-read delete keys on `id`: rename must reject
    vs.deleteKeys("t", Seq(99L).toDF("id"), Seq("id"))
    assertThrows[IllegalArgumentException](vs.renameColumn("t", "id", "id2"))
    // compact applies the pending deletes; rename is legal again
    vs.compact("t")
    vs.renameColumn("t", "id", "id2")
    assert(vs.read("t").columns.contains("id2"))
  }

  test("pre-identity tables reject rename until a full rewrite assigns IDs") {
    val vs = fresh()
    vs.commitFull(Seq((1, "a")).toDF("k", "v"), "t")
    // simulate a pre-feature manifest: rewrite the head commit file
    // with the fid lines stripped (the serialized format is line-based
    // and back-compatible, which is exactly what this exercises)
    val fs = new org.apache.hadoop.fs.Path(vs.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cf = new org.apache.hadoop.fs.Path(s"${vs.root}/t/_commits/c00000001")
    val in = fs.open(cf)
    val text = scala.io.Source.fromInputStream(in).mkString
    in.close()
    val stripped = text.split("\n").filterNot(_.startsWith("fid\t"))
      .mkString("\n")
    fs.delete(cf, false)
    val out = fs.create(cf, false)
    out.write(stripped.getBytes("UTF-8")); out.close()
    // ledgerless: rename refuses, read still works (name matching)
    assertThrows[IllegalArgumentException](vs.renameColumn("t", "v", "w"))
    assert(vs.read("t").as[(Int, String)].collect().toSeq === Seq((1, "a")))
    // the full rewrite assigns identities; rename unlocks
    vs.compact("t")
    vs.renameColumn("t", "v", "w")
    assert(vs.read("t").select("w").as[String].collect().toSeq === Seq("a"))
  }

  test("drop + re-add NEVER resurrects the dropped column's stored data") {
    val vs = fresh()
    // amt's values are IN the files (not a metadata default)
    vs.commitFull(Seq((1, 10), (2, 20)).toDF("k", "amt"), "t",
      partitionBy = Seq("k"))
    vs.evolveSchema("t", "k INT") // metadata-only drop; files retained
    vs.evolveSchema("t", "k INT, amt INT") // re-add the NAME
    // the re-added column is a NEW identity: retained files' old
    // amt data (their field ID is tombstoned, never reused) must
    // read as NULL, not 10/20
    assert(vs.read("t").select("amt").as[Option[Int]].collect()
      .toSeq === Seq(None, None))
    // and a post-re-add write round-trips normally
    vs.commitPartitions(Seq((3, 30)).toDF("k", "amt"), "t", Seq("k"))
    assert(vs.read("t").select("amt").as[Option[Int]].collect()
      .toSeq.flatten.sorted === Seq(30))
  }

  test("widen int->long and float->double across file generations") {
    val vs = fresh()
    vs.commitFull(Seq((1, 10, 1.5f)).toDF("k", "n", "x"), "t",
      partitionBy = Seq("k"))
    vs.widenColumn("t", "n", LongType)
    vs.widenColumn("t", "x", DoubleType)
    // old INT32/FLOAT files serve under the wide schema...
    assert(vs.read("t").schema("n").dataType === LongType)
    assert(vs.read("t").select("n").as[Long].collect().toSeq === Seq(10L))
    // ...and a post-widen commit stores wide values beside them
    vs.commitPartitions(
      Seq((2, 5000000000L, 2.25d)).toDF("k", "n", "x"), "t", Seq("k"))
    assert(vs.read("t").select("k", "n", "x").as[(Int, Long, Double)]
      .collect().toSeq.sorted === Seq((1, 10L, 1.5d), (2, 5000000000L, 2.25d)))
  }

  test("widen decimal precision and scale") {
    val vs = fresh()
    vs.commitFull(Seq((1, BigDecimal("1.50")), (2, BigDecimal("2.25")))
      .toDF("k", "d")
      .select($"k", $"d".cast(DecimalType(10, 2)).as("d")), "t")
    vs.widenColumn("t", "d", DecimalType(22, 4))
    val got = vs.read("t").select("d").as[java.math.BigDecimal].collect()
      .map(_.toPlainString).sorted.toSeq
    assert(got === Seq("1.5000", "2.2500"))
  }

  test("widen rejections: lossy retypes and partition columns") {
    val vs = fresh()
    vs.commitFull(Seq((1, 10L, "s", 1.5d)).toDF("p", "n", "v", "x"), "t",
      partitionBy = Seq("p"))
    assertThrows[IllegalArgumentException](
      vs.widenColumn("t", "n", IntegerType)) // narrowing
    assertThrows[IllegalArgumentException](
      vs.widenColumn("t", "x", DecimalType(20, 4))) // cross-family
    assertThrows[IllegalArgumentException](
      vs.widenColumn("t", "v", LongType)) // string->long
    assertThrows[IllegalArgumentException](
      vs.widenColumn("t", "n", LongType)) // no-op
    assertThrows[IllegalArgumentException](
      vs.widenColumn("t", "p", LongType)) // partition column
    assertThrows[IllegalArgumentException](
      vs.widenColumn("t", "d", DecimalType(10, 1))) // scale shrink (and no col)
  }

  test("rename on a branch merges to main; divergent renames conflict") {
    val vs = fresh()
    vs.commitFull(Seq((1, 10)).toDF("k", "amt"), "t")
    vs.createBranch("t", "dev")
    vs.renameColumn("t", "amt", "amount", branch = "dev")
    // isolated: main still serves amt
    assert(vs.read("t").columns.toSeq === Seq("k", "amt"))
    assert(vs.readBranch("t", "dev").columns.toSeq === Seq("k", "amount"))
    vs.mergeBranch("t", "dev")
    assert(vs.read("t").select("amount").as[Int].collect().toSeq === Seq(10))
    // divergence: both sides rename the same column differently
    val vs2 = fresh()
    vs2.commitFull(Seq((1, 10)).toDF("k", "amt"), "t")
    vs2.createBranch("t", "dev")
    vs2.renameColumn("t", "amt", "a_main")
    vs2.renameColumn("t", "amt", "a_dev", branch = "dev")
    assertThrows[BranchMergeConflict](vs2.mergeBranch("t", "dev"))
  }

  test("branch-renamed column: INSERT with the old name fails LOUDLY") {
    val root = Files.createTempDirectory("graft-rw-br").toString
    spark.conf.set("spark.sql.catalog.rwb", "graft.table.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.rwb.root", root)
    try {
      spark.sql("CREATE TABLE rwb.default.t (k INT, amt INT, day INT) " +
        "PARTITIONED BY (day)")
      spark.sql("INSERT INTO rwb.default.t VALUES (1, 10, 1)")
      val vs = new VersionedTableStore(spark, root)
      vs.createBranch("t", "dev")
      vs.renameColumn("t", "amt", "amount", branch = "dev")
      spark.conf.set("spark.graft.branch", "dev")
      try {
        // Spark resolves the batch against the MAIN handle (column
        // `amt`); the branch knows only `amount` — silently
        // null-padding `amount` while DISCARDING amt's values would
        // be data loss, so the alignment rejects loudly
        val e = intercept[Exception](spark.sql(
          "INSERT INTO rwb.default.t VALUES (2, 20, 1)"))
        assert(e.getMessage.contains("amt") ||
          Option(e.getCause).exists(_.getMessage.contains("amt")))
        // branch state untouched
        assert(vs.readBranch("t", "dev").count() === 1L)
      } finally spark.conf.unset("spark.graft.branch")
    } finally {
      spark.conf.unset("spark.sql.catalog.rwb")
      spark.conf.unset("spark.sql.catalog.rwb.root")
    }
  }

  test("SQL surface: ALTER TABLE RENAME COLUMN / ALTER COLUMN TYPE, then DML") {
    val root = Files.createTempDirectory("graft-rw-sql").toString
    spark.conf.set("spark.sql.catalog.rwc", "graft.table.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.rwc.root", root)
    try {
      spark.sql("CREATE TABLE rwc.default.t (k INT, amt INT, day INT) " +
        "PARTITIONED BY (day)")
      spark.sql("INSERT INTO rwc.default.t VALUES (1, 10, 1), (2, 20, 2)")
      spark.sql("ALTER TABLE rwc.default.t RENAME COLUMN amt TO amount")
      spark.sql("ALTER TABLE rwc.default.t ALTER COLUMN amount TYPE BIGINT")
      // pre-rename files under the new, widened column
      assert(spark.sql("SELECT sum(amount) FROM rwc.default.t")
        .as[Long].head() === 30L)
      // INSERT under the evolved schema
      spark.sql("INSERT INTO rwc.default.t VALUES (3, 5000000000, 3)")
      // row-level UPDATE rewrites staged files carrying the same IDs
      spark.sql("UPDATE rwc.default.t SET amount = amount + 1 WHERE k = 1")
      assert(spark.sql(
        "SELECT k, amount FROM rwc.default.t ORDER BY k")
        .as[(Int, Long)].collect().toSeq ===
        Seq((1, 11L), (2, 20L), (3, 5000000000L)))
      // and a partition-pruned DELETE still prunes by rel path
      spark.sql("DELETE FROM rwc.default.t WHERE day = 2")
      assert(spark.sql("SELECT count(*) FROM rwc.default.t")
        .as[Long].head() === 2L)
      // lossy retype rejected at the SQL surface too
      assertThrows[Exception](spark.sql(
        "ALTER TABLE rwc.default.t ALTER COLUMN amount TYPE INT"))
    } finally {
      spark.conf.unset("spark.sql.catalog.rwc")
      spark.conf.unset("spark.sql.catalog.rwc.root")
    }
  }
}
