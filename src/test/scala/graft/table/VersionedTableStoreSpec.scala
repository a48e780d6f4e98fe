package graft.table

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class VersionedTableStoreSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def fresh(keep: Int = 10) = new VersionedTableStore(spark,
    Files.createTempDirectory("graft-vstore").toString, keepSnapshots = keep)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Int, String)] =
    df.as[(Int, String)].collect().toSeq.sorted

  test("commits are versioned and every retained snapshot stays readable") {
    val vs = fresh()
    vs.commitFull(Seq((1, "a"), (2, "b")).toDF("k", "v"), "t")
    vs.commitFull(Seq((1, "A"), (3, "c")).toDF("k", "v"), "t")
    assert(vs.versions("t") === Seq(1L, 2L))
    assert(vs.currentVersion("t") === 2L)
    assert(rows(vs.read("t")) === Seq((1, "A"), (3, "c")))
    // time travel: v1 is still exactly v1
    assert(rows(vs.readVersion("t", 1)) === Seq((1, "a"), (2, "b")))
  }

  test("rollbackTo restores old contents as a NEW version (history rolls forward)") {
    val vs = fresh()
    vs.commitFull(Seq((1, "good")).toDF("k", "v"), "t")
    vs.commitFull(Seq((1, "bad")).toDF("k", "v"), "t")
    val v = vs.rollbackTo("t", 1)
    assert(v === 3L)
    assert(rows(vs.read("t")) === Seq((1, "good")))
    // the bad snapshot stays inspectable -- rollback moved a pointer,
    // not files
    assert(rows(vs.readVersion("t", 2)) === Seq((1, "bad")))
  }

  test("crash mid-commit leaves the old pointer intact") {
    val vs = fresh()
    vs.commitFull(Seq((1, "a")).toDF("k", "v"), "t")
    val fs = new Path(vs.root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // crash between data write and pointer swap: an orphaned data dir
    Seq((9, "z")).toDF("k", "v").write
      .parquet(s"${vs.path("t")}/_data/v2-deadbeef")
    // crash mid-pointer-write: a truncated manifest (no `end` marker)
    val out = fs.create(new Path(s"${vs.path("t")}/_commits/c00000002"), false)
    out.write("graft-manifest-v1\nversion=2\npartitionBy=".getBytes("UTF-8"))
    out.close()
    assert(vs.currentVersion("t") === 1L)
    assert(rows(vs.read("t")) === Seq((1, "a")))
    // the next real commit allocates PAST the debris: a truncated
    // manifest is a dead writer, not a commit -- it must not wedge
    // the version counter, and its number is burned, never reused
    // (deleting debris to reuse the number is a delete/recreate
    // TOCTOU between two recovering losers)
    assert(vs.commitFull(Seq((1, "b")).toDF("k", "v"), "t") === 3L)
    assert(rows(vs.read("t")) === Seq((1, "b")))
    assert(vs.versions("t") === Seq(1L, 3L))
  }

  test("manifest CAS: the second writer of a version fails loudly, data intact") {
    val vs = fresh()
    vs.commitFull(Seq((1, "a")).toDF("k", "v"), "t")
    // two writers race: both observed version 1, both stage version 2
    vs.casManifest("t", vs.Manifest(2, Nil, vs.versionsMapping("t")),
      observedParent = 1L)
    val e = intercept[ConcurrentWriteException] {
      vs.casManifest("t", vs.Manifest(2, Nil, vs.versionsMapping("t")),
        observedParent = 1L)
    }
    assert(e.getMessage.contains("another writer"))
  }

  test("stale-parent commit is rejected: intervening snapshots are never dropped") {
    val vs = fresh()
    vs.commitFull(Seq((1, "a")).toDF("k", "v"), "t") // v1
    vs.commitFull(Seq((2, "b")).toDF("k", "v"), "t") // v2: the intervening writer
    // a writer that READ v1, then allocated past v2: committing v3
    // would make v2's changes silently vanish from the head's lineage
    val e = intercept[ConcurrentWriteException] {
      vs.casManifest("t", vs.Manifest(3, Nil, vs.versionsMapping("t")),
        observedParent = 1L)
    }
    assert(e.getMessage.contains("silently drop"))
    assert(vs.currentVersion("t") === 2L)
    // the same version built on the CURRENT head commits fine
    vs.casManifest("t", vs.Manifest(3, Nil, vs.versionsMapping("t")),
      observedParent = 2L)
    assert(vs.currentVersion("t") === 3L)
  }

  test("late re-check never retracts a commit a successor already chained on") {
    // The hazard: W1 creates c2 (visible head); before W1's post-create
    // re-check runs, W2 reads head v2 and chains c3 on it (a delta
    // commit may even share v2's data dirs). If W1 then retracted c2,
    // the live head v3 would reference deleted files. The re-check
    // must treat an above-self conflict as a successor, not a race.
    val root = Files.createTempDirectory("graft-vstore-chain").toString
    val base = new VersionedTableStore(spark, root)
    base.commitFull(Seq((1, "a")).toDF("k", "v"), "t") // v1
    val successor = new VersionedTableStore(spark, root)
    var chained = false
    val writer = new VersionedTableStore(spark, root) {
      override protected def beforeLateCheck(name: String, v: Long): Unit =
        if (!chained) { chained = true
          successor.commitFull(Seq((1, "chained")).toDF("k", "v"), name) }
    }
    // must NOT throw: the successor chained on our visible commit
    assert(writer.commitFull(Seq((1, "mine")).toDF("k", "v"), "t") === 2L)
    assert(base.currentVersion("t") === 3L)
    assert(rows(base.read("t")) === Seq((1, "chained")))
    // our commit is durable history, not debris
    assert(rows(base.readVersion("t", 2)) === Seq((1, "mine")))
  }

  test("late re-check still retracts when a LOWER version lands in its window") {
    // The lost-update direction: a writer that observed parent v1 and
    // allocated v3 (past burned debris at v2) must retract itself if a
    // real v2 commit materializes between its create and its re-check
    // -- committing would silently hide v2 beneath the v3 head.
    val rootDir = Files.createTempDirectory("graft-vstore-lostupd").toString
    val vs0 = new VersionedTableStore(spark, rootDir)
    vs0.commitFull(Seq((1, "a")).toDF("k", "v"), "t") // v1
    val mapping = vs0.versionsMapping("t")
    val fs = new Path(rootDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    var injected = false
    val vs = new VersionedTableStore(spark, rootDir) {
      override protected def beforeLateCheck(name: String, v: Long): Unit =
        if (!injected) { injected = true
          // a competing v2 manifest lands (same bytes a real writer
          // would produce: reuses v1's data mapping)
          val txt = ("graft-manifest-v1\nversion=2\npartitionBy=\n" +
            "schema=k INT,v STRING\n" +
            mapping.map { case (rel, d) => s"dir\t$d\t$rel" }.mkString("\n") +
            "\nend")
          val out = fs.create(new Path(s"$rootDir/t/_commits/c00000002"), false)
          out.write(txt.getBytes("UTF-8")); out.close()
        }
    }
    val e = intercept[ConcurrentWriteException] {
      vs.casManifest("t", vs.Manifest(3, Nil, mapping), observedParent = 1L)
    }
    assert(e.getMessage.contains("retracting"))
    // the injected v2 is the surviving head; v3 was self-deleted
    assert(vs0.currentVersion("t") === 2L)
  }

  test("lower-version retraction is SKIPPED once a successor chained on us") {
    // the combined hazard: a successor chains on our visible commit
    // AND a lower version lands, both inside the late-check window.
    // Retracting now would delete a commit (and staged data a delta
    // child shares) that live lineage references -- the child's parent
    // record must win over the lost-update rule.
    val rootDir = Files.createTempDirectory("graft-vstore-chainlow").toString
    val vs0 = new VersionedTableStore(spark, rootDir)
    vs0.commitFull(Seq((1, "a")).toDF("k", "v"), "t") // v1
    val mapping = vs0.versionsMapping("t")
    val fs = new Path(rootDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val successor = new VersionedTableStore(spark, rootDir)
    var fired = false
    val vs = new VersionedTableStore(spark, rootDir) {
      override protected def beforeLateCheck(name: String, v: Long): Unit =
        if (!fired) { fired = true
          // 1) a fast successor chains on our now-visible commit
          successor.commitFull(Seq((1, "child")).toDF("k", "v"), name)
          // 2) then the lower v2 materializes
          val txt = ("graft-manifest-v1\nversion=2\npartitionBy=\n" +
            "schema=k INT,v STRING\n" +
            mapping.map { case (rel, d) => s"dir\t$d\t$rel" }.mkString("\n") +
            "\nend")
          val out = fs.create(new Path(s"$rootDir/t/_commits/c00000002"), false)
          out.write(txt.getBytes("UTF-8")); out.close()
        }
    }
    // must NOT throw: retraction is skipped because c4 records parent 3
    vs.casManifest("t", vs.Manifest(3, Nil, mapping), observedParent = 1L)
    assert(vs0.currentVersion("t") === 4L)
    // our commit survives as referenced history; the child reads fine
    assert(rows(vs0.readVersion("t", 3)) === Seq((1, "a")))
    assert(rows(vs0.read("t")) === Seq((1, "child")))
  }

  test("bloom-indexed point lookup skips row groups a plain table must scan") {
    import org.apache.spark.sql.functions.xxhash64
    val n = 200000L
    // high-cardinality key in RANDOM order: every row group's min/max
    // spans nearly the full 64-bit range, so stats cannot prove a
    // value absent -- only the bloom can
    val data = spark.range(n).select(
      xxhash64(col("id")).as("doc_id"), col("id").as("payload"))
      .repartition(1)
    val root = Files.createTempDirectory("graft-vstore-bloom").toString
    val vs = new VersionedTableStore(spark, root)
    // same small row groups on both tables; only `idx` gets the bloom
    vs.commitFullIndexed(data, "idx", Seq("doc_id"),
      parquetBlockSize = Some(96 * 1024), bloomExpectedNdv = Some(8192))
    vs.commitFullIndexed(data, "plain", Nil,
      parquetBlockSize = Some(96 * 1024))
    def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves()
        .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
        .map(_.metrics("numOutputRows").value).sum
    }
    val absent = 123456789L // not an xxhash64 image of 0..n-1 (p ~ n/2^64)
    val viaBloom = scanRows(vs.read("idx").filter(col("doc_id") === absent))
    val viaStats = scanRows(vs.read("plain").filter(col("doc_id") === absent))
    assert(viaStats > n / 2,
      s"plain table should scan nearly everything, scanned $viaStats")
    assert(viaBloom < viaStats / 4,
      s"bloom index failed to skip row groups: $viaBloom vs $viaStats")
    // correctness: a present key still returns its row
    val k = data.select(col("doc_id")).as[Long].head()
    assert(vs.read("idx").filter(col("doc_id") === k).count() === 1L)
  }

  test("end-to-end race: the losing commit throws and cleans up its staged data") {
    // interleave a competitor into the race window via the beforeSwap
    // seam: the loser stages its data, then the winner commits the
    // same version first
    val root = Files.createTempDirectory("graft-vstore").toString
    val winner = new VersionedTableStore(spark, root)
    winner.commitFull(Seq((1, "a")).toDF("k", "v"), "t")
    var raced = false
    val loser = new VersionedTableStore(spark, root) {
      override protected def beforeSwap(name: String, v: Long): Unit =
        if (!raced) { raced = true
          winner.commitFull(Seq((1, "winner")).toDF("k", "v"), name) }
    }
    intercept[ConcurrentWriteException] {
      loser.commitFull(Seq((1, "loser")).toDF("k", "v"), "t")
    }
    assert(rows(winner.read("t")) === Seq((1, "winner")))
    // the loser's staged data dir was removed -- no orphan accumulation
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataDirs = fs.listStatus(new Path(s"$root/t/_data")).map(_.getPath.getName)
    assert(dataDirs.length === 2, s"orphaned dirs: ${dataDirs.mkString(",")}")
  }

  test("DML race: a losing deleteWhere throws, cleans its staging, loses no data") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-vstore-dmlrace").toString
    val winner = new VersionedTableStore(spark, root)
    winner.commitFull(Seq((1, 5, "d1"), (2, 50, "d2")).toDF("k", "x", "day"),
      "t", Seq("day"))
    var raced = false
    val loser = new VersionedTableStore(spark, root) {
      override protected def beforeSwap(name: String, v: Long): Unit =
        if (!raced) { raced = true
          winner.commitPartitions(Seq((3, 7, "d3")).toDF("k", "x", "day"),
            name, Seq("day")) }
    }
    intercept[ConcurrentWriteException] {
      loser.deleteWhere("t", col("x") > 10)
    }
    // the winner's commit stands; the loser's delete did NOT apply and
    // its staged rewrite dir was removed
    assert(winner.read("t").select("k").as[Int].collect().sorted.toSeq ===
      Seq(1, 2, 3))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataDirs = fs.listStatus(new Path(s"$root/t/_data")).map(_.getPath.getName)
    assert(dataDirs.length === 2, s"orphaned dirs: ${dataDirs.mkString(",")}")
    // a retry against the fresh head applies cleanly
    loser.deleteWhere("t", col("x") > 10)
    assert(winner.read("t").select("k").as[Int].collect().sorted.toSeq ===
      Seq(1, 3))
  }

  test("partition-delta commit shares untouched partitions' files with the parent") {
    val vs = fresh()
    val day1 = Seq((1, "a", "d1"), (2, "b", "d2")).toDF("k", "v", "day")
    vs.commitFull(day1, "pt", Seq("day"))
    vs.commitPartitions(Seq((2, "B", "d2"), (3, "c", "d3")).toDF("k", "v", "day"),
      "pt", Seq("day"))
    assert(vs.read("pt").as[(Int, String, String)].collect().toSeq.sorted ===
      Seq((1, "a", "d1"), (2, "B", "d2"), (3, "c", "d3")))
    assert(rows(vs.readVersion("pt", 1).select("k", "v")) ===
      Seq((1, "a"), (2, "b")))
    // proof of file sharing: v2 commits exactly ONE new data dir and
    // its manifest maps day=d1 to v1's dir
    val fs = new Path(vs.root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val dataDirs = fs.listStatus(new Path(s"${vs.path("pt")}/_data"))
      .map(_.getPath.getName).sorted
    assert(dataDirs.length === 2)
    assert(dataDirs.count(_.startsWith("v1-")) === 1)
    assert(dataDirs.count(_.startsWith("v2-")) === 1)
  }

  test("snapshotDiff classifies inserts, updates, and deletes between versions") {
    val vs = fresh()
    vs.commitFull(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"), "t")
    vs.commitFull(Seq((1, "a"), (2, "B2"), (4, "d")).toDF("k", "v"), "t")
    val diff = vs.snapshotDiff("t", 1, 2, Seq("k"))
      .as[(Int, String, String)].collect().toSeq.sorted
    assert(diff === Seq((2, "update", "B2"), (3, "delete", "c"), (4, "insert", "d")))
    // reverse direction flips the classification
    val back = vs.snapshotDiff("t", 2, 1, Seq("k"))
      .as[(Int, String, String)].collect().toSeq.sorted
    assert(back === Seq((2, "update", "b"), (3, "insert", "c"), (4, "delete", "d")))
  }

  test("snapshotDiff scans only partitions whose data dirs changed") {
    val vs = fresh()
    vs.commitFull(Seq((1, "a", "d1"), (2, "b", "d2")).toDF("k", "v", "day"),
      "pt", Seq("day"))
    vs.commitPartitions(Seq((2, "B", "d2"), (3, "c", "d3")).toDF("k", "v", "day"),
      "pt", Seq("day"))
    val diff = vs.snapshotDiff("pt", 1, 2, Seq("k"))
    // day=d1 maps to the SAME v1 dir in both manifests -> pruned from
    // both scans; only the rewritten d2 and the new d3 files are read
    assert(diff.inputFiles.nonEmpty)
    assert(diff.inputFiles.forall(f => f.contains("day=d2") || f.contains("day=d3")),
      s"diff read an unchanged partition: ${diff.inputFiles.mkString(",")}")
    assert(diff.select("k", "change_type", "v").as[(Int, String, String)]
      .collect().toSeq.sorted === Seq((2, "update", "B"), (3, "insert", "c")))
    // unpruned variant reads everything but returns the same changelog
    val full = vs.snapshotDiff("pt", 1, 2, Seq("k"), pruneUnchanged = false)
    assert(full.inputFiles.exists(_.contains("day=d1")))
    assert(full.select("k", "change_type", "v").as[(Int, String, String)]
      .collect().toSeq.sorted === Seq((2, "update", "B"), (3, "insert", "c")))
  }

  test("snapshotDiff of identical snapshots is empty (rollback alias shares all dirs)") {
    val vs = fresh()
    vs.commitFull(Seq((1, "a")).toDF("k", "v"), "t")
    vs.commitFull(Seq((1, "bad")).toDF("k", "v"), "t")
    vs.rollbackTo("t", 1)
    assert(vs.snapshotDiff("t", 1, 3, Seq("k")).count() === 0L)
  }

  test("manifest stats skip disjoint partitions at plan time; no stats = no skip") {
    val vs = fresh()
    val df = Seq((1, "d1"), (9, "d1"), (100, "d2"), (110, "d2"), (1000, "d3"))
      .toDF("k", "day")
    vs.commitFull(df, "pt", Seq("day"), statsColumns = Seq("k"))
    val pruned = vs.read("pt").filter(col("k").between(0, 50))
    // d2/d3 are disjoint from [0,50]: their files never enter the scan
    val planned = PlannedScan.files(pruned)
    assert(planned.nonEmpty)
    assert(planned.forall(_.contains("day=d1")),
      s"stats failed to skip: ${planned.mkString(",")}")
    assert(pruned.as[(Int, String)].collect().toSeq.sorted === Seq((1, "d1"), (9, "d1")))
    // boundary overlap keeps the partition (inclusive ranges)
    val edge = vs.read("pt").filter(col("k").between(50, 100))
    assert(edge.as[(Int, String)].collect().toSeq === Seq((100, "d2")))
    assert(PlannedScan.files(edge).nonEmpty &&
      PlannedScan.files(edge).forall(_.contains("day=d2")))
    // a commit WITHOUT stats scans everything but filters identically
    val vn = fresh()
    vn.commitFull(df, "pt", Seq("day"))
    val unpruned = vn.read("pt").filter(col("k").between(0, 50))
    assert(PlannedScan.files(unpruned).exists(_.contains("day=d3")))
    assert(unpruned.as[(Int, String)].collect().toSeq.sorted === Seq((1, "d1"), (9, "d1")))
  }

  test("string stats prune string bounds and never integer ones") {
    val vs = fresh()
    vs.commitFull(Seq((1, "x", "d1"), (2, "y", "d2")).toDF("k", "v", "day"),
      "pt", Seq("day"), statsColumns = Seq("v")) // string stats: recordable
    // a string bound skips by the string stats
    val byV = vs.read("pt").filter(col("v") === "y")
    assert(PlannedScan.files(byV).nonEmpty &&
      PlannedScan.files(byV).forall(_.contains("day=d2")))
    assert(byV.as[(Int, String, String)].collect().toSeq === Seq((2, "y", "d2")))
    // the integer column (no stats) still range-reads fine alongside
    // the string stats, and scans every partition
    val byK = vs.read("pt").filter(col("k").between(2, 5))
    assert(byK.as[(Int, String, String)].collect().toSeq === Seq((2, "y", "d2")))
    assert(PlannedScan.files(byK).exists(_.contains("day=d1")))
  }

  test("statsFor: MERGE-path writes record manifest stats without explicit args") {
    val vs = new VersionedTableStore(spark,
      Files.createTempDirectory("graft-vstore").toString,
      statsFor = name => if (name == "t") Seq("k") else Nil)
    UpsertWriter.upsertAll(vs, "t",
      Seq((1, "a", "d1"), (100, "b", "d2")).toDF("k", "v", "day"),
      Seq("k"), partitionBy = Seq("day"))
    UpsertWriter.upsertAll(vs, "t",
      Seq((200, "c", "d3")).toDF("k", "v", "day"),
      Seq("k"), partitionBy = Seq("day"))
    val pruned = vs.read("t").filter(col("k").between(0, 50))
    val planned = PlannedScan.files(pruned)
    assert(planned.nonEmpty && planned.forall(_.contains("day=d1")),
      s"MERGE commits recorded no stats: ${planned.mkString(",")}")
    assert(pruned.select("k", "v").as[(Int, String)].collect().toSeq === Seq((1, "a")))
  }

  test("readWhereDate skips partitions by ISO date stats; conservative without stats") {
    import org.apache.spark.sql.functions.{lit, to_date}
    val vs = fresh()
    val df = Seq(
      (1, "2024-01-05", "m1"), (2, "2024-01-20", "m1"),
      (3, "2024-02-10", "m2"), (4, "2024-03-15", "m3"))
      .toDF("k", "d", "mo")
      .withColumn("d", to_date(col("d")))
    vs.commitFull(df, "dt", Seq("mo"), statsColumns = Seq("d"))
    def january(t: String) = vs.read(t).filter(col("d").between(
      lit("2024-01-01").cast("date"), lit("2024-01-31").cast("date")))
    val pruned = january("dt")
    val planned = PlannedScan.files(pruned)
    assert(planned.nonEmpty && planned.forall(_.contains("mo=m1")),
      s"date stats failed to skip: ${planned.mkString(",")}")
    assert(pruned.select("k").as[Int].collect().sorted.toSeq === Seq(1, 2))
    // boundary day is inclusive and keeps its partition
    val day = vs.read("dt").filter(col("d") === lit("2024-02-10").cast("date"))
    assert(day.select("k").as[Int].collect().toSeq === Seq(3))
    assert(PlannedScan.files(day).nonEmpty &&
      PlannedScan.files(day).forall(_.contains("mo=m2")))
    // without stats: everything scans, the filter still applies
    val vn = fresh()
    vn.commitFull(df, "dt", Seq("mo"))
    val unpruned = vn.read("dt").filter(col("d").between(
      lit("2024-01-01").cast("date"), lit("2024-01-31").cast("date")))
    assert(PlannedScan.files(unpruned).exists(_.contains("mo=m3")))
    assert(unpruned.select("k").as[Int].collect().sorted.toSeq === Seq(1, 2))
  }

  test("readWhereAll prunes on the conjunction of column ranges") {
    val vs = fresh()
    // d1: k 1-9 / t 5; d2: k 1-9 / t 50; d3: k 100+ / t 5
    vs.commitFull(Seq((1, 5, "d1"), (9, 5, "d1"), (2, 50, "d2"),
        (8, 50, "d2"), (100, 5, "d3")).toDF("k", "t", "day"),
      "pt", Seq("day"), statsColumns = Seq("k", "t"))
    // k in [0,50] keeps d1+d2; ADDING t in [0,10] prunes d2 as well
    val both = vs.read("pt")
      .filter(col("k").between(0, 50) && col("t").between(0, 10))
    val planned = PlannedScan.files(both)
    assert(planned.nonEmpty && planned.forall(_.contains("day=d1")),
      s"conjunction failed to prune: ${planned.mkString(",")}")
    assert(both.select("k", "t").as[(Int, Int)].collect().toSeq.sorted ===
      Seq((1, 5), (9, 5)))
  }

  test("compact recomputes the parent's tracked stats (pruning survives compaction)") {
    val vs = fresh()
    vs.commitFull(Seq((1, "d1"), (100, "d2")).toDF("k", "day"),
      "pt", Seq("day"), statsColumns = Seq("k"))
    vs.commitPartitions(Seq((200, "d3")).toDF("k", "day"),
      "pt", Seq("day"), statsColumns = Seq("k"))
    vs.compact("pt")
    val pruned = vs.read("pt").filter(col("k").between(0, 50))
    val planned = PlannedScan.files(pruned)
    assert(planned.nonEmpty && planned.forall(_.contains("day=d1")),
      s"compaction lost the manifest stats: ${planned.mkString(",")}")
    assert(pruned.as[(Int, String)].collect().toSeq === Seq((1, "d1")))
  }

  test("delta commits inherit untouched partitions' manifest stats") {
    val vs = fresh()
    vs.commitFull(Seq((1, "d1"), (100, "d2")).toDF("k", "day"),
      "pt", Seq("day"), statsColumns = Seq("k"))
    // rewrite d2 only; d1's stats must survive via the parent manifest
    vs.commitPartitions(Seq((200, "d2")).toDF("k", "day"),
      "pt", Seq("day"), statsColumns = Seq("k"))
    def range(lo: Int, hi: Int) = vs.read("pt").filter(col("k").between(lo, hi))
    val onlyD1 = range(0, 50)
    assert(PlannedScan.files(onlyD1).nonEmpty &&
      PlannedScan.files(onlyD1).forall(_.contains("day=d1")))
    assert(onlyD1.as[(Int, String)].collect().toSeq === Seq((1, "d1")))
    // the rewritten partition's NEW stats are live: old d2 max (100)
    // no longer matches, new min (200) does
    assert(range(90, 110).count() === 0L)
    assert(PlannedScan.files(range(90, 110)).isEmpty)
    assert(range(150, 250).as[(Int, String)].collect().toSeq ===
      Seq((200, "d2")))
  }

  test("registerVersion: plain SQL joins a table against its own past") {
    val vs = fresh()
    vs.commitFull(Seq((1, 10), (2, 20)).toDF("k", "v"), "t")
    vs.commitFull(Seq((1, 15), (2, 20)).toDF("k", "v"), "t")
    val (v1, v2) = (vs.registerVersion("t", 1), vs.registerVersion("t", 2))
    val drift = spark.sql(
      s"""SELECT a.k, b.v - a.v AS delta FROM $v1 a JOIN $v2 b ON a.k = b.k
          WHERE a.v <> b.v""")
      .as[(Int, Int)].collect().toSeq
    assert(drift === Seq((1, 5)))
  }

  test("readAsOf: timestamp time travel resolves against stamped commit times") {
    val vs = fresh()
    var now = 1000L
    vs.clockMs = () => now
    vs.commitFull(Seq((1, 10)).toDF("k", "v"), "t")           // v1 @ 1000
    now = 2000L
    vs.commitFull(Seq((1, 20)).toDF("k", "v"), "t")           // v2 @ 2000
    now = 3000L
    vs.commitFull(Seq((1, 30)).toDF("k", "v"), "t")           // v3 @ 3000
    assert(vs.versionAsOf("t", 2500L) === 2L)
    assert(vs.readAsOf("t", 2500L).as[(Int, Int)].collect().toSeq ===
      Seq((1, 20)))
    // exactly-at resolves inclusive; mid-history and head both work
    assert(vs.versionAsOf("t", 2000L) === 2L)
    assert(vs.versionAsOf("t", 99999L) === 3L)
    // before the first commit: loud failure, not an empty frame
    intercept[NoSuchElementException] { vs.versionAsOf("t", 999L) }
    def asOf(ts: Long) = vs.readAsOf("t", ts).as[(Int, Int)].collect().toSeq
    // a staged (WAP) snapshot is not the table's history until published
    now = 4000L
    vs.stageFull(Seq((1, 99)).toDF("k", "v"), "t", "audit-1")
    assert(vs.versionAsOf("t", 4500L) === 3L)
    assert(asOf(4500L) === Seq((1, 30)))
    // neither is a branch commit (nor the branch's fork manifest)
    now = 5000L
    vs.createBranch("t", "dev")
    now = 6000L
    vs.commitFull(Seq((1, 77)).toDF("k", "v"), "t", branch = "dev")
    assert(vs.versionAsOf("t", 99999L) === 3L)
    assert(asOf(99999L) === Seq((1, 30)))
    // publishing lands a new main version, which then resolves
    now = 7000L
    val pub = vs.publishStaged("t", "audit-1")
    assert(vs.versionAsOf("t", 99999L) === pub)
    assert(asOf(99999L) === Seq((1, 99)))
  }

  test("commitPartitionsReplacing drops explicitly-listed partitions that receive no rows") {
    val vs = fresh()
    vs.commitFull(Seq((1, "a"), (2, "b")).toDF("k", "p"), "t", Seq("p"))
    // the plain delta commit CANNOT empty a partition: no rows for
    // p=b -> the old partition survives (the documented gap)
    vs.commitPartitions(Seq((3, "a")).toDF("k", "p"), "t", Seq("p"))
    assert(vs.read("t").select("k").as[Int].collect().toSet === Set(3, 2))
    // the explicit-replacement commit drops p=b even with zero rows
    vs.commitPartitionsReplacing(Seq((4, "a")).toDF("k", "p"), "t",
      Seq("p"), replaced = Seq(Seq("a"), Seq("b")))
    assert(vs.read("t").select("k", "p").as[(Int, String)].collect().toSeq ===
      Seq((4, "a")))
    // rollback still reaches the pre-replacement snapshot
    vs.rollbackTo("t", 2)
    assert(vs.read("t").select("k").as[Int].collect().toSet === Set(3, 2))
  }

  test("registerChangelog: audit SQL over what a maintenance window changed") {
    val vs = fresh()
    vs.commitFull(Seq((1, 10), (2, 20), (3, 30)).toDF("k", "v"), "t")
    vs.commitFull(Seq((1, 15), (2, 20)).toDF("k", "v"), "t") // update 1, delete 3
    val view = vs.registerChangelog("t", 1, 2, Seq("k"))
    assert(view === "t_changes_v1_v2")
    val byType = spark.sql(
      s"SELECT change_type, count(*) AS n FROM $view GROUP BY 1 ORDER BY 1")
      .as[(String, Long)].collect().toSeq
    assert(byType === Seq(("delete", 1L), ("update", 1L)))
  }

  test("schema evolution: every snapshot keeps ITS schema; diff spans the evolution") {
    val vs = fresh()
    UpsertWriter.upsertAll(vs, "t", Seq((1, "a"), (2, "b")).toDF("k", "v"), Seq("k"))
    UpsertWriter.upsertAll(vs, "t", Seq((2, "B", 9.5)).toDF("k", "v", "score"),
      Seq("k"), allowSchemaEvolution = true)
    assert(vs.read("t").columns.toSeq === Seq("k", "v", "score"))
    assert(vs.read("t").as[(Int, String, Option[Double])].collect().toSeq.sorted ===
      Seq((1, "a", None), (2, "B", Some(9.5))))
    // time travel returns the ORIGINAL 2-column schema, not the head's
    assert(vs.readVersion("t", 1).columns.toSeq === Seq("k", "v"))
    // changelog across the evolution: expressed in the TO schema, the
    // unchanged row differs only by the null-filled new column
    // untouched row 1 reads (a, null) on both sides under the TO
    // schema -- null-safe compare keeps it OUT of the changelog
    val diff = vs.snapshotDiff("t", 1, 2, Seq("k"))
      .as[(Int, String, String, Option[Double])].collect().toSeq.sorted
    assert(diff === Seq((2, "update", "B", Some(9.5))))
  }

  test("incremental aggregate maintenance equals the full recompute") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val vs = fresh()
    val v1 = Seq((1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "c", 40))
      .toDF("k", "grp", "v")
    // v2: value-only update (1), group-moving update (2), unchanged (3),
    // delete (4 -- group c must vanish), insert (5)
    val v2 = Seq((1, "a", 15), (2, "b", 20), (3, "b", 30), (5, "b", 5))
      .toDF("k", "grp", "v")
    vs.commitFull(v1, "t"); vs.commitFull(v2, "t")
    def recompute(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("grp")).agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    val diff = vs.snapshotDiff("t", 1, 2, Seq("k"), includePre = true)
    val delta = IncrementalAgg.sumCountDelta(diff, Seq("grp"), Seq("v"))
    val maintained = IncrementalAgg.applyTo(
      recompute(v1).withColumnRenamed("sv", "v"), delta, Seq("grp"), Seq("v"), "n")
      .withColumnRenamed("v", "sv")
    assert(maintained.as[(String, Long, Long)].collect().toSet ===
      recompute(v2).as[(String, Long, Long)].collect().toSet)
    // the emptied group is gone, not zero-rowed
    assert(!maintained.select("grp").as[String].collect().contains("c"))
  }

  test("min/max maintenance: least/greatest fold vs extreme-removal recompute, per group") {
    import org.apache.spark.sql.functions.{col, max, min}
    val vs = fresh()
    // groups exercise every path (paper-derived expectations):
    //  a: insert-only churn (new min arrives)          -> fold, no flag
    //  b: delete of a MID value                        -> fold, unchanged
    //  c: delete of the MIN row                        -> flagged recompute
    //  d: emptied entirely                             -> flagged, drops out
    //  e: update moves the MAX row into group f        -> e flagged (max left),
    //                                                     f folds it in
    //  g: brand new group                              -> fold from post only
    val v1 = Seq((1, "a", 10), (2, "a", 20),
      (3, "b", 10), (4, "b", 20), (5, "b", 30),
      (6, "c", 10), (7, "c", 20),
      (8, "d", 99),
      (9, "e", 1), (10, "e", 50),
      (11, "f", 5)).toDF("k", "grp", "v")
    val v2 = Seq((1, "a", 10), (2, "a", 20), (12, "a", 3),
      (3, "b", 10), (5, "b", 30),
      (7, "c", 20),
      (9, "e", 1), (10, "f", 50),
      (11, "f", 5),
      (13, "g", 7)).toDF("k", "grp", "v")
    vs.commitFull(v1, "t"); vs.commitFull(v2, "t")
    def recompute(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("grp")).agg(min(col("v")).as("min_v"), max(col("v")).as("max_v"))
    val diff = vs.snapshotDiff("t", 1, 2, Seq("k"), includePre = true)
    // flag verdicts are part of the contract: only c (min removed),
    // d (emptied) and e (max moved away) may touch the base
    val flags = IncrementalAgg.minMaxDelta(recompute(v1), diff, Seq("grp"), Seq("v"))
      .select(col("grp"), col("__recompute")).as[(String, Boolean)].collect().toMap
    assert(flags === Map("a" -> false, "b" -> false, "c" -> true,
      "d" -> true, "e" -> true, "f" -> false, "g" -> false))
    val maintained = IncrementalAgg.minMaxMaintain(
      vs.readVersion("t", 2), recompute(v1), diff, Seq("grp"), Seq("v"))
    assert(maintained.as[(String, Int, Int)].collect().toSet ===
      recompute(vs.readVersion("t", 2)).as[(String, Int, Int)].collect().toSet)
    assert(!maintained.select("grp").as[String].collect().contains("d"))
  }

  test("UpsertWriter MERGE against the versioned store commits snapshots") {
    val vs = fresh()
    UpsertWriter.upsertAll(vs, "t", Seq((1, "a"), (2, "b")).toDF("k", "v"), Seq("k"))
    UpsertWriter.upsertAll(vs, "t", Seq((2, "B"), (3, "c")).toDF("k", "v"), Seq("k"))
    assert(rows(vs.read("t")) === Seq((1, "a"), (2, "B"), (3, "c")))
    // the bad merge is one rollback away (the Iceberg recovery the
    // staged swap never had)
    vs.rollbackTo("t", 1)
    assert(rows(vs.read("t")) === Seq((1, "a"), (2, "b")))
    // partitioned MERGE takes the partition-delta commit path
    val p = fresh()
    UpsertWriter.upsertAll(p, "pt",
      Seq((1, "a", "d1"), (2, "b", "d2")).toDF("k", "v", "day"),
      Seq("k"), partitionBy = Seq("day"))
    UpsertWriter.upsertAll(p, "pt", Seq((2, "B", "d2")).toDF("k", "v", "day"),
      Seq("k"), partitionBy = Seq("day"))
    assert(p.read("pt").as[(Int, String, String)].collect().toSeq.sorted ===
      Seq((1, "a", "d1"), (2, "B", "d2")))
    assert(p.readVersion("pt", 1).count() === 2)
  }

  test("expireSnapshots keeps the last N and deletes unreferenced data dirs") {
    val vs = fresh(keep = 2)
    (1 to 4).foreach(i => vs.commitFull(Seq((i, s"v$i")).toDF("k", "v"), "t"))
    assert(vs.versions("t") === Seq(3L, 4L))
    assert(rows(vs.read("t")) === Seq((4, "v4")))
    intercept[NoSuchElementException] { vs.readVersion("t", 1) }
    val fs = new Path(vs.root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val dataDirs = fs.listStatus(new Path(s"${vs.path("t")}/_data"))
      .map(_.getPath.getName)
    assert(dataDirs.forall(d => d.startsWith("v3-") || d.startsWith("v4-")),
      s"expired data dirs survived: ${dataDirs.mkString(",")}")
    // shared dirs survive expiry: a delta chain keeps v-old dirs live
    val p = fresh(keep = 2)
    p.commitFull(Seq((1, "a", "d1")).toDF("k", "v", "day"), "pt", Seq("day"))
    (2 to 4).foreach(i => p.commitPartitions(
      Seq((i, s"x$i", s"d$i")).toDF("k", "v", "day"), "pt", Seq("day")))
    assert(p.versions("pt") === Seq(3L, 4L))
    // v1's dir is still referenced by the retained manifests (day=d1)
    assert(p.read("pt").count() === 4)
  }

  test("tags pin snapshots through expiry; dropTag releases them") {
    val vs = fresh(keep = 2)
    vs.commitFull(Seq((1, "baseline")).toDF("k", "v"), "t")
    assert(vs.tagSnapshot("t", "exp-1") === 1L)
    // churn far past the retention window
    (2 to 6).foreach(i => vs.commitFull(Seq((i, s"v$i")).toDF("k", "v"), "t"))
    // untagged old snapshots expired, the tagged one survives intact
    intercept[NoSuchElementException] { vs.readVersion("t", 2) }
    assert(vs.versions("t").contains(1L))
    assert(rows(vs.readTag("t", "exp-1")) === Seq((1, "baseline")))
    assert(vs.tags("t") === Seq(("exp-1", 1L)))
    // duplicate tag refused without replace; retarget allowed with it
    intercept[IllegalArgumentException] { vs.tagSnapshot("t", "exp-1") }
    assert(vs.tagSnapshot("t", "exp-1", replace = true) === 6L)
    assert(vs.tagVersion("t", "exp-1") === 6L)
    // v1 lost its pin: the next expiry reclaims it
    vs.expireSnapshots("t")
    intercept[NoSuchElementException] { vs.readVersion("t", 1) }
    // dropTag -> unknown-tag reads fail loudly
    vs.dropTag("t", "exp-1")
    intercept[NoSuchElementException] { vs.readTag("t", "exp-1") }
    // invalid names rejected before touching the filesystem
    intercept[IllegalArgumentException] { vs.tagSnapshot("t", "bad/name") }
    // SQL time travel by tag: plain SQL reads the pinned snapshot
    vs.commitFull(Seq((9, "head")).toDF("k", "v"), "t")
    vs.tagSnapshot("t", "rel-1.0", v = vs.currentVersion("t"))
    vs.commitFull(Seq((10, "newer")).toDF("k", "v"), "t")
    val view = vs.registerTag("t", "rel-1.0")
    assert(view === "t_at_rel_1_0")
    assert(spark.sql(s"SELECT v FROM $view").as[String].collect().toSeq
      === Seq("head"))
  }

  test("empty commit stays readable with the committed schema (no bricked head)") {
    val vs = fresh()
    val schema = Seq((1, "a", "d1")).toDF("k", "v", "day").schema
    // unpartitioned: zero part-files, schema comes from the manifest
    vs.commitFull(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema), "t")
    assert(vs.read("t").count() === 0L)
    assert(vs.read("t").columns.toSeq === Seq("k", "v", "day"))
    // partitioned: hive layout writes NO partition dirs at all -- the
    // manifest mapping is empty, which must not throw on read
    vs.commitFull(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      "pt", Seq("day"))
    assert(vs.read("pt").count() === 0L)
    assert(vs.read("pt").columns.toSeq === Seq("k", "v", "day"))
    // a zero-row daily batch is a normal day: the table keeps working
    vs.commitFull(Seq((1, "a", "d1")).toDF("k", "v", "day"), "pt", Seq("day"))
    assert(vs.read("pt").count() === 1L)
    assert(vs.readVersion("pt", 1).count() === 0L)
  }

  test("expiry floor: a stale writer cannot reuse an expired version number") {
    val vs = fresh(keep = 2)
    (1 to 5).foreach(i => vs.commitFull(Seq((i, s"v$i")).toDF("k", "v"), "t"))
    assert(vs.versions("t") === Seq(4L, 5L))
    // a writer that staged against the long-gone v1 head tries to
    // commit version 2: the tombstone floor (x-files survive expiry)
    // must reject it -- create-no-overwrite alone would "succeed"
    // since c00000002 was expired, landing an invisible commit
    val e = intercept[ConcurrentWriteException] {
      vs.casManifest("t", vs.Manifest(2, Nil, vs.versionsMapping("t")),
        observedParent = 1L)
    }
    assert(e.getMessage.contains("expiry floor"))
    assert(vs.currentVersion("t") === 5L)
    // and the allocator never hands out a burned number: next commit
    // goes past both live commits and tombstones
    assert(vs.commitFull(Seq((6, "v6")).toDF("k", "v"), "t") === 6L)
  }

  test("retention counts live snapshots only: debris cannot displace a real one") {
    val vs = fresh(keep = 3)
    (1 to 3).foreach(i => vs.commitFull(Seq((i, s"v$i")).toDF("k", "v"), "t"))
    val fs = new Path(vs.root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // two dead writers' truncated manifests land in the window
    Seq(4L, 5L).foreach { v =>
      val out = fs.create(new Path(f"${vs.path("t")}/_commits/c$v%08d"), false)
      out.write("graft-manifest-v1\nversion=".getBytes("UTF-8")); out.close()
    }
    // with debris counted, commits.size=5 > keep=3 would expire v1+v2;
    // live-only retention keeps all three real snapshots
    vs.expireSnapshots("t")
    assert(vs.versions("t") === Seq(1L, 2L, 3L))
    assert(rows(vs.readVersion("t", 1)) === Seq((1, "v1")))
    // once the floor passes the debris versions (expiring live v6
    // tombstones x6 > 5), the sub-floor debris is reclaimed (it can
    // never become live)
    (6 to 9).foreach(i => vs.commitFull(Seq((i, s"v$i")).toDF("k", "v"), "t"))
    assert(vs.versions("t") === Seq(7L, 8L, 9L))
    val names = fs.listStatus(new Path(s"${vs.path("t")}/_commits"))
      .map(_.getPath.getName).sorted.toSeq
    assert(!names.exists(n => n == "c00000004" || n == "c00000005"),
      s"sub-floor debris survived: $names")
  }

  test("snapshots audit reports versions, fan width, and file sharing") {
    val vs = fresh()
    vs.commitFull(Seq((1, "a", "d1"), (2, "b", "d2")).toDF("k", "v", "day"),
      "pt", Seq("day"))
    vs.commitPartitions(Seq((3, "c", "d3")).toDF("k", "v", "day"), "pt", Seq("day"))
    vs.rollbackTo("pt", 1)
    val snaps = vs.snapshots("pt")
      .as[(Long, Long, String, Long, Long, Boolean, Boolean)]
      .collect().toSeq.sortBy(_._1)
    assert(snaps.map(_._1) === Seq(1L, 2L, 3L))
    // v1: one dir, two partitions; v2 delta: two dirs (shares v1's);
    // v3 rollback: v1's mapping verbatim (shares v2's d1/d2 dirs).
    // Each commit's recorded parent is the version it observed, and
    // the lineage audit holds on a clean chain.
    assert(snaps(0) === ((1L, 0L, "day", 1L, 2L, false, true)))
    assert(snaps(1) === ((2L, 1L, "day", 2L, 3L, true, true)))
    assert(snaps(2) === ((3L, 2L, "day", 1L, 2L, true, true)))
  }

  test("lineage audit flags a commit whose observed parent skipped the live head") {
    // simulate the residual-race signature by planting a manifest
    // whose recorded parent is NOT its live predecessor: parent=1
    // at version 3 while v2 is live -> lineage_ok=false on v3
    val rootDir2 = Files.createTempDirectory("graft-vstore-lineage").toString
    val vs = new VersionedTableStore(spark, rootDir2)
    vs.commitFull(Seq((1, "a")).toDF("k", "v"), "t") // v1 (parent 0)
    vs.commitFull(Seq((1, "b")).toDF("k", "v"), "t") // v2 (parent 1)
    val mapping = vs.versionsMapping("t")
    val fs = new Path(rootDir2).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val txt = ("graft-manifest-v1\nversion=3\nparent=1\npartitionBy=\n" +
      "schema=k INT,v STRING\n" +
      mapping.map { case (rel, d) => s"dir\t$d\t$rel" }.mkString("\n") +
      "\nend")
    val out = fs.create(new Path(s"$rootDir2/t/_commits/c00000003"), false)
    out.write(txt.getBytes("UTF-8")); out.close()
    val flags = vs.snapshots("t")
      .select("version", "lineage_ok")
      .as[(Long, Boolean)].collect().toMap
    assert(flags(1L) && flags(2L))
    assert(!flags(3L), "a below-head parent must be flagged")
  }

  test("compact collapses a delta chain into one data dir, same contents") {
    val vs = fresh()
    vs.commitFull(Seq((1, "a", "d1")).toDF("k", "v", "day"), "pt", Seq("day"))
    (2 to 4).foreach(i => vs.commitPartitions(
      Seq((i, s"x$i", s"d$i")).toDF("k", "v", "day"), "pt", Seq("day")))
    val before = vs.read("pt").as[(Int, String, String)].collect().toSeq.sorted
    val v = vs.compact("pt")
    assert(vs.read("pt").as[(Int, String, String)].collect().toSeq.sorted === before)
    val fs = new Path(vs.root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new Path(s"${vs.path("pt")}/_data"))
      .map(_.getPath.getName).filter(_.startsWith(s"v$v-"))
    assert(dirs.length === 1)
  }

  test("optimizeSmallFiles packs only small-file partitions; others share parent files") {
    import org.apache.spark.sql.functions.col
    val vs = fresh()
    // d1 lands as ONE file (already packed); d2 accumulates 4 tiny
    // files through repeated partition-delta appends rewriting the
    // partition as multi-file unions
    vs.commitFull(Seq((1, "a", "d1"), (2, "b", "d2")).toDF("k", "v", "day")
      .repartition(1), "pt", Seq("day"), statsColumns = Seq("k"))
    (3 to 5).foreach { i =>
      val prior = vs.read("pt").filter(col("day") === "d2").drop("day")
        .withColumn("day", org.apache.spark.sql.functions.lit("d2"))
      vs.commitPartitions(prior.union(
          Seq((i, s"x$i", "d2")).toDF("k", "v", "day")).repartition(4),
        "pt", Seq("day"), statsColumns = Seq("k"))
    }
    val before = vs.read("pt").as[(Int, String, String)].collect().toSeq.sorted
    def filesIn(rel: String): Seq[String] = {
      val fs = new Path(vs.root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      vs.versionsMapping("pt").filter(_._1 == rel).flatMap { case (_, d) =>
        fs.listStatus(new Path(s"${vs.path("pt")}/_data/$d/$rel")).toSeq
          .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
          .map(_.getPath.toString)
      }.sorted
    }
    val d1Before = filesIn("day=d1")
    assert(filesIn("day=d2").size > 1)
    val vBefore = vs.currentVersion("pt")
    val v = vs.optimizeSmallFiles("pt")
    assert(v > vBefore)
    // contents identical, d2 packed to one file, d1's files untouched
    // (same physical paths -- shared with the parent snapshot)
    assert(vs.read("pt").as[(Int, String, String)].collect().toSeq.sorted
      === before)
    assert(filesIn("day=d2").size === 1)
    assert(filesIn("day=d1") === d1Before)
    // stats carried through the repack: a k-range read still prunes
    val pruned = PlannedScan.files(vs.read("pt").filter(col("k") === 1))
    assert(pruned.nonEmpty && pruned.forall(_.contains("day=d1")),
      s"repack lost pruning stats: ${pruned.mkString(",")}")
    // second run: everything already packed -- no-op, no new snapshot
    assert(vs.optimizeSmallFiles("pt") === v)
    assert(vs.currentVersion("pt") === v)
    // time travel across the repack still serves the old files
    assert(vs.readVersion("pt", vBefore)
      .as[(Int, String, String)].collect().toSeq.sorted === before)
  }

  test("optimizeSmallFiles on an unpartitioned table coalesces in place") {
    val vs = fresh()
    vs.commitFull(Seq.tabulate(8)(i => (i, s"v$i")).toDF("k", "v")
      .repartition(6), "u", Nil, statsColumns = Seq("k"))
    val before = rows(vs.read("u"))
    val v0 = vs.currentVersion("u")
    val v = vs.optimizeSmallFiles("u")
    assert(v > v0)
    assert(rows(vs.read("u")) === before)
    assert(vs.read("u").inputFiles.length === 1)
    assert(vs.optimizeSmallFiles("u") === v)
  }

  test("incremental maintenance keeps an all-NULL sum NULL (matches recompute)") {
    // sum over an all-NULL group is NULL, not 0: g1 untouched stays
    // NULL, g3 inserted with only NULL values starts NULL, g2's
    // NULL-skipping arithmetic is unaffected
    val agg = Seq(("g1", 2L, Option.empty[Long]), ("g2", 1L, Some(10L)))
      .toDF("grp", "n", "v")
    val delta = Seq(("g2", 1L, Some(5L)), ("g3", 1L, Option.empty[Long]))
      .toDF("grp", "__dn", "__dv_v")
    val out = IncrementalAgg.applyTo(agg, delta, Seq("grp"), Seq("v"), "n")
      .as[(String, Long, Option[Long])].collect().toSeq.sortBy(_._1)
    assert(out === Seq(("g1", 2L, None), ("g2", 2L, Some(15L)), ("g3", 1L, None)))
  }

  test("string stat values holding manifest delimiters cannot corrupt the table head") {
    val vs = fresh()
    // min/max land on values carrying tab, newline, AND a forged
    // `dir\t...` manifest line -- unescaped, the tab shifts stat
    // fields, the newline injects lines into the transaction log, and
    // every later read of the head MatchErrors
    val evil = Seq(
      (1, "a\tb\tc"), (2, "z\ndir\tv9-forged\t."), (3, "%09 literal"))
      .toDF("k", "v")
    vs.commitFull(evil, "t", statsColumns = Seq("v", "k"))
    assert(vs.currentVersion("t") === 1L)
    assert(vs.read("t").as[(Int, String)].collect().toSeq.sorted ===
      Seq((1, "a\tb\tc"), (2, "z\ndir\tv9-forged\t."), (3, "%09 literal")))
    // the forged dir line did NOT become a mapping entry
    assert(vs.versionsMapping("t").size === 1)
    // the table keeps committing and reading; integer stats still prune
    vs.commitFull(evil.filter($"k" === 1), "t", statsColumns = Seq("v", "k"))
    assert(vs.versions("t") === Seq(1L, 2L))
    val k = vs.read("t").filter(col("k").between(0, 10))
    assert(k.count() === 1L)
    assert(PlannedScan.files(k).size === 1)
  }

  test("deleteWhere: copy-on-write per partition, emptied partitions leave the manifest") {
    import org.apache.spark.sql.functions.col
    val vs = fresh()
    // d1 untouched, d2 partially deleted, d3 fully deleted; NULL
    // condition value in d1 must survive (SQL DELETE semantics)
    val df = Seq(
      (1, Some(5), "d1"), (2, None, "d1"),
      (3, Some(50), "d2"), (4, Some(5), "d2"),
      (5, Some(99), "d3"))
      .toDF("k", "x", "day")
    vs.commitFull(df, "dt", Seq("day"), statsColumns = Seq("k"))
    val before = vs.versionsMapping("dt").toMap
    vs.deleteWhere("dt", col("x") > 10)
    val after = vs.versionsMapping("dt").toMap
    // d1 shares its untouched dir with the parent snapshot
    assert(after("day=d1") === before("day=d1"), "untouched partition was rewritten")
    assert(after("day=d2") !== before("day=d2"), "touched partition kept old files")
    assert(!after.contains("day=d3"), "emptied partition still mapped")
    assert(vs.read("dt").select("k").as[Int].collect().sorted.toSeq === Seq(1, 2, 4))
    // time travel: pre-delete snapshot intact
    assert(vs.readVersion("dt", 1).count() === 5L)
    // stats: inherited for d1 (still prunes to d1 alone), recomputed
    // for the rewritten d2 (k=4 now its only row -> prunes to d2)
    val k12 = PlannedScan.files(vs.read("dt").filter(col("k").between(1, 2)))
    assert(k12.nonEmpty && k12.forall(_.contains("day=d1")))
    val k4 = PlannedScan.files(vs.read("dt").filter(col("k") === 4))
    assert(k4.nonEmpty && k4.forall(_.contains("day=d2")))
    // no-op delete: nothing matches, no new snapshot
    val vBefore = vs.currentVersion("dt")
    vs.deleteWhere("dt", col("x") > 1000)
    assert(vs.currentVersion("dt") === vBefore)
    // the plain store's default path deletes identically (full rewrite)
    val ts = new TableStore(spark,
      Files.createTempDirectory("graft-del-ts").toString)
    ts.createOrReplace(df, "dt")
    ts.deleteWhere("dt", col("x") > 10)
    assert(ts.read("dt").select("k").as[Int].collect().sorted.toSeq === Seq(1, 2, 4))
  }

  test("no-match DML on an UNPARTITIONED table burns no snapshot") {
    import org.apache.spark.sql.functions.col
    val vs = fresh()
    vs.commitFull(Seq((1, 5), (2, 50)).toDF("k", "x"), "u")
    val v = vs.currentVersion("u")
    // the documented no-op contract must hold without partitions too:
    // a periodic conditional-delete job that never matches must not
    // burn a snapshot + full rewrite per run
    vs.deleteWhere("u", col("x") > 1000)
    vs.updateWhere("u", col("x") > 1000, Map("x" -> (col("x") + 1)))
    assert(vs.currentVersion("u") === v)
    // a matching DML still commits exactly one new snapshot
    vs.deleteWhere("u", col("x") > 10)
    assert(vs.currentVersion("u") === v + 1)
    assert(vs.read("u").select("k").as[Int].collect().toSeq === Seq(1))
  }

  test("updateWhere: copy-on-write per partition; assignments see the pre-update row") {
    import org.apache.spark.sql.functions.col
    val vs = fresh()
    val df = Seq((1, 10, 100, "d1"), (2, 20, 200, "d2"), (3, 30, 300, "d2"))
      .toDF("k", "x", "y", "day")
    vs.commitFull(df, "ut", Seq("day"), statsColumns = Seq("x"))
    val before = vs.versionsMapping("ut").toMap
    // x and y swap-ish: both assignments must read the OLD row
    vs.updateWhere("ut", col("k") >= 2,
      Map("x" -> (col("x") + col("y")), "y" -> col("x")))
    val after = vs.versionsMapping("ut").toMap
    assert(after("day=d1") === before("day=d1"), "untouched partition rewritten")
    assert(after("day=d2") !== before("day=d2"))
    assert(vs.read("ut").select("k", "x", "y").as[(Int, Int, Int)]
      .collect().sorted.toSeq ===
      Seq((1, 10, 100), (2, 220, 20), (3, 330, 30)))
    // pre-update snapshot intact; rewritten stats live (x now 220-330)
    assert(vs.readVersion("ut", 1).select("x").as[Int].collect().sorted.toSeq ===
      Seq(10, 20, 30))
    val x = PlannedScan.files(vs.read("ut").filter(col("x").between(0, 50)))
    assert(x.nonEmpty && x.forall(_.contains("day=d1")))
    // unknown column fails loudly; plain-store default path agrees
    intercept[IllegalArgumentException] {
      vs.updateWhere("ut", col("k") === 1, Map("nope" -> col("x"))) }
    // assigning a partition column would move rows between partitions
    // under a partition-local rewrite -- rejected, like Iceberg/Delta
    val pe = intercept[IllegalArgumentException] {
      vs.updateWhere("ut", col("k") === 1,
        Map("day" -> org.apache.spark.sql.functions.lit("d9"))) }
    assert(pe.getMessage.contains("partition(-source) column"))
    val ts = new TableStore(spark,
      Files.createTempDirectory("graft-upd-ts").toString)
    ts.createOrReplace(df, "ut")
    ts.updateWhere("ut", col("k") >= 2,
      Map("x" -> (col("x") + col("y")), "y" -> col("x")))
    assert(ts.read("ut").select("k", "x", "y").as[(Int, Int, Int)]
      .collect().sorted.toSeq ===
      Seq((1, 10, 100), (2, 220, 20), (3, 330, 30)))
  }

  test("clusterBy: range buckets give tight stats skipping; old layouts stay readable") {
    import org.apache.spark.sql.functions.col
    val vs = fresh()
    // unpartitioned table over a wide key range: no pruning possible
    val df = spark.range(0, 1000).toDF("id")
      .select(col("id").cast("int").as("k"),
        (col("id") % 7).cast("string").as("v"))
    vs.commitFull(df, "ct")
    assert(vs.read("ct").inputFiles.nonEmpty)
    val v2 = vs.clusterBy("ct", "k", nBuckets = 8)
    // schema gained the synthetic bucket; contents unchanged
    assert(vs.read("ct").columns.toSeq.sorted === Seq("__cluster", "k", "v"))
    assert(vs.read("ct").select("k").as[Int].collect().sorted.toSeq ===
      (0 until 1000).toSeq)
    // a narrow range now touches 1-2 of 8 bucket dirs, not the table
    val pruned = vs.read("ct").filter(col("k").between(10, 20))
    val allFiles = vs.read("ct").inputFiles.length
    val planned = PlannedScan.files(pruned)
    assert(planned.nonEmpty && planned.length < allFiles / 2,
      s"clustered scan read ${planned.length} of $allFiles files")
    assert(pruned.select("k").as[Int].collect().sorted.toSeq === (10 to 20).toSeq)
    // layout evolution: v1 (unpartitioned) still reads and rolls back
    assert(vs.readVersion("ct", 1).columns.toSeq.sorted === Seq("k", "v"))
    vs.rollbackTo("ct", 1)
    assert(vs.read("ct").columns.toSeq.sorted === Seq("k", "v"))
    assert(vs.read("ct").count() === 1000L)
    // re-cluster after rollback works (drop of a stale __cluster is a
    // no-op on the clean layout)
    vs.clusterBy("ct", "k", nBuckets = 4)
    assert(vs.read("ct").count() === 1000L)
    assert(v2 === 2L)
  }

  test("clusterByZ: compound predicates prune multiplicatively; contents unchanged") {
    import org.apache.spark.sql.functions.col
    val vs = fresh()
    // a 64x64 grid of independent x/y values: 1-D clustering on x
    // would be useless for a y predicate and vice versa
    val df = spark.range(0, 4096).toDF("id")
      .select(col("id").cast("int").as("id"),
        (col("id") % 64).cast("int").as("x"),
        (col("id") / 64).cast("int").as("y"))
    vs.commitFull(df, "zt")
    val v2 = vs.clusterByZ("zt", Seq("x", "y"), nBuckets = 16)
    assert(v2 === 2L)
    // 16 cells = 2 rank bits per column; contents byte-identical
    assert(vs.read("zt").columns.toSeq.sorted === Seq("__zbucket", "id", "x", "y"))
    assert(vs.read("zt").select("id").as[Int].collect().sorted.toSeq ===
      (0 until 4096).toSeq)
    val cells = vs.read("zt").select("__zbucket").distinct().count()
    assert(cells === 16L, s"expected 16 z-cells, got $cells")
    // a corner query (both columns constrained to the low quartile)
    // touches ~1 of 16 cells; assert strictly fewer files than half
    val pruned = vs.read("zt")
      .filter(col("x").between(0, 10) && col("y").between(0, 10))
    val allFiles = vs.read("zt").inputFiles.length
    val planned = PlannedScan.files(pruned)
    assert(planned.nonEmpty && planned.length < allFiles / 4,
      s"z-clustered corner scan read ${planned.length} of $allFiles files")
    // and BOTH single-column predicates prune too -- the property 1-D
    // clustering cannot give
    for (c <- Seq("x", "y")) {
      val one = vs.read("zt").filter(col(c).between(0, 10))
      assert(PlannedScan.files(one).length < allFiles,
        s"$c-only predicate pruned nothing")
      assert(one.select(col(c)).as[Int].collect().forall(_ <= 10))
    }
    // results hash-match the unpruned filter
    val expect = df.filter(col("x") <= 10 && col("y") <= 10)
      .select("id").as[Int].collect().sorted.toSeq
    assert(pruned.select("id").as[Int].collect().sorted.toSeq === expect)
    // old layout still readable
    assert(vs.readVersion("zt", 1).columns.toSeq.sorted === Seq("id", "x", "y"))
  }

  test("clusterByZ on a STRING column: surrogate ranks respect string order; readWhereString prunes") {
    import org.apache.spark.sql.functions.col
    val vs = fresh()
    // 26 ticker prefixes x 64 numeric values: string dim independent
    // of the numeric dim, exactly the grid shape of the numeric test
    val df = spark.range(0, 4096).toDF("id")
      .select(col("id").cast("int").as("id"),
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("TK_"),
          org.apache.spark.sql.functions.chr(col("id") % 26 + 65)).as("sym"),
        (col("id") / 26).cast("int").as("v"))
    vs.commitFull(df, "zs")
    vs.clusterByZ("zs", Seq("sym", "v"), nBuckets = 16)
    // contents byte-identical, surrogate columns dropped
    assert(vs.read("zs").columns.toSeq.sorted ===
      Seq("__zbucket", "id", "sym", "v"))
    assert(vs.read("zs").select("id").as[Int].collect().sorted.toSeq ===
      (0 until 4096).toSeq)
    val allFiles = vs.read("zs").inputFiles.length
    // a low-alphabet slice touches only the cells whose sym-rank bits
    // are low: strictly fewer files than the table
    val pruned = vs.read("zs").filter(col("sym").between("TK_A", "TK_F"))
    val planned = PlannedScan.files(pruned)
    assert(planned.nonEmpty && planned.length < allFiles,
      s"string predicate pruned nothing (${planned.length}/$allFiles)")
    val expect = df.filter(col("sym") >= "TK_A" && col("sym") <= "TK_F")
      .select("id").as[Int].collect().sorted.toSeq
    assert(pruned.select("id").as[Int].collect().sorted.toSeq === expect)
    // the numeric co-dimension still prunes too (the z property)
    val both = vs.read("zs").filter(col("v").between(0, 20))
    assert(PlannedScan.files(both).length < allFiles)
  }

  test("manifest growth bound: 10k partitions parse fast, prune before any listing") {
    // the growth surface is the MANIFEST (one dir line + stat lines per
    // partition rel): commit a real one-partition table, then CAS a
    // synthetic head whose mapping carries 10k rels -- 9,999 of them
    // with stats disjoint from the probe, so a filtered read must drop
    // them from the plan BEFORE any file listing (their data paths do
    // not exist; listing 10k paths would take a parallel listing job)
    val vs = fresh()
    val df = Seq((1, "d0"), (5, "d0")).toDF("k", "day")
    vs.commitFull(df, "big", Seq("day"), statsColumns = Seq("k"))
    val realDir = vs.versionsMapping("big").head._2
    val mapping = ("day=d0" -> realDir) +:
      (1 until 10000).map(i => s"day=d$i" -> realDir)
    val stats = ("day=d0", "k", "1", "5") +:
      (1 until 10000).map(i => (s"day=d$i", "k", s"${i * 100}", s"${i * 100 + 9}"))
    val t0 = System.nanoTime()
    vs.casManifest("big", vs.Manifest(2L, Seq("day"), mapping,
      df.schema.toDDL, stats), observedParent = 1L)
    // parse the 10k-rel head (versionsMapping forces a full parse)
    assert(vs.versionsMapping("big").size === 10000)
    // probe hits only the real partition: 9,999 fake rels pruned from
    // the plan without listing their (nonexistent) paths
    val listingJobs =
      org.apache.spark.metrics.source.HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT
    val jobsBefore = listingJobs.getCount
    val pruned = vs.read("big").filter(col("k").between(0, 10))
    val planned = PlannedScan.files(pruned)
    assert(planned.nonEmpty && planned.forall(_.contains("day=d0")))
    assert(pruned.as[(Int, String)].collect().toSeq.sorted ===
      Seq((1, "d0"), (5, "d0")))
    assert(listingJobs.getCount === jobsBefore, "pruned rels were listed")
    val elapsed = (System.nanoTime() - t0) / 1e9
    // commit + parse + prune + scan of a 10k-partition manifest stays
    // interactive; a super-linear manifest path would blow past this
    assert(elapsed < 30.0, f"10k-partition manifest round-trip took $elapsed%.1f s")
    // size check: ~60 B/rel (dir line + stat line) -- linear, no blowup
    val fs = new Path(vs.root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getFileStatus(
      new Path(s"${vs.path("big")}/_commits/c00000002")).getLen
    assert(bytes < 2L * 1024 * 1024, s"10k-partition manifest is $bytes bytes")
  }

  test("manifest stats describe the files actually written, not a re-evaluation") {
    import org.apache.spark.sql.functions.{col, floor, rand}
    val vs = fresh()
    // a non-deterministic input: every evaluation draws fresh values.
    // Stats computed from a SECOND evaluation of this df would
    // describe rows that were never written, and stats skipping could
    // prune partitions holding matching rows.
    val nd = spark.range(0, 200).toDF("id")
      .withColumn("day", (col("id") % 4).cast("string"))
      .withColumn("v", floor(rand() * 1000000).cast("long"))
    vs.commitFull(nd, "ndt", Seq("day"), statsColumns = Seq("v"))
    val written = vs.read("ndt").select("id", "v")
      .as[(Long, Long)].collect().toMap
    // every written value must be findable through the pruned scan --
    // the conservative-pruning guarantee
    val probes = written.values.toSeq.sorted.take(5) ++
      written.values.toSeq.sorted.takeRight(5)
    probes.foreach { v =>
      val got = vs.read("ndt").filter(col("v") === v).count()
      val expect = written.values.count(_ == v).toLong
      assert(got === expect, s"filter(v === $v) pruned away written rows")
    }
  }

  // ------------------------------------------- write-audit-publish

  // partitioned reads present data columns first, partition columns
  // last -- select explicitly before the typed cast
  private def kv(df: org.apache.spark.sql.DataFrame): Seq[(Int, String)] =
    df.select("k", "v").as[(Int, String)].collect().toSeq.sorted

  test("WAP: staged snapshots are invisible until published, then fast-forward") {
    val vs = fresh()
    vs.commitFull(Seq((1, "a"), (2, "b")).toDF("k", "v"), "w", Seq("k"))
    // stage a delta: partition k=3 appended, k=1/2 shared with head
    val sv = vs.stagePartitions(Seq((3, "c")).toDF("k", "v"), "w", "wap1",
      Seq("k"))
    // invisible everywhere a reader looks
    assert(kv(vs.read("w")) === Seq((1, "a"), (2, "b")))
    assert(vs.currentVersion("w") === 1L)
    assert(vs.versions("w") === Seq(1L))
    // the audit surface: full-table semantics (head + the delta)
    assert(kv(vs.readStaged("w", "wap1")) ===
      Seq((1, "a"), (2, "b"), (3, "c")))
    assert(vs.stagedSnapshots("w") === Seq((sv, "wap1")))
    // publish: one CAS, zero data I/O, staged version number burned
    val pv = vs.publishStaged("w", "wap1")
    assert(pv > sv)
    assert(kv(vs.read("w")) === Seq((1, "a"), (2, "b"), (3, "c")))
    assert(vs.stagedSnapshots("w") === Nil)
    assert(vs.versions("w") === Seq(1L, pv))
    // the published manifest SHARES the staged dirs: the shared k=1
    // partition dir is the v1 original, the delta dir the staged one
    assert(vs.versionsMapping("w").map(_._2).exists(_.startsWith("v1-")))
    assert(vs.versionsMapping("w").map(_._2).exists(_.startsWith(s"v$sv-")))
  }

  test("WAP: dropStaged reclaims staged dirs and burns the version") {
    val vs = fresh()
    vs.commitFull(Seq((1, "a")).toDF("k", "v"), "w", Seq("k"))
    val sv = vs.stagePartitions(Seq((9, "bad")).toDF("k", "v"), "w", "nope",
      Seq("k"))
    vs.dropStaged("w", "nope")
    assert(vs.stagedSnapshots("w") === Nil)
    assert(kv(vs.read("w")) === Seq((1, "a")))
    intercept[NoSuchElementException] { vs.readStaged("w", "nope") }
    // staged data dirs are gone; the shared v1 dir survives
    val fs = new Path(vs.root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new Path(s"${vs.path("w")}/_data"))
      .map(_.getPath.getName).toSeq
    assert(!dirs.exists(_.startsWith(s"v$sv-")))
    assert(dirs.exists(_.startsWith("v1-")))
    // the burned version is never reallocated: the next commit skips it
    vs.commitFull(Seq((2, "b")).toDF("k", "v"), "w", Seq("k"))
    assert(vs.currentVersion("w") > sv)
  }

  test("WAP: publish rejects when the head moved after staging") {
    val vs = fresh()
    vs.commitFull(Seq((1, "a")).toDF("k", "v"), "w", Seq("k"))
    vs.stagePartitions(Seq((2, "b")).toDF("k", "v"), "w", "stale", Seq("k"))
    // a main writer lands while the audit runs (staged snapshot does
    // NOT block it: conflict checks skip staged manifests)
    vs.commitPartitions(Seq((5, "e")).toDF("k", "v"), "w", Seq("k"))
    val e = intercept[ConcurrentWriteException] {
      vs.publishStaged("w", "stale")
    }
    assert(e.getMessage.contains("restage"))
    // the staged snapshot survives the rejection for inspection
    assert(vs.stagedSnapshots("w").map(_._2) === Seq("stale"))
    vs.dropStaged("w", "stale")
  }

  test("WAP: staged snapshots survive retention while main history expires") {
    val vs = fresh(keep = 2)
    vs.commitFull(Seq((1, "a")).toDF("k", "v"), "w", Seq("k"))
    vs.stagePartitions(Seq((2, "b")).toDF("k", "v"), "w", "held", Seq("k"))
    // enough main commits to expire everything the staged delta shares
    (1 to 5).foreach(i =>
      vs.commitFull(Seq((1, s"r$i")).toDF("k", "v"), "w", Seq("k")))
    // the staged snapshot is still fully readable: retention pinned
    // its manifest AND the v1 dirs it shares with its (now expired)
    // parent... head moved though, so it can only be dropped
    assert(kv(vs.readStaged("w", "held")) === Seq((1, "a"), (2, "b")))
    intercept[ConcurrentWriteException] { vs.publishStaged("w", "held") }
    vs.dropStaged("w", "held")
  }

  // --------------------------------------- merge-on-read deletes

  test("deleteKeys: O(keys) takedown; reads hide rows; compact applies and clears") {
    val vs = fresh()
    vs.commitFull(Seq((1, "a"), (1, "b"), (2, "c"), (2, "d")).toDF("k", "v"),
      "mor", Seq("k"))
    val preV = vs.currentVersion("mor")
    val mappingBefore = vs.versionsMapping("mor")
    val delV = vs.deleteKeys("mor", Seq("b", "d").toDF("v"), Seq("v"))
    // zero data rewrite: the mapping is byte-identical, only the
    // manifest gained a delete entry
    assert(vs.versionsMapping("mor") === mappingBefore)
    assert(vs.pendingDeletes("mor").size === 1)
    assert(kv(vs.read("mor")) === Seq((1, "a"), (2, "c")))
    // time travel is exact: the pre-delete snapshot still serves all
    assert(kv(vs.readVersion("mor", preV)).size === 4)
    // the change feed sees ordinary deletes
    val diff = vs.snapshotDiff("mor", preV, delV, Seq("v"))
      .select("change_type", "v").as[(String, String)].collect().sorted.toSeq
    assert(diff === Seq(("delete", "b"), ("delete", "d")))
    // a second batch folds in
    vs.deleteKeys("mor", Seq("c").toDF("v"), Seq("v"))
    assert(kv(vs.read("mor")) === Seq((1, "a")))
    // documented snapshot-wide semantics: an appended row re-using a
    // suppressed key stays suppressed until deletes are applied
    vs.commitPartitions(Seq((3, "b")).toDF("k", "v"), "mor", Seq("k"))
    assert(kv(vs.read("mor")) === Seq((1, "a")))
    // compact applies the deletes physically and clears the entries --
    // including the suppressed late append, exactly as documented
    vs.compact("mor")
    assert(vs.pendingDeletes("mor") === Nil)
    assert(kv(vs.read("mor")) === Seq((1, "a")))
    // with deletes applied, the key is insertable again
    vs.commitPartitions(Seq((4, "b")).toDF("k", "v"), "mor", Seq("k"))
    assert(kv(vs.read("mor")) === Seq((1, "a"), (4, "b")))
    // guard rails: partition-column and unknown keys reject
    intercept[IllegalArgumentException] {
      vs.deleteKeys("mor", Seq(1).toDF("k"), Seq("k"))
    }
    intercept[IllegalArgumentException] {
      vs.deleteKeys("mor", Seq("x").toDF("nope"), Seq("nope"))
    }
  }

  test("WAP: writeAuditPublish publishes on pass, reclaims on fail") {
    val vs = fresh()
    vs.commitFull(Seq((1, "a")).toDF("k", "v"), "w", Seq("k"))
    // audit fails: nulls forbidden
    val bad = vs.writeAuditPublish(
      Seq((2, null.asInstanceOf[String])).toDF("k", "v"), "w", "day2",
      audit = df => df.filter(df("v").isNull).isEmpty,
      partitionBy = Seq("k"), delta = true)
    assert(bad === None)
    assert(kv(vs.read("w")) === Seq((1, "a")))
    assert(vs.stagedSnapshots("w") === Nil)
    // audit passes: published, same wap id reusable after retirement
    val good = vs.writeAuditPublish(
      Seq((2, "b")).toDF("k", "v"), "w", "day2",
      audit = df => df.filter(df("v").isNull).isEmpty,
      partitionBy = Seq("k"), delta = true)
    assert(good.isDefined)
    assert(kv(vs.read("w")) === Seq((1, "a"), (2, "b")))
  }
}
