package graft.table

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GreaterThanOrEqual, LessThanOrEqual, Literal}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.TestSpark

/** The graft `TableCatalog`: store tables as first-class Spark SQL
  * citizens — qualified reads, VERSION/TIMESTAMP AS OF time travel,
  * INSERT INTO/OVERWRITE, DDL, and the scan-planning contract
  * (partition pruning + manifest-stats skipping through Spark's own
  * v2 parquet scans). */
class GraftCatalogSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val root = Files.createTempDirectory("graft-catalog").toString
  spark.conf.set("spark.sql.catalog.gtest",
    "graft.table.catalog.GraftCatalog")
  spark.conf.set("spark.sql.catalog.gtest.root", root)
  spark.conf.set("spark.sql.catalog.gtest.stats.measures", "v")

  private val store = new VersionedTableStore(spark, root,
    statsFor = n => if (n == "measures") Seq("v") else Nil)

  private def rows(yrs: Range, perYr: Int, bump: Long = 0) =
    yrs.flatMap(y => (0 until perYr).map(i =>
      (y, y.toLong * 1000 + i + bump, s"r$y-$i"))).toDF("yr", "v", "tag")

  test("qualified SELECT reads the store table; filters push to parquet") {
    store.commitFull(rows(1996 to 1998, 10), "measures", Seq("yr"), Seq("v"))
    val out = spark.sql(
      "SELECT tag, v FROM gtest.default.measures WHERE v % 2 = 0")
    assert(out.count() === 15)
    val scan = out.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case b: BatchScanExec => b }.get
    // the scan is Spark's own parquet batch scan with pushdown active
    assert(scan.scan.description().contains("PushedFilters"))
  }

  test("partition pruning reaches the manifest-pinned file index") {
    val pruned = spark.sql(
      "SELECT * FROM gtest.default.measures WHERE yr = 1997")
    assert(pruned.count() === 10)
    // the planned scan reads only yr=1997's files, strictly fewer than
    // the unfiltered scan plans
    val planned = PlannedScan.files(pruned)
    assert(planned.nonEmpty && planned.forall(_.contains("yr=1997")),
      s"partition pruning planned ${planned.mkString(",")}")
    val fullDf = spark.sql("SELECT * FROM gtest.default.measures")
    val full = PlannedScan.files(fullDf)
    assert(planned.size < full.size)
    // the index itself still spans the whole snapshot
    def indexFiles(df: org.apache.spark.sql.DataFrame) = PlannedScan.scans(df)
      .head.scan.asInstanceOf[org.apache.spark.sql.graft.GraftScan]
      .parquetScan.fileIndex.inputFiles.length
    assert(indexFiles(pruned) === indexFiles(fullDf))
  }

  test("manifest-stats skipping drops disjoint partitions from listFiles") {
    val snap = store.snapshotView("measures", None)
    assert(snap.stats.nonEmpty)
    val idx = org.apache.spark.sql.graft.GraftScanPlanning.fileIndex(
      spark, new org.apache.spark.sql.types.StructType()
        .add("yr", "int"), snap.entries, snap.stats)
    val v = AttributeReference("v", LongType)()
    // v in [1997000, 1997009] -> only yr=1997's files survive
    val hit = idx.listFiles(Nil, Seq(
      GreaterThanOrEqual(v, Literal(1997000L)),
      LessThanOrEqual(v, Literal(1997009L))))
    val dirs = hit.flatMap(_.files.map(_.getPath.getParent.getName)).toSet
    assert(dirs === Set("yr=1997"))
    // no stats for the column -> conservative, everything scans
    val u = AttributeReference("unknown", LongType)()
    val all = idx.listFiles(Nil, Seq(GreaterThanOrEqual(u, Literal(0L))))
    assert(all.flatMap(_.files.map(_.getPath.getParent.getName)).toSet
      .size === 3)
  }

  test("ordered-string stats skipping: timestamp and string bounds prune rels") {
    // stats are stored as cast-to-string; ISO timestamps and plain
    // strings compare lexicographically in value order, so ts/sym
    // ranges skip rels exactly like integer bounds do (r13)
    val df = Seq(
      (1, java.sql.Timestamp.valueOf("1996-01-01 08:00:00"), "AAA"),
      (1, java.sql.Timestamp.valueOf("1996-01-01 18:00:00"), "ABC"),
      (2, java.sql.Timestamp.valueOf("1996-01-02 08:00:00"), "MMM"),
      (2, java.sql.Timestamp.valueOf("1996-01-02 18:00:00"), "MNO"),
      (3, java.sql.Timestamp.valueOf("1996-01-03 08:00:00"), "ZZА"),
      (3, java.sql.Timestamp.valueOf("1996-01-03 18:00:00"), "ZZZ")
    ).toDF("day", "ts", "sym")
    store.commitFull(df, "ordstats", Seq("day"), Seq("ts", "sym"))
    val snap = store.snapshotView("ordstats", None)
    val idx = org.apache.spark.sql.graft.GraftScanPlanning.fileIndex(
      spark, new org.apache.spark.sql.types.StructType()
        .add("day", "int"), snap.entries, snap.stats)
    def rels(fs: Seq[org.apache.spark.sql.execution.datasources
        .PartitionDirectory]): Set[String] =
      fs.flatMap(_.files.map(_.getPath.getParent.getName)).toSet
    val ts = AttributeReference("ts",
      org.apache.spark.sql.types.TimestampType)()
    assert(rels(idx.listFiles(Nil, Seq(GreaterThanOrEqual(ts,
      Literal.create(java.sql.Timestamp.valueOf("1996-01-03 00:00:00"))))))
      === Set("day=3"))
    assert(rels(idx.listFiles(Nil, Seq(LessThanOrEqual(ts,
      Literal.create(java.sql.Timestamp.valueOf("1996-01-01 23:00:00"))))))
      === Set("day=1"))
    val sym = AttributeReference("sym",
      org.apache.spark.sql.types.StringType)()
    assert(rels(idx.listFiles(Nil, Seq(
      GreaterThanOrEqual(sym, Literal("M")),
      LessThanOrEqual(sym, Literal("N"))))) === Set("day=2"))
    // no stats for a column -> conservative, everything scans
    val u = AttributeReference("unknown",
      org.apache.spark.sql.types.StringType)()
    assert(rels(idx.listFiles(Nil,
      Seq(GreaterThanOrEqual(u, Literal("x"))))).size === 3)
    // end to end through SQL: the catalog scan lists one day's files
    val q = spark.sql("SELECT * FROM gtest.default.ordstats " +
      "WHERE ts >= TIMESTAMP '1996-01-03 00:00:00'")
    assert(q.count() === 2)
    val scan = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r.scan
    }.collectFirst {
      case g: org.apache.spark.sql.graft.GraftScan => g
    }.get
    assert(scan.plannedRels === Set("day=3"))
  }

  test("VERSION AS OF and TIMESTAMP AS OF serve pinned snapshots") {
    val t0 = 1000000L
    store.clockMs = () => t0
    store.commitFull(rows(2000 to 2000, 3), "history", Seq("yr"))
    store.clockMs = () => t0 + 10000
    store.commitFull(rows(2000 to 2001, 3, bump = 7), "history", Seq("yr"))
    val v1 = spark.sql(
      "SELECT * FROM gtest.default.history VERSION AS OF 1")
    assert(v1.count() === 3)
    assert(v1.agg(sum($"v")).as[Long].head ===
      rows(2000 to 2000, 3).agg(sum($"v")).as[Long].head)
    val head = spark.sql("SELECT * FROM gtest.default.history")
    assert(head.count() === 6)
    // micros timestamp between the two commits resolves to v1
    val tsv1 = spark.sql(
      s"SELECT * FROM gtest.default.history TIMESTAMP AS OF " +
        s"timestamp_micros(${(t0 + 5000) * 1000})")
    assert(tsv1.count() === 3)
  }

  test("INSERT INTO: disjoint partitions append as a delta; overlap rewrites") {
    store.commitFull(rows(1996 to 1996, 4), "app2", Seq("yr"))
    val before = store.snapshotView("app2", None)
    // disjoint year: true append, the 1996 rel keeps its immutable dir
    spark.sql(
      "INSERT INTO gtest.default.app2 VALUES (2042L, 'a', 1997)").collect()
    val after = store.snapshotView("app2", None)
    assert(after.version === before.version + 1)
    assert(after.entries.toMap.apply("yr=1996") ===
      before.entries.toMap.apply("yr=1996"))
    assert(after.entries.toMap.contains("yr=1997"))
    assert(spark.sql("SELECT count(*) FROM gtest.default.app2")
      .as[Long].head === 5)
    // overlapping year: append semantics preserved via rewrite
    spark.sql(
      "INSERT INTO gtest.default.app2 VALUES (77L, 'b', 1996)").collect()
    assert(spark.sql(
      "SELECT count(*) FROM gtest.default.app2 WHERE yr = 1996")
      .as[Long].head === 5)
    assert(spark.sql("SELECT count(*) FROM gtest.default.app2")
      .as[Long].head === 6)
    // INSERT OVERWRITE replaces the whole snapshot
    spark.sql(
      "INSERT OVERWRITE gtest.default.app2 VALUES (1L, 'z', 1999)").collect()
    assert(spark.sql("SELECT v, tag, yr FROM gtest.default.app2")
      .as[(Long, String, Int)].collect().toSeq === Seq((1L, "z", 1999)))
  }

  test("SQL DDL round trip: CREATE, list, exists, INSERT, rename, drop") {
    spark.sql("CREATE TABLE gtest.default.ddl (k INT, s STRING) " +
      "PARTITIONED BY (k)")
    assert(spark.sql("SHOW TABLES IN gtest.default").as[(String, String, Boolean)]
      .collect().map(_._2).contains("ddl"))
    spark.sql("INSERT INTO gtest.default.ddl VALUES ('one', 1), ('two', 2)")
    assert(spark.sql("SELECT s FROM gtest.default.ddl WHERE k = 2")
      .as[String].collect().toSeq === Seq("two"))
    // RENAME TO resolves its target inside the same catalog
    spark.sql("ALTER TABLE gtest.default.ddl RENAME TO default.ddl2")
    assert(spark.sql("SELECT count(*) FROM gtest.default.ddl2")
      .as[Long].head === 2)
    spark.sql("DROP TABLE gtest.default.ddl2")
    assert(!store.exists("ddl2"))
  }

  test("SQL DELETE FROM commits a copy-on-write snapshot; TRUNCATE empties") {
    store.commitFull(rows(1996 to 1998, 4), "del", Seq("yr"))
    val before = store.snapshotView("del", None)
    // partition-scoped delete: untouched years keep their immutable dirs
    spark.sql("DELETE FROM gtest.default.del WHERE yr = 1997")
    val after = store.snapshotView("del", None)
    assert(after.version === before.version + 1)
    assert(spark.sql("SELECT count(*) FROM gtest.default.del")
      .as[Long].head === 8)
    assert(!after.entries.toMap.contains("yr=1997"))
    assert(after.entries.toMap.apply("yr=1996") ===
      before.entries.toMap.apply("yr=1996"))
    // data-column predicate (conjunction, IN, comparison) translates too
    spark.sql("DELETE FROM gtest.default.del " +
      "WHERE v >= 1996002 AND tag IN ('r1996-2', 'r1996-3')")
    assert(spark.sql("SELECT count(*) FROM gtest.default.del")
      .as[Long].head === 6)
    // history is intact: the pre-delete snapshot still reads in full
    assert(spark.sql(
      s"SELECT count(*) FROM gtest.default.del VERSION AS OF ${before.version}")
      .as[Long].head === 12)
    spark.sql("TRUNCATE TABLE gtest.default.del")
    assert(spark.sql("SELECT count(*) FROM gtest.default.del")
      .as[Long].head === 0)
    // schema survives the truncate
    assert(spark.sql("SELECT * FROM gtest.default.del").columns.toSeq ===
      Seq("v", "tag", "yr"))
  }

  test("untranslatable DELETE predicates run as a group-based rewrite") {
    store.commitFull(rows(2001 to 2002, 3), "del2", Seq("yr"))
    val before = store.snapshotView("del2", None)
    // length(tag) has no metadata-delete translation -> Spark routes
    // it through the row-level rewrite; r2001-10x tags are length 8
    spark.sql(
      "DELETE FROM gtest.default.del2 WHERE length(tag) = 7 AND yr = 2001")
    val after = store.snapshotView("del2", None)
    assert(after.version === before.version + 1)
    assert(spark.sql("SELECT count(*) FROM gtest.default.del2")
      .as[Long].head === 3)
    assert(spark.sql(
      "SELECT count(*) FROM gtest.default.del2 WHERE yr = 2001")
      .as[Long].head === 0)
    // the untouched partition keeps its immutable dir
    assert(after.entries.toMap.apply("yr=2002") ===
      before.entries.toMap.apply("yr=2002"))
  }

  test("SQL UPDATE: rewrites matched partitions; moves across partitions append") {
    store.commitFull(rows(1996 to 1998, 4), "upd", Seq("yr"), Seq("v"))
    val before = store.snapshotView("upd", None)
    spark.sql("UPDATE gtest.default.upd SET tag = concat(tag, '!') " +
      "WHERE v % 2 = 0 AND yr = 1997")
    val after = store.snapshotView("upd", None)
    assert(after.version === before.version + 1)
    assert(spark.sql("SELECT count(*) FROM gtest.default.upd")
      .as[Long].head === 12)
    assert(spark.sql("SELECT tag FROM gtest.default.upd " +
      "WHERE yr = 1997 ORDER BY v").as[String].collect().toSeq ===
      Seq("r1997-0!", "r1997-1", "r1997-2!", "r1997-3"))
    // only the matched partition was rewritten
    assert(after.entries.toMap.apply("yr=1996") ===
      before.entries.toMap.apply("yr=1996"))
    assert(after.entries.toMap.apply("yr=1997") !==
      before.entries.toMap.apply("yr=1997"))
    // assigning the PARTITION column moves the row: source partition
    // rewritten without it, destination partition gains an appended dir
    spark.sql("UPDATE gtest.default.upd SET yr = 1999 WHERE v = 1996001")
    assert(spark.sql("SELECT yr, tag FROM gtest.default.upd WHERE v = 1996001")
      .as[(Int, String)].head() === ((1999, "r1996-1")))
    assert(spark.sql("SELECT count(*) FROM gtest.default.upd")
      .as[Long].head === 12)
    // time travel still serves the pre-UPDATE state
    assert(spark.sql(
      s"SELECT tag FROM gtest.default.upd VERSION AS OF ${before.version} " +
        "WHERE yr = 1997 AND v % 2 = 0 ORDER BY v")
      .as[String].collect().toSeq === Seq("r1997-0", "r1997-2"))
  }

  test("SQL MERGE INTO: update + delete + insert clauses in one statement") {
    store.commitFull(Seq((1L, "a", 10), (2L, "b", 10), (3L, "c", 20))
      .toDF("k", "s", "grp"), "mrg", Seq("grp"))
    Seq((1L, "A"), (3L, "DELETE_ME"), (9L, "new"))
      .toDF("mk", "ms").createOrReplaceTempView("mrg_src")
    spark.sql(
      """MERGE INTO gtest.default.mrg t USING mrg_src s ON t.k = s.mk
         WHEN MATCHED AND s.ms = 'DELETE_ME' THEN DELETE
         WHEN MATCHED THEN UPDATE SET s = s.ms
         WHEN NOT MATCHED THEN INSERT (k, s, grp) VALUES (s.mk, s.ms, 99)""")
    assert(spark.sql("SELECT k, s, grp FROM gtest.default.mrg ORDER BY k")
      .as[(Long, String, Int)].collect().toSeq ===
      Seq((1L, "A", 10), (2L, "b", 10), (9L, "new", 99)))
    // a no-match statement burns no snapshot
    val v = store.snapshotView("mrg", None).version
    spark.sql(
      """MERGE INTO gtest.default.mrg t USING mrg_src s
         ON t.k = s.mk AND t.k > 100
         WHEN MATCHED THEN DELETE""")
    assert(store.snapshotView("mrg", None).version === v)
  }

  test("ALTER TABLE ADD/DROP COLUMNS: metadata-only, history keeps old schema") {
    store.commitFull(rows(1996 to 1997, 2), "evo", Seq("yr"))
    val before = store.snapshotView("evo", None)
    spark.sql("ALTER TABLE gtest.default.evo ADD COLUMNS (score DOUBLE)")
    val after = store.snapshotView("evo", None)
    // zero data I/O: every data dir is shared with the pre-ALTER head
    assert(after.entries === before.entries)
    assert(after.version === before.version + 1)
    // pre-evolution files read the new column as NULL
    val head = spark.sql(
      "SELECT tag, score FROM gtest.default.evo WHERE yr = 1996")
    assert(head.columns.toSeq === Seq("tag", "score"))
    assert(head.collect().forall(_.isNullAt(1)))
    // new writes carry it; old rows stay NULL
    spark.sql("INSERT INTO gtest.default.evo VALUES (9L, 'n', 0.5D, 1998)")
    assert(spark.sql("SELECT count(*) FROM gtest.default.evo " +
      "WHERE score IS NOT NULL").as[Long].head === 1)
    // time travel serves the PRE-evolution schema
    assert(!spark.sql(
      s"SELECT * FROM gtest.default.evo VERSION AS OF ${before.version}")
      .columns.contains("score"))
    // DROP: projection-only; the values live on in history
    spark.sql("ALTER TABLE gtest.default.evo DROP COLUMN tag")
    assert(spark.sql("SELECT * FROM gtest.default.evo").columns.toSeq ===
      Seq("v", "score", "yr"))
    assert(spark.sql(
      s"SELECT tag FROM gtest.default.evo VERSION AS OF ${before.version}")
      .count() === 4)
    // guarded: partition column drop rejects
    intercept[Exception] {
      spark.sql("ALTER TABLE gtest.default.evo DROP COLUMN yr") }
    // RENAME COLUMN is metadata-only via the field-ID ledger (the
    // full behavior matrix lives in RenameWidenSpec; here: the SQL
    // surface works and round-trips)
    spark.sql("ALTER TABLE gtest.default.evo RENAME COLUMN v TO w")
    assert(spark.sql("SELECT * FROM gtest.default.evo").columns.toSeq ===
      Seq("w", "score", "yr"))
    spark.sql("ALTER TABLE gtest.default.evo RENAME COLUMN w TO v")
    assert(spark.sql("SELECT * FROM gtest.default.evo").columns.toSeq ===
      Seq("v", "score", "yr"))
  }

  test("inspection tables: history / partitions / stats are SQL-queryable") {
    val t0 = 5000000L
    store.clockMs = () => t0
    store.commitFull(rows(1996 to 1997, 2), "insp", Seq("yr"), Seq("v"))
    store.clockMs = () => t0 + 1000
    store.deleteWhere("insp", col("yr") === 1996, Seq("yr"))
    val hist = spark.sql(
      "SELECT version, parent, committed_at_ms, partition_by, n_partitions " +
        "FROM gtest.default.insp.history ORDER BY version")
      .as[(Long, Long, Long, String, Long)].collect().toSeq
    assert(hist === Seq((1L, 0L, t0, "yr", 2L), (2L, 1L, t0 + 1000, "yr", 1L)))
    // joins against data tables work: count rows per live snapshot
    val perV = spark.sql(
      """SELECT h.version, count(d.v) AS n
         FROM gtest.default.insp.history h
         LEFT JOIN gtest.default.insp VERSION AS OF 1 d ON h.version = 1
         GROUP BY h.version ORDER BY h.version""").as[(Long, Long)]
      .collect().toSeq
    assert(perV === Seq((1L, 4L), (2L, 0L)))
    assert(spark.sql("SELECT partition FROM gtest.default.insp.partitions")
      .as[String].collect().toSeq === Seq("yr=1997"))
    val st = spark.sql("SELECT column, min, max FROM gtest.default.insp.stats " +
      "WHERE partition = 'yr=1997'").as[(String, String, String)].head()
    assert(st === (("v", "1997000", "1997001")))
  }

  test("readStream.table: insert-only row stream; update/delete commits fail loudly") {
    import org.apache.spark.sql.streaming.Trigger
    store.commitFull(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), "strm", Nil)
    val ckpt = Files.createTempDirectory("graft-strm-ckpt").toString
    val out = Files.createTempDirectory("graft-strm-out").toString
    def drain(extra: (String, String)*): Unit = {
      var r = spark.readStream.option("keys", "k")
      extra.foreach { case (k, v) => r = r.option(k, v) }
      r.table("gtest.default.strm")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    def delivered(): Seq[(Long, String)] =
      spark.read.parquet(out).as[(Long, String)].collect().sorted.toSeq
    // first batch: the subscribed snapshot as rows
    drain()
    assert(delivered() === Seq((1L, "a"), (2L, "b")))
    // SQL INSERT between triggers flows through as rows
    spark.sql("INSERT INTO gtest.default.strm VALUES (3L, 'c')")
    drain()
    assert(delivered() === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // a delete commit fails the row-shaped stream loudly...
    store.deleteWhere("strm", col("k") === 1L, Nil)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain()
    }
    assert(e.getMessage.contains("delete") ||
      Option(e.getCause).exists(_.getMessage.contains("delete")))
    // ...and ignoreDeletes resumes from the SAME checkpoint, skipping it
    drain("ignoreDeletes" -> "true")
    assert(delivered() === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // ignoreChanges re-emits update post-images
    store.updateWhere("strm", col("k") === 2L, Map("s" -> lit("B")), Nil)
    drain("ignoreChanges" -> "true")
    assert(delivered() === Seq((1L, "a"), (2L, "B"), (2L, "b"), (3L, "c")))
  }

  test("readStream.table with a branch option follows the branch lineage") {
    import org.apache.spark.sql.streaming.Trigger
    store.commitFull(Seq((1L, "a")).toDF("k", "s"), "bstrm", Nil)
    store.createBranch("bstrm", "dev")
    val ckpt = Files.createTempDirectory("graft-bstrm-ckpt").toString
    val out = Files.createTempDirectory("graft-bstrm-out").toString
    def drain(): Unit =
      spark.readStream.option("keys", "k").option("branch", "dev")
        .table("gtest.default.bstrm")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    drain()
    def delivered(): Seq[(Long, String)] =
      spark.read.parquet(out).as[(Long, String)].collect().sorted.toSeq
    assert(delivered() === Seq((1L, "a"))) // the branch fork state
    // a branch append flows; an interleaved MAIN insert does not
    store.commitFull(Seq((1L, "a"), (2L, "dev")).toDF("k", "s"), "bstrm",
      Nil, branch = "dev")
    spark.sql("INSERT INTO gtest.default.bstrm VALUES (9L, 'main')")
    drain()
    assert(delivered() === Seq((1L, "a"), (2L, "dev")))
  }

  test("readStream.table validates keys against the BRANCH schema when branch is set") {
    import org.apache.spark.sql.streaming.Trigger
    store.commitFull(Seq((1L, "a")).toDF("k", "s"), "bkey", Nil)
    store.createBranch("bkey", "dev")
    // branch-side evolution adds k2; it exists ONLY on the branch
    val cur = store.snapshotView("bkey", None).schemaDDL
    store.evolveSchema("bkey", s"$cur, k2 BIGINT", branch = "dev")
    store.commitFull(Seq((2L, "b", 200L)).toDF("k", "s", "k2"), "bkey",
      Nil, branch = "dev")
    // keying the branch stream on the branch-only column must be
    // accepted (the stream reads the branch lineage, so the branch
    // head's schema is the one that matters)...
    val ckpt = Files.createTempDirectory("graft-bkey-ckpt").toString
    val out = Files.createTempDirectory("graft-bkey-out").toString
    spark.readStream.option("keys", "k2").option("branch", "dev")
      .table("gtest.default.bkey")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    assert(spark.read.parquet(out).count() === 1)
    // ...while the SAME key against main (no branch option) rejects:
    // main never evolved
    val e = intercept[Exception] {
      spark.readStream.option("keys", "k2").table("gtest.default.bkey")
        .writeStream.format("parquet")
        .option("path", Files.createTempDirectory("graft-bkey-o2").toString)
        .option("checkpointLocation",
          Files.createTempDirectory("graft-bkey-c2").toString)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    assert(e.getMessage.contains("k2"))
  }

  test("runtime filtering: a dim-filtered join prunes fact partitions at execution") {
    store.commitFull(rows(1990 to 1999, 20), "dpp", Seq("yr"))
    // the dim must be a real scan: a literal Seq constant-folds into a
    // LocalRelation and DPP's selective-predicate check never fires
    store.commitFull(Seq((1995, "keep"), (1996, "other"), (2042, "keep2"))
      .toDF("d_yr", "d_tag"), "dpp_dim", Nil)
    val q = spark.sql(
      """SELECT f.v FROM gtest.default.dpp f
         JOIN gtest.default.dpp_dim d ON f.yr = d.d_yr
         WHERE d.d_tag = 'keep'""")
    // execute THIS dataset (a .count() would plan a fresh query tree
    // with its own scan instances), then introspect the final
    // adaptive plan, descending into materialized query stages
    assert(q.collect().length === 20)
    val finalPlan = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    def walk(pl: org.apache.spark.sql.execution.SparkPlan): Seq[BatchScanExec] =
      pl.collect {
        case b: BatchScanExec => Seq(b)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(s.plan)
      }.flatten
    val scans = walk(finalPlan).filter(_.runtimeFilters.nonEmpty)
    assert(scans.nonEmpty, "no runtime filter reached the graft scan")
    // the executed GraftScan was mutated in place by scan.filter(...):
    // the dim's surviving keys are now partition filters, and the
    // re-planned batch reads ONLY the yr=1995 manifest partition
    val gs = scans.head.scan.asInstanceOf[org.apache.spark.sql.graft.GraftScan]
    assert(gs.parquetScan.partitionFilters.nonEmpty,
      "runtime filter did not fold into the parquet scan")
    val dirs = gs.parquetScan.toBatch.planInputPartitions().flatMap {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        fp.files.map(_.filePath.toPath.getParent.getName)
    }.toSet
    assert(dirs === Set("yr=1995"))
  }

  test("a dim-filtered join on a DATA column plans when the partition column is pruned") {
    // DPP resolves the scan's runtime-filter attributes against its
    // column-pruned output: a partition column the query never reads
    // must not be offered, or the whole plan fails to resolve
    store.commitFull(rows(1990 to 1993, 5), "dppd", Seq("yr"))
    store.commitFull(Seq((1991002L, "keep"), (1992003L, "drop"))
      .toDF("d_v", "d_tag"), "dppd_dim", Nil)
    val q = spark.sql(
      """SELECT f.tag FROM gtest.default.dppd f
         JOIN gtest.default.dppd_dim d ON f.v = d.d_v
         WHERE d.d_tag = 'keep'""")
    assert(q.as[String].collect().toSeq === Seq("r1991-2"))
    // the store's library read plans the same join
    val lib = store.read("dppd").select("v", "tag")
      .join(store.read("dppd_dim").filter(col("d_tag") === "keep"),
        col("v") === col("d_v"))
    assert(lib.select("tag").as[String].collect().toSeq === Seq("r1991-2"))
  }

  test("storage-partitioned join: co-partitioned tables join with no shuffle") {
    store.commitFull(rows(2000 to 2004, 8), "spj_l", Seq("yr"), Nil)
    store.commitFull(rows(2000 to 2004, 3, bump = 500), "spj_r", Seq("yr"), Nil)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val q = spark.sql(
        """SELECT l.yr, count(*) AS pairs
           FROM gtest.default.spj_l l JOIN gtest.default.spj_r r
             ON l.yr = r.yr
           GROUP BY l.yr""")
      val got = q.collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      assert(got === (2000 to 2004).map(y => y -> 24L).toMap)
      val plan = q.queryExecution.executedPlan
      // both sides aligned by their hive partition values: the JOIN
      // runs with ZERO exchanges (the one shuffle in the plan is the
      // later groupBy, which is allowed to re-shuffle the join output)
      val join = plan.collectFirst {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }.get
      val exchangesBelowJoin = join.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchangesBelowJoin.isEmpty,
        s"storage-partitioned join still shuffled:\n$join")
      val scans = join.collect { case b: BatchScanExec => b }
      assert(scans.size === 2)
      scans.foreach { b =>
        assert(b.outputPartitioning.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.physical.KeyGroupedPartitioning],
          s"scan did not report key-grouped partitioning: ${b.outputPartitioning}")
        // every input partition is key-tagged with its hive value
        b.inputRDD // force planning
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // conf off -> the same query degrades to the ordinary shuffled
    // plan (never a wrong one), and results agree
    val q2 = spark.sql(
      """SELECT l.yr, count(*) AS pairs
         FROM gtest.default.spj_l l JOIN gtest.default.spj_r r ON l.yr = r.yr
         GROUP BY l.yr""")
    assert(q2.collect().map(r => (r.getInt(0), r.getLong(1))).toMap ===
      (2000 to 2004).map(y => y -> 24L).toMap)
  }

  test("aggregate pushdown: COUNT/MIN/MAX answered from parquet footers") {
    store.commitFull(rows(2010 to 2013, 50), "aggpd", Seq("yr"))
    val saved = spark.conf.getOption("spark.sql.parquet.aggregatePushdown")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      val q = spark.sql(
        """SELECT count(*) AS n, min(v) AS lo, max(v) AS hi
           FROM gtest.default.aggpd""")
      val r = q.collect().head
      assert((r.getLong(0), r.getLong(1), r.getLong(2)) ===
        ((200L, 2010000L, 2013049L)))
      // the scan's read schema is the AGGREGATE schema: rows were
      // never decoded, the values came from footer statistics
      val finalPlan = q.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      def walk(pl: org.apache.spark.sql.execution.SparkPlan): Seq[BatchScanExec] =
        pl.collect {
          case b: BatchScanExec => Seq(b)
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            walk(s.plan)
        }.flatten
      val scan = walk(finalPlan).head
      assert(scan.scan.description().contains("PushedAggregation"),
        s"aggregation not pushed:\n${scan.scan.description()}")
      // GROUP BY a partition column stays pushable (footer + manifest)
      val g = spark.sql(
        """SELECT yr, count(*) AS n FROM gtest.default.aggpd GROUP BY yr""")
      assert(g.collect().map(r2 => (r2.getInt(0), r2.getLong(1))).toMap ===
        (2010 to 2013).map(y => y -> 50L).toMap)
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.parquet.aggregatePushdown", v)
      case None => spark.conf.unset("spark.sql.parquet.aggregatePushdown")
    }
  }

  test("row-level rewrites are serializable: a head moved mid-flight rejects") {
    store.commitFull(rows(1996 to 1996, 2), "ser", Seq("yr"))
    val v = store.snapshotView("ser", None).version
    // the rewrite scanned v, another writer landed v+1: replacement
    // rows are stale -- rejected BEFORE any metadata changes
    store.commitFull(rows(1996 to 1997, 2), "ser", Seq("yr"))
    val e = intercept[ConcurrentWriteException] {
      store.commitStagedReplacing("ser", "rl-dead", Set.empty,
        Set("yr=1996"), expectedParent = v)
    }
    assert(e.getMessage.contains("stale"))
    assert(spark.sql("SELECT count(*) FROM gtest.default.ser")
      .as[Long].head === 4)
  }

  test("CALL graft.system.*: maintenance procedures run from SQL") {
    store.commitFull(rows(1996 to 1997, 6), "proc", Seq("yr"), Seq("v"))
    spark.sql("DELETE FROM gtest.default.proc WHERE yr = 1997")
    assert(spark.sql("SELECT count(*) FROM gtest.default.proc")
      .as[Long].head === 6)
    // rollback restores v1's state as a NEW commit
    val rolled = spark.sql("CALL gtest.system.rollback('proc', 1)")
      .as[Long].head
    assert(rolled === 3L)
    assert(spark.sql("SELECT count(*) FROM gtest.default.proc")
      .as[Long].head === 12)
    // tag pins a snapshot; expire keeps it alive
    spark.sql("CALL gtest.system.tag('proc', 'golden', 1L)")
    assert(spark.sql("CALL gtest.system.expire_snapshots('proc')")
      .as[Long].head >= 2L)
    // optimize packs the small-file partitions and commits
    val optimized = spark.sql("CALL gtest.system.optimize('proc', 64)")
      .as[Long].head
    assert(optimized > rolled)
    assert(spark.sql("SELECT count(*) FROM gtest.default.proc")
      .as[Long].head === 12)
    // cluster_by rewrites the layout, contents unchanged
    spark.sql("CALL gtest.system.cluster_by('proc', 'v', 4)")
    assert(spark.sql("SELECT sum(v) FROM gtest.default.proc").as[Long].head
      === rows(1996 to 1997, 6).agg(sum($"v")).as[Long].head)
    // unknown procedure fails loudly
    intercept[Exception] { spark.sql("CALL gtest.system.nope('proc')") }
  }

  test("WAP through SQL: .staged listing, CALL publish_staged / drop_staged") {
    store.commitFull(rows(1996 to 1996, 3), "wapt", Seq("yr"))
    store.stagePartitions(rows(1997 to 1997, 2), "wapt", "audit1", Seq("yr"))
    store.stagePartitions(rows(1998 to 1998, 2), "wapt", "audit2", Seq("yr"))
    // staged snapshots are invisible to SQL reads but listed in .staged
    assert(spark.sql("SELECT * FROM gtest.default.wapt").count() === 3)
    val staged = spark.sql(
      "SELECT wap_id FROM gtest.default.wapt.staged ORDER BY version")
      .collect().map(_.getString(0)).toSeq
    assert(staged === Seq("audit1", "audit2"))
    val pubV = spark.sql(
      "CALL gtest.system.publish_staged('wapt', 'audit1')")
      .collect().head.getLong(0)
    assert(pubV === store.currentVersion("wapt"))
    assert(spark.sql("SELECT * FROM gtest.default.wapt").count() === 5)
    // audit2 was staged on the OLD head: publish rejects, drop reclaims
    intercept[Exception] {
      spark.sql("CALL gtest.system.publish_staged('wapt', 'audit2')").collect()
    }
    spark.sql("CALL gtest.system.drop_staged('wapt', 'audit2')").collect()
    assert(spark.sql("SELECT count(*) FROM gtest.default.wapt.staged")
      .collect().head.getLong(0) === 0L)
  }

  test("SQL WAP: INSERT stages under spark.graft.wap.id; row-level DML stages too") {
    store.commitFull(rows(1996 to 1996, 3), "wsql", Seq("yr"))
    spark.conf.set("spark.graft.wap.id", "nightly")
    try {
      // INSERT INTO stages: head unmoved, .staged lists the snapshot
      spark.sql("""INSERT INTO gtest.default.wsql
                   VALUES (42L, 'staged-row', 1997)""")
      assert(spark.sql("SELECT * FROM gtest.default.wsql").count() === 3)
      val sv = spark.sql("SELECT version FROM gtest.default.wsql.staged " +
        "WHERE wap_id = 'nightly'").collect().head.getLong(0)
      // audit from SQL: time travel to the staged version
      assert(spark.sql(
        s"SELECT * FROM gtest.default.wsql VERSION AS OF $sv").count() === 4)
      // a SECOND statement under the SAME id rejects (one staged
      // snapshot per id — publish or drop first); r13 made row-level
      // statements stage like INSERT, so the collision is the guard
      val e = intercept[Exception] {
        spark.sql("UPDATE gtest.default.wsql SET tag = 'x' WHERE yr = 1996")
      }
      assert(e.getMessage.contains("WAP") ||
        Option(e.getCause).exists(_.getMessage.contains("WAP")))
    } finally spark.conf.unset("spark.graft.wap.id")
    // publish from SQL; the conf is gone, reads see the audited rows
    spark.sql("CALL gtest.system.publish_staged('wsql', 'nightly')").collect()
    assert(spark.sql("SELECT * FROM gtest.default.wsql").count() === 4)
    // with the conf unset, INSERT commits directly again
    spark.sql("INSERT INTO gtest.default.wsql VALUES (7L, 'direct', 1998)")
    assert(spark.sql("SELECT * FROM gtest.default.wsql").count() === 5)
    assert(spark.sql("SELECT count(*) FROM gtest.default.wsql.staged")
      .collect().head.getLong(0) === 0L)
  }

  test("writeStream.toTable: exactly-once epoch appends into a catalog table") {
    import org.apache.spark.sql.streaming.Trigger
    store.commitFull(rows(1996 to 1996, 2), "ssrc", Seq("yr"))
    spark.sql("""CREATE TABLE gtest.default.ssink
                 (yr INT, v BIGINT, tag STRING) PARTITIONED BY (yr)""")
    val ckpt = Files.createTempDirectory("graft-ssink-ckpt").toString
    def drain(): Unit = {
      val q = spark.readStream.option("keys", "v")
        .table("gtest.default.ssrc")
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .toTable("gtest.default.ssink")
      q.awaitTermination()
    }
    def sunk(): Long =
      spark.sql("SELECT count(*) FROM gtest.default.ssink").as[Long].head
    drain()
    assert(sunk() === 2L)
    // quiet source + same checkpoint: nothing re-delivered, and an
    // empty epoch burns no snapshot
    val vAfterFirst = store.currentVersion("ssink")
    drain()
    assert(sunk() === 2L)
    assert(store.currentVersion("ssink") === vAfterFirst)
    // new source partition: exactly the delta lands, hive-partitioned
    store.commitPartitions(rows(1997 to 1997, 3), "ssrc", Seq("yr"))
    drain()
    assert(sunk() === 5L)
    assert(spark.sql(
      "SELECT count(*) FROM gtest.default.ssink WHERE yr = 1997")
      .as[Long].head === 3L)
    // the epoch commits carry txn markers; a REPLAYED epoch (same
    // queryId:epochId after a crash between manifest CAS and
    // checkpoint commit) retires as a no-op instead of double-appending
    val txn = store.liveTxns("ssink").head
    val v = store.currentVersion("ssink")
    val (dirId, _) = store.newStreamStaging("ssink")
    assert(store.commitStagedAppend("ssink", s"$dirId-e0",
      Set("yr=1996"), txn) === v)
    assert(store.currentVersion("ssink") === v)
    assert(sunk() === 5L)
    spark.streams.active.foreach(_.stop())
  }

  test("epoch chains: same-partition appends read correctly; optimize collapses them") {
    store.commitFull(rows(1996 to 1996, 2), "chain", Seq("yr"))
    // five "epochs" appending into the SAME partition through the
    // append-commit API: the rel ends up mapping to six dirs (the
    // base + five staged appends) and reads union them
    val before = store.currentVersion("chain")
    // staged files are ID-stamped exactly like a real stream writer
    // (commitStagedAppend rejects unstamped appends on ledgered
    // tables — the mid-stream-rewrite guard)
    val chainIds = store.snapshotView("chain", None).fieldIds
    (1 to 5).foreach { e =>
      val (dirId, path) = store.newStreamStaging("chain")
      FieldIds.stampDf(
          Seq((9000L + e, s"e$e", 1996)).toDF("v", "tag", "yr"), chainIds)
        .write.parquet(s"$path/yr=1996")
      store.commitStagedAppend("chain", dirId, Set("yr=1996"), s"q:$e",
        writerIds = chainIds)
    }
    assert(store.currentVersion("chain") === before + 5)
    assert(spark.sql(
      "SELECT count(*) FROM gtest.default.chain WHERE yr = 1996")
      .as[Long].head === 7L)
    // the rel now maps to 6 dirs; OPTIMIZE collapses it to one packed
    // dir and the values survive byte-exact
    val dirsBefore = store.snapshotView("chain", None).entries
      .count(_._1 == "yr=1996")
    assert(dirsBefore === 6)
    spark.sql("CALL gtest.system.optimize('chain', 128)").collect()
    val dirsAfter = store.snapshotView("chain", None).entries
      .count(_._1 == "yr=1996")
    assert(dirsAfter === 1)
    assert(spark.sql(
      "SELECT count(*) FROM gtest.default.chain WHERE yr = 1996")
      .as[Long].head === 7L)
    assert(spark.sql(
      "SELECT sum(v) FROM gtest.default.chain WHERE tag LIKE 'e%'")
      .as[Long].head === (9001L to 9005L).sum)
  }

  test("DML on a multi-dir partition rewrites ALL its dirs, not just the matching one") {
    store.commitFull(rows(1996 to 1996, 2), "mdir", Seq("yr"))
    val mdirIds = store.snapshotView("mdir", None).fieldIds
    (1 to 2).foreach { e =>
      val (dirId, path) = store.newStreamStaging("mdir")
      FieldIds.stampDf(
          Seq((8000L + e, s"a$e", 1996)).toDF("v", "tag", "yr"), mdirIds)
        .write.parquet(s"$path/yr=1996")
      store.commitStagedAppend("mdir", dirId, Set("yr=1996"), s"m:$e",
        writerIds = mdirIds)
    }
    assert(store.read("mdir").count() === 4L)
    // the fired row lives in ONE of the three dirs; the rewrite must
    // carry the OTHER dirs' rows into the replacement
    store.deleteWhere("mdir", col("v") === 8001L, Seq("yr"))
    assert(store.read("mdir").count() === 3L)
    assert(spark.sql(
      "SELECT count(*) FROM gtest.default.mdir WHERE yr = 1996")
      .as[Long].head === 3L)
    // updateWhere through the same skeleton: siblings survive too
    store.updateWhere("mdir", col("v") === 8002L,
      Map("tag" -> lit("patched")), Seq("yr"))
    assert(store.read("mdir").count() === 3L)
    assert(store.read("mdir").filter(col("tag") === "patched").count() === 1L)
    // the multi-dir rel collapsed to one dir by the rewrite
    assert(store.snapshotView("mdir", None).entries
      .count(_._1 == "yr=1996") === 1)
  }


  test("merge-on-read deletes reach SQL scans: filters, aggs, DML, compact") {
    store.commitFull(rows(1996 to 1997, 4), "mort", Seq("yr"))
    store.deleteKeys("mort",
      Seq(1996001L, 1997002L).toDF("v"), Seq("v"))
    // plain reads and aggregates are post-delete (aggregate pushdown
    // stays OFF while deletes are pending -- footer stats can't see
    // them -- so the count is the honest row-filtered one)
    assert(spark.sql("SELECT count(*) FROM gtest.default.mort")
      .as[Long].head === 6L)
    assert(spark.sql(
      "SELECT v FROM gtest.default.mort WHERE yr = 1996 ORDER BY v")
      .as[Long].collect().toSeq === Seq(1996000L, 1996002L, 1996003L))
    // even when the projection does not name the key column
    assert(spark.sql(
      "SELECT tag FROM gtest.default.mort WHERE yr = 1997")
      .as[String].collect().length === 3)
    assert(spark.sql(
      "SELECT count(*) FROM gtest.default.mort.deletes")
      .as[Long].head === 1L)
    // time travel to the pre-delete snapshot serves everything
    assert(spark.sql(
      "SELECT count(*) FROM gtest.default.mort VERSION AS OF 1")
      .as[Long].head === 8L)
    // a row-level rewrite reads the POST-delete rows (deleted keys do
    // not resurrect) and carries the pending entries for the
    // untouched partition
    spark.sql("UPDATE gtest.default.mort SET tag = 'u' WHERE yr = 1996")
    assert(spark.sql("SELECT count(*) FROM gtest.default.mort")
      .as[Long].head === 6L)
    assert(spark.sql(
      "SELECT count(*) FROM gtest.default.mort WHERE v = 1996001L")
      .as[Long].head === 0L)
    assert(store.pendingDeletes("mort").size === 1)
    // compact applies physically; aggregate pushdown returns
    spark.sql("CALL gtest.system.compact('mort')").collect()
    assert(store.pendingDeletes("mort") === Nil)
    assert(spark.sql("SELECT count(*) FROM gtest.default.mort")
      .as[Long].head === 6L)
    // pure-SQL takedown: the key set comes from a query
    spark.sql("""CALL gtest.system.delete_keys('mort', 'v',
      'SELECT v FROM gtest.default.mort WHERE v % 2 = 1')""").collect()
    assert(spark.sql(
      "SELECT count(*) FROM gtest.default.mort WHERE v % 2 = 1")
      .as[Long].head === 0L)
    assert(store.pendingDeletes("mort").size === 1)
  }

  test("merge-on-read key cap: oversized pending deletes reject loudly") {
    store.commitFull(rows(1996 to 1996, 6), "morc", Seq("yr"))
    store.deleteKeys("morc",
      Seq(1996000L, 1996001L, 1996002L).toDF("v"), Seq("v"))
    spark.conf.set("spark.graft.mor.maxScanKeys", "2")
    try {
      val e = intercept[Exception] {
        spark.sql("SELECT count(*) FROM gtest.default.morc").collect()
      }
      assert(e.getMessage.contains("maxScanKeys"))
      assert(e.getMessage.contains("compact"))
    } finally spark.conf.unset("spark.graft.mor.maxScanKeys")
    // back under the cap: reads work and filter correctly
    assert(spark.sql("SELECT count(*) FROM gtest.default.morc")
      .as[Long].head === 3L)
  }

  test("vacuum reclaims orphaned staging; audit reports the work list first") {
    store.commitFull(rows(1996 to 1996, 3), "vac", Seq("yr"))
    // an orphan: a crashed writer's staging that never committed
    val (orphanId, orphanPath) = store.newStreamStaging("vac")
    Seq((1L, "x", 1996)).toDF("v", "tag", "yr")
      .write.parquet(s"$orphanPath/yr=1996")
    // a REFERENCED staged dir (in-flight WAP) must survive any vacuum
    store.stagePartitions(rows(1997 to 1997, 1), "vac", "inflight", Seq("yr"))
    val audit = spark.sql("CALL gtest.system.audit('vac')")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(audit("lineage") === 0L)
    assert(audit("dangling_data_dirs") === 0L)
    assert(audit("orphan_dirs") === 1L)
    // age guard: a fresh orphan is NOT reclaimed with a 1-day grace
    assert(spark.sql(
      "CALL gtest.system.vacuum('vac', 86400000)").collect()
      .head.getLong(0) === 0L)
    // min_age 0: the orphan goes, the WAP staging and data dirs stay
    assert(spark.sql("CALL gtest.system.vacuum('vac', 0)").collect()
      .head.getLong(0) === 1L)
    val fs = new org.apache.hadoop.fs.Path(store.root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(orphanPath)))
    assert(spark.sql("SELECT count(*) FROM gtest.default.vac")
      .as[Long].head === 3L)
    assert(store.readStaged("vac", "inflight").count() === 4)
    store.dropStaged("vac", "inflight")
    assert(spark.sql("CALL gtest.system.audit('vac')")
      .filter("check = 'orphan_dirs'").collect().head.getLong(1) === 0L)
  }

  test("store-API commits and catalog reads interleave consistently") {
    store.commitFull(rows(1990 to 1991, 2), "mix", Seq("yr"))
    assert(spark.sql("SELECT count(*) FROM gtest.default.mix")
      .as[Long].head === 4)
    store.deleteWhere("mix", col("yr") === 1990, Seq("yr"))
    assert(spark.sql("SELECT count(*) FROM gtest.default.mix")
      .as[Long].head === 2)
  }

  test("branches through SQL: CALL, branch-scoped INSERT, VERSION AS OF ref, merge") {
    store.commitFull(rows(1996 to 1997, 3), "br", Seq("yr"))
    spark.sql("CALL gtest.system.create_branch('br', 'dev', -1)")
    // INSERT under the branch conf: a disjoint-year append lands on
    // the branch only
    spark.conf.set("spark.graft.branch", "dev")
    try {
      spark.sql("INSERT INTO gtest.default.br " +
        "SELECT CAST(9 AS BIGINT) AS v, 'dev-row' AS tag, 1999 AS yr")
    } finally spark.conf.unset("spark.graft.branch")
    // main untouched; branch readable by name through VERSION AS OF
    assert(spark.sql("SELECT count(*) FROM gtest.default.br")
      .as[Long].head === 6)
    assert(spark.sql(
      "SELECT count(*) FROM gtest.default.br VERSION AS OF 'dev'")
      .as[Long].head === 7)
    // inspection table lists the branch
    val b = spark.sql("SELECT * FROM gtest.default.br.branches")
      .as[(String, Long, Long)].collect().toSeq
    assert(b.map(_._1) === Seq("dev"))
    // main moves disjointly (new year), then the three-way merge
    // combines both sides
    spark.sql("INSERT INTO gtest.default.br " +
      "SELECT CAST(1 AS BIGINT) AS v, 'main-row' AS tag, 2000 AS yr")
    spark.sql("CALL gtest.system.merge_branch('br', 'dev')")
    assert(spark.sql("SELECT count(*) FROM gtest.default.br")
      .as[Long].head === 8)
    assert(spark.sql("SELECT tag FROM gtest.default.br WHERE yr = 1999")
      .as[String].head === "dev-row")
    spark.sql("CALL gtest.system.drop_branch('br', 'dev')")
    assert(spark.sql("SELECT count(*) FROM gtest.default.br.branches")
      .as[Long].head === 0)
    // merged data survives the drop (the merge shares branch dirs)
    assert(spark.sql("SELECT count(*) FROM gtest.default.br")
      .as[Long].head === 8)
  }

  test("writeStream.toTable under spark.graft.branch appends onto the branch") {
    import org.apache.spark.sql.streaming.Trigger
    store.commitFull(rows(1996 to 1996, 2), "bssrc", Seq("yr"))
    store.commitFull(rows(1990 to 1990, 1), "bsink", Seq("yr"))
    store.createBranch("bsink", "intake")
    val ckpt = Files.createTempDirectory("graft-bsink-ckpt").toString
    def drain(): Unit = {
      val q = spark.readStream.option("keys", "v")
        .table("gtest.default.bssrc")
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .toTable("gtest.default.bsink")
      q.awaitTermination()
    }
    spark.conf.set("spark.graft.branch", "intake")
    try drain() finally spark.conf.unset("spark.graft.branch")
    // main never saw the epochs; the branch holds them
    assert(spark.sql("SELECT count(*) FROM gtest.default.bsink")
      .as[Long].head === 1L)
    assert(store.readBranch("bsink", "intake").count() === 3L)
    // exactly-once survives a re-drain against the same checkpoint
    spark.conf.set("spark.graft.branch", "intake")
    try drain() finally spark.conf.unset("spark.graft.branch")
    assert(store.readBranch("bsink", "intake").count() === 3L)
    // blessing the intake: merge lands the streamed rows on main
    store.mergeBranch("bsink", "intake")
    store.dropBranch("bsink", "intake")
    assert(spark.sql("SELECT count(*) FROM gtest.default.bsink")
      .as[Long].head === 3L)
    assert(spark.sql("CALL gtest.system.audit('bsink')")
      .filter("check = 'orphan_dirs'").collect().head.getLong(1) === 0L)
    spark.streams.active.foreach(_.stop())
  }

  test("WAP-staged row-level DML: stage, audit, publish / drop, stale-publish rejects") {
    store.commitFull(rows(1996 to 1997, 3), "wdml", Seq("yr"))
    def headTagged(): Long = spark.sql(
      "SELECT count(*) FROM gtest.default.wdml WHERE tag = 'x'")
      .as[Long].head
    // UPDATE under the WAP conf stages instead of moving the head
    spark.conf.set("spark.graft.wap.id", "audit1")
    try spark.sql("UPDATE gtest.default.wdml SET tag = 'x' WHERE yr = 1996")
    finally spark.conf.unset("spark.graft.wap.id")
    assert(headTagged() === 0L)
    val staged = store.stagedSnapshots("wdml")
    assert(staged.map(_._2) === Seq("audit1"))
    // the audit surface serves the rewrite with full-table semantics
    assert(store.readStaged("wdml", "audit1")
      .filter($"tag" === "x").count() === 3L)
    spark.sql("CALL gtest.system.publish_staged('wdml', 'audit1')")
    assert(headTagged() === 3L)
    // a TRANSLATABLE DELETE also stages (canDeleteWhere declines under
    // the conf, so the statement routes through the group rewrite)
    spark.conf.set("spark.graft.wap.id", "audit2")
    try spark.sql("DELETE FROM gtest.default.wdml WHERE yr = 1997")
    finally spark.conf.unset("spark.graft.wap.id")
    assert(spark.sql("SELECT count(*) FROM gtest.default.wdml")
      .as[Long].head === 6L) // head never saw it
    spark.sql("CALL gtest.system.drop_staged('wdml', 'audit2')")
    assert(spark.sql("SELECT count(*) FROM gtest.default.wdml")
      .as[Long].head === 6L)
    // the rewrite's rl- staging dir is reclaimed with the drop
    assert(spark.sql("CALL gtest.system.audit('wdml')")
      .filter("check = 'orphan_dirs'").collect().head.getLong(1) === 0L)
    // a publish after the head moved rejects: the audited replacement
    // rows are stale relative to the new head
    spark.conf.set("spark.graft.wap.id", "audit3")
    try spark.sql("UPDATE gtest.default.wdml SET tag = 'y' WHERE yr = 1996")
    finally spark.conf.unset("spark.graft.wap.id")
    spark.sql("INSERT INTO gtest.default.wdml " +
      "SELECT CAST(1 AS BIGINT) AS v, 'late' AS tag, 1999 AS yr")
    val e = intercept[Exception](spark.sql(
      "CALL gtest.system.publish_staged('wdml', 'audit3')"))
    assert(e.getMessage.contains("advanced") ||
      Option(e.getCause).exists(_.getMessage.contains("advanced")))
    spark.sql("CALL gtest.system.drop_staged('wdml', 'audit3')")
    assert(spark.sql("SELECT count(*) FROM gtest.default.wdml")
      .as[Long].head === 7L)
  }

  test("branch-scoped SQL row-level DML: UPDATE/DELETE/MERGE land on the branch") {
    store.commitFull(rows(1996 to 1997, 3), "brdml", Seq("yr"))
    store.createBranch("brdml", "fix")
    spark.conf.set("spark.graft.branch", "fix")
    try {
      // UPDATE through the group rewrite, committed onto the branch
      spark.sql("UPDATE gtest.default.brdml SET tag = 'patched' " +
        "WHERE v % 3 = 0")
      // translatable DELETE routes through deleteWhereOn
      spark.sql("DELETE FROM gtest.default.brdml WHERE yr = 1997")
      // MERGE: update one key, insert a new year
      spark.sql(
        """MERGE INTO gtest.default.brdml t
           USING (SELECT CAST(1996001 AS BIGINT) AS v, 'merged' AS tag,
                         1996 AS yr
                  UNION ALL
                  SELECT CAST(5 AS BIGINT), 'new', 1999) s
           ON t.v = s.v
           WHEN MATCHED THEN UPDATE SET tag = s.tag
           WHEN NOT MATCHED THEN INSERT (v, tag, yr)
             VALUES (s.v, s.tag, s.yr)""")
    } finally spark.conf.unset("spark.graft.branch")
    // MAIN is untouched by all three statements
    assert(spark.sql("SELECT count(*) FROM gtest.default.brdml")
      .as[Long].head === 6)
    assert(spark.sql("SELECT count(*) FROM gtest.default.brdml " +
      "WHERE tag IN ('patched', 'merged', 'new')").as[Long].head === 0)
    // the BRANCH reflects them: 3 x 1996 (one merged, others patched
    // where v % 3 = 0) + 1999 insert; 1997 deleted
    val br = spark.sql(
      "SELECT * FROM gtest.default.brdml VERSION AS OF 'fix'")
    assert(br.count() === 4)
    assert(br.filter($"yr" === 1997).count() === 0)
    assert(br.filter($"tag" === "merged").count() === 1)
    assert(br.filter($"tag" === "new").count() === 1)
    assert(br.filter($"tag" === "patched").count() === 1) // v=1996000
    // merge lands the branch state on main
    store.mergeBranch("brdml", "fix")
    assert(spark.sql("SELECT count(*) FROM gtest.default.brdml")
      .as[Long].head === 4)
    // an evolve-diverged branch rejects SQL row-level DML loudly
    store.createBranch("brdml", "ev")
    store.evolveSchema("brdml", "yr INT, v BIGINT, tag STRING, extra INT",
      branch = "ev")
    spark.conf.set("spark.graft.branch", "ev")
    try {
      val e = intercept[Exception](spark.sql(
        "UPDATE gtest.default.brdml SET tag = 'x' WHERE v = 5"))
      assert(e.getMessage.contains("evolved its schema"))
    } finally spark.conf.unset("spark.graft.branch")
  }

  test("build_bloom_index through SQL CALL writes per-partition sidecars") {
    store.commitFull(rows(1950 to 1959, 5), "blm", Seq("yr"))
    assert(spark.sql(
      "CALL gtest.system.build_bloom_index('blm', 'v', CAST(1000 AS BIGINT))")
      .as[Long].head() === 10L)
    // indexed lookup agrees with a plain filter, hit and miss, and
    // plans only the owning year (keys are unique, blooms 3% fpp)
    val hit = store.read("blm").filter(col("v") === 1955003L)
    assert(hit.select("tag").as[String].collect().toSeq === Seq("r1955-3"))
    assert(PlannedScan.files(hit).exists(_.contains("yr=1955")) &&
      PlannedScan.files(hit).size < store.read("blm").inputFiles.length)
    assert(store.read("blm").filter(col("v") === 42L).count() === 0)
  }

  test("pushed SQL equality consults the bloom index at scan planning") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, GreaterThan, Literal}
    import org.apache.spark.sql.graft.GraftScanPlanning
    import org.apache.spark.sql.types.{IntegerType, LongType, StructType}
    store.commitFull(rows(1950 to 1959, 5), "blmq", Seq("yr"))
    spark.sql(
      "CALL gtest.system.build_bloom_index('blmq', 'v', CAST(1000 AS BIGINT))")
    // end-to-end through plain SQL: values exact, hit and miss
    assert(spark.sql(
      "SELECT tag FROM gtest.default.blmq WHERE v = 1955003")
      .as[String].collect().toSeq === Seq("r1955-3"))
    assert(spark.sql(
      "SELECT tag FROM gtest.default.blmq WHERE v = 42").count() === 0)
    // plan-level: the file index lists ONLY the owning partition's
    // files for a pushed equality (the manifest min/max on this key
    // covers every year, so any pruning here is the bloom's)
    val snap = store.snapshotView("blmq", None)
    val pSchema = StructType.fromDDL("yr INT")
    val fi = GraftScanPlanning.fileIndex(spark, pSchema, snap.entries,
      snap.stats, bloomFor = c =>
        store.bloomIndexFor("blmq", c, snap.version))
    val eq = EqualTo(AttributeReference("v", LongType)(), Literal(1955003L))
    val files = fi.listFiles(Nil, Seq(eq)).flatMap(_.files)
      .map(_.getPath.toString)
    assert(files.nonEmpty && files.forall(_.contains("yr=1955")),
      s"bloom should prune to yr=1955, scanned: ${files.take(3)}")
    // a RANGE bound never consults blooms: all ten years scan
    val gt = GreaterThan(AttributeReference("v", LongType)(),
      Literal(Long.MinValue))
    val all = fi.listFiles(Nil, Seq(gt)).flatMap(_.files)
    assert(all.size >= 10, s"range filter must not bloom-prune: ${all.size}")
  }

  test("branch INSERT after branch-side evolveSchema aligns to the BRANCH schema") {
    store.commitFull(rows(1970 to 1970, 2), "bevo", Seq("yr"))
    store.createBranch("bevo", "dev")
    // evolve ON THE BRANCH only: add a nullable note column
    val cur = store.snapshotView("bevo", None).schemaDDL
    store.evolveSchema("bevo", s"$cur, note STRING", branch = "dev")
    // the catalog handle still pins MAIN's snapshot, so Spark resolves
    // the INSERT batch against main's column set — the branch-evolved
    // column must be NULL-padded onto the branch, not silently
    // dropped from it (and an overlapping append must not die in
    // unionByName against the wider branch head)
    spark.conf.set("spark.graft.branch", "dev")
    try {
      spark.sql("INSERT INTO gtest.default.bevo " +
        "SELECT CAST(7 AS BIGINT) AS v, 'delta' AS tag, 1971 AS yr")
      spark.sql("INSERT INTO gtest.default.bevo " +
        "SELECT CAST(8 AS BIGINT) AS v, 'overlap' AS tag, 1970 AS yr")
    } finally spark.conf.unset("spark.graft.branch")
    val br = store.readBranch("bevo", "dev")
    assert(br.columns.contains("note"),
      s"branch lost its evolved column: ${br.columns.toSeq}")
    assert(br.count() === 4)
    assert(br.filter(col("tag") === "delta" || col("tag") === "overlap")
      .select("note").collect().forall(_.isNullAt(0)))
    // main untouched: no note column, original rows only
    assert(!store.read("bevo").columns.contains("note"))
    assert(store.read("bevo").count() === 2)
  }

  test("ALTER TABLE under spark.graft.branch evolves the BRANCH schema only") {
    store.commitFull(rows(1960 to 1960, 2), "aevo", Seq("yr"))
    store.createBranch("aevo", "dev")
    spark.conf.set("spark.graft.branch", "dev")
    try {
      spark.sql("ALTER TABLE gtest.default.aevo ADD COLUMNS (note STRING)")
      // compounding: the second branch-side ALTER must see the first
      spark.sql("ALTER TABLE gtest.default.aevo ADD COLUMNS (flag BIGINT)")
    } finally spark.conf.unset("spark.graft.branch")
    val bCols = store.readBranch("aevo", "dev").columns.toSeq
    assert(bCols.contains("note") && bCols.contains("flag"), bCols.toString)
    assert(!store.read("aevo").columns.contains("note"))
    // one-side-changed schema rides the merge onto main
    store.mergeBranch("aevo", "dev")
    assert(store.read("aevo").columns.contains("note"))
  }

  test("fast_forward through SQL publishes an unmoved-main branch") {
    store.commitFull(rows(1980 to 1980, 2), "ff", Seq("yr"))
    spark.sql("CALL gtest.system.create_branch('ff', 'exp', -1)")
    spark.conf.set("spark.graft.branch", "exp")
    try spark.sql("INSERT INTO gtest.default.ff " +
      "SELECT CAST(5 AS BIGINT) AS v, 'x' AS tag, 1981 AS yr")
    finally spark.conf.unset("spark.graft.branch")
    val v = spark.sql("CALL gtest.system.fast_forward('ff', 'exp')")
      .as[Long].head
    assert(store.currentVersion("ff") === v)
    assert(spark.sql("SELECT count(*) FROM gtest.default.ff")
      .as[Long].head === 3)
  }
}
