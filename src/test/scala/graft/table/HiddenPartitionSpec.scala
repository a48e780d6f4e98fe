package graft.table

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Hidden partitioning ([[PartitionTransforms]]): days/bucket/truncate
  * layouts where the derived value lives only in directory paths —
  * the Iceberg transform model scoped to the append + read + evolve
  * surface. Pinned on planted data: layout shape on disk, schema
  * hygiene (no hidden columns surface), stats pruning on the SOURCE
  * column, disjoint-day delta appends, copy-on-write DML re-deriving
  * the layout, bloom point lookups over bucket layouts, and the loud
  * identity-only guards. */
class HiddenPartitionSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def fresh() = new VersionedTableStore(spark,
    Files.createTempDirectory("graft-hp").toString)

  private def tsDf(n: Int) = spark.range(n).select(
    col("id"),
    // four distinct days starting 1996-01-01 UTC
    timestamp_millis(lit(820454400000L) + (col("id") % 4) * 86400000L +
      col("id") * 1000L).as("ts"),
    concat(lit("v"), col("id")).as("v"))

  test("days(ts): hidden layout on disk, clean schema, day-pruned reads") {
    val vs = fresh()
    vs.commitFull(tsDf(400), "t", Seq("days(ts)"), statsColumns = Seq("ts"))
    // disk: four ts_day=... dirs; schema: NO ts_day column
    val snap = vs.snapshotView("t", None)
    assert(snap.entries.map(_._1).toSet ===
      (1 to 4).map(d => f"ts_day=1996-01-0$d%d").toSet)
    assert(vs.read("t").columns.toSeq === Seq("id", "ts", "v"))
    assert(vs.read("t").count() === 400L)
    // stats pruning on the SOURCE column: one day's range touches one
    // partition's files
    // ts stats record as timestamp strings (lexicographic = chrono);
    // a timestamp range filter prunes whole days at plan time
    val oneDay = vs.read("t").filter(col("ts").between(
      lit("1996-01-02").cast("timestamp"),
      lit("1996-01-02 23:59:59").cast("timestamp")))
    assert(oneDay.count() === 100L)
    val planned = PlannedScan.files(oneDay)
    assert(planned.nonEmpty && planned.forall(_.contains("ts_day=1996-01-02")),
      s"one day's range planned ${planned.mkString(",")}")
  }

  test("disjoint-day appends commit as partition deltas") {
    val vs = fresh()
    val base = tsDf(400)
    vs.commitFull(base.filter(col("ts") < lit("1996-01-03").cast("timestamp")),
      "t", Seq("days(ts)"))
    val before = vs.snapshotView("t", None).entries.toMap
    vs.commitPartitions(
      base.filter(col("ts") >= lit("1996-01-03").cast("timestamp")),
      "t", Seq("days(ts)"))
    val after = vs.snapshotView("t", None).entries.toMap
    // old days keep their exact dirs (zero rewrite), new days appear
    assert(after("ts_day=1996-01-01") === before("ts_day=1996-01-01"))
    assert(after.keySet.contains("ts_day=1996-01-04"))
    assert(vs.read("t").count() === 400L)
  }

  test("copy-on-write DML re-derives the layout; moved rows land correctly") {
    val vs = fresh()
    vs.commitFull(tsDf(400), "t", Seq("days(ts)"))
    // delete one day's rows by SOURCE predicate
    vs.deleteWhere("t",
      col("ts") >= lit("1996-01-04").cast("timestamp"), Seq("days(ts)"))
    assert(vs.read("t").count() === 300L)
    // update a NON-source column: rows stay in their day dirs
    vs.updateWhere("t", col("id") === 1L,
      Map("v" -> lit("patched")), Seq("days(ts)"))
    assert(vs.read("t").filter(col("v") === "patched").count() === 1L)
    // assigning the partition SOURCE rejects (rows would move)
    assertThrows[IllegalArgumentException](vs.updateWhere("t",
      col("id") === 2L,
      Map("ts" -> lit("1999-01-01").cast("timestamp")), Seq("days(ts)")))
  }

  test("bucket layout + bloom index: point lookups prune to one bucket") {
    val vs = fresh()
    vs.commitFull(spark.range(4000).select(col("id"),
      concat(lit("p"), col("id")).as("payload")), "t", Seq("bucket8(id)"))
    assert(vs.snapshotView("t", None).entries.map(_._1)
      .forall(_.startsWith("id_bucket=")))
    assert(vs.read("t").columns.toSeq === Seq("id", "payload"))
    vs.buildBloomIndex("t", "id")
    val hit = vs.read("t").filter(col("id") === 1234L)
    assert(hit.select("payload").as[String].collect().toSeq === Seq("p1234"))
    assert(PlannedScan.files(hit).nonEmpty &&
      PlannedScan.files(hit).length < vs.read("t").inputFiles.length)
  }

  test("truncate layout groups string prefixes; guards fire loudly") {
    val vs = fresh()
    val df = Seq(("AAPL", 1), ("AABC", 2), ("MSFT", 3), ("MSAT", 4))
      .toDF("sym", "x")
    vs.commitFull(df, "t", Seq("truncate2(sym)"))
    assert(vs.snapshotView("t", None).entries.map(_._1).toSet ===
      Set("sym_trunc=AA", "sym_trunc=MS"))
    assert(vs.read("t").count() === 4L)
    // identity-only machinery rejects with the scope message
    val e = intercept[IllegalArgumentException](
      vs.commitPartitionsReplacing(df, "t", Seq("truncate2(sym)"),
        Seq(Seq("AA"))))
    assert(e.getMessage.contains("hidden partitioning"))
    // renaming / retyping the SOURCE column rejects
    assertThrows[IllegalArgumentException](vs.renameColumn("t", "sym", "s2"))
    // evolving IN a column named like the hidden layout column
    // rejects (it would be silently overwritten at write time)
    assertThrows[IllegalArgumentException](
      vs.evolveSchema("t", "sym STRING, x INT, sym_trunc STRING"))
    // validation: derived-name collision and bad source types reject
    assertThrows[IllegalArgumentException](vs.commitFull(
      df.withColumn("sym_trunc", lit("boom")), "t2", Seq("truncate2(sym)")))
    assertThrows[IllegalArgumentException](vs.commitFull(
      df, "t3", Seq("days(x)")))
  }

  test("months/years/hours layouts shape and read correctly") {
    val vs = fresh()
    vs.commitFull(tsDf(400)
      .withColumn("ts", col("ts") + expr("make_interval(0, CAST(id % 3 AS INT))")),
      "t", Seq("months(ts)"))
    assert(vs.snapshotView("t", None).entries.map(_._1).toSet ===
      Set("ts_month=1996-01", "ts_month=1996-02", "ts_month=1996-03"))
    assert(vs.read("t").count() === 400L)
    val vs2 = fresh()
    vs2.commitFull(tsDf(100), "t", Seq("years(ts)"))
    assert(vs2.snapshotView("t", None).entries.map(_._1).toSet ===
      Set("ts_year=1996"))
    val vs3 = fresh()
    vs3.commitFull(tsDf(50), "t", Seq("hours(ts)"))
    assert(vs3.snapshotView("t", None).entries.map(_._1)
      .forall(_.matches("ts_hour=1996-01-0\\d-00")))
    assert(vs3.read("t").columns.toSeq === Seq("id", "ts", "v"))
  }

  test("SQL surface: CREATE PARTITIONED BY (days(ts)), INSERT, SELECT, travel") {
    val root = Files.createTempDirectory("graft-hp-sql").toString
    spark.conf.set("spark.sql.catalog.hpc", "graft.table.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.hpc.root", root)
    try {
      spark.sql("CREATE TABLE hpc.default.ev " +
        "(id BIGINT, ts TIMESTAMP, v STRING) PARTITIONED BY (days(ts))")
      tsDf(400).createOrReplaceTempView("hp_src")
      spark.sql("INSERT INTO hpc.default.ev SELECT id, ts, v FROM hp_src")
      // hidden: SELECT * shows the declared columns only
      assert(spark.sql("SELECT * FROM hpc.default.ev").columns.toSeq ===
        Seq("id", "ts", "v"))
      assert(spark.sql("SELECT count(*) FROM hpc.default.ev")
        .as[Long].head() === 400L)
      // the user filters the SOURCE column; no hidden-column knowledge
      assert(spark.sql("SELECT count(*) FROM hpc.default.ev " +
        "WHERE ts >= TIMESTAMP '1996-01-04 00:00:00'")
        .as[Long].head() === 100L)
      // a second day-disjoint INSERT is a delta; travel serves v1
      spark.sql("INSERT INTO hpc.default.ev VALUES " +
        "(9999, TIMESTAMP '1996-02-01 00:00:00', 'late')")
      assert(spark.sql("SELECT count(*) FROM hpc.default.ev")
        .as[Long].head() === 401L)
      // v1 = CREATE (empty); the 400-row INSERT is v2
      assert(spark.sql("SELECT count(*) FROM hpc.default.ev VERSION AS OF 2")
        .as[Long].head() === 400L)
      // row-level SQL DML through the hidden layout (v2, round 13):
      // the group-based rewrite derives day rels on executors
      spark.sql("UPDATE hpc.default.ev SET v = 'x' WHERE id = 1")
      assert(spark.sql(
        "SELECT v FROM hpc.default.ev WHERE id = 1").head().getString(0)
        === "x")
      assert(spark.sql("SELECT count(*) FROM hpc.default.ev")
        .as[Long].head() === 401L)
    } finally {
      spark.conf.unset("spark.sql.catalog.hpc")
      spark.conf.unset("spark.sql.catalog.hpc.root")
    }
  }

  /** SQL catalog handle over a fresh store root. */
  private def sqlCat(prefix: String): (String, String) = {
    val root = Files.createTempDirectory(s"graft-hp-$prefix").toString
    val cat = s"hp$prefix"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.table.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  test("SQL UPDATE through days(ts) is group-granular: untouched days keep dirs") {
    val (cat, root) = sqlCat("upd")
    try {
      spark.sql(s"CREATE TABLE $cat.default.ev " +
        "(id BIGINT, ts TIMESTAMP, v STRING) PARTITIONED BY (days(ts))")
      tsDf(400).createOrReplaceTempView("hp_upd_src")
      spark.sql(s"INSERT INTO $cat.default.ev SELECT * FROM hp_upd_src")
      val vs = new VersionedTableStore(spark, root)
      val before = vs.snapshotView("ev", None).entries.toMap
      // source-predicate projection: ts >= day-4 must replace ONLY the
      // 1996-01-04 group (static projection through the transform)
      spark.sql(s"UPDATE $cat.default.ev SET v = 'gdpr' " +
        "WHERE ts >= TIMESTAMP '1996-01-04 00:00:00'")
      val after = vs.snapshotView("ev", None).entries.toMap
      assert(after("ts_day=1996-01-01") === before("ts_day=1996-01-01"),
        "untouched day was rewritten — projection did not prune")
      assert(after("ts_day=1996-01-04") !== before("ts_day=1996-01-04"))
      assert(spark.sql(s"SELECT count(*) FROM $cat.default.ev " +
        "WHERE v = 'gdpr'").as[Long].head() === 100L)
      // runtime group filtering: a data-column predicate narrows to
      // the matched rows' days through the In-projection
      val before2 = vs.snapshotView("ev", None).entries.toMap
      spark.sql(s"UPDATE $cat.default.ev SET v = 'one' WHERE id = 5")
      val after2 = vs.snapshotView("ev", None).entries.toMap
      // id=5 lives in day 1996-01-02 (5 % 4 = 1); at least the other
      // three days must keep their dirs
      assert(after2("ts_day=1996-01-01") === before2("ts_day=1996-01-01"))
      assert(after2("ts_day=1996-01-03") === before2("ts_day=1996-01-03"))
      assert(spark.sql(s"SELECT v FROM $cat.default.ev WHERE id = 5")
        .head().getString(0) === "one")
      assert(spark.sql(s"SELECT count(*) FROM $cat.default.ev")
        .as[Long].head() === 400L)
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.root")
    }
  }

  test("SQL UPDATE may move rows across hidden partitions; MERGE lands correctly") {
    val (cat, _) = sqlCat("mov")
    try {
      spark.sql(s"CREATE TABLE $cat.default.ev " +
        "(id BIGINT, ts TIMESTAMP, v STRING) PARTITIONED BY (days(ts))")
      tsDf(40).createOrReplaceTempView("hp_mov_src")
      spark.sql(s"INSERT INTO $cat.default.ev SELECT * FROM hp_mov_src")
      // assigning the SOURCE moves the row to another day's dir — the
      // group write appends it beside the target day's existing files
      spark.sql(s"UPDATE $cat.default.ev " +
        "SET ts = TIMESTAMP '1996-02-01 00:00:00' WHERE id = 0")
      assert(spark.sql(s"SELECT count(*) FROM $cat.default.ev " +
        "WHERE ts >= TIMESTAMP '1996-02-01 00:00:00'").as[Long].head() === 1L)
      assert(spark.sql(s"SELECT count(*) FROM $cat.default.ev")
        .as[Long].head() === 40L)
      // MERGE: update one day, insert brand-new days
      spark.sql(
        s"""MERGE INTO $cat.default.ev t
            USING (SELECT CAST(100 + c AS BIGINT) AS id,
                          TIMESTAMP '1996-03-01 00:00:00' + make_interval(0,0,0,CAST(c AS INT)) AS ts,
                          'merged' AS v
                   FROM (SELECT explode(sequence(0, 2)) AS c)) s
            ON t.id = s.id
            WHEN MATCHED THEN UPDATE SET v = s.v
            WHEN NOT MATCHED THEN INSERT (id, ts, v) VALUES (s.id, s.ts, s.v)""")
      assert(spark.sql(s"SELECT count(*) FROM $cat.default.ev " +
        "WHERE v = 'merged'").as[Long].head() === 3L)
      assert(spark.sql(s"SELECT count(*) FROM $cat.default.ev")
        .as[Long].head() === 43L)
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.root")
    }
  }

  test("SQL UPDATE through a bucket layout: the fanout writer lands every rel") {
    val (cat, _) = sqlCat("bkt")
    try {
      spark.sql(s"CREATE TABLE $cat.default.kv " +
        "(id BIGINT, payload STRING) PARTITIONED BY (bucket(8, id))")
      spark.range(400).select(col("id"),
        concat(lit("p"), col("id")).as("payload"))
        .createOrReplaceTempView("hp_bkt_src")
      spark.sql(s"INSERT INTO $cat.default.kv SELECT * FROM hp_bkt_src")
      // the predicate hits rows in MANY buckets; input arrives sorted
      // by id (hash-scrambled per bucket) — single-writer discipline
      // would thrash, the fanout writer holds one per touched bucket
      spark.sql(s"UPDATE $cat.default.kv SET payload = 'x' WHERE id % 10 = 3")
      assert(spark.sql(s"SELECT count(*) FROM $cat.default.kv " +
        "WHERE payload = 'x'").as[Long].head() === 40L)
      assert(spark.sql(s"SELECT count(*) FROM $cat.default.kv")
        .as[Long].head() === 400L)
      assert(spark.sql(s"SELECT payload FROM $cat.default.kv WHERE id = 14")
        .head().getString(0) === "p14")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.root")
    }
  }

  test("branches work on transform layouts: fork, branch DML, merge") {
    val vs = fresh()
    vs.commitFull(tsDf(400), "t", Seq("days(ts)"))
    vs.createBranch("t", "fix")
    // branch-side DML through the transform layout
    vs.deleteWhereOn("t", "fix",
      col("ts") >= lit("1996-01-04").cast("timestamp"))
    vs.updateWhereOn("t", "fix", col("id") === 1L,
      Map("v" -> lit("patched")))
    // branch-side disjoint-day append
    vs.commitPartitions(
      tsDf(400).filter(col("id") === 2L)
        .withColumn("ts", lit("1996-02-01 00:00:00").cast("timestamp")),
      "t", Seq("days(ts)"), branch = "fix")
    // main unmoved and isolated
    assert(vs.read("t").count() === 400L)
    // main moves independently on a disjoint day, then merge
    vs.commitPartitions(
      tsDf(400).filter(col("id") === 3L)
        .withColumn("ts", lit("1996-03-01 00:00:00").cast("timestamp")),
      "t", Seq("days(ts)"))
    vs.mergeBranch("t", "fix")
    vs.dropBranch("t", "fix")
    val merged = vs.read("t")
    assert(merged.count() === 302L) // 300 kept + 1 branch row + 1 main row
    assert(merged.filter(col("v") === "patched").count() === 1L)
    assert(merged.filter(col("ts") >= lit("1996-02-01").cast("timestamp"))
      .count() === 2L)
    val orphans = vs.audit("t").find(_._1 == "orphan_dirs").get
    assert(orphans._2 === 0L, s"dropBranch left orphans: $orphans")
  }

  test("plain SQL WHERE on the source column prunes derived dirs at plan time") {
    def scannedRels(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r.scan
      }.collect {
        case g: org.apache.spark.sql.graft.GraftScan => g.plannedRels
      }.flatten.toSet
    val (cat, _) = sqlCat("prj")
    try {
      spark.sql(s"CREATE TABLE $cat.default.ev " +
        "(id BIGINT, ts TIMESTAMP, v STRING) PARTITIONED BY (days(ts))")
      tsDf(400).createOrReplaceTempView("hp_prj_src")
      spark.sql(s"INSERT INTO $cat.default.ev SELECT * FROM hp_prj_src")
      // range on the SOURCE timestamp prunes to the matching days —
      // plan-time, through the transform projection (strict bound
      // widens to the closed day)
      val day4 = spark.sql(s"SELECT * FROM $cat.default.ev " +
        "WHERE ts >= TIMESTAMP '1996-01-04 00:00:00'")
      assert(day4.count() === 100L)
      assert(scannedRels(day4) === Set("ts_day=1996-01-04"))
      // equality projects too
      val oneDay = spark.sql(s"SELECT count(*) FROM $cat.default.ev " +
        "WHERE CAST(ts AS DATE) IS NOT NULL " + // keep ts un-rewritten
        "AND ts = TIMESTAMP '1996-01-02 00:00:01'")
      assert(scannedRels(oneDay).subsetOf(Set("ts_day=1996-01-02")))
      // bucket layouts prune POINT lookups through the hash projection
      spark.sql(s"CREATE TABLE $cat.default.kv " +
        "(id BIGINT, payload STRING) PARTITIONED BY (bucket(8, id))")
      spark.range(400).selectExpr("id", "concat('p', id) AS payload")
        .createOrReplaceTempView("hp_prj_kv")
      spark.sql(s"INSERT INTO $cat.default.kv SELECT * FROM hp_prj_kv")
      val pt = spark.sql(s"SELECT payload FROM $cat.default.kv WHERE id = 37")
      assert(pt.head().getString(0) === "p37")
      assert(scannedRels(pt).size === 1, s"bucket scan read ${scannedRels(pt)}")
      // a range on the bucket SOURCE must NOT prune (non-monotonic):
      // correctness over cleverness
      val rg = spark.sql(s"SELECT count(*) FROM $cat.default.kv WHERE id >= 200")
      assert(rg.head().getLong(0) === 200L)
      assert(scannedRels(rg).size === 8)
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.root")
    }
  }

  test("days+bucket composite layout: fanout eviction loses no rows") {
    // the eviction path: sorted-by-source rows walk 4 day prefixes,
    // each fanning into 4 buckets — the writer pool closes at every
    // day boundary and every row must still land in its (day, bucket)
    val (cat, root) = sqlCat("db")
    try {
      spark.sql(s"CREATE TABLE $cat.default.ev " +
        "(id BIGINT, ts TIMESTAMP, v STRING) " +
        "PARTITIONED BY (days(ts), bucket(4, id))")
      tsDf(400).createOrReplaceTempView("hp_db_src")
      spark.sql(s"INSERT INTO $cat.default.ev SELECT * FROM hp_db_src")
      assert(spark.table(s"$cat.default.ev").count() === 400L)
      val vs = new VersionedTableStore(spark, root)
      val rels = vs.snapshotView("ev", None).entries.map(_._1)
      assert(rels.forall(r => r.startsWith("ts_day=1996-01-0") &&
        r.contains("/id_bucket=")))
      assert(rels.map(_.takeWhile(_ != '/')).distinct.size === 4)
      // per-day counts survive the multi-writer task exactly
      assert(spark.sql(s"SELECT CAST(ts AS DATE) d, count(*) n FROM " +
        s"$cat.default.ev GROUP BY 1 ORDER BY d")
        .as[(String, Long)].collect().toSeq.map(_._2) ===
        Seq(100L, 100L, 100L, 100L))
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.root")
    }
  }

  test("transform layout is tz-independent: write, prune, and DML across session zones") {
    def scannedRels(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r.scan
      }.collect {
        case g: org.apache.spark.sql.graft.GraftScan => g.plannedRels
      }.flatten.toSet
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    val (cat, root) = sqlCat("tz")
    try {
      // WRITE under a non-UTC session: rel paths must still be the
      // UTC days (StoreTz) — a session-tz derivation would shift the
      // 00:00-05:00 rows into the previous LA day
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      val vs = new VersionedTableStore(spark, root)
      vs.commitFull(tsDf(400), "t", Seq("days(ts)"), statsColumns = Seq("ts"))
      assert(vs.snapshotView("t", None).entries.map(_._1).toSet ===
        (1 to 4).map(d => f"ts_day=1996-01-0$d%d").toSet)
      // READ under a third zone: full count survives, and an
      // instant-pinned bound (timestamp_millis — tz-free semantics)
      // still prunes to exactly the matching UTC day dir
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      assert(vs.read("t").count() === 400L)
      val day4 = spark.sql(s"SELECT * FROM $cat.default.t " +
        "WHERE ts >= timestamp_millis(820713600000)")
      assert(day4.count() === 100L)
      assert(scannedRels(day4) === Set("ts_day=1996-01-04"))
      // ROW-LEVEL DML under the reader zone: the rewrite's group
      // projection must target the UTC dirs the writer created — a
      // reader-tz derivation would prune wrong groups and leave
      // matched rows undeleted
      spark.sql(s"DELETE FROM $cat.default.t " +
        "WHERE ts >= timestamp_millis(820713600000)")
      assert(vs.read("t").count() === 300L)
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      assert(vs.read("t").count() === 300L)
      assert(spark.sql(s"SELECT count(*) FROM $cat.default.t " +
        "WHERE ts >= timestamp_millis(820713600000)").head().getLong(0) === 0L)
    } finally {
      spark.conf.set("spark.sql.session.timeZone", prevTz)
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.root")
    }
  }

  test("change feed, merge-on-read deletes, and compact compose with transforms") {
    val vs = fresh()
    vs.commitFull(tsDf(400), "t", Seq("days(ts)"))           // v1
    vs.deleteWhere("t", col("id") === 7L, Seq("days(ts)"))   // v2: CoW rewrite
    vs.commitPartitions(                                     // v3: new day
      tsDf(1).withColumn("id", lit(9999L))
        .withColumn("ts", lit("1996-02-01 00:00:00").cast("timestamp")),
      "t", Seq("days(ts)"))
    // batch change feed over the transform table: net (v1, v3]
    val changes = spark.read.format("graft-changes")
      .option("root", vs.root).option("table", "t").option("keys", "id")
      .option("fromVersion", "1").option("toVersion", "3").load()
    val byType = changes.groupBy("change_type").count()
      .as[(String, Long)].collect().toMap
    assert(byType === Map("delete" -> 1L, "insert" -> 1L))
    // merge-on-read delete keys on a transform table (key is a DATA
    // column, not a partition source): rows vanish from reads...
    vs.deleteKeys("t", Seq(Tuple1(3L), Tuple1(5L)).toDF("id"), Seq("id"))
    assert(vs.read("t").count() === 398L) // 400 - 1 CoW + 1 new - 2 MoR
    // ...and compact applies them physically WHILE re-deriving the
    // layout (the full rewrite routes every row back to its day dir)
    vs.compact("t")
    assert(vs.pendingDeletes("t").isEmpty)
    assert(vs.read("t").count() === 398L)
    assert(vs.snapshotView("t", None).entries.map(_._1)
      .forall(_.startsWith("ts_day=")))
    // deleting BY the partition source is still the deleteWhere job
    assertThrows[IllegalArgumentException](
      vs.deleteKeys("t", Seq(Tuple1(1L)).toDF("ts"), Seq("ts")))
  }

  test("writeStream.toTable appends through a days() layout exactly once") {
    import org.apache.spark.sql.streaming.Trigger
    val (cat, root) = sqlCat("str")
    try {
      val vs = new VersionedTableStore(spark, root)
      vs.commitFull(tsDf(8), "src", Nil)
      spark.sql(s"CREATE TABLE $cat.default.ev " +
        "(id BIGINT, ts TIMESTAMP, v STRING) PARTITIONED BY (days(ts))")
      val ckpt = Files.createTempDirectory("graft-hp-ckpt").toString
      def drain(): Unit = {
        val q = spark.readStream.option("keys", "id")
          .table(s"$cat.default.src")
          .writeStream.option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .toTable(s"$cat.default.ev")
        q.awaitTermination()
      }
      drain()
      // hidden layout on disk, derived from the SOURCE on executors
      assert(vs.snapshotView("ev", None).entries.map(_._1).toSet ===
        (1 to 4).map(d => f"ts_day=1996-01-0$d%d").toSet)
      assert(spark.sql(s"SELECT count(*) FROM $cat.default.ev")
        .as[Long].head() === 8L)
      // quiet source + same checkpoint: nothing re-delivered
      drain()
      assert(spark.sql(s"SELECT count(*) FROM $cat.default.ev")
        .as[Long].head() === 8L)
      spark.streams.active.foreach(_.stop())
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.root")
    }
  }
}
