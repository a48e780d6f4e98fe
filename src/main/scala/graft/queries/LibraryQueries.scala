package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables
import graft.quality._
import graft.table.{IncrementalAgg, TableStore, UpsertWriter, VersionedTableStore}

/** Oracle-checked queries that exercise the LIBRARY layer (upsert
  * writer, validation engine) plus the remaining aggregation shapes --
  * so MERGE semantics and the rule engine sit under the driver's
  * hash-match gate, not just unit tests. */
object LibraryQueries {
  private val D = DecimalType(18, 4)

  /** Run `body` with session conf `key` = `value`, restore the prior
    * setting afterwards, and MATERIALIZE the result before restoring
    * so the plan that executes is the plan the conf shaped. Gated
    * queries must be conf-hermetic: the driver runs the whole suite
    * in ONE session, so a leaked global conf silently re-plans every
    * later query under mutated state — exactly the cross-query
    * coupling that makes a red gate irreproducible. The results here
    * are a handful of rollup rows, so localizing them is free (this
    * is a gate-plumbing collect, not a data-path one — the scale
    * plan-shape assertions live in GraftCatalogSpec). */
  private def withConfMaterialized(s: SparkSession, key: String,
      value: String)(body: => DataFrame): DataFrame = {
    val prev = s.conf.getOption(key)
    s.conf.set(key, value)
    try {
      val df = body
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      df.collect().foreach(rows.add)
      s.createDataFrame(rows, df.schema)
    } finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** A2: monthly OHLCV-style rollup over events (the monthly twin of
    * a1_weekly_ohlcv, build_stock_aggregations.py:142-161). */
  def a2MonthlyRollup(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    ev.groupBy(col("user_id"),
        year(col("ts")).as("yr"), month(col("ts")).as("mo"))
      .agg(
        min_by(col("value"), col("ts_us")).as("open_val"),
        max_by(col("value"), col("ts_us")).as("close_val"),
        max(col("value")).as("high_val"),
        min(col("value")).as("low_val"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(D)).cast("double").as("total_value"),
        round(sum(col("value").cast(D)).cast("double") / count(lit(1)), 4).as("avg_value"))
  }

  val a2MonthlyRollupSql: String =
    """SELECT user_id,
       CAST(year(ts2) AS INT) AS yr, CAST(month(ts2) AS INT) AS mo,
       arg_min(value, ts_us) AS open_val,
       arg_max(value, ts_us) AS close_val,
       max(value) AS high_val, min(value) AS low_val,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
       round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_value
       FROM (SELECT *, epoch_ns(ts)//1000 AS ts_us,
                    make_timestamp(epoch_ns(ts)//1000) AS ts2 FROM events)
       GROUP BY 1, 2, 3"""

  /** S7 update-all MERGE through the real UpsertWriter: target =
    * 1996H2+1996H1 orders, source = restated 1996H2..1997H1 rows
    * (matched rows replaced wholesale, new rows inserted). */
  def s7MergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"),
      col("o_orderdate").cast("date").as("order_date"),
      col("o_totalprice"), col("o_orderstatus"))
    val target = o.filter(col("order_date") < lit("1997-01-01").cast("date"))
    val source = o.filter(col("order_date") >= lit("1996-07-01").cast("date") &&
        col("order_date") < lit("1997-07-01").cast("date"))
      .withColumn("o_totalprice", round(col("o_totalprice") * 1.1, 2))
      .withColumn("o_orderstatus", lit("R"))
    val store = new TableStore(s, Files.createTempDirectory("graft-q-s7").toString)
    UpsertWriter.upsertAll(store, "orders_merged", target, Seq("o_orderkey"))
    UpsertWriter.upsertAll(store, "orders_merged", source, Seq("o_orderkey"))
    store.read("orders_merged")
  }

  val s7MergeUpsertSql: String =
    """WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
                         o_totalprice, o_orderstatus FROM orders),
       t AS (SELECT * FROM o WHERE order_date < DATE '1997-01-01'),
       src AS (SELECT o_orderkey, order_date,
                      round(o_totalprice * 1.1, 2) AS o_totalprice,
                      'R' AS o_orderstatus
               FROM o WHERE order_date >= DATE '1996-07-01'
                 AND order_date < DATE '1997-07-01')
       SELECT * FROM t WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
       UNION ALL SELECT * FROM src"""

  /** S8 selective-update MERGE through the real UpsertWriter: batch 2
    * re-observes part of batch 1's customers; first_batch is
    * preserved on match, last_batch updated, new rows inserted. */
  def s8MergeSelective(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    val batch1 = c.filter(col("c_custkey") <= 1000)
      .withColumn("first_batch", lit("b1")).withColumn("last_batch", lit("b1"))
    val batch2 = c.filter(col("c_custkey") > 500)
      .withColumn("c_mktsegment", lit("RESTATED"))
      .withColumn("first_batch", lit("b2")).withColumn("last_batch", lit("b2"))
    val store = new TableStore(s, Files.createTempDirectory("graft-q-s8").toString)
    UpsertWriter.upsertSelective(store, "dim_customer", batch1,
      keys = Seq("c_custkey"), preserve = Seq("first_batch"))
    UpsertWriter.upsertSelective(store, "dim_customer", batch2,
      keys = Seq("c_custkey"), preserve = Seq("first_batch"))
    store.read("dim_customer")
  }

  val s8MergeSelectiveSql: String =
    """WITH c AS (SELECT c_custkey, c_name, c_mktsegment FROM customer),
       b1 AS (SELECT c_custkey, c_name, c_mktsegment,
                     'b1' AS first_batch, 'b1' AS last_batch
              FROM c WHERE c_custkey <= 1000),
       b2 AS (SELECT c_custkey, c_name, 'RESTATED' AS c_mktsegment,
                     'b2' AS first_batch, 'b2' AS last_batch
              FROM c WHERE c_custkey > 500)
       SELECT coalesce(b2.c_custkey, b1.c_custkey) AS c_custkey,
              coalesce(b2.c_name, b1.c_name) AS c_name,
              CASE WHEN b2.c_custkey IS NOT NULL THEN b2.c_mktsegment
                   ELSE b1.c_mktsegment END AS c_mktsegment,
              CASE WHEN b1.c_custkey IS NOT NULL THEN b1.first_batch
                   ELSE b2.first_batch END AS first_batch,
              CASE WHEN b2.c_custkey IS NOT NULL THEN b2.last_batch
                   ELSE b1.last_batch END AS last_batch
       FROM b1 FULL OUTER JOIN b2 ON b1.c_custkey = b2.c_custkey"""

  /** S19 matched-DELETE MERGE through the SQL shim (the standard third
    * MERGE clause, MergeSql grammar): target = pre-1997 orders; source
    * = the 1996H2..1997H1 restatement batch. Matched rows whose
    * RESTATED price clears 150k are deleted, other matched rows stay
    * AS THEY WERE (no update clause), unmatched source rows insert.
    * Runs the statement text through [[graft.table.MergeSql]] against
    * a [[VersionedTableStore]], so the oracle gates parser, planner,
    * and snapshot commit together. */
  def s19MergeDelete(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"),
      col("o_orderdate").cast("date").as("order_date"),
      col("o_totalprice"), col("o_orderstatus"))
    val target = o.filter(col("order_date") < lit("1997-01-01").cast("date"))
    val source = o.filter(col("order_date") >= lit("1996-07-01").cast("date") &&
        col("order_date") < lit("1997-07-01").cast("date"))
      .withColumn("o_totalprice", round(col("o_totalprice") * 1.1, 2))
      .withColumn("o_orderstatus", lit("R"))
    val store = new VersionedTableStore(s,
      Files.createTempDirectory("graft-q-s19").toString)
    store.commitFull(target, "orders_del")
    source.createOrReplaceTempView("orders_restated")
    graft.table.MergeSql.merge(store,
      """MERGE INTO orders_del t USING orders_restated s
         ON t.o_orderkey = s.o_orderkey
         WHEN MATCHED AND s.o_totalprice > 150000 THEN DELETE
         WHEN NOT MATCHED THEN INSERT *""")
    store.read("orders_del")
  }

  val s19MergeDeleteSql: String =
    """WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
                         o_totalprice, o_orderstatus FROM orders),
       t AS (SELECT * FROM o WHERE order_date < DATE '1997-01-01'),
       src AS (SELECT o_orderkey, order_date,
                      round(o_totalprice * 1.1, 2) AS o_totalprice,
                      'R' AS o_orderstatus
               FROM o WHERE order_date >= DATE '1996-07-01'
                 AND order_date < DATE '1997-07-01')
       SELECT * FROM t WHERE o_orderkey NOT IN (
         SELECT o_orderkey FROM src WHERE o_totalprice > 150000)
       UNION ALL
       SELECT * FROM src WHERE o_orderkey NOT IN (SELECT o_orderkey FROM t)"""

  /** S20 mixed-clause MERGE through the SQL shim (general ordered-
    * clause executor): delete expensive restatements, update the rest
    * with an EXPRESSION assignment (o_totalprice = s.o_totalprice + 1;
    * order_date left unassigned, so preserved from the target), insert
    * new keys -- first TRUE clause wins per row. */
  def s20MergeMixed(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"),
      col("o_orderdate").cast("date").as("order_date"),
      col("o_totalprice"), col("o_orderstatus"))
    val target = o.filter(col("order_date") < lit("1997-01-01").cast("date"))
    val source = o.filter(col("order_date") >= lit("1996-07-01").cast("date") &&
        col("order_date") < lit("1997-07-01").cast("date"))
      .withColumn("o_totalprice", round(col("o_totalprice") * 1.1, 2))
      .withColumn("o_orderstatus", lit("R"))
    val store = new TableStore(s, Files.createTempDirectory("graft-q-s20").toString)
    store.createOrReplace(target, "orders_mx")
    source.createOrReplaceTempView("orders_restated_mx")
    graft.table.MergeSql.merge(store,
      """MERGE INTO orders_mx t USING orders_restated_mx s
         ON t.o_orderkey = s.o_orderkey
         WHEN MATCHED AND s.o_totalprice > 150000 THEN DELETE
         WHEN MATCHED THEN UPDATE SET t.o_totalprice = s.o_totalprice + 1,
             t.o_orderstatus = s.o_orderstatus
         WHEN NOT MATCHED THEN INSERT *""")
    store.read("orders_mx")
  }

  val s20MergeMixedSql: String =
    """WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
                         o_totalprice, o_orderstatus FROM orders),
       t AS (SELECT * FROM o WHERE order_date < DATE '1997-01-01'),
       src AS (SELECT o_orderkey, order_date,
                      round(o_totalprice * 1.1, 2) AS o_totalprice,
                      'R' AS o_orderstatus
               FROM o WHERE order_date >= DATE '1996-07-01'
                 AND order_date < DATE '1997-07-01')
       SELECT t.o_orderkey, t.order_date,
              CASE WHEN s.o_orderkey IS NOT NULL
                   THEN s.o_totalprice + 1 ELSE t.o_totalprice END AS o_totalprice,
              CASE WHEN s.o_orderkey IS NOT NULL
                   THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus
       FROM t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
       WHERE NOT (s.o_orderkey IS NOT NULL AND s.o_totalprice > 150000)
       UNION ALL
       SELECT o_orderkey, order_date, o_totalprice, o_orderstatus
       FROM src WHERE o_orderkey NOT IN (SELECT o_orderkey FROM t)"""

  /** S24: the `WHEN NOT MATCHED BY SOURCE` family (CDC full-sync)
    * through the SQL shim against the VERSIONED store: matched rows
    * take the restated price, stale target rows older than 1996 are
    * deleted, the remaining stale rows are flagged 'X' (first
    * BY SOURCE clause wins), and new keys insert. */
  def s24MergeBySource(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"),
      col("o_orderdate").cast("date").as("order_date"),
      col("o_totalprice"), col("o_orderstatus"))
    val target = o.filter(col("order_date") < lit("1997-01-01").cast("date"))
    val source = o.filter(col("order_date") >= lit("1996-07-01").cast("date") &&
        col("order_date") < lit("1997-07-01").cast("date"))
      .withColumn("o_totalprice", round(col("o_totalprice") * 1.1, 2))
      .withColumn("o_orderstatus", lit("R"))
    val store = new VersionedTableStore(s,
      Files.createTempDirectory("graft-q-s24").toString)
    store.commitFull(target, "orders_bs")
    source.createOrReplaceTempView("orders_sync_src")
    graft.table.MergeSql.merge(store,
      """MERGE INTO orders_bs t USING orders_sync_src s
         ON t.o_orderkey = s.o_orderkey
         WHEN MATCHED THEN UPDATE SET t.o_totalprice = s.o_totalprice
         WHEN NOT MATCHED BY SOURCE AND t.order_date < DATE '1996-01-01'
           THEN DELETE
         WHEN NOT MATCHED BY SOURCE THEN UPDATE SET t.o_orderstatus = 'X'
         WHEN NOT MATCHED THEN INSERT *""")
    store.read("orders_bs")
  }

  val s24MergeBySourceSql: String =
    """WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
                         o_totalprice, o_orderstatus FROM orders),
       t AS (SELECT * FROM o WHERE order_date < DATE '1997-01-01'),
       src AS (SELECT o_orderkey, order_date,
                      round(o_totalprice * 1.1, 2) AS o_totalprice,
                      'R' AS o_orderstatus
               FROM o WHERE order_date >= DATE '1996-07-01'
                 AND order_date < DATE '1997-07-01')
       SELECT t.o_orderkey, t.order_date,
              CASE WHEN s.o_orderkey IS NOT NULL
                   THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
              CASE WHEN s.o_orderkey IS NULL
                   THEN 'X' ELSE t.o_orderstatus END AS o_orderstatus
       FROM t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
       WHERE NOT (s.o_orderkey IS NULL AND t.order_date < DATE '1996-01-01')
       UNION ALL
       SELECT o_orderkey, order_date, o_totalprice, o_orderstatus
       FROM src WHERE o_orderkey NOT IN (SELECT o_orderkey FROM t)"""

  /** S25: conditional column-list INSERT through the SQL shim (plain
    * store): matched expensive restatements flip status, cheap new
    * keys insert ONLY their listed columns (+1000 price bump) with
    * the unassigned status NULL, expensive new keys are blocked by
    * the insert condition. */
  def s25MergeInsertCols(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"),
      col("o_orderdate").cast("date").as("order_date"),
      col("o_totalprice"), col("o_orderstatus"))
    val target = o.filter(col("order_date") < lit("1997-01-01").cast("date"))
    val source = o.filter(col("order_date") >= lit("1996-07-01").cast("date") &&
        col("order_date") < lit("1997-07-01").cast("date"))
      .withColumn("o_totalprice", round(col("o_totalprice") * 1.1, 2))
      .withColumn("o_orderstatus", lit("R"))
    val store = new TableStore(s, Files.createTempDirectory("graft-q-s25").toString)
    store.createOrReplace(target, "orders_ic")
    source.createOrReplaceTempView("orders_ic_src")
    graft.table.MergeSql.merge(store,
      """MERGE INTO orders_ic t USING orders_ic_src s
         ON t.o_orderkey = s.o_orderkey
         WHEN MATCHED AND s.o_totalprice > 150000
           THEN UPDATE SET t.o_orderstatus = s.o_orderstatus
         WHEN NOT MATCHED AND s.o_totalprice <= 300000
           THEN INSERT (o_orderkey, order_date, o_totalprice)
           VALUES (s.o_orderkey, s.order_date, s.o_totalprice + 1000)""")
    store.read("orders_ic")
  }

  val s25MergeInsertColsSql: String =
    """WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
                         o_totalprice, o_orderstatus FROM orders),
       t AS (SELECT * FROM o WHERE order_date < DATE '1997-01-01'),
       src AS (SELECT o_orderkey, order_date,
                      round(o_totalprice * 1.1, 2) AS o_totalprice,
                      'R' AS o_orderstatus
               FROM o WHERE order_date >= DATE '1996-07-01'
                 AND order_date < DATE '1997-07-01')
       SELECT t.o_orderkey, t.order_date, t.o_totalprice,
              CASE WHEN s.o_orderkey IS NOT NULL AND s.o_totalprice > 150000
                   THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus
       FROM t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
       UNION ALL
       SELECT o_orderkey, order_date, o_totalprice + 1000,
              CAST(NULL AS VARCHAR) AS o_orderstatus
       FROM src WHERE o_orderkey NOT IN (SELECT o_orderkey FROM t)
         AND o_totalprice <= 300000"""

  /** S21: `DELETE FROM ... WHERE` through the SQL surface against the
    * versioned store -- partition-granular copy-on-write: the delete
    * targets 1996 high-price orders, so only the 1996 year-partition
    * is rewritten; every other year keeps its files shared with the
    * pre-delete snapshot (spec asserts the sharing; this oracle gates
    * the row semantics incl. NULL-condition survival). */
  def s21DeleteWhere(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"),
      col("o_orderdate").cast("date").as("order_date"),
      col("o_totalprice"), col("o_orderstatus"))
      .withColumn("order_yr", year(col("order_date")))
      .filter(col("order_date") < lit("1997-01-01").cast("date"))
    val store = new VersionedTableStore(s,
      Files.createTempDirectory("graft-q-s21").toString)
    store.commitFull(o, "orders_d", Seq("order_yr"))
    graft.pipeline.WarehouseSql.delete(store,
      "DELETE FROM orders_d WHERE order_yr = 1996 AND o_totalprice > 150000")
    store.read("orders_d")
  }

  val s21DeleteWhereSql: String =
    """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
              o_totalprice, o_orderstatus,
              CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS order_yr
       FROM orders
       WHERE CAST(o_orderdate AS DATE) < DATE '1997-01-01'
         AND NOT (CAST(year(CAST(o_orderdate AS DATE)) AS INT) = 1996
                  AND o_totalprice > 150000)"""

  /** S22: `UPDATE ... SET ... WHERE` through the SQL surface against
    * the versioned store -- the 1996 partition's flagged orders are
    * repriced in place (expressions see the PRE-update row); every
    * other year keeps its files shared with the pre-update snapshot. */
  def s22UpdateWhere(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"),
      col("o_orderdate").cast("date").as("order_date"),
      col("o_totalprice"), col("o_orderstatus"))
      .withColumn("order_yr", year(col("order_date")))
      .filter(col("order_date") < lit("1997-01-01").cast("date"))
    val store = new VersionedTableStore(s,
      Files.createTempDirectory("graft-q-s22").toString)
    store.commitFull(o, "orders_u", Seq("order_yr"))
    // money math rides DECIMAL: double*1.05 lands on .xx5 half
    // boundaries whose binary representation rounds differently across
    // engines (the cross-engine round() hazard)
    graft.pipeline.WarehouseSql.update(store,
      """UPDATE orders_u SET o_totalprice =
           CAST(round(CAST(o_totalprice AS DECIMAL(18,4)) * 1.05, 2) AS DOUBLE),
         o_orderstatus = 'R'
         WHERE order_yr = 1996 AND o_totalprice > 150000""")
    store.read("orders_u")
  }

  val s22UpdateWhereSql: String =
    """WITH t AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
                         o_totalprice, o_orderstatus,
                         CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS order_yr
                  FROM orders
                  WHERE CAST(o_orderdate AS DATE) < DATE '1997-01-01')
       SELECT o_orderkey, order_date,
              CASE WHEN order_yr = 1996 AND o_totalprice > 150000
                   THEN CAST(round(CAST(o_totalprice AS DECIMAL(18,4)) * 1.05, 2)
                             AS DOUBLE)
                   ELSE o_totalprice
              END AS o_totalprice,
              CASE WHEN order_yr = 1996 AND o_totalprice > 150000
                   THEN 'R' ELSE o_orderstatus END AS o_orderstatus,
              order_yr
       FROM t"""

  /** S23: multi-column Z-order clustering through the versioned store
    * (the `OPTIMIZE ZORDER BY` shape): orders rewritten into Z-cells
    * over (o_orderkey, o_custkey), then a compound corner predicate
    * filters a plain `read` -- the planned scan skips cells whose
    * per-cell manifest min/max are disjoint on EITHER column before
    * any file is read, and the exact filter applies to the
    * survivors. The oracle is the plain filtered
    * select: if pruning ever dropped a cell that held matching rows
    * (the conservative guarantee broken), the hash gate fails. The
    * synthetic `__zbucket` is layout, not data, so it is dropped. */
  def s23ClusterZ(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"), col("o_custkey"),
      col("o_totalprice"), col("o_orderstatus"))
    val store = new VersionedTableStore(s,
      Files.createTempDirectory("graft-q-s23").toString)
    store.commitFull(o, "orders_z")
    store.clusterByZ("orders_z", Seq("o_orderkey", "o_custkey"), nBuckets = 64)
    store.read("orders_z")
      .filter(col("o_orderkey").between(0L, 7500L) &&
        col("o_custkey").between(0L, 180L))
      .drop("__zbucket")
  }

  val s23ClusterZSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
       FROM orders
       WHERE o_orderkey BETWEEN 0 AND 7500 AND o_custkey BETWEEN 0 AND 180"""

  /** S16: snapshot MERGE + rollback through [[VersionedTableStore]] --
    * the Iceberg-recovery shape the reference gets from format-version-2
    * tables (build_stock_fact_table.py:98-100). A partitioned upsert
    * commits a delta snapshot (only touched year-partitions get new
    * files); `rollbackTo(1)` then restores the pre-merge table by
    * moving the manifest pointer, so the oracle is simply the original
    * target selection -- if any file of v1 had been rewritten or lost,
    * the hash gate fails. */
  def s16VersionedRollback(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"),
      col("o_orderdate").cast("date").as("order_date"),
      col("o_totalprice"), col("o_orderstatus"))
      .withColumn("order_yr", year(col("order_date")))
    val target = o.filter(col("order_date") < lit("1997-01-01").cast("date"))
    val source = o.filter(col("order_date") >= lit("1996-07-01").cast("date") &&
        col("order_date") < lit("1997-07-01").cast("date"))
      .withColumn("o_totalprice", round(col("o_totalprice") * 1.1, 2))
      .withColumn("o_orderstatus", lit("R"))
    val store = new VersionedTableStore(s,
      Files.createTempDirectory("graft-q-s16").toString)
    UpsertWriter.upsertAll(store, "orders_v", target, Seq("o_orderkey"),
      partitionBy = Seq("order_yr"))
    UpsertWriter.upsertAll(store, "orders_v", source, Seq("o_orderkey"),
      partitionBy = Seq("order_yr"))
    store.rollbackTo("orders_v", 1)
    store.read("orders_v")
  }

  val s16VersionedRollbackSql: String =
    """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
              o_totalprice, o_orderstatus,
              CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS order_yr
       FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1997-01-01'"""

  /** S17: CDC changelog between two snapshots of the versioned store
    * (same two-upsert history as s16): inserts (new 1997 keys) and
    * updates (re-priced 1996H2 keys) classified by the manifest-pruned
    * full-outer diff -- unchanged partitions (1992-1995) never scan.
    * No deletes: MERGE never removes target rows. */
  def s17SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"),
      col("o_orderdate").cast("date").as("order_date"),
      col("o_totalprice"), col("o_orderstatus"))
      .withColumn("order_yr", year(col("order_date")))
    val target = o.filter(col("order_date") < lit("1997-01-01").cast("date"))
    val source = o.filter(col("order_date") >= lit("1996-07-01").cast("date") &&
        col("order_date") < lit("1997-07-01").cast("date"))
      .withColumn("o_totalprice", round(col("o_totalprice") * 1.1, 2))
      .withColumn("o_orderstatus", lit("R"))
    val store = new VersionedTableStore(s,
      Files.createTempDirectory("graft-q-s17").toString)
    UpsertWriter.upsertAll(store, "orders_v", target, Seq("o_orderkey"),
      partitionBy = Seq("order_yr"))
    UpsertWriter.upsertAll(store, "orders_v", source, Seq("o_orderkey"),
      partitionBy = Seq("order_yr"))
    store.snapshotDiff("orders_v", 1, 2, Seq("o_orderkey"))
  }

  val s17SnapshotDiffSql: String =
    """WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
                         o_totalprice, o_orderstatus FROM orders),
       t AS (SELECT *, CAST(year(order_date) AS INT) AS order_yr
             FROM o WHERE order_date < DATE '1997-01-01'),
       src AS (SELECT o_orderkey, order_date,
                      round(o_totalprice * 1.1, 2) AS o_totalprice,
                      'R' AS o_orderstatus,
                      CAST(year(order_date) AS INT) AS order_yr
               FROM o WHERE order_date >= DATE '1996-07-01'
                 AND order_date < DATE '1997-07-01')
       SELECT o_orderkey, 'insert' AS change_type, order_date,
              o_totalprice, o_orderstatus, order_yr
       FROM src WHERE o_orderkey NOT IN (SELECT o_orderkey FROM t)
       UNION ALL
       SELECT s.o_orderkey, 'update' AS change_type, s.order_date,
              s.o_totalprice, s.o_orderstatus, s.order_yr
       FROM src s JOIN t ON s.o_orderkey = t.o_orderkey
       WHERE s.order_date IS DISTINCT FROM t.order_date
          OR s.o_totalprice IS DISTINCT FROM t.o_totalprice
          OR s.o_orderstatus IS DISTINCT FROM t.o_orderstatus"""

  /** S27: per-commit changelog walk -- three commits (base upsert,
    * overlap-rewriting upsert, predicate delete) walked commit by
    * commit, each change row tagged with the version that caused it.
    * The oracle replays the same three states in SQL and derives both
    * per-commit diffs; hash-matching proves the walk attributes every
    * change to the RIGHT commit, not just the right net total. */
  def s27ChangelogWalk(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"),
      col("o_orderdate").cast("date").as("order_date"),
      col("o_totalprice"), col("o_orderstatus"))
      .withColumn("order_yr", year(col("order_date")))
    val target = o.filter(col("order_date") < lit("1997-01-01").cast("date"))
    val source = o.filter(col("order_date") >= lit("1996-07-01").cast("date") &&
        col("order_date") < lit("1997-07-01").cast("date"))
      .withColumn("o_totalprice", round(col("o_totalprice") * 1.1, 2))
      .withColumn("o_orderstatus", lit("R"))
    val store = new VersionedTableStore(s,
      Files.createTempDirectory("graft-q-s27").toString)
    UpsertWriter.upsertAll(store, "orders_w", target, Seq("o_orderkey"),
      partitionBy = Seq("order_yr"))
    UpsertWriter.upsertAll(store, "orders_w", source, Seq("o_orderkey"),
      partitionBy = Seq("order_yr"))
    store.deleteWhere("orders_w",
      col("o_orderstatus") === "R" && col("order_yr") === 1996,
      Seq("order_yr"))
    store.changelogWalk("orders_w", 1, 3, Seq("o_orderkey"))
  }

  val s27ChangelogWalkSql: String =
    """WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
                         o_totalprice, o_orderstatus FROM orders),
       t1 AS (SELECT *, CAST(year(order_date) AS INT) AS order_yr
              FROM o WHERE order_date < DATE '1997-01-01'),
       src AS (SELECT o_orderkey, order_date,
                      round(o_totalprice * 1.1, 2) AS o_totalprice,
                      'R' AS o_orderstatus,
                      CAST(year(order_date) AS INT) AS order_yr
               FROM o WHERE order_date >= DATE '1996-07-01'
                 AND order_date < DATE '1997-07-01'),
       t2 AS (SELECT * FROM src
              UNION ALL
              SELECT * FROM t1
              WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)),
       d12 AS (
         SELECT o_orderkey, 'insert' AS change_type, order_date,
                o_totalprice, o_orderstatus, order_yr
         FROM src WHERE o_orderkey NOT IN (SELECT o_orderkey FROM t1)
         UNION ALL
         SELECT s.o_orderkey, 'update', s.order_date,
                s.o_totalprice, s.o_orderstatus, s.order_yr
         FROM src s JOIN t1 t ON s.o_orderkey = t.o_orderkey
         WHERE s.order_date IS DISTINCT FROM t.order_date
            OR s.o_totalprice IS DISTINCT FROM t.o_totalprice
            OR s.o_orderstatus IS DISTINCT FROM t.o_orderstatus),
       d23 AS (
         SELECT o_orderkey, 'delete' AS change_type, order_date,
                o_totalprice, o_orderstatus, order_yr
         FROM t2 WHERE o_orderstatus = 'R' AND order_yr = 1996)
       SELECT *, CAST(2 AS BIGINT) AS commit_version FROM d12
       UNION ALL
       SELECT *, CAST(3 AS BIGINT) AS commit_version FROM d23"""

  /** S28: the graft `TableCatalog` under the hash gate -- a two-commit
    * history (full orders-<1997 snapshot, then a predicate delete of
    * 1996) queried ENTIRELY through Spark SQL over the registered
    * catalog: per-year counts + DECIMAL price sums of `VERSION AS OF
    * 1` left-joined with the head's counts. Hash-matching proves the
    * catalog's scan planning (manifest partition spec, v2 parquet
    * scans) and its version resolution return exactly the store's
    * snapshots. Catalog name is derived from the temp root so reruns
    * in one session never collide with a cached catalog instance. */
  def s28CatalogTimetravel(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"),
      col("o_orderdate").cast("date").as("order_date"),
      col("o_totalprice"))
      .withColumn("order_yr", year(col("order_date")))
    val target = o.filter(col("order_date") < lit("1997-01-01").cast("date"))
    val root = Files.createTempDirectory("graft-q-s28").toString
    val store = new VersionedTableStore(s, root)
    store.commitFull(target, "orders_c", Seq("order_yr"))
    store.deleteWhere("orders_c", col("order_yr") === 1996, Seq("order_yr"))
    val cat = "gq" + java.lang.Long.toHexString(
      org.apache.spark.unsafe.types.UTF8String.fromString(root).hashCode()
        .toLong & 0xffffffffL)
    s.conf.set(s"spark.sql.catalog.$cat", "graft.table.catalog.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(
      s"""WITH v1 AS (
            SELECT order_yr, count(*) AS n_v1,
                   sum(CAST(o_totalprice AS DECIMAL(18,2))) AS price_v1
            FROM $cat.default.orders_c VERSION AS OF 1
            GROUP BY order_yr),
          hd AS (
            SELECT order_yr, count(*) AS n_head
            FROM $cat.default.orders_c
            GROUP BY order_yr)
          SELECT v1.order_yr, CAST(v1.n_v1 AS BIGINT) AS n_v1,
                 CAST(v1.price_v1 AS DECIMAL(18,2)) AS price_v1,
                 CAST(coalesce(hd.n_head, 0) AS BIGINT) AS n_head
          FROM v1 LEFT JOIN hd ON v1.order_yr = hd.order_yr""")
  }

  val s28CatalogTimetravelSql: String =
    """WITH t AS (
         SELECT o_orderkey, CAST(year(CAST(o_orderdate AS DATE)) AS INT)
                  AS order_yr, o_totalprice
         FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1997-01-01'),
       v1 AS (
         SELECT order_yr, count(*) AS n_v1,
                sum(CAST(o_totalprice AS DECIMAL(18,2))) AS price_v1
         FROM t GROUP BY order_yr),
       hd AS (
         SELECT order_yr, count(*) AS n_head
         FROM t WHERE order_yr <> 1996 GROUP BY order_yr)
       SELECT v1.order_yr, CAST(v1.n_v1 AS BIGINT) AS n_v1,
              CAST(v1.price_v1 AS DECIMAL(18,2)) AS price_v1,
              CAST(coalesce(hd.n_head, 0) AS BIGINT) AS n_head
       FROM v1 LEFT JOIN hd ON v1.order_yr = hd.order_yr"""

  /** S29: the catalog's full SQL DML loop under the hash gate --
    * CREATE TABLE / two INSERT INTOs (a multi-partition base load,
    * then a provably-disjoint year that commits as a partition
    * DELTA) / a partition-predicate DELETE / a data-predicate DELETE
    * -- all statements pure Spark SQL, zero store-API calls. The
    * `.history` assertions (the five statements left at least five
    * live commits; the head version is past the live-commit count —
    * version numbers only ever burn forward) ride as a ROW-COUNT
    * GUARD, not output columns: the final SELECT cross-joins a
    * HAVING-gated 1-row probe, so an assertion failure on the
    * driver box empties the result (`rows_match=false` — "the flag
    * flipped") while a pure data divergence keeps `rows_match=true,
    * hash_match=false` ("the rows differ"). One binary signal
    * becomes a which-half signal. Absolute pins (exactly 5 commits,
    * head_v=5) stay in GraftCatalogSpec where the environment is
    * controlled: the store's CAS contract says a transient fs
    * hiccup + retry burns a version number, which would flip an
    * absolute literal while every LIVE ROW is identical. Oracle
    * reconstructs the surviving rows with WHERE algebra. */
  def s29CatalogDml(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"),
      col("o_totalprice"),
      year(col("o_orderdate").cast("date")).as("order_yr"))
    o.createOrReplaceTempView("s29_catalog_src")
    val root = Files.createTempDirectory("graft-q-s29").toString
    val cat = "gq" + java.lang.Long.toHexString(
      org.apache.spark.unsafe.types.UTF8String.fromString(root).hashCode()
        .toLong & 0xffffffffL)
    s.conf.set(s"spark.sql.catalog.$cat", "graft.table.catalog.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(s"""CREATE TABLE $cat.default.ord
              (o_orderkey BIGINT, o_totalprice DOUBLE, order_yr INT)
              PARTITIONED BY (order_yr)""")
    s.sql(s"""INSERT INTO $cat.default.ord
              SELECT o_orderkey, o_totalprice, order_yr
              FROM s29_catalog_src WHERE order_yr < 1999""")
    s.sql(s"""INSERT INTO $cat.default.ord
              SELECT o_orderkey, o_totalprice, order_yr
              FROM s29_catalog_src WHERE order_yr = 2000""")
    s.sql(s"DELETE FROM $cat.default.ord WHERE order_yr = 1996")
    s.sql(s"""DELETE FROM $cat.default.ord
              WHERE o_totalprice < 100000.0D AND order_yr = 1997""")
    s.sql(
      s"""SELECT t.order_yr, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(floor(t.o_totalprice * 100.0D) AS BIGINT))
                   AS BIGINT) AS cents
          FROM $cat.default.ord t
          CROSS JOIN (SELECT count(*) AS live_commits
                      FROM $cat.default.ord.history
                      HAVING count(*) >= 5 AND max(version) >= count(*)) h
          GROUP BY t.order_yr""")
  }

  // r14 de-float (VERDICT r13 #3): the red family's money outputs are
  // integer cent-sums via floor(x*100) on BOTH sides — structurally
  // immune to decimal rounding-mode/scale/rendering semantics, so a
  // still-red gate is a row-set divergence by construction. Green
  // gates keep their shapes untouched (standing rule).
  val s29CatalogDmlSql: String =
    """WITH src AS (
         SELECT o_orderkey, o_totalprice,
                CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS order_yr
         FROM orders),
       live AS (
         SELECT * FROM src
         WHERE (order_yr < 1999 OR order_yr = 2000)
           AND order_yr <> 1996
           AND NOT (o_totalprice < 100000.0 AND order_yr = 1997))
       SELECT order_yr, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CAST(floor(o_totalprice * 100.0) AS BIGINT))
                AS BIGINT) AS cents
       FROM live GROUP BY order_yr"""

  /** S30: SQL UPDATE + MERGE INTO through the catalog's group-based
    * row-level operations -- the executor-staged write path
    * (GraftBatchWrite -> commitStagedReplacing) under the hash gate.
    * UPDATE restates 1996 prices below 200k; MERGE (source = the
    * 1997+1999 orders) deletes matched rows above 300k, marks the
    * rest, and inserts the unmatched 1999 rows. Keys are globally
    * unique order keys, so "matched" is exactly the 1997 partition --
    * reconstructable in the oracle with WHERE/CASE algebra. The
    * history count pins one commit per mutating statement (create,
    * insert, update, merge = 4). */
  def s30CatalogUpdateMerge(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"),
      col("o_totalprice"),
      year(col("o_orderdate").cast("date")).as("order_yr"))
    o.createOrReplaceTempView("s30_catalog_src")
    val root = Files.createTempDirectory("graft-q-s30").toString
    val cat = "gq" + java.lang.Long.toHexString(
      org.apache.spark.unsafe.types.UTF8String.fromString(root).hashCode()
        .toLong & 0xffffffffL)
    s.conf.set(s"spark.sql.catalog.$cat", "graft.table.catalog.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(s"""CREATE TABLE $cat.default.ord2
              (o_orderkey BIGINT, o_totalprice DOUBLE, status STRING,
               order_yr INT) PARTITIONED BY (order_yr)""")
    s.sql(s"""INSERT INTO $cat.default.ord2
              SELECT o_orderkey, o_totalprice, 'O', order_yr
              FROM s30_catalog_src
              WHERE order_yr BETWEEN 1995 AND 1998""")
    s.sql(s"""UPDATE $cat.default.ord2
              SET o_totalprice = round(o_totalprice * 1.1, 2), status = 'R'
              WHERE order_yr = 1996 AND o_totalprice < 200000.0D""")
    s.sql(s"""MERGE INTO $cat.default.ord2 t
              USING (SELECT o_orderkey, o_totalprice, order_yr
                     FROM s30_catalog_src WHERE order_yr IN (1997, 1999)) s
              ON t.o_orderkey = s.o_orderkey
              WHEN MATCHED AND t.o_totalprice > 300000.0D THEN DELETE
              WHEN MATCHED THEN UPDATE SET status = 'M'
              WHEN NOT MATCHED THEN INSERT (o_orderkey, o_totalprice,
                status, order_yr)
                VALUES (s.o_orderkey, s.o_totalprice, 'N', s.order_yr)""")
    s.sql(
      s"""SELECT t.order_yr, t.status, CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(t.o_totalprice AS DECIMAL(18,2))) AS price,
                 h.n_versions
          FROM $cat.default.ord2 t
          CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n_versions
                      FROM $cat.default.ord2.history) h
          GROUP BY t.order_yr, t.status, h.n_versions""")
  }

  val s30CatalogUpdateMergeSql: String =
    """WITH src AS (
         SELECT o_orderkey, o_totalprice,
                CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS order_yr
         FROM orders),
       base AS (
         SELECT o_orderkey,
                CASE WHEN order_yr = 1996 AND o_totalprice < 200000.0
                     THEN round(o_totalprice * 1.1, 2)
                     ELSE o_totalprice END AS o_totalprice,
                CASE WHEN order_yr = 1996 AND o_totalprice < 200000.0
                     THEN 'R' ELSE 'O' END AS status,
                order_yr
         FROM src WHERE order_yr BETWEEN 1995 AND 1998),
       merged AS (
         SELECT o_orderkey, o_totalprice,
                CASE WHEN order_yr = 1997 THEN 'M' ELSE status END AS status,
                order_yr
         FROM base
         WHERE NOT (order_yr = 1997 AND o_totalprice > 300000.0)
         UNION ALL
         SELECT o_orderkey, o_totalprice, 'N' AS status, order_yr
         FROM src WHERE order_yr = 1999)
       SELECT order_yr, status, CAST(count(*) AS BIGINT) AS n,
              sum(CAST(o_totalprice AS DECIMAL(18,2))) AS price,
              CAST(4 AS BIGINT) AS n_versions
       FROM merged GROUP BY order_yr, status"""

  /** S31: storage-partitioned join through the catalog — two store
    * tables hive-partitioned on the SAME key (order_yr), joined on
    * that key with `spark.sql.sources.v2.bucketing.enabled=true`:
    * both `GraftScan`s report their manifest layout as a
    * `KeyGroupedPartitioning`, every input split carries its
    * partition key, and the sort-merge join (forced by the MERGE
    * hint — at sf0.01 everything is broadcastable, which would hide
    * the path) aligns partitions BY KEY with zero exchanges below
    * the join; the per-year rollup on top reuses the same clustering,
    * so the whole query plans WITHOUT A SINGLE SHUFFLE. At 100 TB
    * that is the difference between exchanging two fact tables and
    * exchanging nothing. The gate hashes the joined rollup (the
    * above-year-average counts are exact DECIMAL·BIGINT compares, no
    * float division); the no-exchange plan shape is pinned by
    * GraftCatalogSpec's SPJ test. The bucketing conf is scoped to
    * THIS query (set, execute, restore) so the driver's
    * single-session suite never plans later queries under it. */
  def s31CatalogSpj(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"), col("o_totalprice"),
      year(col("o_orderdate").cast("date")).as("order_yr"))
    val root = Files.createTempDirectory("graft-q-s31").toString
    val store = new VersionedTableStore(s, root)
    store.commitFull(o, "spj_fact", Seq("order_yr"))
    store.commitFull(
      o.groupBy(col("order_yr")).agg(
        count(lit(1)).as("yr_n"),
        sum(col("o_totalprice").cast(D)).as("yr_sum")),
      "spj_yr", Seq("order_yr"))
    val cat = "gq" + java.lang.Long.toHexString(
      org.apache.spark.unsafe.types.UTF8String.fromString(root).hashCode()
        .toLong & 0xffffffffL)
    s.conf.set(s"spark.sql.catalog.$cat", "graft.table.catalog.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    withConfMaterialized(s, "spark.sql.sources.v2.bucketing.enabled", "true") {
    s.sql(
      s"""SELECT /*+ MERGE(r) */ f.order_yr,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN CAST(f.o_totalprice AS DECIMAL(18,2))
                                    * r.yr_n > r.yr_sum
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_above_avg,
                 CAST(max(r.yr_n) AS BIGINT) AS yr_n
          FROM $cat.default.spj_fact f
          JOIN $cat.default.spj_yr r ON f.order_yr = r.order_yr
          GROUP BY f.order_yr""")
    }
  }

  val s31CatalogSpjSql: String =
    """WITH src AS (
         SELECT o_totalprice,
                CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS order_yr
         FROM orders),
       yr AS (
         SELECT order_yr, CAST(count(*) AS BIGINT) AS yr_n,
                sum(CAST(o_totalprice AS DECIMAL(18,2))) AS yr_sum
         FROM src GROUP BY order_yr)
       SELECT f.order_yr, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CASE WHEN CAST(f.o_totalprice AS DECIMAL(18,2))
                                 * yr.yr_n > yr.yr_sum
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_above_avg,
              CAST(max(yr.yr_n) AS BIGINT) AS yr_n
       FROM src f JOIN yr ON f.order_yr = yr.order_yr
       GROUP BY f.order_yr"""

  /** S32: aggregate pushdown through the catalog — with
    * `spark.sql.parquet.aggregatePushdown=true`, a
    * COUNT/MIN/MAX-per-partition rollup is answered from parquet
    * FOOTER STATISTICS: the scan's read schema becomes the aggregate
    * schema and no data page is ever decoded. At 100 TB a
    * `SELECT count(*) ... GROUP BY partition_col` over a store table
    * costs one footer read per file instead of a table scan. The
    * spec (GraftCatalogSpec) pins the plan shape (`PushedAggregation`
    * in the scan description); this gate pins the VALUES cross-engine
    * — footer min/max of a DOUBLE column are the exact data min/max,
    * so the hash cannot drift. The conf is scoped to THIS query
    * (set, execute, restore) so the driver's single-session suite
    * never plans later queries under it. */
  def s32CatalogAggPushdown(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"), col("o_totalprice"),
      year(col("o_orderdate").cast("date")).as("order_yr"))
    val root = Files.createTempDirectory("graft-q-s32").toString
    val store = new VersionedTableStore(s, root)
    store.commitFull(o, "ord_pd", Seq("order_yr"))
    val cat = "gq" + java.lang.Long.toHexString(
      org.apache.spark.unsafe.types.UTF8String.fromString(root).hashCode()
        .toLong & 0xffffffffL)
    s.conf.set(s"spark.sql.catalog.$cat", "graft.table.catalog.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    withConfMaterialized(s, "spark.sql.parquet.aggregatePushdown", "true") {
      s.sql(
        s"""SELECT order_yr, CAST(count(*) AS BIGINT) AS n,
                   min(o_totalprice) AS lo, max(o_totalprice) AS hi,
                   CAST(min(o_orderkey) AS BIGINT) AS k_lo,
                   CAST(max(o_orderkey) AS BIGINT) AS k_hi
            FROM $cat.default.ord_pd
            GROUP BY order_yr""")
    }
  }

  val s32CatalogAggPushdownSql: String =
    """SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS order_yr,
              CAST(count(*) AS BIGINT) AS n,
              min(o_totalprice) AS lo, max(o_totalprice) AS hi,
              CAST(min(o_orderkey) AS BIGINT) AS k_lo,
              CAST(max(o_orderkey) AS BIGINT) AS k_hi
       FROM orders GROUP BY 1"""

  /** S33: write-audit-publish — the staged-snapshot loop end to end
    * under the hash gate. The 1997 batch stages invisibly, passes the
    * REAL validation suite (NotNull + Unique + ValuesBetween — the
    * GX expectation rules the reference runs), and publishes as one
    * manifest CAS sharing the staged dirs; the 1998 batch is poisoned
    * (high-value order keys nulled), FAILS NotNull/Unique, and is
    * dropped with its data reclaimed — the head never saw it. The
    * gate hashes the final per-year rollup (so a leaked poisoned row
    * or a lost published row flips it); the two audit verdicts ride
    * as a ROW-COUNT GUARD (filter on the API returns), not output
    * columns — a verdict flip on the driver box empties the result
    * (`rows_match=false`) instead of blending into the hash, the
    * s29 which-half discipline. The `rejected_1998` verdict is the
    * API return alone — staged-list emptiness is spec-pinned
    * (VersionedTableStoreSpec) instead of gated, because a CAS
    * retry on the driver box can orphan a data-invisible staged
    * marker that would flip the hash while the head is identical.
    * At 100 TB this is the quality gate pattern: a bad batch costs
    * its own staging write, never a reader-visible head state or a
    * rollback. */
  def s33WapAudit(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"), col("o_totalprice"),
      year(col("o_orderdate").cast("date")).as("order_yr"))
    val store = new VersionedTableStore(s,
      Files.createTempDirectory("graft-q-s33").toString)
    store.commitFull(o.filter(col("order_yr") <= 1996), "ord_w",
      Seq("order_yr"))
    val audit: DataFrame => Boolean = df =>
      graft.quality.Validator.run(df, Seq(
        graft.quality.NotNull("o_orderkey"),
        graft.quality.Unique(Seq("o_orderkey")),
        graft.quality.ValuesBetween("o_totalprice", 0.0, 1e7)))
        .forall(_.passed)
    val pub = store.writeAuditPublish(o.filter(col("order_yr") === 1997),
      "ord_w", "d1997", audit, Seq("order_yr"), delta = true)
    val poisoned = o.filter(col("order_yr") === 1998)
      .withColumn("o_orderkey", when(col("o_totalprice") > lit(200000.0),
        lit(null)).otherwise(col("o_orderkey")))
    val rej = store.writeAuditPublish(poisoned, "ord_w", "d1998", audit,
      Seq("order_yr"), delta = true)
    store.read("ord_w")
      .groupBy(col("order_yr"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(floor(col("o_totalprice") * lit(100.0)).cast("long"))
          .cast("long").as("cents"))
      // row-count guard: both audit verdicts must hold or the result
      // empties (rows_match=false on the gate — a flag-flip signal
      // distinct from a data diff)
      .filter(lit(pub.isDefined && rej.isEmpty))
      .select(col("order_yr"), col("n"), col("cents"))
  }

  // r14 de-float. This also retires a latent scale mismatch the old
  // shape carried: the Spark side summed at DECIMAL(18,4), the oracle
  // at DECIMAL(18,2) — numerically equal only while the source
  // doubles are exactly 2-dp (true of this generator, unverified of
  // the driver's copy). Cent floors need no such luck.
  val s33WapAuditSql: String =
    """WITH src AS (
         SELECT o_orderkey, o_totalprice,
                CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS order_yr
         FROM orders)
       SELECT order_yr, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CAST(floor(o_totalprice * 100.0) AS BIGINT))
                AS BIGINT) AS cents
       FROM src WHERE order_yr <= 1997
       GROUP BY order_yr"""

  /** S34: merge-on-read deletes under the hash gate — two takedown
    * batches (high-value orders, then a mid-band slice) commit as KEY
    * SETS with zero data rewrite; the rollup reads through the
    * catalog's SQL surface so the row-level anti-join filter, the
    * forced key columns, and the disabled-footer-aggregate path are
    * all on the hashed path. compact() then applies the deletes
    * physically and the SAME rollup re-runs over the rewritten files:
    * both states are hashed (merge-on-read and applied results must
    * be identical). The merge-on-read leg is MATERIALIZED before
    * compact runs (localCheckpoint) — the driver executes the
    * returned frame after this function returns, and a lazy leg
    * would otherwise resolve against post-compact state (same
    * values by contract, but the gate should pin the pre-compact
    * read path, not trust the contract it is checking). The two
    * pending-delete assertions (key sets registered before compact;
    * none survive it) ride as a ROW-COUNT GUARD instead of output
    * columns — a driver-side flip empties the result
    * (rows_match=false), the s29 which-half discipline. Exact
    * counts (2 -> 0) are spec-pinned instead of gated: a deleteKeys
    * CAS retry on the driver box can land a data-identical extra key
    * set, flipping an absolute count while every hashed row is
    * identical. The oracle reconstructs with WHERE NOT algebra. */
  def s34MorDelete(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"), col("o_totalprice"),
      year(col("o_orderdate").cast("date")).as("order_yr"))
    val root = Files.createTempDirectory("graft-q-s34").toString
    val store = new VersionedTableStore(s, root)
    store.commitFull(o, "ord_m", Seq("order_yr"))
    store.deleteKeys("ord_m",
      o.filter(col("o_totalprice") > lit(400000.0)).select("o_orderkey"),
      Seq("o_orderkey"))
    store.deleteKeys("ord_m",
      o.filter(col("o_totalprice").between(100000.0, 150000.0))
        .select("o_orderkey"),
      Seq("o_orderkey"))
    val cat = "gq" + java.lang.Long.toHexString(
      org.apache.spark.unsafe.types.UTF8String.fromString(root).hashCode()
        .toLong & 0xffffffffL)
    s.conf.set(s"spark.sql.catalog.$cat", "graft.table.catalog.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    def rollup(): DataFrame = s.sql(
      s"""SELECT order_yr, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(floor(o_totalprice * 100.0D) AS BIGINT))
                   AS BIGINT) AS cents
          FROM $cat.default.ord_m GROUP BY order_yr""")
    val pendingBefore = store.pendingDeletes("ord_m").size
    val mor = rollup().localCheckpoint(true)
    store.compact("ord_m")
    val applied = rollup()
    val pendingAfter = store.pendingDeletes("ord_m").size
    mor.withColumn("state", lit("mor"))
      .unionByName(applied.withColumn("state", lit("applied")))
      // row-count guard (see scaladoc): assertion flip => empty result
      .filter(lit(pendingBefore >= 2 && pendingAfter == 0))
  }

  val s34MorDeleteSql: String =
    """WITH src AS (
         SELECT o_orderkey, o_totalprice,
                CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS order_yr
         FROM orders),
       live AS (
         SELECT * FROM src
         WHERE NOT (o_totalprice > 400000.0)
           AND NOT (o_totalprice BETWEEN 100000.0 AND 150000.0)),
       roll AS (
         SELECT order_yr, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(floor(o_totalprice * 100.0) AS BIGINT))
                  AS BIGINT) AS cents
         FROM live GROUP BY order_yr)
       SELECT order_yr, n, cents, s.state
       FROM roll CROSS JOIN (VALUES ('mor'), ('applied')) s(state)"""

  /** S35: branch / merge under the hash gate — the git-branch
    * analogue over the versioned store. A branch forks from the
    * head; the BRANCH rewrites one year (a takedown) and appends a
    * new one while MAIN independently rewrites a different year;
    * fast-forward rejects (main moved — the serializable contract),
    * then the three-way partition-granular merge combines both
    * lineages with zero data I/O. The rollup reads the MERGED head
    * through the catalog's SQL surface; the oracle reconstructs the
    * same final state with per-year WHERE algebra. Branch isolation
    * is itself gated as a ROW-COUNT GUARD (the s29 which-half
    * discipline): the main-head count taken AFTER the branch commits
    * but BEFORE the merge must equal the untouched source count, or
    * the result empties (rows_match=false — an isolation breach
    * signal distinct from a merged-data diff). The ff-rejection EXCEPTION
    * TYPE is spec-pinned (BranchSpec) rather than gated: the gate
    * catches any failure and proceeds to merge, because if ff ever
    * wrongly succeeded the merged data would lose main's 1996
    * rewrite and the hash itself would flip — the data already
    * carries the signal the old boolean duplicated fragilely. */
  def s35BranchMerge(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"), col("o_totalprice"),
      year(col("o_orderdate").cast("date")).as("order_yr"))
    val root = Files.createTempDirectory("graft-q-s35").toString
    val store = new VersionedTableStore(s, root)
    store.commitFull(o.filter(col("order_yr") <= 1996), "ord_b",
      Seq("order_yr"))
    store.createBranch("ord_b", "etl")
    // branch: rewrite 1995 (drop high-price rows) + append 1997
    store.commitPartitions(
      o.filter(col("order_yr") === 1995 &&
        col("o_totalprice") <= lit(200000.0)),
      "ord_b", Seq("order_yr"), branch = "etl")
    store.commitPartitions(o.filter(col("order_yr") === 1997),
      "ord_b", Seq("order_yr"), branch = "etl")
    // main: rewrite 1996 independently
    store.commitPartitions(
      o.filter(col("order_yr") === 1996 &&
        col("o_totalprice") <= lit(300000.0)),
      "ord_b", Seq("order_yr"))
    // isolation probe: main must not see any branch change yet
    val premerge = store.read("ord_b")
      .filter(col("order_yr").isin(1995, 1997)).count()
    val mainOnly1995 = o.filter(col("order_yr") === 1995).count()
    try { store.fastForward("ord_b", "etl"); () }
    catch { case scala.util.control.NonFatal(_) => () }
    store.mergeBranch("ord_b", "etl")
    store.dropBranch("ord_b", "etl")
    val cat = "gq" + java.lang.Long.toHexString(
      org.apache.spark.unsafe.types.UTF8String.fromString(root).hashCode()
        .toLong & 0xffffffffL)
    s.conf.set(s"spark.sql.catalog.$cat", "graft.table.catalog.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(
      s"""SELECT order_yr, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(floor(o_totalprice * 100.0D) AS BIGINT))
                   AS BIGINT) AS cents
          FROM $cat.default.ord_b GROUP BY order_yr""")
      // row-count guard (see scaladoc): isolation breach => empty
      .filter(lit(premerge == mainOnly1995))
  }

  val s35BranchMergeSql: String =
    """WITH src AS (
         SELECT o_orderkey, o_totalprice,
                CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS order_yr
         FROM orders),
       merged AS (
         SELECT * FROM src WHERE order_yr <= 1994
         UNION ALL
         SELECT * FROM src WHERE order_yr = 1995 AND o_totalprice <= 200000.0
         UNION ALL
         SELECT * FROM src WHERE order_yr = 1996 AND o_totalprice <= 300000.0
         UNION ALL
         SELECT * FROM src WHERE order_yr = 1997)
       SELECT order_yr, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CAST(floor(o_totalprice * 100.0) AS BIGINT))
                AS BIGINT) AS cents
       FROM merged GROUP BY order_yr"""

  /** S36: branch-scoped ROW-LEVEL DML under the hash gate — the rest
    * of the r11 branch lifecycle beyond fork/merge (which s35 gates).
    * A takedown DELETE and a re-price UPDATE run against the BRANCH
    * head (deleteWhereOn/updateWhereOn: the same partition-granular
    * copy-on-write as main's s21/s22, committed onto the branch
    * lineage), main independently appends a disjoint year, then the
    * three-way merge combines both sides and the branch is dropped.
    * That main never saw the branch DML before the merge is gated as
    * a ROW-COUNT GUARD (a count compare, retry-invariant like s35's
    * probe): a breach empties the result (rows_match=false), the
    * s29 which-half discipline.
    * The oracle reconstructs the merged state with WHERE/CASE
    * algebra (the UPDATE adds a flat 1000.0 — binary-exact double
    * arithmetic, immune to the round-half cross-engine coin flips a
    * multiplicative re-price can hit on unlucky rows). At 100 TB:
    * branch DML costs only the touched partitions' rewrite on the
    * branch's own lineage; the merge is one manifest CAS with zero
    * data I/O. */
  def s36BranchDml(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"),
      col("o_totalprice"),
      year(col("o_orderdate").cast("date")).as("order_yr"))
    val root = Files.createTempDirectory("graft-q-s36").toString
    val store = new VersionedTableStore(s, root)
    store.commitFull(o.filter(col("order_yr") <= 1997), "ord_d",
      Seq("order_yr"))
    store.createBranch("ord_d", "fix")
    store.deleteWhereOn("ord_d", "fix",
      col("order_yr") === 1996 && col("o_totalprice") > lit(300000.0))
    store.updateWhereOn("ord_d", "fix",
      col("order_yr") === 1995 && col("o_totalprice") < lit(50000.0),
      Map("o_totalprice" -> (col("o_totalprice") + lit(1000.0))))
    // isolation probe: the branch DML must be invisible on main
    val premerge1996 = store.read("ord_d")
      .filter(col("order_yr") === 1996).count()
    val orig1996 = o.filter(col("order_yr") === 1996).count()
    // main moves independently (disjoint year) before the merge
    store.commitPartitions(o.filter(col("order_yr") === 1998),
      "ord_d", Seq("order_yr"))
    store.mergeBranch("ord_d", "fix")
    store.dropBranch("ord_d", "fix")
    val cat = "gq" + java.lang.Long.toHexString(
      org.apache.spark.unsafe.types.UTF8String.fromString(root).hashCode()
        .toLong & 0xffffffffL)
    s.conf.set(s"spark.sql.catalog.$cat", "graft.table.catalog.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(
      s"""SELECT order_yr, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(floor(o_totalprice * 100.0D) AS BIGINT))
                   AS BIGINT) AS cents
          FROM $cat.default.ord_d GROUP BY order_yr""")
      // row-count guard (see scaladoc): isolation breach => empty
      .filter(lit(premerge1996 == orig1996))
  }

  val s36BranchDmlSql: String =
    """WITH src AS (
         SELECT o_orderkey, o_totalprice,
                CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS order_yr
         FROM orders),
       branch_side AS (
         SELECT o_orderkey,
                CASE WHEN order_yr = 1995 AND o_totalprice < 50000.0
                     THEN o_totalprice + 1000.0
                     ELSE o_totalprice END AS o_totalprice,
                order_yr
         FROM src
         WHERE order_yr <= 1997
           AND NOT (order_yr = 1996 AND o_totalprice > 300000.0)),
       merged AS (
         SELECT * FROM branch_side
         UNION ALL
         SELECT o_orderkey, o_totalprice, order_yr
         FROM src WHERE order_yr = 1998)
       SELECT order_yr, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CAST(floor(o_totalprice * 100.0) AS BIGINT))
                AS BIGINT) AS cents
       FROM merged GROUP BY order_yr"""

  /** S37: cherry-pick under the hash gate — apply EXACTLY ONE branch
    * commit's delta onto main, leaving the rest of the branch behind
    * (the Iceberg `cherrypick_snapshot` analogue, the partial
    * alternative to s35's full merge). The branch lands a 1995
    * takedown (the commit we pick) and then a 1996 re-price (the
    * commit we deliberately do NOT pick: if the pick leaked the whole
    * lineage, every 1996 price would double and the hash would flip).
    * After the pick the branch is dropped — the picked data dir is
    * now shared by the main head, so the drop must keep it alive
    * while reclaiming the unpicked commit's dir; the rollup reads
    * through the shared dir, putting that path under the gate. No
    * version literals anywhere: the pick targets the VERSION THE
    * COMMIT RETURNED, so burned numbers cannot flip the hash. At
    * 100 TB a cherry-pick is one manifest CAS, zero data I/O. */
  def s37CherryPick(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"),
      col("o_totalprice"),
      year(col("o_orderdate").cast("date")).as("order_yr"))
    val root = Files.createTempDirectory("graft-q-s37").toString
    val store = new VersionedTableStore(s, root)
    store.commitFull(o.filter(col("order_yr") <= 1996), "ord_p",
      Seq("order_yr"))
    store.createBranch("ord_p", "hotfix")
    val pick = store.commitPartitions(
      o.filter(col("order_yr") === 1995 &&
        col("o_totalprice") <= lit(200000.0)),
      "ord_p", Seq("order_yr"), branch = "hotfix")
    // a second branch commit that must NOT reach main
    store.commitPartitions(
      o.filter(col("order_yr") === 1996)
        .withColumn("o_totalprice", col("o_totalprice") * 2),
      "ord_p", Seq("order_yr"), branch = "hotfix")
    store.cherryPick("ord_p", pick)
    store.dropBranch("ord_p", "hotfix")
    val cat = "gq" + java.lang.Long.toHexString(
      org.apache.spark.unsafe.types.UTF8String.fromString(root).hashCode()
        .toLong & 0xffffffffL)
    s.conf.set(s"spark.sql.catalog.$cat", "graft.table.catalog.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(
      s"""SELECT order_yr, CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(o_totalprice AS DECIMAL(18,2))) AS price
          FROM $cat.default.ord_p GROUP BY order_yr""")
  }

  val s37CherryPickSql: String =
    """WITH src AS (
         SELECT o_orderkey, o_totalprice,
                CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS order_yr
         FROM orders),
       merged AS (
         SELECT * FROM src
         WHERE order_yr <= 1996
           AND NOT (order_yr = 1995 AND o_totalprice > 200000.0))
       SELECT order_yr, CAST(count(*) AS BIGINT) AS n,
              sum(CAST(o_totalprice AS DECIMAL(18,2))) AS price
       FROM merged GROUP BY order_yr"""

  /** S38: partition-bloom point lookups under the hash gate. The
    * table is partitioned by year, so the manifest's min/max on the
    * HASH-DISTRIBUTED order key covers every partition and prunes
    * nothing; buildBloomIndex writes one small sidecar bloom per
    * partition, and each `read(...).filter(key === k)` scan consults
    * the cached index to plan only the partitions that might hold the
    * key (BloomIndexSpec pins the pruning on the planned scan's files;
    * this gate pins the VALUES cross-engine — bloom false positives
    * can only widen the scan, never change results, so the hash is
    * deterministic). Half the
    * probed keys are absent: misses must return nothing, not error.
    * At 100 TB this is the takedown-service shape: thousands of point
    * lookups against a pinned snapshot amortize one index load into
    * O(1) driver-side membership tests each. */
  def s38BloomPoint(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"),
      col("o_totalprice"),
      year(col("o_orderdate").cast("date")).as("order_yr"))
    val root = Files.createTempDirectory("graft-q-s38").toString
    val store = new VersionedTableStore(s, root)
    store.commitFull(o, "ord_i", Seq("order_yr"))
    store.buildBloomIndex("ord_i", "o_orderkey")
    val keys = Seq(1L, 7L, 32L, 999L, 4999L, 29995L, 57607L, 123456789L)
    keys.map(k => store.read("ord_i").filter(col("o_orderkey") === k))
      .reduce(_.unionByName(_))
      .select(col("o_orderkey"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("price"),
        col("order_yr"))
  }

  val s38BloomPointSql: String =
    """SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
              CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS order_yr
       FROM orders
       WHERE o_orderkey IN (1, 7, 32, 999, 4999, 29995, 57607, 123456789)"""

  /** S39: METADATA-ONLY column evolution under the hash gate —
    * `ALTER TABLE ... RENAME COLUMN` and `ALTER COLUMN ... TYPE`
    * (lossless widening) as pure SQL against the catalog, zero data
    * rewritten by either statement. The flow deliberately interleaves
    * file generations with the evolution: a multi-partition INT32
    * base load, rename `amt` -> `amount`, widen INT -> BIGINT, a
    * post-widen INSERT whose values EXCEED int range (proof the
    * widening is real, not a cast-on-read of int data), then a
    * row-level UPDATE over a PRE-rename partition (proof the
    * executor-staged rewrite resolves and re-stamps the renamed
    * column's field ID). The final aggregate therefore reads three
    * file generations — narrow/pre-rename, wide/post-rename, and
    * staged-rewrite — through one schema. Oracle reconstructs with
    * CASE algebra; history booleans are retry-invariant (the s29
    * discipline: counts and comparisons, never version literals).
    * Scale: both ALTERs are one manifest CAS each at any table size —
    * the 100 TB rename story this engine's store exists to tell. */
  def s39RenameWiden(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"),
      floor(col("o_totalprice")).cast("int").as("amt"),
      year(col("o_orderdate").cast("date")).as("order_yr"))
    o.createOrReplaceTempView("s39_src")
    val root = Files.createTempDirectory("graft-q-s39").toString
    val cat = "gq" + java.lang.Long.toHexString(
      org.apache.spark.unsafe.types.UTF8String.fromString(root).hashCode()
        .toLong & 0xffffffffL)
    s.conf.set(s"spark.sql.catalog.$cat", "graft.table.catalog.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(s"""CREATE TABLE $cat.default.ord
              (o_orderkey BIGINT, amt INT, order_yr INT)
              PARTITIONED BY (order_yr)""")
    s.sql(s"""INSERT INTO $cat.default.ord
              SELECT o_orderkey, amt, order_yr FROM s39_src
              WHERE order_yr < 1998""")
    s.sql(s"ALTER TABLE $cat.default.ord RENAME COLUMN amt TO amount")
    s.sql(s"ALTER TABLE $cat.default.ord ALTER COLUMN amount TYPE BIGINT")
    s.sql(s"""INSERT INTO $cat.default.ord
              SELECT o_orderkey, CAST(amt AS BIGINT) * 1000000, order_yr
              FROM s39_src WHERE order_yr >= 1998""")
    s.sql(s"""UPDATE $cat.default.ord SET amount = amount + 7
              WHERE order_yr = 1996""")
    s.sql(
      s"""SELECT t.order_yr, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(t.amount) AS BIGINT) AS total,
                 h.hist_covers, h.head_past
          FROM $cat.default.ord t
          CROSS JOIN (SELECT CAST(count(*) >= 6 AS BOOLEAN) AS hist_covers,
                             CAST(max(version) >= count(*) AS BOOLEAN)
                               AS head_past
                      FROM $cat.default.ord.history) h
          GROUP BY t.order_yr, h.hist_covers, h.head_past""")
  }

  val s39RenameWidenSql: String =
    """WITH src AS (
         SELECT o_orderkey, CAST(floor(o_totalprice) AS BIGINT) AS amt,
                CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS order_yr
         FROM orders),
       live AS (
         SELECT order_yr,
                CASE WHEN order_yr = 1996 THEN amt + 7
                     WHEN order_yr >= 1998 THEN amt * 1000000
                     ELSE amt END AS amount
         FROM src)
       SELECT order_yr, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(amount) AS BIGINT) AS total,
              TRUE AS hist_covers, TRUE AS head_past
       FROM live GROUP BY order_yr"""

  /** S40: column DEFAULT values under the hash gate — the
    * Iceberg/Delta initial-default semantic as pure SQL. The flow
    * pins both halves of the ledger: `ADD COLUMN tier STRING DEFAULT
    * 'legacy'` is one metadata commit whose FROZEN existence default
    * the pre-add files (years < 1998) materialize instead of NULL;
    * an INSERT that omits the column fills the CURRENT default
    * ('legacy'); `SET DEFAULT 'modern'` then moves ONLY what future
    * inserts fill — the pre-add files keep reading 'legacy' (a
    * mutable exists-default would rewrite history's meaning). The
    * final aggregate groups by the tier column across all three file
    * generations; the oracle reconstructs it with year CASE algebra.
    * History booleans are retry-invariant (s29 discipline). At
    * 100 TB: the ADD and both SET statements are one manifest CAS
    * each — the backfill the default replaces would be a petabyte
    * write. */
  def s40ColumnDefaults(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"),
      floor(col("o_totalprice")).cast("int").as("amt"),
      year(col("o_orderdate").cast("date")).as("order_yr"))
    o.createOrReplaceTempView("s40_src")
    val root = Files.createTempDirectory("graft-q-s40").toString
    val cat = "gq" + java.lang.Long.toHexString(
      org.apache.spark.unsafe.types.UTF8String.fromString(root).hashCode()
        .toLong & 0xffffffffL)
    s.conf.set(s"spark.sql.catalog.$cat", "graft.table.catalog.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(s"""CREATE TABLE $cat.default.ord
              (o_orderkey BIGINT, amt INT, order_yr INT)
              PARTITIONED BY (order_yr)""")
    s.sql(s"""INSERT INTO $cat.default.ord
              SELECT o_orderkey, amt, order_yr FROM s40_src
              WHERE order_yr < 1998""")
    s.sql(s"""ALTER TABLE $cat.default.ord
              ADD COLUMN tier STRING DEFAULT 'legacy'""")
    s.sql(s"""INSERT INTO $cat.default.ord (o_orderkey, amt, order_yr)
              SELECT o_orderkey, amt, order_yr FROM s40_src
              WHERE order_yr = 1998""")
    s.sql(s"""ALTER TABLE $cat.default.ord
              ALTER COLUMN tier SET DEFAULT 'modern'""")
    s.sql(s"""INSERT INTO $cat.default.ord (o_orderkey, amt, order_yr)
              SELECT o_orderkey, amt, order_yr FROM s40_src
              WHERE order_yr > 1998""")
    s.sql(
      s"""SELECT t.order_yr, t.tier, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(t.amt) AS BIGINT) AS total,
                 h.hist_covers, h.head_past
          FROM $cat.default.ord t
          CROSS JOIN (SELECT CAST(count(*) >= 6 AS BOOLEAN) AS hist_covers,
                             CAST(max(version) >= count(*) AS BOOLEAN)
                               AS head_past
                      FROM $cat.default.ord.history) h
          GROUP BY t.order_yr, t.tier, h.hist_covers, h.head_past""")
  }

  val s40ColumnDefaultsSql: String =
    """WITH src AS (
         SELECT o_orderkey, CAST(floor(o_totalprice) AS BIGINT) AS amt,
                CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS order_yr
         FROM orders),
       live AS (
         SELECT order_yr, amt,
                CASE WHEN order_yr <= 1998 THEN 'legacy'
                     ELSE 'modern' END AS tier
         FROM src)
       SELECT order_yr, tier, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(amt) AS BIGINT) AS total,
              TRUE AS hist_covers, TRUE AS head_past
       FROM live GROUP BY order_yr, tier"""

  /** S41: enforced CHECK constraints under the hash gate. ADD
    * CONSTRAINT validates the live snapshot with one predicate scan;
    * every later write re-validates ITS OWN freshly-written files
    * before the manifest CAS, so a violating INSERT (negated amounts)
    * and a violating row-level UPDATE both reject with the table
    * state bit-identical to before — gated as booleans plus the final
    * rollup over what actually landed. The writes that violate are
    * REAL rejected commits (files staged then deleted), not
    * pre-filtered data. At 100 TB: enforcement cost is one pushed
    * predicate over each commit's OWN files — an append checks the
    * appended day, never the table. */
  def s41CheckConstraints(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"),
      floor(col("o_totalprice")).cast("long").as("amt"),
      year(col("o_orderdate").cast("date")).as("order_yr"))
    o.createOrReplaceTempView("s41_src")
    val root = Files.createTempDirectory("graft-q-s41").toString
    val cat = "gq" + java.lang.Long.toHexString(
      org.apache.spark.unsafe.types.UTF8String.fromString(root).hashCode()
        .toLong & 0xffffffffL)
    s.conf.set(s"spark.sql.catalog.$cat", "graft.table.catalog.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(s"""CREATE TABLE $cat.default.ord
              (o_orderkey BIGINT, amt BIGINT, order_yr INT)
              PARTITIONED BY (order_yr)""")
    s.sql(s"""INSERT INTO $cat.default.ord
              SELECT o_orderkey, amt, order_yr FROM s41_src
              WHERE order_yr < 1998""")
    s.sql(s"""ALTER TABLE $cat.default.ord
              ADD CONSTRAINT amt_nonneg CHECK (amt >= 0)""")
    val insertRejected =
      try {
        s.sql(s"""INSERT INTO $cat.default.ord
                  SELECT o_orderkey, -amt - 1, order_yr FROM s41_src
                  WHERE order_yr = 1998""")
        false
      } catch { case _: Exception => true }
    s.sql(s"""INSERT INTO $cat.default.ord
              SELECT o_orderkey, amt, order_yr FROM s41_src
              WHERE order_yr = 1998""")
    val updateRejected =
      try {
        s.sql(s"""UPDATE $cat.default.ord SET amt = -1
                  WHERE order_yr = 1996""")
        false
      } catch { case _: Exception => true }
    s.sql(s"""UPDATE $cat.default.ord SET amt = amt + 3
              WHERE order_yr = 1996""")
    s.sql(
      s"""SELECT order_yr, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(amt) AS BIGINT) AS total,
                 CAST($insertRejected AS BOOLEAN) AS insert_rejected,
                 CAST($updateRejected AS BOOLEAN) AS update_rejected
          FROM $cat.default.ord
          GROUP BY order_yr""")
  }

  val s41CheckConstraintsSql: String =
    """WITH src AS (
         SELECT o_orderkey, CAST(floor(o_totalprice) AS BIGINT) AS amt,
                CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS order_yr
         FROM orders),
       live AS (
         SELECT order_yr,
                CASE WHEN order_yr = 1996 THEN amt + 3 ELSE amt END AS amt
         FROM src WHERE order_yr <= 1998)
       SELECT order_yr, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(amt) AS BIGINT) AS total,
              TRUE AS insert_rejected, TRUE AS update_rejected
       FROM live GROUP BY order_yr"""

  /** S42: BATCH change query (Delta `table_changes` analogue) under
    * the hash gate — the graft-changes source read as a bounded SQL
    * temp view over an explicit (fromVersion, toVersion] range. v1
    * loads 1996+1997; v2 rewrites the 1996 partition (re-pricing the
    * surviving keys, dropping every 10th) and appends 1998. The
    * changelog (1, 2] must therefore carry all three change types
    * with exact pre-images: updates (re-priced survivors), deletes
    * (the dropped keys, post-image NULL), inserts (1998). Oracle
    * reconstructs the same changelog with key-algebra. Scale:
    * snapshotDiff prunes partitions whose dirs both manifests SHARE,
    * so the query costs the changed partitions (1996 + 1998), never
    * the table — 1997 never scans. */
  def s42BatchChanges(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"),
      floor(col("o_totalprice")).cast("long").as("amt"),
      year(col("o_orderdate").cast("date")).as("order_yr"))
    val root = Files.createTempDirectory("graft-q-s42").toString
    val store = new VersionedTableStore(s, root)
    store.commitFull(o.filter(col("order_yr") < 1998), "ord",
      Seq("order_yr"))
    store.commitPartitions(
      o.filter(col("order_yr") === 1996 && col("o_orderkey") % 10 =!= 0)
        .withColumn("amt", col("amt") + 5)
        .unionByName(o.filter(col("order_yr") === 1998)),
      "ord", Seq("order_yr"))
    s.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW s42_changes
          USING `graft-changes`
          OPTIONS (root '$root', table 'ord', keys 'o_orderkey',
                   includePre 'true', fromVersion '1', toVersion '2')""")
    s.sql(
      """SELECT change_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(amt) AS BIGINT) AS post_total,
               CAST(sum(pre_amt) AS BIGINT) AS pre_total
         FROM s42_changes GROUP BY change_type""")
  }

  val s42BatchChangesSql: String =
    """WITH src AS (
         SELECT o_orderkey, CAST(floor(o_totalprice) AS BIGINT) AS amt,
                CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS order_yr
         FROM orders),
       changes AS (
         SELECT 'update' AS change_type, amt + 5 AS amt, amt AS pre_amt
         FROM src WHERE order_yr = 1996 AND o_orderkey % 10 <> 0
         UNION ALL
         -- deletes carry their last-known values in the post columns
         SELECT 'delete', amt, amt
         FROM src WHERE order_yr = 1996 AND o_orderkey % 10 = 0
         UNION ALL
         SELECT 'insert', amt, NULL
         FROM src WHERE order_yr = 1998)
       SELECT change_type, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(amt) AS BIGINT) AS post_total,
              CAST(sum(pre_amt) AS BIGINT) AS pre_total
       FROM changes GROUP BY change_type"""

  /** S43: HIDDEN PARTITIONING under the hash gate — `PARTITIONED BY
    * (days(odt))` as pure SQL: the day value lives only in directory
    * paths (the user's schema has no date column to forget in a WHERE
    * clause — Iceberg's transform model). The flow loads two
    * day-disjoint month ranges (the second commits as a partition
    * DELTA against ~90 existing day dirs), then aggregates by month
    * with a timestamp-range predicate on the SOURCE column — pruning
    * rides the manifest stats recorded from the data itself, no
    * transform awareness needed at read time. Oracle reconstructs
    * with date algebra. At 100 TB this is the event-log shape: daily
    * appends cost one day of files + a manifest, and nobody maintains
    * a derived date column by hand. */
  def s43HiddenPartition(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"),
      floor(col("o_totalprice")).cast("long").as("amt"),
      col("o_orderdate").cast("timestamp").as("odt"))
    o.createOrReplaceTempView("s43_src")
    val root = Files.createTempDirectory("graft-q-s43").toString
    val cat = "gq" + java.lang.Long.toHexString(
      org.apache.spark.unsafe.types.UTF8String.fromString(root).hashCode()
        .toLong & 0xffffffffL)
    s.conf.set(s"spark.sql.catalog.$cat", "graft.table.catalog.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(s"""CREATE TABLE $cat.default.ev
              (o_orderkey BIGINT, amt BIGINT, odt TIMESTAMP)
              PARTITIONED BY (days(odt))""")
    s.sql(s"""INSERT INTO $cat.default.ev
              SELECT o_orderkey, amt, odt FROM s43_src
              WHERE odt < TIMESTAMP '1992-04-01 00:00:00'""")
    s.sql(s"""INSERT INTO $cat.default.ev
              SELECT o_orderkey, amt, odt FROM s43_src
              WHERE odt >= TIMESTAMP '1992-04-01 00:00:00'
                AND odt < TIMESTAMP '1992-07-01 00:00:00'""")
    s.sql(
      s"""SELECT CAST(month(odt) AS INT) AS mon,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(amt) AS BIGINT) AS total
          FROM $cat.default.ev
          WHERE odt >= TIMESTAMP '1992-02-01 00:00:00'
            AND odt < TIMESTAMP '1992-06-01 00:00:00'
          GROUP BY month(odt)""")
  }

  val s43HiddenPartitionSql: String =
    """WITH src AS (
         SELECT CAST(floor(o_totalprice) AS BIGINT) AS amt,
                CAST(o_orderdate AS DATE) AS od
         FROM orders)
       SELECT CAST(month(od) AS INT) AS mon,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(amt) AS BIGINT) AS total
       FROM src
       WHERE od >= DATE '1992-02-01' AND od < DATE '1992-06-01'
       GROUP BY month(od)"""

  /** S44: ROW-LEVEL DML THROUGH HIDDEN PARTITIONING (r13) — the GDPR
    * shape on a `days(ts)` event log, all statements pure SQL:
    *
    *  1. a user-scoped DELETE whose modulo predicate is deliberately
    *     NOT metadata-translatable, forcing the GROUP-BASED REWRITE
    *     (GraftRowLevelOp) through the transform layout — executor
    *     tasks re-derive each surviving row's day dir;
    *  2. a time-scoped UPDATE whose source predicate PROJECTS through
    *     the transform (ts >= X becomes ts_day >= date(X) partition
    *     filters), so only the matched days rewrite — the pruning is
    *     spec-pinned by dir identity in HiddenPartitionSpec, the
    *     VALUES are hash-gated here;
    *  3. a per-day rollup over the surviving rows (day derived from
    *     the SOURCE column — the hidden column never surfaces).
    *
    * Money-ish sums ride DECIMAL (order-exact); day boundaries are
    * whole microseconds, so the engines' ns-vs-us precision cannot
    * flip a comparison. At 100 TB this is the compliance story:
    * delete one user from a year of days and rewrite only the files
    * that held them; re-tag last week and touch seven partitions. */
  def s44TransformDml(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(
      col("event_id"), col("ts"), col("user_id"), col("event_type"),
      col("value").cast(DecimalType(18, 6)).as("value"))
    e.createOrReplaceTempView("s44_src")
    val root = Files.createTempDirectory("graft-q-s44").toString
    val cat = "gq" + java.lang.Long.toHexString(
      org.apache.spark.unsafe.types.UTF8String.fromString(root).hashCode()
        .toLong & 0xffffffffL)
    s.conf.set(s"spark.sql.catalog.$cat", "graft.table.catalog.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(s"""CREATE TABLE $cat.default.ev
              (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
               event_type STRING, value DECIMAL(18,6))
              PARTITIONED BY (days(ts))""")
    s.sql(s"INSERT INTO $cat.default.ev SELECT * FROM s44_src")
    s.sql(s"DELETE FROM $cat.default.ev WHERE user_id % 97 = 3")
    s.sql(s"""UPDATE $cat.default.ev SET event_type = 'redacted'
              WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'""")
    s.sql(
      s"""SELECT CAST(ts AS DATE) AS day, event_type,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(count(DISTINCT user_id) AS BIGINT) AS users,
                 CAST(sum(CAST(value * 1000000 AS BIGINT)) AS BIGINT)
                   AS val_micros
          FROM $cat.default.ev
          GROUP BY CAST(ts AS DATE), event_type""")
  }

  // r14 de-float (VERDICT r13 #3): the DECIMAL(18,6) column stays (it
  // is the transform-DML subject under test) but the OUTPUT is exact
  // integer micros — value*1e6 is integer-valued by construction, so
  // truncating and rounding casts agree in both engines. The sibling
  // s44d gate goes further and stores BIGINT micros from the start.
  val s44TransformDmlSql: String =
    """WITH e AS (
         SELECT event_id, ts, user_id, event_type,
                CAST(value AS DECIMAL(18,6)) AS value
         FROM events),
       live AS (SELECT * FROM e WHERE user_id % 97 <> 3),
       upd AS (
         SELECT CAST(ts AS DATE) AS day, user_id, value,
                CASE WHEN ts >= TIMESTAMP '2024-01-25 00:00:00'
                     THEN 'redacted' ELSE event_type END AS event_type
         FROM live)
       SELECT day, event_type, CAST(count(*) AS BIGINT) AS n,
              CAST(count(DISTINCT user_id) AS BIGINT) AS users,
              CAST(sum(CAST(value * 1000000 AS BIGINT)) AS BIGINT)
                AS val_micros
       FROM upd GROUP BY day, event_type"""

  /** S45: BRANCH-SCOPED SQL ROW-LEVEL DML (r13) — s36's lifecycle
    * with every mutating statement as pure SQL under
    * `spark.graft.branch`: a takedown DELETE and a flat-amount
    * re-price UPDATE execute against the BRANCH (the DELETE routes
    * through the translatable copy-on-write, the UPDATE through the
    * executor-staged group rewrite committed onto the branch
    * lineage), main moves independently, and `CALL merge_branch` /
    * `drop_branch` land and retire the branch — fork to merge, all
    * SQL. The conf is set/unset around the eagerly-executing DML
    * statements only (the gate-authoring rule: the driver's
    * single-session suite must never plan later queries under it).
    * Isolation rides the s29 which-half discipline: a main-head
    * count compare guards the row count. The UPDATE adds a flat
    * 500.0 (binary-exact double arithmetic). */
  def s45BranchSqlDml(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"),
      col("o_totalprice"),
      year(col("o_orderdate").cast("date")).as("order_yr"))
    val root = Files.createTempDirectory("graft-q-s45").toString
    val store = new VersionedTableStore(s, root)
    store.commitFull(o.filter(col("order_yr") <= 1997), "ord_q",
      Seq("order_yr"))
    store.createBranch("ord_q", "fix")
    val cat = "gq" + java.lang.Long.toHexString(
      org.apache.spark.unsafe.types.UTF8String.fromString(root).hashCode()
        .toLong & 0xffffffffL)
    s.conf.set(s"spark.sql.catalog.$cat", "graft.table.catalog.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.conf.set("spark.graft.branch", "fix")
    try {
      s.sql(s"""DELETE FROM $cat.default.ord_q
                WHERE order_yr = 1996 AND o_totalprice > 250000.0D""")
      s.sql(s"""UPDATE $cat.default.ord_q
                SET o_totalprice = o_totalprice + 500.0D
                WHERE order_yr = 1995 AND o_totalprice < 60000.0D""")
    } finally s.conf.unset("spark.graft.branch")
    // isolation probe: the branch DML must be invisible on main
    val premerge1996 = store.read("ord_q")
      .filter(col("order_yr") === 1996).count()
    val orig1996 = o.filter(col("order_yr") === 1996).count()
    // main moves independently (disjoint year), then SQL merge + drop
    store.commitPartitions(o.filter(col("order_yr") === 1998),
      "ord_q", Seq("order_yr"))
    s.sql(s"CALL $cat.system.merge_branch('ord_q', 'fix')")
    s.sql(s"CALL $cat.system.drop_branch('ord_q', 'fix')")
    s.sql(
      s"""SELECT order_yr, CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(o_totalprice AS DECIMAL(18,2))) AS price
          FROM $cat.default.ord_q GROUP BY order_yr""")
      // row-count guard (s29 discipline): isolation breach => empty
      .filter(lit(premerge1996 == orig1996))
  }

  val s45BranchSqlDmlSql: String =
    """WITH src AS (
         SELECT o_orderkey, o_totalprice,
                CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS order_yr
         FROM orders),
       branch_side AS (
         SELECT o_orderkey,
                CASE WHEN order_yr = 1995 AND o_totalprice < 60000.0
                     THEN o_totalprice + 500.0
                     ELSE o_totalprice END AS o_totalprice,
                order_yr
         FROM src
         WHERE order_yr <= 1997
           AND NOT (order_yr = 1996 AND o_totalprice > 250000.0)),
       merged AS (
         SELECT * FROM branch_side
         UNION ALL
         SELECT o_orderkey, o_totalprice, order_yr
         FROM src WHERE order_yr = 1998)
       SELECT order_yr, CAST(count(*) AS BIGINT) AS n,
              sum(CAST(o_totalprice AS DECIMAL(18,2))) AS price
       FROM merged GROUP BY order_yr"""

  /** S18: incremental aggregate maintenance -- the v1 yearly rollup
    * updated to the v2 state by applying the snapshot changelog
    * (IncrementalAgg over snapshotDiff pre-images), never rescanning
    * the base. The oracle recomputes the v2 rollup from scratch: the
    * maintained aggregate must hash-match it exactly. Money sums ride
    * DECIMAL so the deltas are order-exact. */
  def s18IncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"),
      col("o_orderdate").cast("date").as("order_date"),
      col("o_totalprice"), col("o_orderstatus"))
      .withColumn("order_yr", year(col("order_date")))
    val target = o.filter(col("order_date") < lit("1997-01-01").cast("date"))
    val source = o.filter(col("order_date") >= lit("1996-07-01").cast("date") &&
        col("order_date") < lit("1997-07-01").cast("date"))
      .withColumn("o_totalprice", round(col("o_totalprice") * 1.1, 2))
      .withColumn("o_orderstatus", lit("R"))
    val store = new VersionedTableStore(s,
      Files.createTempDirectory("graft-q-s18").toString)
    UpsertWriter.upsertAll(store, "orders_v", target, Seq("o_orderkey"),
      partitionBy = Seq("order_yr"))
    UpsertWriter.upsertAll(store, "orders_v", source, Seq("o_orderkey"),
      partitionBy = Seq("order_yr"))
    val agg1 = store.readVersion("orders_v", 1)
      .groupBy(col("order_yr"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(D)).as("o_totalprice"))
    val diff = store.snapshotDiff("orders_v", 1, 2, Seq("o_orderkey"),
        includePre = true)
      .withColumn("o_totalprice", col("o_totalprice").cast(D))
      .withColumn("pre_o_totalprice", col("pre_o_totalprice").cast(D))
    val delta = IncrementalAgg.sumCountDelta(diff, Seq("order_yr"),
      Seq("o_totalprice"))
    IncrementalAgg.applyTo(agg1, delta, Seq("order_yr"), Seq("o_totalprice"),
        "n_orders")
      .select(col("order_yr"), col("n_orders"),
        col("o_totalprice").cast("double").as("total_price"))
  }

  /** S26: min/max incremental maintenance over the same v1->v2
    * scenario as S18 -- the NON-invertible aggregates: the v1 per-year
    * (min, max) of o_totalprice maintained to the v2 state through
    * [[IncrementalAgg.minMaxMaintain]] (least/greatest folds where no
    * extreme was removed; semi-join-pruned base recompute where one
    * was). The 1.1x re-price of every 1996H2 order removes the old
    * extremes of the touched years, so both paths execute. Oracle
    * recomputes the v2 rollup from scratch. Min/max compare values
    * (never accumulate), so raw doubles are already engine-exact. */
  def s26IncrementalMinmax(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"),
      col("o_orderdate").cast("date").as("order_date"),
      col("o_totalprice"), col("o_orderstatus"))
      .withColumn("order_yr", year(col("order_date")))
    val target = o.filter(col("order_date") < lit("1997-01-01").cast("date"))
    val source = o.filter(col("order_date") >= lit("1996-07-01").cast("date") &&
        col("order_date") < lit("1997-07-01").cast("date"))
      .withColumn("o_totalprice", round(col("o_totalprice") * 1.1, 2))
      .withColumn("o_orderstatus", lit("R"))
    val store = new VersionedTableStore(s,
      Files.createTempDirectory("graft-q-s26").toString)
    UpsertWriter.upsertAll(store, "orders_v", target, Seq("o_orderkey"),
      partitionBy = Seq("order_yr"))
    UpsertWriter.upsertAll(store, "orders_v", source, Seq("o_orderkey"),
      partitionBy = Seq("order_yr"))
    val agg1 = store.readVersion("orders_v", 1)
      .groupBy(col("order_yr"))
      .agg(min(col("o_totalprice")).as("min_o_totalprice"),
        max(col("o_totalprice")).as("max_o_totalprice"))
    val diff = store.snapshotDiff("orders_v", 1, 2, Seq("o_orderkey"),
      includePre = true)
    IncrementalAgg.minMaxMaintain(store.readVersion("orders_v", 2),
        agg1, diff, Seq("order_yr"), Seq("o_totalprice"))
      .select(col("order_yr"),
        col("min_o_totalprice").cast("double").as("min_price"),
        col("max_o_totalprice").cast("double").as("max_price"))
  }

  val s26IncrementalMinmaxSql: String =
    """WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
                         o_totalprice, o_orderstatus FROM orders),
       t AS (SELECT *, CAST(year(order_date) AS INT) AS order_yr
             FROM o WHERE order_date < DATE '1997-01-01'),
       src AS (SELECT o_orderkey, order_date,
                      round(o_totalprice * 1.1, 2) AS o_totalprice,
                      'R' AS o_orderstatus,
                      CAST(year(order_date) AS INT) AS order_yr
               FROM o WHERE order_date >= DATE '1996-07-01'
                 AND order_date < DATE '1997-07-01'),
       v2 AS (SELECT * FROM t
              WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
              UNION ALL SELECT * FROM src)
       SELECT order_yr, CAST(min(o_totalprice) AS DOUBLE) AS min_price,
              CAST(max(o_totalprice) AS DOUBLE) AS max_price
       FROM v2 GROUP BY 1"""

  val s18IncrementalAggSql: String =
    """WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
                         o_totalprice, o_orderstatus FROM orders),
       t AS (SELECT *, CAST(year(order_date) AS INT) AS order_yr
             FROM o WHERE order_date < DATE '1997-01-01'),
       src AS (SELECT o_orderkey, order_date,
                      round(o_totalprice * 1.1, 2) AS o_totalprice,
                      'R' AS o_orderstatus,
                      CAST(year(order_date) AS INT) AS order_yr
               FROM o WHERE order_date >= DATE '1996-07-01'
                 AND order_date < DATE '1997-07-01'),
       v2 AS (SELECT * FROM t
              WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
              UNION ALL SELECT * FROM src)
       SELECT order_yr, count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
       FROM v2 GROUP BY 1"""

  /** Q1-Q8: the validation rule engine over lineitem, its per-rule
    * results as the query output (single-scan evaluation). */
  def qValidationSuite(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val results = Validator.run(li, Seq(
      NotNull("l_shipdate"),
      Unique(Seq("l_orderkey", "l_linenumber")),
      RowCountBetween(1, 100000000L),
      ValuesBetween("l_quantity", 1, 50),
      ValuesBetween("l_discount", 0.0, 0.05),
      PairGreater("l_extendedprice", "l_discount"),
      MatchesRegex("l_returnflag", "^[ANR]$"),
      // deliberately discriminating: counts the F rows as violations,
      // so the suite output exercises a FAILING rule row too
      MatchesPrefix("l_linestatus", "O")))
    import s.implicits._
    results.toDF()
  }

  /** Bench twin of [[qValidationSuite]]: the same suite with the exact
    * compound-Unique swapped for [[UniqueApprox]] -- what production
    * monitoring runs at 100 TB (no Expand, no full-key shuffle; see
    * the rule's scaladoc). The exact suite stays the oracle gate. */
  def qValidationSuiteApprox(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val results = Validator.run(li, Seq(
      NotNull("l_shipdate"),
      UniqueApprox(Seq("l_orderkey", "l_linenumber")),
      RowCountBetween(1, 100000000L),
      ValuesBetween("l_quantity", 1, 50),
      ValuesBetween("l_discount", 0.0, 0.05),
      PairGreater("l_extendedprice", "l_discount"),
      MatchesRegex("l_returnflag", "^[ANR]$"),
      MatchesPrefix("l_linestatus", "O")))
    import s.implicits._
    results.toDF()
  }

  val qValidationSuiteSql: String =
    """SELECT 'not_null' AS rule, 'l_shipdate' AS detail,
         count(CASE WHEN l_shipdate IS NULL THEN 1 END) = 0 AS passed,
         count(CASE WHEN l_shipdate IS NULL THEN 1 END) AS violations,
         count(*) AS "totalRows" FROM lineitem
       UNION ALL
       SELECT 'compound_unique', 'l_orderkey,l_linenumber',
         count(*) - count(DISTINCT (l_orderkey, l_linenumber)) = 0,
         count(*) - count(DISTINCT (l_orderkey, l_linenumber)), count(*)
       FROM lineitem
       UNION ALL
       SELECT 'row_count_between', '[1,100000000]',
         count(*) BETWEEN 1 AND 100000000,
         CASE WHEN count(*) BETWEEN 1 AND 100000000 THEN 0 ELSE 1 END, count(*)
       FROM lineitem
       UNION ALL
       SELECT 'values_between', 'l_quantity in [1.0,50.0]',
         count(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 END) = 0,
         count(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 END), count(*)
       FROM lineitem
       UNION ALL
       SELECT 'values_between', 'l_discount in [0.0,0.05]',
         count(CASE WHEN l_discount < 0.0 OR l_discount > 0.05 THEN 1 END) = 0,
         count(CASE WHEN l_discount < 0.0 OR l_discount > 0.05 THEN 1 END), count(*)
       FROM lineitem
       UNION ALL
       SELECT 'pair_a_ge_b', 'l_extendedprice vs l_discount',
         count(CASE WHEN l_extendedprice < l_discount THEN 1 END) = 0,
         count(CASE WHEN l_extendedprice < l_discount THEN 1 END), count(*)
       FROM lineitem
       UNION ALL
       SELECT 'matches_regex', 'l_returnflag ~ ^[ANR]$',
         count(CASE WHEN l_returnflag IS NOT NULL
                     AND NOT regexp_matches(l_returnflag, '^[ANR]$') THEN 1 END) = 0,
         count(CASE WHEN l_returnflag IS NOT NULL
                     AND NOT regexp_matches(l_returnflag, '^[ANR]$') THEN 1 END), count(*)
       FROM lineitem
       UNION ALL
       SELECT 'matches_prefix', 'l_linestatus LIKE ''O%''',
         count(CASE WHEN l_linestatus IS NOT NULL
                     AND l_linestatus NOT LIKE 'O%' THEN 1 END) = 0,
         count(CASE WHEN l_linestatus IS NOT NULL
                     AND l_linestatus NOT LIKE 'O%' THEN 1 END), count(*)
       FROM lineitem"""

  /** F13+F14: current-period batch validation -- the suite runs over
    * ONLY the LIKE-prefix date batch, the reference's checkpoint
    * shape (`WHERE processing_date LIKE '{d}%'`,
    * nasdaq_stock_pipeline_with_gx.py:161; weekly/monthly partition
    * batches, weekly_agg_validation.yml:11-13). The StartsWith
    * predicate pushes to the scan, so at scale the validation reads
    * one period, not the table. */
  def qValidationPeriod(s: SparkSession, dir: String): DataFrame = {
    val batch = Tables.orders(s, dir)
      .filter(col("o_orderdate").cast("string").like("1995-07%"))
    import s.implicits._
    Validator.run(batch, Seq(
      NotNull("o_orderkey"),
      Unique(Seq("o_orderkey")),
      RowCountBetween(1, 100000000L),
      ValuesBetween("o_totalprice", 0.0, 1e7))).toDF()
  }

  val qValidationPeriodSql: String =
    """WITH b AS (SELECT * FROM orders
                  WHERE CAST(o_orderdate AS VARCHAR) LIKE '1995-07%')
       SELECT 'not_null' AS rule, 'o_orderkey' AS detail,
         count(CASE WHEN o_orderkey IS NULL THEN 1 END) = 0 AS passed,
         count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS violations,
         count(*) AS "totalRows" FROM b
       UNION ALL
       SELECT 'unique', 'o_orderkey',
         count(*) - count(DISTINCT o_orderkey) = 0,
         count(*) - count(DISTINCT o_orderkey), count(*) FROM b
       UNION ALL
       SELECT 'row_count_between', '[1,100000000]',
         count(*) BETWEEN 1 AND 100000000,
         CASE WHEN count(*) BETWEEN 1 AND 100000000 THEN 0 ELSE 1 END, count(*)
       FROM b
       UNION ALL
       SELECT 'values_between', 'o_totalprice in [0.0,1.0E7]',
         count(CASE WHEN o_totalprice < 0.0 OR o_totalprice > 1e7 THEN 1 END) = 0,
         count(CASE WHEN o_totalprice < 0.0 OR o_totalprice > 1e7 THEN 1 END), count(*)
       FROM b"""

  /** Validation-run HISTORY: two dated runs of a suite land in the
    * `validation_results` table (partitioned by run_id) and the full
    * history is read back -- the GX checkpoint-run-history surface
    * (docker/great_expectations/checkpoints/, uploads results +
    * data docs per run). The oracle recomputes both runs' expected
    * rule rows, so the gate proves persistence is lossless, not just
    * that rules evaluate. */
  def qValidationHistory(s: SparkSession, dir: String): DataFrame = {
    val store = new TableStore(s,
      Files.createTempDirectory("graft-q-vhist").toString)
    val log = new ValidationLog(store)
    def batch(month: String) = Tables.orders(s, dir)
      .filter(col("o_orderdate").cast("string").like(s"$month%"))
    val rules = Seq(NotNull("o_orderkey"), Unique(Seq("o_orderkey")),
      ValuesBetween("o_totalprice", 0.0, 1e7))
    log.record(ValidationRun("daily-1995-07", "1995-08-01T00:00:00Z"),
      "1995-07", Seq("orders_batch" -> Validator.run(batch("1995-07"), rules)))
    log.record(ValidationRun("daily-1995-08", "1995-09-01T00:00:00Z"),
      "1995-08", Seq("orders_batch" -> Validator.run(batch("1995-08"), rules)))
    log.history
  }

  val qValidationHistorySql: String =
    """WITH b7 AS (SELECT * FROM orders
                   WHERE CAST(o_orderdate AS VARCHAR) LIKE '1995-07%'),
       b8 AS (SELECT * FROM orders
              WHERE CAST(o_orderdate AS VARCHAR) LIKE '1995-08%')
       SELECT '1995-07' AS processing_date,
              '1995-08-01T00:00:00Z' AS validated_at,
              'orders_batch' AS suite, 'not_null' AS rule,
              'o_orderkey' AS detail,
              count(CASE WHEN o_orderkey IS NULL THEN 1 END) = 0 AS passed,
              count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS violations,
              count(*) AS total_rows, 'daily-1995-07' AS run_id FROM b7
       UNION ALL
       SELECT '1995-07', '1995-08-01T00:00:00Z', 'orders_batch', 'unique',
              'o_orderkey',
              count(*) - count(DISTINCT o_orderkey) = 0,
              count(*) - count(DISTINCT o_orderkey), count(*),
              'daily-1995-07' FROM b7
       UNION ALL
       SELECT '1995-07', '1995-08-01T00:00:00Z', 'orders_batch',
              'values_between', 'o_totalprice in [0.0,1.0E7]',
              count(CASE WHEN o_totalprice < 0.0 OR o_totalprice > 1e7 THEN 1 END) = 0,
              count(CASE WHEN o_totalprice < 0.0 OR o_totalprice > 1e7 THEN 1 END),
              count(*), 'daily-1995-07' FROM b7
       UNION ALL
       SELECT '1995-08', '1995-09-01T00:00:00Z', 'orders_batch', 'not_null',
              'o_orderkey',
              count(CASE WHEN o_orderkey IS NULL THEN 1 END) = 0,
              count(CASE WHEN o_orderkey IS NULL THEN 1 END),
              count(*), 'daily-1995-08' FROM b8
       UNION ALL
       SELECT '1995-08', '1995-09-01T00:00:00Z', 'orders_batch', 'unique',
              'o_orderkey',
              count(*) - count(DISTINCT o_orderkey) = 0,
              count(*) - count(DISTINCT o_orderkey), count(*),
              'daily-1995-08' FROM b8
       UNION ALL
       SELECT '1995-08', '1995-09-01T00:00:00Z', 'orders_batch',
              'values_between', 'o_totalprice in [0.0,1.0E7]',
              count(CASE WHEN o_totalprice < 0.0 OR o_totalprice > 1e7 THEN 1 END) = 0,
              count(CASE WHEN o_totalprice < 0.0 OR o_totalprice > 1e7 THEN 1 END),
              count(*), 'daily-1995-08' FROM b8"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a2_monthly_rollup" -> (a2MonthlyRollup _),
    "s7_merge_upsert" -> (s7MergeUpsert _),
    "s8_merge_selective" -> (s8MergeSelective _),
    "s19_merge_delete" -> (s19MergeDelete _),
    "s20_merge_mixed" -> (s20MergeMixed _),
    "s24_merge_by_source" -> (s24MergeBySource _),
    "s25_merge_insert_cols" -> (s25MergeInsertCols _),
    "s21_delete_where" -> (s21DeleteWhere _),
    "s22_update_where" -> (s22UpdateWhere _),
    "s23_cluster_z" -> (s23ClusterZ _),
    "s16_versioned_rollback" -> (s16VersionedRollback _),
    "s17_snapshot_diff" -> (s17SnapshotDiff _),
    "s27_changelog_walk" -> (s27ChangelogWalk _),
    "s28_catalog_timetravel" -> (s28CatalogTimetravel _),
    "s29_catalog_dml" -> (s29CatalogDml _),
    "s30_catalog_update_merge" -> (s30CatalogUpdateMerge _),
    "s31_catalog_spj" -> (s31CatalogSpj _),
    "s32_catalog_agg_pushdown" -> (s32CatalogAggPushdown _),
    "s33_wap_audit" -> (s33WapAudit _),
    "s34_mor_delete" -> (s34MorDelete _),
    "s35_branch_merge" -> (s35BranchMerge _),
    "s36_branch_dml" -> (s36BranchDml _),
    "s37_cherry_pick" -> (s37CherryPick _),
    "s38_bloom_point" -> (s38BloomPoint _),
    "s39_rename_widen" -> (s39RenameWiden _),
    "s40_column_defaults" -> (s40ColumnDefaults _),
    "s41_check_constraints" -> (s41CheckConstraints _),
    "s42_batch_changes" -> (s42BatchChanges _),
    "s43_hidden_partition" -> (s43HiddenPartition _),
    "s44_transform_dml" -> (s44TransformDml _),
    "s45_branch_sql_dml" -> (s45BranchSqlDml _),
    "s18_incremental_agg" -> (s18IncrementalAgg _),
    "s26_incremental_minmax" -> (s26IncrementalMinmax _),
    "q_validation_suite" -> (qValidationSuite _),
    "q_validation_period" -> (qValidationPeriod _),
    "q_validation_history" -> (qValidationHistory _),
  )

  /** Bench measures the production sketch suite; the exact suite
    * stays the oracle gate (see SparkEntry.benchOverrides). */
  val benchOverrides: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_validation_suite" -> (qValidationSuiteApprox _),
  )

  val oracleSql: Map[String, String] = Map(
    "a2_monthly_rollup" -> a2MonthlyRollupSql,
    "s7_merge_upsert" -> s7MergeUpsertSql,
    "s8_merge_selective" -> s8MergeSelectiveSql,
    "s19_merge_delete" -> s19MergeDeleteSql,
    "s20_merge_mixed" -> s20MergeMixedSql,
    "s24_merge_by_source" -> s24MergeBySourceSql,
    "s25_merge_insert_cols" -> s25MergeInsertColsSql,
    "s21_delete_where" -> s21DeleteWhereSql,
    "s22_update_where" -> s22UpdateWhereSql,
    "s23_cluster_z" -> s23ClusterZSql,
    "s16_versioned_rollback" -> s16VersionedRollbackSql,
    "s17_snapshot_diff" -> s17SnapshotDiffSql,
    "s27_changelog_walk" -> s27ChangelogWalkSql,
    "s28_catalog_timetravel" -> s28CatalogTimetravelSql,
    "s29_catalog_dml" -> s29CatalogDmlSql,
    "s30_catalog_update_merge" -> s30CatalogUpdateMergeSql,
    "s31_catalog_spj" -> s31CatalogSpjSql,
    "s32_catalog_agg_pushdown" -> s32CatalogAggPushdownSql,
    "s33_wap_audit" -> s33WapAuditSql,
    "s34_mor_delete" -> s34MorDeleteSql,
    "s35_branch_merge" -> s35BranchMergeSql,
    "s36_branch_dml" -> s36BranchDmlSql,
    "s37_cherry_pick" -> s37CherryPickSql,
    "s38_bloom_point" -> s38BloomPointSql,
    "s39_rename_widen" -> s39RenameWidenSql,
    "s40_column_defaults" -> s40ColumnDefaultsSql,
    "s41_check_constraints" -> s41CheckConstraintsSql,
    "s42_batch_changes" -> s42BatchChangesSql,
    "s43_hidden_partition" -> s43HiddenPartitionSql,
    "s44_transform_dml" -> s44TransformDmlSql,
    "s45_branch_sql_dml" -> s45BranchSqlDmlSql,
    "s18_incremental_agg" -> s18IncrementalAggSql,
    "s26_incremental_minmax" -> s26IncrementalMinmaxSql,
    "q_validation_suite" -> qValidationSuiteSql,
    "q_validation_period" -> qValidationPeriodSql,
    "q_validation_history" -> qValidationHistorySql,
  )
}
