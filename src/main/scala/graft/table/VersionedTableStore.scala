package graft.table

import java.util.UUID

import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Thrown when a commit loses the manifest compare-and-swap: another
  * writer committed the same version first. The losing writer's data
  * files are cleaned up; the table is exactly the winner's commit. */
class ConcurrentWriteException(msg: String) extends RuntimeException(msg)

/** Thrown by [[VersionedTableStore.mergeBranch]] when the branch and
  * main both changed the same partitions (or both diverged the schema
  * / pending-delete set) since the fork — the caller must rebase
  * (drop + re-fork + re-apply) or resolve by hand. */
class BranchMergeConflict(table: String, branch: String,
    val conflicts: Seq[String]) extends RuntimeException(
  s"$table: merge of branch `$branch` conflicts on " +
    s"${conflicts.take(8).mkString(", ")}" +
    (if (conflicts.size > 8) s" (+${conflicts.size - 8} more)" else "") +
    " — both lineages changed these since the fork")

/** A write violated an enforced CHECK constraint: the commit is
  * rejected BEFORE the manifest CAS and the staged files are deleted
  * — no snapshot ever serves a violating row. Carries one sample row
  * so the producing pipeline can find its bug. */
class CheckViolation(table: String, constraint: String, sql: String,
    sample: String) extends RuntimeException(
  s"$table: CHECK `$constraint` ($sql) rejected a write; sample " +
    s"violating row: $sample")

/** Versioned, append-only table store -- the engine's analogue of the
  * reference's Iceberg format-version-2 warehouse (snapshot commits +
  * rollback, build_stock_fact_table.py:98-100; optimistic commit
  * locking, which the reference leans on via Glue's
  * max_concurrent_runs bound, terraform/modules/glue/main.tf:137).
  *
  * Layout under `root/name`:
  * {{{
  *   _data/v3-ab12cd34/...   immutable parquet dirs, never rewritten
  *   _commits/c00000003      manifest: version -> (partition -> dir)
  * }}}
  *
  * Commit protocol (optimistic, lock-free):
  *  1. allocate the next version: 1 + the highest commit-file OR
  *     tombstone number (live, debris, or expired -- version numbers
  *     are NEVER reused, see below);
  *  2. write new data files to a fresh uuid-suffixed dir under
  *     `_data/` -- concurrent writers never collide on data paths;
  *  3. compare-and-swap the pointer: stage the COMPLETE manifest
  *     under an invisible `.tmp-c{v}-*` name, then publish it as
  *     `c{v}` with an atomic no-overwrite primitive (hard link on
  *     local FS -- POSIX link(2) fails EEXIST atomically; rename on
  *     HDFS-like stores, where it is atomic and refuses an existing
  *     destination; an object store would need a conditional put /
  *     LogStore coordinator here). Exactly one writer wins; the
  *     loser gets [[ConcurrentWriteException]] and its orphaned data
  *     dir is removed. Because the payload is staged before publish,
  *     a VISIBLE `c{v}` is always complete -- no reader can
  *     misclassify an in-flight commit as dead debris.
  * A crash between (2) and (3) leaves an unreferenced data dir and
  * the OLD pointer intact; a crash mid-(3) leaves only an invisible
  * dot-temp (reclaimed by expiry once its version falls below the
  * floor). Truncated `c{v}` files can therefore only be legacy or
  * foreign debris; readers still skip them (manifests must end with
  * their `end` marker line to be live).
  *
  * Version numbers are burned, never reused: a dead writer's debris
  * stays in place (no writer ever deletes or moves a commit-path
  * file another writer might own, which would reopen a
  * delete/recreate race) and the allocator simply skips past it.
  * Expiry reclaims debris once it falls below the floor.
  *
  * Expiry is floor-monotonic: [[expireSnapshots]] RENAMES expired
  * commit files to tombstones (`x{v}`, atomic) rather than deleting
  * them, so the highest tombstone is a persistent high-water mark.
  * [[casManifest]] rejects any version <= that floor, and after a
  * successful create verify-reads its own file and re-checks the
  * floor -- a writer whose staging window spanned a whole retention
  * cycle gets [[ConcurrentWriteException]], never a silently
  * invisible commit.
  *
  * Partition-local commits ([[overwritePartitions]]) write ONLY the
  * touched partitions' files; the new manifest maps untouched
  * partitions to their existing immutable dirs. At 100 TB a daily
  * MERGE therefore commits one day of files plus a manifest -- the
  * same data-sharing shape as Iceberg snapshots -- while every prior
  * snapshot stays readable ([[readVersion]]) until expired
  * ([[expireSnapshots]], auto-run on commit keeping
  * `keepSnapshots`).
  */
/** @param statsFor per-table manifest-stats columns for writes that
  *   arrive through the [[WarehouseWrites]] interface (MERGE/pipeline
  *   paths, which have no statsColumns argument of their own) --
  *   direct commitFull/commitPartitions callers pass theirs
  *   explicitly. Default: no stats. */
class VersionedTableStore(val spark: SparkSession, val root: String,
    val keepSnapshots: Int = 10,
    val statsFor: String => Seq[String] = _ => Nil) extends WarehouseWrites {
  require(keepSnapshots >= 1, "keepSnapshots must be >= 1")

  // Column-identity reads need Spark's field-ID matching switched on
  // (default off). Set once at store construction — constant `true`,
  // never toggled back, and it only changes behavior for read schemas
  // that CARRY ID metadata, which only this store produces — so a
  // gated query creating a store mid-suite does not perturb how any
  // other query plans (the s31/s32 conf-hermeticity lesson).
  spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

  private def fs =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Commit-time clock, injectable for deterministic AS-OF specs
    * (the PipelineRunner frozen-clock discipline). */
  private[table] var clockMs: () => Long = () => System.currentTimeMillis()

  def path(name: String): String = s"$root/$name"
  private def commitsPath(name: String) = new Path(s"${path(name)}/_commits")
  private def dataRoot(name: String) = s"${path(name)}/_data"

  /** One snapshot: the table version, its partition columns, the
    * (partition rel-path -> immutable data dir) mapping (rel-path "."
    * for unpartitioned tables), and the table schema as DDL -- so an
    * empty commit (zero-row daily batch) stays readable with the
    * right columns instead of bricking the head. */
  /** `stats`: optional per-partition column min/max -- (rel, column,
    * min, max) as strings -- the Iceberg manifest-stats analogue.
    * Conservative by construction: a rel with no stats row for a
    * column is never pruned. */
  /** `parent` = the head version the writer OBSERVED when staging
    * (stamped by casManifest from its observedParent argument; -1 in
    * pre-r7 manifests where it was not recorded). The durable lineage
    * record: [[snapshots]] checks each live version's parent against
    * its predecessor, which is what makes the optimistic protocol's
    * residual triple-race window (a below-head commit surviving a
    * doubly-raced swap) DETECTABLE after the fact instead of
    * silent. */
  /** `fieldIds`: the column-identity ledger — (logical name, stable
    * parquet field ID) per schema column; see [[FieldIds]]. Empty on
    * pre-identity tables (assigned by the next full rewrite). A
    * rename rewrites the NAME half only; the ID half never changes
    * for a live column and is never reused. */
  /** `columnDefaults`: (column, exists-default SQL, current-default
    * SQL) — see [[ColumnDefaults]]. `exists` is frozen at ADD COLUMN
    * time (what pre-add files read); `current` fills INSERTs that
    * omit the column ("" = none). */
  /** `checks`: enforced CHECK constraints — (name, predicate SQL).
    * Every write choke point scans ITS OWN newly-written files for
    * violations before the manifest CAS (SQL semantics: a row
    * violates only when the predicate is FALSE; NULL passes), so no
    * commit can land violating rows regardless of the path that
    * produced them. */
  private[table] case class Manifest(version: Long, partitionBy: Seq[String],
      mapping: Seq[(String, String)], schemaDDL: String = "",
      stats: Seq[(String, String, String, String)] = Nil,
      parent: Long = -1L,
      committedAtMs: Long = -1L,
      wap: String = "",
      txn: String = "",
      deletes: Seq[(String, String)] = Nil,
      branch: String = "",
      fieldIds: Seq[(String, Int)] = Nil,
      columnDefaults: Seq[(String, String, String)] = Nil,
      checks: Seq[(String, String)] = Nil)

  private val Header = "graft-manifest-v1"
  private val End = "end"

  /** Stat fields are DATA-derived strings (min/max of arbitrary
    * columns, rels built from raw partition values): a value holding
    * a tab would shift fields, a newline would let row content inject
    * whole manifest lines (`dir\t...`). Percent-encode exactly the
    * delimiter alphabet before serializing; identity for the integer
    * stats old manifests carry, so decode is backward-compatible. */
  private def enc(s: String): String =
    s.replace("%", "%25").replace("\t", "%09")
      .replace("\n", "%0A").replace("\r", "%0D")

  private def dec(s: String): String =
    s.replace("%0D", "\r").replace("%0A", "\n")
      .replace("%09", "\t").replace("%25", "%")

  private def serialize(m: Manifest): String = {
    val entries = m.mapping.sortBy(_._1)
      .map { case (rel, d) => s"dir\t$d\t$rel" }
    val statEntries = m.stats.sortBy(s => (s._1, s._2))
      .map { case (rel, c, mn, mx) =>
        s"stat\t${enc(c)}\t${enc(mn)}\t${enc(mx)}\t${enc(rel)}" }
    val delEntries = m.deletes.map { case (d, cols) =>
      s"del\t$d\t${enc(cols)}" }
    val fidEntries = m.fieldIds.map { case (n, id) =>
      s"fid\t${enc(n)}\t$id" }
    val dfltEntries = m.columnDefaults.map { case (n, ex, cur) =>
      s"dflt\t${enc(n)}\t${enc(ex)}\t${enc(cur)}" }
    val chkEntries = m.checks.map { case (n, sql) =>
      s"chk\t${enc(n)}\t${enc(sql)}" }
    (Seq(Header, s"version=${m.version}",
      s"parent=${m.parent}",
      s"committedAt=${m.committedAtMs}",
      s"wap=${m.wap}",
      s"txn=${m.txn}",
      s"branch=${m.branch}",
      s"partitionBy=${m.partitionBy.mkString(",")}",
      s"schema=${m.schemaDDL}") ++ entries ++ statEntries ++ delEntries ++
      fidEntries ++ dfltEntries ++ chkEntries :+ End)
      .mkString("\n")
  }

  /** None for truncated or foreign files: a manifest is live only if
    * it parses AND carries its trailing `end` marker (a writer that
    * died mid-write left no committed version). */
  private def parse(text: String): Option[Manifest] = {
    val lines = text.split("\n", -1).toSeq
    if (lines.headOption.contains(Header) && lines.lastOption.contains(End)) {
      val fields = lines.collect {
        case l if l.contains("=") && !l.startsWith("dir\t") =>
          val Array(k, v) = l.split("=", 2); k -> v
      }.toMap
      val mapping = lines.collect {
        case l if l.startsWith("dir\t") =>
          val Array(_, d, rel) = l.split("\t", 3); rel -> d
      }
      val stats = lines.collect {
        case l if l.startsWith("stat\t") =>
          val Array(_, c, mn, mx, rel) = l.split("\t", 5)
          (dec(rel), dec(c), dec(mn), dec(mx))
      }
      val dels = lines.collect {
        case l if l.startsWith("del\t") =>
          val Array(_, d, cols) = l.split("\t", 3)
          (d, dec(cols))
      }
      // absent on pre-identity manifests: empty ledger (back-compat)
      val fids = lines.collect {
        case l if l.startsWith("fid\t") =>
          val Array(_, n, id) = l.split("\t", 3)
          (dec(n), id.toInt)
      }
      val dflts = lines.collect {
        case l if l.startsWith("dflt\t") =>
          val Array(_, n, ex, cur) = l.split("\t", 4)
          (dec(n), dec(ex), dec(cur))
      }
      val chks = lines.collect {
        case l if l.startsWith("chk\t") =>
          val Array(_, n, sql) = l.split("\t", 3)
          (dec(n), dec(sql))
      }
      val pby = fields("partitionBy") match {
        case "" => Nil; case s => s.split(",").toSeq
      }
      Some(Manifest(fields("version").toLong, pby, mapping,
        fields.getOrElse("schema", ""), stats,
        fields.getOrElse("parent", "-1").toLong,
        fields.getOrElse("committedAt", "-1").toLong,
        fields.getOrElse("wap", ""),
        fields.getOrElse("txn", ""),
        dels,
        fields.getOrElse("branch", ""),
        fids,
        dflts,
        chks))
    } else None
  }

  private def commitFile(name: String, v: Long) =
    new Path(commitsPath(name), f"c$v%08d")

  /** Expiry tombstone for version v: the persistent floor marker an
    * expired commit file is renamed to. */
  private def tombstoneFile(name: String, v: Long) =
    new Path(commitsPath(name), f"x$v%08d")

  /** Retired staged-snapshot marker: a published or dropped WAP
    * snapshot's commit file is renamed to this, burning the version
    * number (the allocator scans d-files) without affecting the
    * expiry floor the way an x-tombstone would. */
  private def droppedFile(name: String, v: Long) =
    new Path(commitsPath(name), f"d$v%08d")

  private def fileVersion(p: Path): Long = p.getName.drop(1).toLong

  /** Raw manifest bytes (None if the file vanished underneath us --
    * the concurrent-expiry signal casManifest's verify-read needs). */
  private def readText(p: Path): Option[String] =
    try {
      val in = fs.open(p)
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        Iterator.continually(in.read(buf)).takeWhile(_ > 0)
          .foreach(n => bytes.write(buf, 0, n))
        Some(new String(bytes.toByteArray, "UTF-8"))
      } finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  private def readManifest(p: Path): Option[Manifest] =
    readText(p).flatMap(parse)

  /** The expiry floor: the highest tombstoned version (0 if none).
    * Monotonic -- tombstones are never removed -- so "version <=
    * floor" is a durable verdict, not a racy observation. */
  private def expiryFloor(name: String): Long = {
    val dir = commitsPath(name)
    if (!fs.exists(dir)) 0L
    else fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.matches("x\\d{8}"))
      .map(st => fileVersion(st.getPath))
      .maxOption.getOrElse(0L)
  }

  /** Next commit version: past every commit-path file ever created --
    * live commits, dead writers' debris, AND expiry tombstones -- so
    * a version number, once allocated, is never reallocated. */
  private def nextVersion(name: String): Long = {
    val dir = commitsPath(name)
    val maxSeen =
      if (!fs.exists(dir)) 0L
      else fs.listStatus(dir).toSeq
        // d{v} = retired staged (WAP) markers: published or dropped
        // staged snapshots burn their version number forever, so a
        // reader's note of "audited at version v" can never later
        // resolve to different data
        .filter(_.getPath.getName.matches("[cxd]\\d{8}"))
        .map(st => fileVersion(st.getPath))
        .maxOption.getOrElse(0L)
    maxSeen + 1
  }

  /** All live PUBLISHED snapshot versions, ascending. Staged (WAP)
    * snapshots are not part of the table's history until published —
    * they are visible only through [[stagedSnapshots]] /
    * [[readStaged]] / [[readVersion]]. */
  def versions(name: String): Seq[Long] = published(name).map(_.version)

  /** Live published main-lineage manifests, ascending. */
  private def published(name: String): Seq[Manifest] = {
    val dir = commitsPath(name)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.matches("c\\d{8}"))
      .sortBy(_.getPath.getName)
      .flatMap(st => readManifest(st.getPath))
      .filter(m => m.wap.isEmpty && m.branch.isEmpty)
  }

  private def manifestAt(name: String, v: Long): Option[Manifest] = {
    val p = commitFile(name, v)
    if (fs.exists(p)) readManifest(p) else None
  }

  private def current(name: String): Option[Manifest] = {
    val dir = commitsPath(name)
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.matches("c\\d{8}"))
      .sortBy(_.getPath.getName).reverseIterator
      .flatMap(st => readManifest(st.getPath))
      // staged (WAP) snapshots and branch commits never serve the head
      .filter(m => m.wap.isEmpty && m.branch.isEmpty)
      .nextOption()
  }

  /** Head manifest of a named branch ("" = main). Branch heads are
    * resolved the same way as main's: highest live manifest carrying
    * the branch name (branch commits are never WAP-staged). */
  private def currentOn(name: String, branch: String): Option[Manifest] =
    if (branch.isEmpty) current(name)
    else {
      val dir = commitsPath(name)
      if (!fs.exists(dir)) None
      else fs.listStatus(dir).toSeq
        .filter(_.getPath.getName.matches("c\\d{8}"))
        .sortBy(_.getPath.getName).reverseIterator
        .flatMap(st => readManifest(st.getPath))
        .filter(m => m.wap.isEmpty && m.branch == branch)
        .nextOption()
    }

  def exists(name: String): Boolean = current(name).isDefined

  /** Test seam: the current snapshot's (rel-path -> dir) mapping, so
    * a spec can stage a racing manifest by hand. */
  private[table] def versionsMapping(name: String): Seq[(String, String)] =
    current(name).map(_.mapping).getOrElse(Nil)

  def currentVersion(name: String): Long =
    current(name).map(_.version)
      .getOrElse(throw new NoSuchElementException(s"no snapshots for $name"))

  /** Current-snapshot scan. Every store read (this one, time travel,
    * branches, tags, staged snapshots) is ONE scan over the snapshot's
    * manifest-pinned file index, planned like a catalog read: filters
    * on it skip work at plan time, with no typed reader needed —
    *
    *  - partition filters prune rels;
    *  - comparisons of a column against literals drop every partition
    *    whose recorded manifest [min, max] for it is disjoint
    *    (integer-family stats numerically; DATE, TIMESTAMP and STRING
    *    stats in Spark's own ordering), so `read(t).filter(col("k")
    *    .between(lo, hi))` is the stats-pruned range scan;
    *  - an equality on a column with a partition bloom index for the
    *    snapshot ([[buildBloomIndex]]) scans only the partitions that
    *    might hold the value.
    *
    * Rels without stats (or bloom) for a column always scan, so
    * pruning never drops a matching row. `inputFiles` lists every file
    * of the snapshot; the planned scan's file list is the pruned one. */
  def read(name: String): DataFrame =
    load(name, current(name)
      .getOrElse(throw new NoSuchElementException(s"no snapshots for $name")))

  // ------------------------------------------- partition bloom index

  /** Partition-granular bloom index for POINT LOOKUPS on a
    * non-partition key. Manifest min/max cannot prune a
    * hash-distributed key (every partition's range covers every
    * value), and parquet's file-level blooms ([[commitFullIndexed]])
    * still cost a footer + bloom read per data file; this index
    * answers "which PARTITIONS might contain key k" from one small
    * sidecar per rel, loaded once per (table, column, version) and
    * cached on the driver — the Iceberg-puffin shape. At 100 TB a
    * takedown service doing thousands of point lookups against a
    * pinned snapshot amortizes one index load into O(1) driver-side
    * membership tests per lookup, scanning only the partitions that
    * might hold the key.
    *
    * Built as ONE distributed pass: rows grouped by rel, each group
    * STREAMED into a `spark.util.sketch` BloomFilter (never
    * collected), one `<urlbase64(rel)>.bf` file per rel under
    * `<table>/_bloom/<column>/v<head>/`, with a `_done` marker
    * written LAST so a crashed build is never half-read. The index
    * pins the EXACT head version it was built at: reads of any later
    * snapshot never consult it (they keep the stats-pruned scan), so a
    * stale index can never drop rows. Bloom false positives only ADD
    * partitions to the scan; the equality filter keeps results exact
    * either way. Consulted by any read of that version filtered by
    * `column === value` (see [[read]]). Returns the number of rel
    * blooms written. */
  def buildBloomIndex(name: String, column: String,
      expectedPerRel: Long = 100000L, fpp: Double = 0.03): Int = {
    import org.apache.spark.sql.functions.{col, concat, concat_ws, lit}
    val keyCol = column
    val m = current(name).getOrElse(
      throw new NoSuchElementException(s"no snapshots for $name"))
    val df = load(name, m)
    val dt = df.schema(keyCol).dataType.typeName
    require(Seq("byte", "short", "integer", "long", "string").contains(dt),
      s"bloom index supports integer-family and string keys; $keyCol is $dt")
    // layout dimensions re-derived from their sources (hidden
    // partition columns never reach a read's schema — see
    // PartitionTransforms)
    val relExpr =
      if (m.partitionBy.isEmpty) lit(".")
      else concat_ws("/", PartitionTransforms.specs(m.partitionBy).map(sp =>
        concat(lit(s"${sp.derivedName}="), utcString(sp.derive))): _*)
    val isLong = dt != "string"
    val session = spark
    import session.implicits._
    val blooms: Array[(String, Array[Byte])] = df
      .select(relExpr.as("__rel"), col(keyCol).cast("string").as("__k"))
      .filter(col("__k").isNotNull)
      .as[(String, String)]
      .groupByKey(_._1)
      .mapGroups { (rel, it) =>
        val bf = org.apache.spark.util.sketch.BloomFilter
          .create(expectedPerRel, fpp)
        it.foreach { case (_, k) =>
          if (isLong) bf.putLong(k.toLong) else bf.putString(k)
        }
        val bo = new java.io.ByteArrayOutputStream()
        bf.writeTo(bo)
        (rel, bo.toByteArray)
      }.collect()
    val dir = new Path(s"${path(name)}/_bloom/$column/v${m.version}")
    if (fs.exists(dir)) fs.delete(dir, true)
    fs.mkdirs(dir)
    blooms.foreach { case (rel, bytes) =>
      val fn = java.util.Base64.getUrlEncoder.withoutPadding
        .encodeToString(rel.getBytes("UTF-8"))
      val out = fs.create(new Path(dir, s"$fn.bf"))
      out.write(bytes); out.close()
    }
    fs.create(new Path(dir, "_done")).close()
    bloomCache.remove((name, column, m.version))
    blooms.length
  }

  private val bloomCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Long),
    Option[Map[String, org.apache.spark.util.sketch.BloomFilter]]]()

  /** The driver-cached bloom index for (table, column, version), or
    * None when no complete build exists for that exact version. Also
    * the catalog's lazy hook: a pushed equality on an indexed column
    * consults this at scan-planning time (GraftFileIndex). */
  private[graft] def bloomIndexFor(name: String, column: String,
      v: Long): Option[Map[String, org.apache.spark.util.sketch.BloomFilter]] =
    bloomCache.computeIfAbsent((name, column, v), _ => {
      val dir = new Path(s"${path(name)}/_bloom/$column/v$v")
      if (!fs.exists(new Path(dir, "_done"))) None
      else Some(fs.listStatus(dir).toSeq
        .filter(_.getPath.getName.endsWith(".bf"))
        .map { st =>
          val rel = new String(java.util.Base64.getUrlDecoder.decode(
            st.getPath.getName.stripSuffix(".bf")), "UTF-8")
          val in = fs.open(st.getPath)
          val bf =
            try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
            finally in.close()
          rel -> bf
        }.toMap)
    })

  /** Time travel: the table exactly as of snapshot `v`. */
  def readVersion(name: String, v: Long): DataFrame =
    load(name, manifestAt(name, v).getOrElse(throw new NoSuchElementException(
      s"$name has no live snapshot $v (expired or never committed)")))

  /** Timestamp time travel: the highest live PUBLISHED main-lineage
    * version whose commit landed at or before `tsMillis` -- the
    * `TIMESTAMP AS OF` analogue. Staged (WAP) snapshots and branch
    * commits are not the table's history, so they never resolve here
    * (read them by version, branch or WAP id). Commit times are
    * wall-clock stamps written into the manifest at CAS time (a total
    * order only because commits to one table are serialized by the
    * CAS; do not compare across machines with skewed clocks).
    * Pre-timestamp manifests (older stores) carry -1 and resolve as
    * "before every timestamp". Throws when every live version is newer
    * than `tsMillis`. */
  def versionAsOf(name: String, tsMillis: Long): Long =
    published(name).filter(_.committedAtMs <= tsMillis)
      .map(_.version).maxOption.getOrElse(
        throw new NoSuchElementException(
          s"$name has no snapshot committed at or before $tsMillis"))

  /** The table as of a wall-clock instant (see [[versionAsOf]]). */
  def readAsOf(name: String, tsMillis: Long): DataFrame =
    readVersion(name, versionAsOf(name, tsMillis))

  /** Read-side snapshot descriptor for integrations that plan their
    * own scans — the graft `TableCatalog` builds Spark-native v2
    * parquet scans from it. Entries carry ABSOLUTE data dirs; stats
    * are the manifest's (rel, column, min, max) rows verbatim.
    * `version = None` resolves the current head. */
  private[table] def snapshotView(name: String,
      version: Option[Long]): catalog.GraftSnapshot = {
    val m = version match {
      case Some(v) => manifestAt(name, v).getOrElse(
        throw new NoSuchElementException(
          s"$name has no live snapshot $v (expired or never committed)"))
      case None => current(name).getOrElse(
        throw new NoSuchElementException(s"no snapshots for $name"))
    }
    view(name, m)
  }

  private def view(name: String, m: Manifest): catalog.GraftSnapshot =
    catalog.GraftSnapshot(m.version, m.partitionBy, m.schemaDDL,
      m.mapping.map { case (rel, d) => rel -> s"${dataRoot(name)}/$d" },
      m.stats, m.committedAtMs, m.parent,
      m.deletes.map { case (d, c) => s"${dataRoot(name)}/$d" -> c },
      m.fieldIds, m.columnDefaults, m.checks)

  /** Metadata-only schema evolution: commit a new snapshot that
    * shares EVERY data dir with the head and differs only in its
    * stored schema DDL. Reads resolve against the manifest schema
    * (every scan reads files through it), so an
    * ADDED column reads as NULL from pre-evolution files and a
    * DROPPED column is simply no longer projected — zero data I/O,
    * Iceberg-style. Constraints enforced here (the physical ones;
    * the catalog layer adds SQL-surface ones): partition columns
    * must survive with their exact types (rel paths encode their
    * values), and added columns must be nullable (existing files
    * hold no values for them). Stats rows for dropped columns are
    * shed. Time travel across the evolution reads each snapshot
    * with ITS schema, as a versioned store should. */
  def evolveSchema(name: String, newSchemaDDL: String,
      branch: String = ""): Long = {
    val m = currentOn(name, branch).getOrElse(
      throw new NoSuchElementException(
        if (branch.isEmpty) s"no snapshots for $name"
        else s"$name has no branch `$branch`"))
    val next = org.apache.spark.sql.types.StructType.fromDDL(newSchemaDDL)
    val prev = Option(m.schemaDDL).filter(_.nonEmpty)
      .map(org.apache.spark.sql.types.StructType.fromDDL)
      .getOrElse(org.apache.spark.sql.types.StructType(Nil))
    PartitionTransforms.sourceNames(m.partitionBy).foreach { p =>
      val f = next.find(_.name == p).getOrElse(throw new IllegalArgumentException(
        s"schema evolution cannot drop partition(-source) column `$p` of $name"))
      prev.find(_.name == p).foreach(old => require(f.dataType == old.dataType,
        s"schema evolution cannot retype partition(-source) column `$p` " +
          s"(${old.dataType.sql} -> ${f.dataType.sql}): rel paths encode its values"))
    }
    next.filterNot(f => prev.exists(_.name == f.name)).foreach(f =>
      require(f.nullable,
        s"added column `${f.name}` must be nullable: existing files of " +
          s"$name hold no values for it"))
    // a data column named like a HIDDEN layout column would be
    // silently overwritten by the next write's derivation — reject at
    // the evolution, not at some later commit
    PartitionTransforms.hiddenNames(m.partitionBy).foreach(h =>
      require(!next.fieldNames.contains(h),
        s"column `$h` collides with $name's hidden partition column"))
    val keep = next.fieldNames.toSet
    val v = nextVersion(name)
    casManifest(name,
      Manifest(v, m.partitionBy, m.mapping, next.toDDL,
        m.stats.filter(s => keep(s._2)), deletes = m.deletes,
        branch = branch,
        // ledgered tables extend the ledger for ADDed columns (their
        // future files stamp the new ID; existing files simply lack
        // the column); DROPped names fall out. Pre-identity tables
        // stay unledgered — retained files carry no IDs.
        fieldIds = if (m.fieldIds.isEmpty) Nil
          else FieldIds.assign(next.fieldNames.toIndexedSeq, m.fieldIds),
        columnDefaults = m.columnDefaults.filter(d => keep(d._1)),
        // CHECK predicates referencing a dropped column would brick
        // every later write: re-resolve each against the NEW schema
        // and fail the evolution if one no longer binds
        checks = m.checks.map { case (cn, sql) =>
          val probe = spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], next)
          try probe.where(org.apache.spark.sql.functions.expr(sql))
          catch { case e: Exception => throw new IllegalArgumentException(
            s"schema evolution of $name breaks CHECK `$cn` ($sql): " +
              e.getMessage) }
          (cn, sql)
        }),
      observedParent = m.version)
    expireSnapshots(name)
    v
  }

  /** METADATA-ONLY column rename — one manifest commit, zero data
    * I/O, at any table size. Backed by the column-identity ledger
    * (see [[FieldIds]]): files record the column's stable field ID,
    * readers match by ID, so the logical name is free to change. The
    * classic alternative ("add + backfill + drop") rewrites the whole
    * table — at 100 TB that is the difference between a pointer swap
    * and a day of I/O.
    *
    * Constraints (each throws, nothing committed):
    *  - the table must be ledgered (created/rewritten by this store
    *    version); pre-identity tables must [[compact]] first — that
    *    full rewrite assigns IDs;
    *  - the session must have `spark.sql.parquet.fieldId.read.enabled`
    *    on (the store's constructor and [[graft.core.Sessions]] set
    *    it) — without it a name-matched read of pre-rename files
    *    would silently serve NULLs;
    *  - partition columns cannot rename: rel paths encode
    *    `name=value`;
    *  - no pending merge-on-read delete batch may reference the
    *    column: its key files were written under the old name and
    *    are read BY NAME (run [[compact]] to apply them first);
    *  - the new name must be free (case-insensitively, matching
    *    Spark's resolution).
    *
    * Follow-on semantics: manifest stats rows follow the rename (range
    * pruning keeps working); a version-pinned bloom sidecar index is
    * keyed by the OLD name and simply stops matching — point lookups
    * fall back to the stats-pruned scan (rebuild the index under the
    * new name if lookup latency matters). `VERSION AS OF` a
    * pre-rename snapshot serves the OLD name, as a versioned store
    * should. Caller-managed registries (the catalog's statsColumns
    * config) are the caller's to update. */
  def renameColumn(name: String, from: String, to: String,
      branch: String = ""): Long = {
    val m = currentOn(name, branch).getOrElse(
      throw new NoSuchElementException(
        if (branch.isEmpty) s"no snapshots for $name"
        else s"$name has no branch `$branch`"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDDL)
    require(m.fieldIds.exists(_._1.nonEmpty) && schema.fieldNames.forall(n =>
        m.fieldIds.exists(_._1 == n)),
      s"$name predates column identity (no field-ID ledger): compact() " +
        "first — the full rewrite assigns stable IDs, after which renames " +
        "are metadata-only")
    require(spark.conf.get("spark.sql.parquet.fieldId.read.enabled",
        "false").toBoolean,
      "renameColumn needs spark.sql.parquet.fieldId.read.enabled=true " +
        "(set by graft.core.Sessions and the store constructor); without " +
        "it pre-rename files would silently read as NULL under the new name")
    val f = schema.find(_.name == from).getOrElse(
      throw new IllegalArgumentException(s"$name has no column `$from`"))
    require(!PartitionTransforms.sourceNames(m.partitionBy).contains(from),
      s"cannot rename partition(-source) column `$from`: the directory " +
        "layout addresses it")
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(to)),
      s"$name already has a column `$to`")
    require(to.nonEmpty && !to.exists(c => c == '.' || c == '`'),
      s"invalid column name `$to`")
    require(!PartitionTransforms.hiddenNames(m.partitionBy).contains(to),
      s"`$to` collides with $name's hidden partition column")
    m.deletes.foreach { case (_, cols) =>
      require(!cols.split(",").contains(from),
        s"cannot rename `$from`: a pending merge-on-read delete batch " +
          "keys on it (key files are name-addressed) — compact() to apply " +
          "pending deletes first")
    }
    val next = org.apache.spark.sql.types.StructType(
      schema.map(x => if (x.name == from) x.copy(name = to) else x))
    // CHECK predicates are SQL text bound by name: one referencing the
    // renamed column would brick every later write at enforcement
    // time. Same discipline as evolveSchema: re-resolve each against
    // the RENAMED schema and reject the rename if one no longer binds
    // (drop the constraint, rename, re-add under the new name).
    m.checks.foreach { case (cn, sql) =>
      val probe = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], next)
      try probe.where(org.apache.spark.sql.functions.expr(sql))
      catch { case e: Exception => throw new IllegalArgumentException(
        s"renaming `$from` breaks CHECK `$cn` ($sql): drop the " +
          s"constraint first and re-add it under the new name — " +
          e.getMessage) }
    }
    val v = nextVersion(name)
    casManifest(name,
      Manifest(v, m.partitionBy, m.mapping, next.toDDL,
        m.stats.map(s => if (s._2 == from) (s._1, to, s._3, s._4) else s),
        deletes = m.deletes, branch = branch,
        fieldIds = m.fieldIds.map { case (n, id) =>
          (if (n == from) to else n) -> id },
        columnDefaults = m.columnDefaults.map { case (n, ex, cur) =>
          (if (n == from) to else n, ex, cur) },
        checks = m.checks),
      observedParent = m.version)
    expireSnapshots(name)
    v
  }

  /** Widening promotions [[widenColumn]] accepts, verified against
    * Spark 4's parquet readers (SPARK-40876): each reads old narrow
    * files and new wide files under ONE schema, vectorized, exactly. */
  private val Widenings: Map[String, Set[String]] = Map(
    "byte" -> Set("short", "integer", "long"),
    "short" -> Set("integer", "long"),
    "integer" -> Set("long"),
    "float" -> Set("double"))

  /** METADATA-ONLY type widening — one manifest commit, zero data
    * I/O. Spark 4's parquet readers serve narrow stored values under
    * a wider read schema natively (SPARK-40876): INT32 files under a
    * BIGINT column, FLOAT under DOUBLE, and DECIMAL(p,s) under any
    * DECIMAL(p',s') with p'-s' >= p-s and s' >= s. Files written
    * after the widening store the wide type; a scan unions both
    * widths exactly. Partition columns are rejected (readers cast
    * path values with the manifest type, and [[evolveSchema]] pins
    * partition types for the same reason). Unlike renames this needs
    * no ledger: matching stays by name. */
  def widenColumn(name: String, column: String,
      newType: org.apache.spark.sql.types.DataType,
      branch: String = ""): Long = {
    import org.apache.spark.sql.types.DecimalType
    val m = currentOn(name, branch).getOrElse(
      throw new NoSuchElementException(
        if (branch.isEmpty) s"no snapshots for $name"
        else s"$name has no branch `$branch`"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDDL)
    val f = schema.find(_.name == column).getOrElse(
      throw new IllegalArgumentException(s"$name has no column `$column`"))
    require(!PartitionTransforms.sourceNames(m.partitionBy).contains(column),
      s"cannot retype partition(-source) column `$column`: rel paths " +
        "encode values derived under the manifest type")
    val ok = (f.dataType, newType) match {
      case (a, b) if a == b => false // no-op is a caller bug, reject below
      case (a: DecimalType, b: DecimalType) =>
        b.precision - b.scale >= a.precision - a.scale && b.scale >= a.scale
      case (a, b) =>
        Widenings.get(a.typeName).exists(_.contains(b.typeName))
    }
    require(ok,
      s"widenColumn `$column`: ${f.dataType.sql} -> ${newType.sql} is not " +
        "a lossless parquet widening (supported: byte/short/int -> wider " +
        "ints, float -> double, decimal(p,s) -> decimal(p',s') with " +
        "p'-s' >= p-s and s' >= s)")
    val next = org.apache.spark.sql.types.StructType(
      schema.map(x => if (x.name == column) x.copy(dataType = newType) else x))
    val v = nextVersion(name)
    casManifest(name,
      Manifest(v, m.partitionBy, m.mapping, next.toDDL, m.stats,
        deletes = m.deletes, branch = branch, fieldIds = m.fieldIds,
        columnDefaults = m.columnDefaults, checks = m.checks),
      observedParent = m.version)
    expireSnapshots(name)
    v
  }

  /** `ADD COLUMN ... DEFAULT <literal>` — metadata-only, like every
    * evolution here: one manifest commit records the new column PLUS
    * its frozen EXISTENCE default (what every pre-add file reads
    * instead of NULL — Spark's parquet readers materialize it per
    * file, so a post-add file's genuine NULLs stay NULL; see
    * [[ColumnDefaults]]). The same literal starts as the CURRENT
    * default (filling INSERTs that omit the column) until
    * [[setColumnDefault]] moves it. The literal must be a constant
    * castable to the column type (validated with Spark's own DEFAULT
    * analysis). Partition columns cannot carry defaults (their values
    * come from rel paths, which always exist). */
  def addColumnWithDefault(name: String, column: String,
      dataType: org.apache.spark.sql.types.DataType, defaultSql: String,
      branch: String = ""): Long = {
    val m = currentOn(name, branch).getOrElse(
      throw new NoSuchElementException(
        if (branch.isEmpty) s"no snapshots for $name"
        else s"$name has no branch `$branch`"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDDL)
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(column)),
      s"$name already has a column `$column`")
    require(!PartitionTransforms.hiddenNames(m.partitionBy).contains(column),
      s"`$column` collides with $name's hidden partition column")
    ColumnDefaults.validate(column, dataType, defaultSql)
    val next = schema.add(column, dataType, nullable = true)
    val v = nextVersion(name)
    casManifest(name,
      Manifest(v, m.partitionBy, m.mapping, next.toDDL, m.stats,
        deletes = m.deletes, branch = branch,
        fieldIds = if (m.fieldIds.isEmpty) Nil
          else FieldIds.assign(next.fieldNames.toIndexedSeq, m.fieldIds),
        columnDefaults =
          m.columnDefaults :+ ((column, defaultSql, defaultSql)),
        checks = m.checks),
      observedParent = m.version)
    expireSnapshots(name)
    v
  }

  /** `ALTER COLUMN ... SET DEFAULT <literal>` / `DROP DEFAULT`
    * (`None`): moves the CURRENT default only — what future INSERTs
    * fill. The EXISTENCE default stays frozen: pre-add files keep
    * reading the value that was promised when the column appeared
    * (changing it would rewrite history's meaning). */
  def setColumnDefault(name: String, column: String,
      defaultSql: Option[String], branch: String = ""): Long = {
    val m = currentOn(name, branch).getOrElse(
      throw new NoSuchElementException(
        if (branch.isEmpty) s"no snapshots for $name"
        else s"$name has no branch `$branch`"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDDL)
    val f = schema.find(_.name == column).getOrElse(
      throw new IllegalArgumentException(s"$name has no column `$column`"))
    require(!m.partitionBy.contains(column),
      s"partition column `$column` cannot carry a default: its values " +
        "come from rel paths")
    defaultSql.foreach(sqlTxt => ColumnDefaults.validate(column, f.dataType,
      sqlTxt))
    val prior = m.columnDefaults.find(_._1 == column)
    val next = prior match {
      case Some((n, ex, _)) =>
        m.columnDefaults.map(d =>
          if (d._1 == column) (n, ex, defaultSql.getOrElse("")) else d)
      case None =>
        // no ADD-time default: the exists half stays empty-of-record —
        // pre-existing files keep reading NULL (their truth); only
        // inserts change. Record ("", current).
        defaultSql match {
          case Some(cur) => m.columnDefaults :+ ((column, "", cur))
          case None => m.columnDefaults // DROP DEFAULT on a column without one
        }
    }
    val v = nextVersion(name)
    casManifest(name,
      Manifest(v, m.partitionBy, m.mapping, m.schemaDDL, m.stats,
        deletes = m.deletes, branch = branch, fieldIds = m.fieldIds,
        columnDefaults = next, checks = m.checks),
      observedParent = m.version)
    expireSnapshots(name)
    v
  }

  /** v1 hidden-partitioning scope guard: operations whose machinery
    * addresses partition columns as RAW ROW VALUES (row-level DML
    * rel computation, upsert rel replacement, layout rewrites)
    * keep their identity-only contract — reject loudly rather than
    * compute garbage rels. The append + read + evolve surface is
    * transform-complete. */
  private[table] def requireIdentityLayout(name: String,
      partitionBy: Seq[String], op: String): Unit =
    require(PartitionTransforms.isIdentityOnly(partitionBy),
      s"$name uses hidden partitioning (${partitionBy.mkString(", ")}): " +
        s"$op currently supports identity layouts only — rewrite via " +
        "commitFull, or keep transform tables append + read")

  /** Scan `dirId`'s freshly-written files for CHECK violations —
    * the write-side enforcement choke point every commit path funnels
    * through BEFORE its manifest CAS. Only the NEW files scan (an
    * append checks the appended data, never the table), with the
    * negated predicate pushed into the parquet read; SQL semantics:
    * a row violates only when the predicate is FALSE (NULL passes).
    * Throws [[CheckViolation]] with a sample row; the caller's
    * existing abort path deletes the staging. Skipped entirely when
    * the table has no constraints. */
  private def enforceChecksOn(name: String, checks: Seq[(String, String)],
      dirId: String, schema: Option[org.apache.spark.sql.types.StructType],
      partitionBy: Seq[String], rels: Seq[String]): Unit = {
    if (checks.isEmpty || rels.isEmpty) return
    import org.apache.spark.sql.functions.{expr, not}
    val base = s"${dataRoot(name)}/$dirId"
    val reader = schema.fold(spark.read)(sc => spark.read.schema(
      FieldIds.stripSchema(sc)))
    val df =
      if (partitionBy.isEmpty) reader.parquet(base)
      else reader.option("basePath", base)
        .parquet(rels.map(r => s"$base/$r"): _*)
    checks.foreach { case (cn, sql) =>
      val bad = df.where(not(expr(sql))).take(1)
      if (bad.nonEmpty)
        throw new CheckViolation(name, cn, sql, bad.head.toString)
    }
  }

  /** `ALTER TABLE ... ADD CONSTRAINT <name> CHECK (<predicate>)` —
    * validates EXISTING rows first (one pushed-predicate scan of the
    * live snapshot: the standard ADD CONSTRAINT cost, after which
    * every write is guarded incrementally at its own choke point).
    * The predicate must be deterministic and resolve against the
    * current schema. */
  def addCheckConstraint(name: String, constraintName: String,
      predicateSql: String, branch: String = ""): Long = {
    import org.apache.spark.sql.functions.{expr, not}
    val m = currentOn(name, branch).getOrElse(
      throw new NoSuchElementException(
        if (branch.isEmpty) s"no snapshots for $name"
        else s"$name has no branch `$branch`"))
    require(!m.checks.exists(_._1 == constraintName),
      s"$name already has constraint `$constraintName`")
    val col = expr(predicateSql)
    val live = load(name, m)
    // resolving through a real plan both validates the predicate
    // against the schema (where() analyzes eagerly) and exposes the
    // RESOLVED expression for the determinism check — a parsed-only
    // rand() looks deterministic, a resolved one does not
    val probe = live.where(col)
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed
    val nonDet = probe.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if !f.condition.deterministic => f
    }
    require(nonDet.isEmpty,
      s"CHECK `$constraintName` ($predicateSql) is non-deterministic — " +
        "it would pass and fail the same row across retries")
    val bad = live.where(not(col)).take(1)
    if (bad.nonEmpty)
      throw new CheckViolation(name, constraintName, predicateSql,
        bad.head.toString)
    val v = nextVersion(name)
    casManifest(name,
      Manifest(v, m.partitionBy, m.mapping, m.schemaDDL, m.stats,
        deletes = m.deletes, branch = branch, fieldIds = m.fieldIds,
        columnDefaults = m.columnDefaults,
        checks = m.checks :+ ((constraintName, predicateSql))),
      observedParent = m.version)
    expireSnapshots(name)
    v
  }

  /** `ALTER TABLE ... DROP CONSTRAINT <name>` — metadata-only. */
  def dropCheckConstraint(name: String, constraintName: String,
      branch: String = "", ifExists: Boolean = false): Long = {
    val m = currentOn(name, branch).getOrElse(
      throw new NoSuchElementException(
        if (branch.isEmpty) s"no snapshots for $name"
        else s"$name has no branch `$branch`"))
    if (!m.checks.exists(_._1 == constraintName)) {
      if (ifExists) return m.version
      throw new IllegalArgumentException(
        s"$name has no constraint `$constraintName`")
    }
    val v = nextVersion(name)
    casManifest(name,
      Manifest(v, m.partitionBy, m.mapping, m.schemaDDL, m.stats,
        deletes = m.deletes, branch = branch, fieldIds = m.fieldIds,
        columnDefaults = m.columnDefaults,
        checks = m.checks.filterNot(_._1 == constraintName)),
      observedParent = m.version)
    expireSnapshots(name)
    v
  }

  /** Fresh staging dir for an EXECUTOR-written commit (the row-level
    * SQL path: tasks write parquet straight into hive-layout rel dirs
    * under it, the driver then promotes it with
    * [[commitStagedReplacing]]). Returns (dirId, absolute path);
    * until a manifest references the dirId it is an unreferenced
    * phantom -- crash debris is reclaimed exactly like a failed
    * [[commit]]'s staging. */
  private[table] def newStagingDir(name: String): (String, String) = {
    val dirId = s"rl-${UUID.randomUUID().toString.take(8)}"
    (dirId, s"${dataRoot(name)}/$dirId")
  }

  /** Promote an executor-staged data dir into a snapshot that
    * REPLACES `replacedRels` and carries `writtenRels` from the
    * staged dir -- the commit half of the group-based row-level
    * rewrite (SQL UPDATE / MERGE / non-translatable DELETE through
    * the catalog). Group semantics: every partition the rewrite READ
    * is in `replacedRels` (its surviving rows are in the staged
    * data); a written rel NOT in `replacedRels` is an APPEND into an
    * untouched partition (rows an UPDATE moved across partitions, or
    * MERGE inserts) -- the parent's dir for that rel stays in the
    * mapping alongside the staged one (reads union them), and the
    * rel's stats go conservative (two dirs, one stats key: dropping
    * them prunes nothing rather than wrongly).
    *
    * Serializable DML: the head must still be `expectedParent` (the
    * snapshot the rewrite scanned); anything else means a writer
    * landed mid-rewrite and the replacement rows are stale --
    * rejected BEFORE any metadata changes, staged dir deleted by the
    * caller's abort path. */
  private[table] def commitStagedReplacing(name: String, dirId: String,
      writtenRels: Set[String], replacedRels: Set[String],
      expectedParent: Long, branch: String = "", wap: String = ""): Long = {
    require(wap.isEmpty || branch.isEmpty,
      s"$name: a row-level rewrite cannot be both WAP-staged and on a branch")
    if (wap.nonEmpty) {
      requireValidTag(wap)
      require(!stagedSnapshots(name).exists(_._2 == wap),
        s"$name already has a staged snapshot under WAP id `$wap` — " +
          "publish or drop it first")
    }
    val m = currentOn(name, branch).getOrElse(
      throw new NoSuchElementException(
        if (branch.isEmpty) s"no snapshots for $name"
        else s"$name has no branch `$branch`"))
    if (m.version != expectedParent)
      throw new ConcurrentWriteException(
        s"$name moved to ${m.version} while a row-level rewrite built on " +
          s"$expectedParent was in flight -- replacement rows are stale")
    val v = nextVersion(name)
    val statsColumns = statsFor(name)
    val appended = writtenRels.diff(replacedRels)
    val mapping = m.mapping.filterNot { case (rel, _) => replacedRels(rel) } ++
      writtenRels.toSeq.sorted.map(_ -> dirId)
    val writtenStats =
      if (statsColumns.isEmpty || writtenRels.isEmpty) Nil
      else {
        val base = s"${dataRoot(name)}/$dirId"
        val schema = Option(m.schemaDDL).filter(_.nonEmpty)
          .map(org.apache.spark.sql.types.StructType.fromDDL)
        val reader = schema.fold(spark.read)(spark.read.schema)
        val backRead =
          if (m.partitionBy.isEmpty) reader.parquet(base)
          else reader.option("basePath", base)
            .parquet(writtenRels.toSeq.sorted.map(r => s"$base/$r"): _*)
        columnStats(backRead, m.partitionBy, statsColumns)
          .filterNot(s => appended(s._1))
      }
    val stats = m.stats.filterNot(s => replacedRels(s._1) || appended(s._1)) ++
      writtenStats
    try enforceChecksOn(name, m.checks, dirId,
      Option(m.schemaDDL).filter(_.nonEmpty)
        .map(org.apache.spark.sql.types.StructType.fromDDL),
      m.partitionBy, writtenRels.toSeq.sorted)
    catch { case e: CheckViolation =>
      fs.delete(new Path(s"${dataRoot(name)}/$dirId"), true); throw e
    }
    beforeSwap(name, v)
    try casManifest(name,
      Manifest(v, m.partitionBy, mapping, m.schemaDDL, stats,
        deletes = m.deletes, branch = branch, wap = wap,
        fieldIds = m.fieldIds,
        columnDefaults = m.columnDefaults, checks = m.checks),
      observedParent = m.version)
    catch { case e: ConcurrentWriteException =>
      fs.delete(new Path(s"${dataRoot(name)}/$dirId"), true); throw e
    }
    expireSnapshots(name)
    v
  }

  /** Fresh staging base for a STREAMING write: each epoch stages into
    * `<base>-e<epochId>` and promotes via [[commitStagedAppend]].
    * Returns (dirId base, absolute path base). */
  private[table] def newStreamStaging(name: String): (String, String) = {
    val dirId = s"st-${UUID.randomUUID().toString.take(8)}"
    (dirId, s"${dataRoot(name)}/$dirId")
  }

  /** Transaction markers carried by live commit files — the
    * idempotence ledger for exactly-once streaming epochs (the Delta
    * `txn` appId+version pattern): an epoch whose marker is already
    * present replays as a no-op. Bounded by retention: only the
    * LATEST uncommitted epoch ever replays in Structured Streaming,
    * and its predecessor's marker is always within the retention
    * window. */
  private[table] def liveTxns(name: String): Set[String] = {
    val dir = commitsPath(name)
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.matches("c\\d{8}"))
      .flatMap(st => readManifest(st.getPath))
      .map(_.txn).filter(_.nonEmpty).toSet
  }

  /** Promote an executor-staged dir as a FILE-LEVEL APPEND: every
    * written rel's staged dir is mapped ALONGSIDE the head's existing
    * dirs (reads union them) — nothing is replaced, so the commit is
    * commutative with any concurrent commit that keeps the layout,
    * and conflicts simply retry against the new head (bounded).
    * `txn` (when non-empty) makes the commit idempotent: a replay
    * whose marker is already live deletes its staging and returns the
    * current head. Stats for appended rels go conservative (dropped),
    * same as the row-level append path. An empty `writtenRels` (an
    * empty epoch) burns no snapshot. */
  private[table] def commitStagedAppend(name: String, dirId: String,
      writtenRels: Set[String], txn: String = "",
      writerIds: Seq[(String, Int)] = Nil,
      branch: String = ""): Long = {
    def dropStaging(): Unit = {
      val p = new Path(s"${dataRoot(name)}/$dirId")
      if (fs.exists(p)) fs.delete(p, true)
      ()
    }
    var attempt = 0
    while (true) {
      val m = currentOn(name, branch).getOrElse(
        throw new NoSuchElementException(
          if (branch.isEmpty) s"no snapshots for $name"
          else s"$name has no branch `$branch`"))
      if (txn.nonEmpty && liveTxns(name).contains(txn)) {
        dropStaging() // replayed epoch: the original commit is durable
        return m.version
      }
      if (writtenRels.isEmpty) { dropStaging(); return m.version }
      // Column-identity guard for long-running writers: the staged
      // files were ID-stamped (or not) with the ledger the writer
      // CAPTURED at construction. Appending unstamped files under a
      // now-ledgered head (a full rewrite assigned identities while
      // the stream ran), or files whose ID for a still-named column
      // disagrees (a drop + re-add reassigned it), would brick or
      // null out reads — reject the epoch loudly; the stream restarts
      // against the new head. A head-side RENAME is fine: the
      // writer's old-name files carry the same ID the new name maps
      // to.
      if (m.fieldIds.nonEmpty) {
        if (writerIds.isEmpty) {
          dropStaging()
          throw new ConcurrentWriteException(
            s"$name gained column identities (a full rewrite) while this " +
              "writer was running — its staged files carry no field IDs; " +
              "restart the writer against the current head")
        }
        // tombstone entries (empty name — retired IDs, see
        // FieldIds.assign) are identity bookkeeping, not columns:
        // excluded from the clash check on both sides
        val headByName = m.fieldIds.filter(_._1.nonEmpty).toMap
        val clash = writerIds.filter(_._1.nonEmpty).find { case (n, id) =>
          headByName.get(n).exists(_ != id) }
        clash.foreach { case (n, id) =>
          dropStaging()
          throw new ConcurrentWriteException(
            s"$name column `$n` changed identity (writer stamped ID $id, " +
              s"head ledger has ${headByName(n)}) while this writer was " +
              "running — restart the writer against the current head")
        }
      }
      try enforceChecksOn(name, m.checks, dirId,
        Option(m.schemaDDL).filter(_.nonEmpty)
          .map(org.apache.spark.sql.types.StructType.fromDDL),
        m.partitionBy, writtenRels.toSeq.sorted)
      catch { case e: CheckViolation => dropStaging(); throw e }
      val v = nextVersion(name)
      val mapping = m.mapping ++ writtenRels.toSeq.sorted.map(_ -> dirId)
      val stats = m.stats.filterNot(s => writtenRels(s._1))
      try {
        casManifest(name,
          Manifest(v, m.partitionBy, mapping, m.schemaDDL, stats, txn = txn,
            deletes = m.deletes, branch = branch, fieldIds = m.fieldIds,
            columnDefaults = m.columnDefaults, checks = m.checks),
          observedParent = m.version)
        expireSnapshots(name)
        return v
      } catch {
        case e: ConcurrentWriteException =>
          attempt += 1
          if (attempt >= 5) { dropStaging(); throw e }
      }
    }
    -1L // unreachable
  }

  /** Reclaim ORPHANED data dirs: staging that a crashed writer never
    * committed (`rl-`/`st-` row-level and streaming staging, `del-`
    * key sets) and any other dir no live manifest references. Two
    * guards keep it safe against in-flight writers:
    *
    *  - only dirs whose latest file modification is older than
    *    `minAgeMs` are touched (an in-flight writer's staging is
    *    always fresher — same grace-period discipline as Delta
    *    VACUUM's retention check);
    *  - the referenced set is computed from EVERY live commit file
    *    (main, staged/WAP, and their delete entries) read AFTER the
    *    age scan, so a dir committed mid-vacuum is never classified
    *    stale.
    *
    * Expiry already reclaims version-named dirs below the floor;
    * vacuum closes the gap for the non-versioned staging names expiry
    * deliberately ignores. Returns the number of dirs removed. */
  def vacuum(name: String, minAgeMs: Long = 24L * 3600 * 1000): Long = {
    val dRoot = new Path(dataRoot(name))
    if (!fs.exists(dRoot)) return 0L
    val cutoff = clockMs() - minAgeMs
    def newestMTime(p: Path): Long = {
      val self = fs.getFileStatus(p).getModificationTime
      val kids = fs.listStatus(p)
      (self +: kids.map { st =>
        if (st.isDirectory) newestMTime(st.getPath)
        else st.getModificationTime
      }.toSeq).max
    }
    // batch change-feed stages (graft-changes batch reads materialize
    // the changelog under _changes_stage/<range>-<uuid>, published
    // through <range>.ptr pointer files): never referenced by
    // manifests, reclaimed purely by age — dirs and their pointers
    // age together (written in the same execution), and a pointer
    // whose dir was reclaimed self-heals on the next batch read.
    // MINIMUM SAFE minAge for tables served through graft-changes
    // batch reads: longer than the longest query that may still be
    // scanning a resolved stage — a stage's mtime stops advancing
    // once written, so a small minAge can delete it out from under a
    // long-running read. The 24 h default covers any sane batch.
    val stageRoot = new Path(s"${path(name)}/_changes_stage")
    val staleStages =
      if (!fs.exists(stageRoot)) Nil
      else fs.listStatus(stageRoot).toSeq
        .map(_.getPath).filter(p => newestMTime(p) < cutoff)
    staleStages.foreach(fs.delete(_, true))
    val candidates = fs.listStatus(dRoot).toSeq.filter(_.isDirectory)
      .map(_.getPath)
      .filter(p => newestMTime(p) < cutoff)
    if (candidates.isEmpty) return staleStages.size.toLong
    // referenced set read AFTER aging: every live commit file's dirs
    // (head, history, staged WAP snapshots) plus their delete dirs
    val dir = commitsPath(name)
    val referenced: Set[String] =
      if (!fs.exists(dir)) Set.empty
      else fs.listStatus(dir).toSeq
        .filter(_.getPath.getName.matches("c\\d{8}"))
        .flatMap(st => readManifest(st.getPath))
        .flatMap(m => m.mapping.map(_._2) ++ m.deletes.map(_._1))
        .toSet
    val doomed = candidates.filterNot(p => referenced(p.getName))
    doomed.foreach(fs.delete(_, true))
    (doomed.size + staleStages.size).toLong
  }

  /** Consistency audit: walks every live snapshot and reports, per
    * check, how many problems exist — (check, problems, detail).
    * Checks: lineage (each live version's recorded parent is its live
    * predecessor or expired below the floor — the
    * optimistic-protocol residual-race detector), dangling data dirs
    * (a manifest references a dir that does not exist on disk),
    * dangling delete dirs, and orphan dirs (on disk, referenced by no
    * live manifest — vacuum's work list). Driver-side only: manifest
    * listings plus one directory listing, no jobs at any table
    * size. */
  def audit(name: String): Seq[(String, Long, String)] = {
    import org.apache.spark.sql.functions.col
    val lineageBad = snapshots(name).filter(!col("lineage_ok")).count()
    val dir = commitsPath(name)
    val live =
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toSeq
        .filter(_.getPath.getName.matches("c\\d{8}"))
        .flatMap(st => readManifest(st.getPath))
    val dRoot = new Path(dataRoot(name))
    def exists(d: String) = fs.exists(new Path(s"${dataRoot(name)}/$d"))
    val danglingData = live.flatMap(m => m.mapping.map(_._2)).distinct
      .filterNot(exists)
    val danglingDel = live.flatMap(_.deletes.map(_._1)).distinct
      .filterNot(exists)
    val referenced = live.flatMap(m =>
      m.mapping.map(_._2) ++ m.deletes.map(_._1)).toSet
    val orphans =
      if (!fs.exists(dRoot)) Nil
      else fs.listStatus(dRoot).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName).filterNot(referenced)
    Seq(
      ("lineage", lineageBad, "live versions whose parent chain breaks"),
      ("dangling_data_dirs", danglingData.size.toLong,
        danglingData.take(5).mkString(",")),
      ("dangling_delete_dirs", danglingDel.size.toLong,
        danglingDel.take(5).mkString(",")),
      ("orphan_dirs", orphans.size.toLong, orphans.take(5).mkString(",")))
  }

  // --------------------------------------- merge-on-read deletes

  /** Key types the merge-on-read delete path supports — the types the
    * catalog scan's row filter can extract canonically on executors.
    * Kept deliberately narrow (takedown keys are ids and strings). */
  private val MorKeyTypes = Set("string", "long", "integer", "short",
    "byte", "boolean", "date", "timestamp")

  /** MERGE-ON-READ delete: commit a KEY SET whose rows disappear from
    * every read — one small parquet write plus one manifest CAS, no
    * data rewrite at all. The Iceberg equality-delete analogue:
    *
    *  - cost is O(keys), not O(matched partitions) — the takedown
    *    path for "remove these document ids from a 100 TB corpus";
    *  - reads (store API and SQL catalog alike) filter the pending
    *    key sets out row by row (`MorKeys`: loaded to the driver per
    *    scan, bounded by `spark.graft.mor.maxScanKeys`); [[compact]] /
    *    any full rewrite applies them physically and clears the
    *    manifest entries;
    *  - deletes are SNAPSHOT-WIDE while pending: a key re-inserted by
    *    a later append stays suppressed until a full rewrite applies
    *    the deletes. Run [[compact]] before re-inserting suppressed
    *    keys (spec-pinned, and the scaladoc'd trade vs sequence-
    *    numbered delete files);
    *  - time travel is exact: pre-delete snapshots keep serving the
    *    rows, the delete commit's snapshot hides them;
    *  - the change feed emits them as ordinary `delete` rows, and the
    *    insert-only table stream fails loud, per its contract.
    *
    * Keys must be DATA columns of supported types; null keys are
    * dropped (a null key never matches a row). Commutative with
    * concurrent appends — conflicts retry bounded, like
    * [[commitStagedAppend]]. Returns the committed version. */
  def deleteKeys(name: String, keys: DataFrame,
      keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "deleteKeys needs at least one key column")
    val head0 = current(name).getOrElse(
      throw new NoSuchElementException(s"no snapshots for $name"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(head0.schemaDDL)
    keyCols.foreach { c =>
      val f = schema.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"$name has no column `$c`"))
      require(!PartitionTransforms.sourceNames(head0.partitionBy).contains(c),
        s"deleteKeys key `$c` is a partition(-source) column; delete " +
          "whole partitions with deleteWhere instead")
      require(MorKeyTypes(f.dataType.typeName),
        s"deleteKeys key `$c` has unsupported type ${f.dataType.typeName}")
    }
    val delDir = s"del-${UUID.randomUUID().toString.take(8)}"
    import org.apache.spark.sql.functions.col
    keys.select(keyCols.map(c => col(c)): _*).na.drop().dropDuplicates()
      .coalesce(1)
      .write.parquet(s"${dataRoot(name)}/$delDir")
    var attempt = 0
    while (true) {
      val m = current(name).getOrElse(
        throw new NoSuchElementException(s"no snapshots for $name"))
      // idempotence across loop iterations: the marker is the staged
      // key-set dir (one per logical deleteKeys call), so a retry
      // whose previous CAS actually landed retires as a no-op
      // instead of registering the key set twice
      if (liveTxns(name).contains(s"del:$delDir")) return m.version
      val v = nextVersion(name)
      try {
        casManifest(name, Manifest(v, m.partitionBy, m.mapping, m.schemaDDL,
          m.stats, deletes = m.deletes :+ (delDir -> keyCols.mkString(",")),
          txn = s"del:$delDir",
          fieldIds = m.fieldIds, columnDefaults = m.columnDefaults,
          checks = m.checks),
          observedParent = m.version)
        expireSnapshots(name)
        return v
      } catch {
        case e: ConcurrentWriteException =>
          attempt += 1
          if (attempt >= 5) {
            fs.delete(new Path(s"${dataRoot(name)}/$delDir"), true); throw e
          }
      }
    }
    -1L // unreachable
  }

  /** Pending (not yet physically applied) merge-on-read delete
    * batches of the head snapshot, as (absolute dir, key columns). */
  def pendingDeletes(name: String): Seq[(String, String)] =
    current(name).map(_.deletes.map { case (d, c) =>
      (s"${dataRoot(name)}/$d", c)
    }).getOrElse(Nil)

  /** Resolve a manifest (or a rel subset of one) to a DataFrame: one
    * scan over its manifest-pinned file index, the catalog's own read
    * path (see [[read]] and [[catalog.SnapshotRead]]). The manifest's
    * stored schema drives the read (no footer inference; a zero-file
    * or empty-mapping snapshot reads as an empty relation with the
    * committed columns), and pending merge-on-read deletes filter out
    * row by row. */
  private def load(name: String, m: Manifest): DataFrame =
    new catalog.SnapshotRead(this, name, view(name, m)).dataFrame

  /** Live commits or expiry tombstones with a version beyond
    * `observedParent`, other than the writer's own `selfV` -- evidence
    * that another writer landed a snapshot this writer's staging never
    * saw (below selfV: the classic stale-parent lost update; above
    * selfV: someone already committed a newer head, so selfV would
    * land invisibly below it). Debris (unparseable `c{q}`) is a dead
    * writer, not a commit, and is ignored. */
  private def conflictsBeyond(name: String, observedParent: Long,
      selfV: Long, branch: String = ""): Seq[Long] = {
    val dir = commitsPath(name)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(p => p.getName.matches("[cx]\\d{8}"))
      .filter { p =>
        val q = fileVersion(p)
        // Conflicts are LINEAGE-scoped: a commit only drops changes
        // that live on the lineage it is appending to.
        //  - a staged (WAP) snapshot is not a head movement: it holds
        //    no changes a later main commit could silently drop (its
        //    own publish re-validates against the head it was staged
        //    on);
        //  - a BRANCH commit is likewise invisible to main writers
        //    (and vice versa): branch heads resolve branch-scoped, so
        //    nothing on the other lineage is dropped — cross-branch
        //    reconciliation is validated at fastForward/mergeBranch
        //    time, exactly as WAP validates at publish;
        //  - expiry tombstones (x-files) conflict for MAIN writers
        //    only: they mark expired main versions; a branch commit's
        //    lineage is pinned from expiry (see expireSnapshots), and
        //    its freshness guard is casManifest's floor pre-check.
        q > observedParent && q != selfV && {
          if (branch.isEmpty)
            p.getName.startsWith("x") ||
              readManifest(p).exists(m => m.wap.isEmpty && m.branch.isEmpty)
          else
            p.getName.startsWith("c") &&
              readManifest(p).exists(m => m.wap.isEmpty && m.branch == branch)
        }
      }
      .map(fileVersion)
  }

  /** The pointer swap: create-no-overwrite of the commit file (the
    * conditional-put primitive). Exactly one writer creates `c{v}`;
    * losers throw [[ConcurrentWriteException]], never overwrite --
    * and never delete or move an existing commit-path file, live OR
    * debris: a delete-then-recreate recovery has an unfixable TOCTOU
    * (two losers both observe debris; the second deletes the first's
    * freshly committed manifest). Debris burns its version number;
    * the allocator skips past it and expiry reclaims it later.
    *
    * `observedParent` is the head version the writer BUILT ON (0 for
    * a fresh table). Four guards close the stale-writer races:
    *  - parent check: any live commit (or tombstone) beyond the
    *    observed parent, other than this writer's own version, means
    *    another writer landed changes this manifest silently drops
    *    (below us: the delta/DML lost-update window between head-read
    *    and version allocation; above us: a newer head we would land
    *    invisibly beneath) -- rejected before create. The post-create
    *    re-check retracts ONLY on below-self conflicts: once our
    *    commit file is visible, a version above ours either chained
    *    on it (a legitimate successor whose manifest may share our
    *    data dirs -- retracting would delete files its head still
    *    references) or raced from a staler parent, in which case ITS
    *    re-check sees our lower version and retracts itself. The
    *    below-self filter also guarantees same-parent racers resolve
    *    to exactly one winner (the lowest surviving version), never
    *    zero;
    *  - pre-check: versions at or below the expiry floor are rejected
    *    before create (an expired `c{v}` no longer exists, so create
    *    alone would "succeed" -- invisibly below the current head);
    *  - verify-read: after create, the file must read back byte-equal
    *    (concurrent expiry may reclaim a mid-write file it took for
    *    debris -- the writer must not report success);
    *  - floor re-check: if expiry advanced the floor past our version
    *    between pre-check and create, the commit is below-head and
    *    unreachable -- self-delete (provably still ours: verify-read
    *    just matched) and throw. */
  private[table] def casManifest(name: String, m: Manifest,
      observedParent: Long): Unit = {
    fs.mkdirs(commitsPath(name))
    if (m.version <= expiryFloor(name))
      throw new ConcurrentWriteException(
        s"$name snapshot ${m.version} is at or below the expiry floor; " +
          "the observed parent was expired while this commit was staged")
    val early = conflictsBeyond(name, observedParent, m.version, m.branch)
    if (early.nonEmpty)
      throw new ConcurrentWriteException(
        s"$name snapshots ${early.mkString(",")} were committed after this " +
          s"writer read parent $observedParent; committing ${m.version} " +
          "would silently drop them -- re-read and retry")
    val p = commitFile(name, m.version)
    // stamp the observed parent (the lineage audit trail [[snapshots]]
    // checks) and the commit wall time (what AS-OF time travel
    // resolves against) into the durable record
    val payload = serialize(
      m.copy(parent = observedParent, committedAtMs = clockMs()))
    // Stage the FULL payload under a dot-temp name (invisible to the
    // [cx]-prefixed listings), then publish atomically: a visible
    // c{v} is therefore always COMPLETE. Without this, a racer's
    // conflict scan could observe a mid-write commit file, classify
    // the in-flight version as dead debris, allocate past it, and
    // commit above it -- and the below-self-only late re-check would
    // then let BOTH writers report success while the in-flight
    // version silently fell out of the head lineage. A crash between
    // stage and publish leaves only a dot-temp (never a truncated
    // commit file), reclaimed by expiry once below the floor.
    val tmp = new Path(commitsPath(name),
      f".tmp-c${m.version}%08d-${UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, false)
    try out.write(payload.getBytes("UTF-8")) finally out.close()
    // Winner election lives in [[publishCommit]]; the verify-read
    // below backstops any FS whose primitive is weaker than
    // advertised, in BOTH directions (reported win that expiry
    // reclaimed; reported loss that actually landed).
    val won = publishCommit(tmp, p)
    fs.delete(tmp, false)
    // DUPLICATE-REPLY TOLERANCE: judge the outcome by what is ON DISK,
    // not by what the fs primitive reported. On retransmitting
    // filesystems (NFS link(2)/rename(2): the op lands server-side,
    // the reply is lost, the client's retransmit answers EEXIST) a
    // SUCCEEDED publish can report failure. Treating that as a loss
    // is the one mechanism that turns a healthy commit into
    // corruption: every batch caller deletes its staged data dir on
    // ConcurrentWriteException -- the now-live manifest would
    // reference deleted files -- and every retry loop (deleteKeys,
    // commitStagedAppend) would land the same payload AGAIN at a new
    // version. A racer's commit file can never be byte-identical to
    // ours: data commits embed a per-writer UUID dir id, and a
    // byte-identical metadata-only twin (same version, same parent,
    // same mapping, same clock ms) committed exactly the state this
    // writer wanted -- adopting it is correct, not optimistic.
    val landedOurs = readText(p).contains(payload)
    if (!won && !landedOurs)
      throw new ConcurrentWriteException(
        s"$name snapshot ${m.version} was committed (or burned) by another writer")
    if (!landedOurs)
      throw new ConcurrentWriteException(
        s"$name snapshot ${m.version} was reclaimed by concurrent expiry mid-write")
    beforeLateCheck(name, m.version)
    // A successor whose RECORDED parent is this commit has already
    // chained on it in the late-check window: this commit (and its
    // staged data dirs, which a delta child shares) are referenced
    // lineage now -- retracting would hand the child dangling file
    // references the audit can flag but never repair. The race
    // resolves in this writer's favor instead: the commit stands.
    def hasLiveChild: Boolean = {
      val dir = commitsPath(name)
      fs.exists(dir) && fs.listStatus(dir).toSeq.map(_.getPath)
        .filter(q => q.getName.matches("c\\d{8}") &&
          fileVersion(q) > m.version)
        .exists(q => readManifest(q).exists(_.parent == m.version))
    }
    def selfDelete(why: String): Unit =
      if (!hasLiveChild) {
        fs.delete(p, false)
        throw new ConcurrentWriteException(why)
      }
    if (m.version <= expiryFloor(name))
      selfDelete(
        s"$name snapshot ${m.version} fell below the expiry floor before commit")
    // Below-self only: a conflict ABOVE our now-visible commit is not
    // retractable (see the parent-check note above) -- it is either a
    // successor chained on us or a staler racer that will retract
    // itself when its own re-check sees us.
    val late = conflictsBeyond(name, observedParent, m.version, m.branch)
      .filter(_ < m.version)
    if (late.nonEmpty)
      selfDelete(
        s"$name snapshots ${late.mkString(",")} landed beyond parent " +
          s"$observedParent during the swap -- retracting ${m.version}")
  }

  /** Publish a fully-staged commit file atomically with no-overwrite
    * winner election; returns whether the fs primitive REPORTED a win
    * (the caller re-judges a reported loss by payload -- see the
    * duplicate-reply tolerance in [[casManifest]]):
    *  - local FS: hard-link into place -- POSIX link(2) fails EEXIST
    *    atomically (plain rename would OVERWRITE an existing
    *    destination, letting two same-version racers both succeed);
    *  - HDFS-like: rename, which is atomic and returns false on an
    *    existing destination (the conditional-put primitive).
    * Object stores without a conditional put would need a LogStore-
    * style coordinator here, exactly as Delta documents. Protected as
    * a test seam: a spec overrides it to land the link AND report
    * failure -- the NFS duplicate-reply shape. */
  /** Internal accessor for the atomic publish primitive: other graft
    * components electing a single winner for a shared artifact (e.g.
    * the change feed's stage pointer) reuse THIS primitive instead of
    * re-implementing create-no-overwrite — Hadoop's local-fs
    * create(overwrite=false) is check-then-create, not atomic. */
  private[graft] final def publishAtomic(tmp: Path, p: Path): Boolean =
    publishCommit(tmp, p)

  protected def publishCommit(tmp: Path, p: Path): Boolean =
    if (fs.getScheme == "file") {
      val src = java.nio.file.Paths.get(fs.makeQualified(tmp).toUri)
      val dst = java.nio.file.Paths.get(fs.makeQualified(p).toUri)
      try { java.nio.file.Files.createLink(dst, src); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else {
      try !fs.exists(p) && fs.rename(tmp, p)
      catch {
        case _: FileAlreadyExistsException |
             _: org.apache.hadoop.fs.PathExistsException => false
      }
    }

  /** Test seam: runs after data files are staged, before the manifest
    * CAS -- lets a spec interleave a competing commit into the race
    * window deterministically. */
  protected def beforeSwap(name: String, v: Long): Unit = ()

  /** Test seam: runs inside [[casManifest]] after the commit file is
    * created and verified, before the post-create conflict re-check --
    * the window where a successor can already have chained on this
    * commit. */
  protected def beforeLateCheck(name: String, v: Long): Unit = ()

  private def freshDataDir(name: String, v: Long): String =
    s"v$v-${UUID.randomUUID().toString.take(8)}"

  /** List the hive partition rel-paths a parquet write produced
    * (depth = number of partition columns). listStatus returns
    * fs-qualified paths, so the base must be qualified the same way
    * before stripping it off. */
  private def partitionRels(base: Path, depth: Int): Seq[String] = {
    val qBase = fs.makeQualified(base).toString
    def walk(p: Path, d: Int): Seq[String] =
      if (d == 0)
        Seq(fs.makeQualified(p).toString.stripPrefix(qBase).stripPrefix("/"))
      else fs.listStatus(p).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
        .flatMap(st => walk(st.getPath, d - 1))
    walk(base, depth)
  }

  private def writeData(df: DataFrame, name: String, dirId: String,
      partitionBy: Seq[String], bloomFilterColumns: Seq[String] = Nil,
      parquetBlockSize: Option[Long] = None,
      bloomExpectedNdv: Option[Long] = None,
      fieldIds: Seq[(String, Int)] = Nil): Unit = {
    // HIDDEN PARTITIONING (PartitionTransforms): derive the layout
    // columns from their sources before the write — the source stays
    // a data column in every file, the derived value exists only in
    // the directory paths (identity layouts derive nothing)
    val specs = PartitionTransforms.specs(partitionBy)
    val derived = specs.filterNot(_.isInstanceOf[PartitionTransforms.Identity])
      .foldLeft(FieldIds.stampDf(df, fieldIds)) { (acc, sp) =>
        acc.withColumn(sp.derivedName, sp.derive)
      }
    // column-identity stamp: files record each column's field ID so
    // later renames resolve metadata-only (see FieldIds)
    var w = derived
      .write.mode(SaveMode.ErrorIfExists)
    // per-column parquet bloom filters: the file-level secondary index
    // for point lookups on a NON-clustered high-cardinality key --
    // row-group min/max can't prune a key in random order, a bloom
    // can skip every row group that provably lacks the value
    bloomFilterColumns.foreach { c =>
      w = w.option(s"parquet.bloom.filter.enabled#$c", "true")
      bloomExpectedNdv.foreach(n =>
        w = w.option(s"parquet.bloom.filter.expected.ndv#$c", n.toString))
    }
    parquetBlockSize.foreach(b => w = w.option("parquet.block.size", b.toString))
    (if (partitionBy.nonEmpty)
       w.partitionBy(PartitionTransforms.pathNames(partitionBy): _*)
     else w)
      .parquet(s"${dataRoot(name)}/$dirId")
  }

  /** Per-rel min/max of `statsColumns` over the given frame (always
    * the re-read of a just-written data dir -- see [[commit]]) -- one
    * extra aggregate pass (one output row per partition:
    * manifest-sized by definition, so the driver collect is
    * bounded). Rel strings are
    * rebuilt as plain `col=value` paths; a value Spark's hive layout
    * escapes differently simply never matches a mapping rel and its
    * stats are ignored -- pruning stays conservative. */
  /** Cast-to-string under the store's fixed zone
    * ([[PartitionTransforms.StoreTz]]) — the one rendering every
    * persisted stat string and rebuilt rel segment goes through, so
    * reader-side compares are tz-independent. Identical to a plain
    * `.cast("string")` for every non-time type. */
  private def utcString(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.Cast(
        org.apache.spark.sql.graft.ColumnBridge.expression(c),
        org.apache.spark.sql.types.StringType,
        Some(PartitionTransforms.StoreTz),
        org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY))

  private def columnStats(df: DataFrame, partitionBy: Seq[String],
      statsColumns: Seq[String]): Seq[(String, String, String, String)] = {
    if (statsColumns.isEmpty) return Nil
    import org.apache.spark.sql.functions._
    // rel segments carry the PATH (derived) column names — identical
    // to partitionBy for identity layouts, `<src>_day`-style for
    // transforms (the back-read's basePath discovery appends them)
    val pathCols = PartitionTransforms.pathNames(partitionBy)
    val relExpr =
      if (partitionBy.isEmpty) lit(".")
      else concat_ws("/", pathCols.map(c =>
        concat(lit(s"$c="), utcString(col(c)))): _*)
    // min/max render under the store's FIXED zone (StoreTz): the
    // reader-side literal rendering (filterStrBounds) uses the same
    // zone, so both sides of every stats compare agree no matter
    // which session wrote and which reads — a session-tz rendering
    // here would make TIMESTAMP stats skip files for readers under a
    // different zone (silent missing rows)
    val aggs = statsColumns.flatMap(c => Seq(
      utcString(min(col(c))).as(s"__mn_$c"),
      utcString(max(col(c))).as(s"__mx_$c")))
    df.groupBy(relExpr.as("__rel")).agg(aggs.head, aggs.tail: _*)
      .collect().toSeq.flatMap { r =>
        statsColumns.flatMap { c =>
          val (mn, mx) = (r.getAs[String](s"__mn_$c"), r.getAs[String](s"__mx_$c"))
          if (mn == null || mx == null) None
          else Some((r.getAs[String]("__rel"), c, mn, mx))
        }
      }
  }

  private def commit(name: String, df: DataFrame, partitionBy: Seq[String],
      deltaPartitions: Boolean, statsColumns: Seq[String] = Nil,
      bloomFilterColumns: Seq[String] = Nil,
      parquetBlockSize: Option[Long] = None,
      bloomExpectedNdv: Option[Long] = None,
      alsoReplaced: Set[String] = Set.empty,
      wap: String = "",
      branch: String = "",
      txn: String = "",
      initialDefaults: Seq[(String, String, String)] = Nil): Long = {
    require(wap.isEmpty || branch.isEmpty,
      s"$name: a commit cannot be both WAP-staged (`$wap`) and on a " +
        s"branch (`$branch`)")
    // TXN IDEMPOTENCE (the Delta appId+version pattern, extended from
    // the streaming sink to batch): a non-empty marker already
    // carried by a live manifest means THIS logical write landed --
    // re-invocations (a harness replaying a statement whose success
    // report was lost, an orchestrator's at-least-once task retry)
    // retire as no-ops instead of double-landing data. Callers derive
    // the marker from (statement identity, observed parent), so an
    // INTENTIONAL re-run of the same INSERT sees a moved parent,
    // mints a fresh marker, and appends normally. Bounded by
    // retention like the streaming ledger.
    if (txn.nonEmpty && liveTxns(name).contains(txn))
      return currentOn(name, branch).map(_.version).getOrElse(
        throw new NoSuchElementException(s"no snapshots for $name"))
    // a branch commit chains on the BRANCH head; the branch must
    // already exist (createBranch forks it from a live snapshot)
    val parent = currentOn(name, branch)
    if (branch.nonEmpty) require(parent.isDefined,
      s"$name has no branch `$branch` — createBranch first")
    // layout validation: transform sources exist with usable types,
    // derived names collide with nothing (a data column named like a
    // hidden column would silently be OVERWRITTEN at write time)
    PartitionTransforms.validate(partitionBy, df.schema)
    // a FULL commit owns its layout (each manifest carries its own
    // partitionBy, so every snapshot stays readable under the layout
    // it was written with -- layout evolution, see [[clusterBy]]); a
    // DELTA commit shares the parent's files and must match it
    if (deltaPartitions) parent.foreach { m =>
      require(m.partitionBy == partitionBy,
        s"$name is partitioned by ${m.partitionBy}, got $partitionBy" +
          " (partition-delta commits cannot change the table layout;" +
          " use commitFull for a layout-evolving rewrite)")
    }
    // column identity (see [[FieldIds]]): a FULL commit rewrites every
    // live file, so it may (re-)assign the ledger — names carried over
    // keep their IDs, new names mint fresh ones; a DELTA retains parent
    // files, so it carries the parent's ledger (extended for columns
    // the batch introduces) and must never introduce one on a
    // pre-identity table (retained files lack IDs).
    val fieldIds: Seq[(String, Int)] =
      if (!deltaPartitions)
        FieldIds.assign(df.schema.fieldNames.toIndexedSeq,
          parent.map(_.fieldIds).getOrElse(Nil))
      else parent match {
        case Some(p) if p.fieldIds.nonEmpty =>
          FieldIds.assign(df.schema.fieldNames.toIndexedSeq, p.fieldIds)
        case _ => Nil
      }
    // DEFAULT ledger: carried for columns the commit's schema keeps
    // (a full rewrite makes the exists-default moot for files — every
    // file now holds the column — but the CURRENT default still
    // governs inserts, and history still serves its own). A TABLE-
    // CREATING commit (no parent) adopts the caller's pre-validated
    // CREATE-time defaults instead, making CREATE TABLE one atomic
    // commit — a partial-default table can never exist.
    val colDefaults = parent.map(_.columnDefaults).getOrElse(initialDefaults)
      .filter(d => df.schema.fieldNames.contains(d._1))
    val v = nextVersion(name)
    val dirId = freshDataDir(name, v)
    writeData(df, name, dirId, partitionBy, bloomFilterColumns,
      parquetBlockSize, bloomExpectedNdv, fieldIds)
    val written: Seq[(String, String)] =
      if (partitionBy.isEmpty) Seq("." -> dirId)
      else partitionRels(new Path(s"${dataRoot(name)}/$dirId"), partitionBy.size)
        .map(_ -> dirId)
    // an EMPTY partitioned commit writes no partition dirs: nothing
    // will reference dirId — reclaim the shell instead of orphaning it
    if (written.isEmpty) fs.delete(new Path(s"${dataRoot(name)}/$dirId"), true)
    try enforceChecksOn(name, parent.map(_.checks).getOrElse(Nil), dirId,
      Some(df.schema), partitionBy, written.map(_._1))
    catch { case e: CheckViolation =>
      fs.delete(new Path(s"${dataRoot(name)}/$dirId"), true); throw e
    }
    val mapping =
      if (deltaPartitions && parent.isDefined) {
        val overridden = written.map(_._1).toSet ++ alsoReplaced
        parent.get.mapping.filterNot { case (rel, _) => overridden(rel) } ++ written
      } else written
    // stats come from a re-read of the files just written, never from
    // `df`: a non-deterministic input (rand(), unseeded sample) would
    // otherwise record min/max from a DIFFERENT evaluation than the
    // rows on disk, and stats skipping would prune partitions that hold
    // matching rows -- the same reason Delta/Iceberg derive file stats
    // from the written files. (written is empty only for an empty
    // partitioned commit: no dirs, nothing to stat.)
    val writtenStats =
      if (statsColumns.isEmpty || written.isEmpty) Nil
      else {
        val base = s"${dataRoot(name)}/$dirId"
        val reader = spark.read.schema(df.schema)
        val backRead =
          if (partitionBy.isEmpty) reader.parquet(base)
          else reader.option("basePath", base)
            .parquet(written.map { case (rel, _) => s"$base/$rel" }: _*)
        columnStats(backRead, partitionBy, statsColumns)
      }
    val stats =
      if (deltaPartitions && parent.isDefined) {
        val overridden = written.map(_._1).toSet ++ alsoReplaced
        parent.get.stats.filterNot(s => overridden(s._1)) ++ writtenStats
      } else writtenStats
    // A DELTA commit's manifest schema is the contract for the parent
    // dirs it RETAINS, not just the files it writes: per-field
    // nullability is therefore the UNION with the parent's (a batch
    // built from literals arrives non-nullable, and stamping NOT NULL
    // over retained files that lack the column turns their
    // reads-as-NULL into required-column failures). Types are the
    // batch's own — delta type evolution stays the caller's call.
    val stampedSchema =
      if (deltaPartitions && parent.isDefined) {
        val prev = Option(parent.get.schemaDDL).filter(_.nonEmpty)
          .map(org.apache.spark.sql.types.StructType.fromDDL)
        prev.fold(df.schema)(ps => org.apache.spark.sql.types.StructType(
          df.schema.map(f => ps.find(_.name == f.name) match {
            case Some(pf) if pf.dataType == f.dataType =>
              f.copy(nullable = f.nullable || pf.nullable)
            case _ => f
          })))
      } else df.schema
    beforeSwap(name, v)
    try casManifest(name,
      // boundary metadata (field IDs, DEFAULT clauses) must never
      // reach the DDL: toDDL renders DEFAULTs fromDDL cannot parse,
      // and the ledgers are the source of truth anyway
      Manifest(v, partitionBy, mapping,
        FieldIds.stripSchema(stampedSchema).toDDL, stats,
        wap = wap, branch = branch, txn = txn, fieldIds = fieldIds,
        columnDefaults = colDefaults,
        checks = parent.map(_.checks).getOrElse(Nil),
        // a delta RETAINS parent dirs, so pending merge-on-read
        // deletes still apply (and, snapshot-wide, to the written
        // batch too -- the deleteKeys contract); a full commit's rows
        // are exactly the caller's df, deletes cleared
        deletes = if (deltaPartitions)
          parent.map(_.deletes).getOrElse(Nil) else Nil),
      observedParent = parent.map(_.version).getOrElse(0L))
    catch { case e: ConcurrentWriteException =>
      fs.delete(new Path(s"${dataRoot(name)}/$dirId"), true); throw e
    }
    expireSnapshots(name)
    v
  }

  /** Full-snapshot commit (create / replace). Returns the version.
    * `statsColumns`: record per-partition min/max of these columns in
    * the manifest (costs one extra aggregate pass) -- filtered reads
    * prune partitions with them at plan time (see [[read]]). */
  def commitFull(df: DataFrame, name: String,
      partitionBy: Seq[String] = Nil,
      statsColumns: Seq[String] = Nil,
      branch: String = "",
      txn: String = "",
      initialDefaults: Seq[(String, String, String)] = Nil): Long =
    commit(name, df, partitionBy, deltaPartitions = false, statsColumns,
      branch = branch, txn = txn, initialDefaults = initialDefaults)

  /** [[commitFull]] with a file-level secondary index: per-column
    * parquet BLOOM FILTERS on `bloomFilterColumns` (plus an optional
    * row-group size override so large files hold many independently
    * skippable row groups). Point lookups on a non-clustered
    * high-cardinality key -- doc_id in a signature index, event_id in
    * a log -- then skip every row group whose bloom provably lacks
    * the value, the gap manifest min/max stats and Z-clustering leave
    * open (both need the key ORDERED to prune; a bloom doesn't).
    * Read side needs no special path: Spark pushes the equality
    * predicate into the parquet reader, which consults row-group
    * stats, dictionaries, and blooms (`read(t).filter(k === v)`).
    * [[commitPartitions]] takes the same knobs, so delta-maintained
    * tables keep their index on appended partitions; DML rewrites
    * (deleteWhere/updateWhere/upsert) currently rewrite touched
    * partitions WITHOUT re-applying bloom options -- re-run a
    * bloom-indexed commitFull after heavy DML if lookup latency
    * regresses. */
  def commitFullIndexed(df: DataFrame, name: String,
      bloomFilterColumns: Seq[String],
      partitionBy: Seq[String] = Nil,
      statsColumns: Seq[String] = Nil,
      parquetBlockSize: Option[Long] = None,
      bloomExpectedNdv: Option[Long] = None): Long =
    commit(name, df, partitionBy, deltaPartitions = false, statsColumns,
      bloomFilterColumns, parquetBlockSize, bloomExpectedNdv)

  /** Partition-delta commit: only `df`'s partitions get new files;
    * the rest of the new snapshot shares the parent's immutable
    * dirs (and their manifest stats). Returns the version. */
  def commitPartitions(df: DataFrame, name: String,
      partitionBy: Seq[String], statsColumns: Seq[String] = Nil,
      bloomFilterColumns: Seq[String] = Nil,
      parquetBlockSize: Option[Long] = None,
      bloomExpectedNdv: Option[Long] = None,
      branch: String = "",
      txn: String = ""): Long = {
    require(partitionBy.nonEmpty, "commitPartitions needs partition columns")
    commit(name, df, partitionBy, deltaPartitions = true, statsColumns,
      bloomFilterColumns, parquetBlockSize, bloomExpectedNdv,
      branch = branch, txn = txn)
  }

  /** [[commitPartitions]] with an EXPLICIT replaced-partition set: the
    * listed partitions are dropped from the parent mapping even when
    * `df` writes no rows for them. The plain delta commit replaces
    * only partitions that RECEIVE rows -- a maintenance batch that
    * empties a partition entirely (last vector of an index cell
    * deleted, every signature of a dedup batch retracted) would
    * otherwise leave the stale partition alive in the new snapshot.
    * `replaced` holds partition-value tuples in `partitionBy` order,
    * rendered as the writer renders them on the path (plain string
    * form for numerics; hive-escaped for special characters). */
  def commitPartitionsReplacing(df: DataFrame, name: String,
      partitionBy: Seq[String], replaced: Seq[Seq[String]],
      statsColumns: Seq[String] = Nil): Long = {
    require(partitionBy.nonEmpty, "commitPartitionsReplacing needs partition columns")
    requireIdentityLayout(name, partitionBy, "commitPartitionsReplacing")
    val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName _
    val rels = replaced.map { values =>
      require(values.size == partitionBy.size,
        s"replaced tuple $values does not match partition columns $partitionBy")
      partitionBy.zip(values).map { case (c, v) => s"$c=${esc(v)}" }
        .mkString("/")
    }.toSet
    commit(name, df, partitionBy, deltaPartitions = true, statsColumns,
      alsoReplaced = rels)
  }

  /** Roll the table back to snapshot `v`: a NEW commit whose mapping
    * is `v`'s -- history rolls forward (the bad snapshot stays
    * inspectable until expired), no files move. */
  def rollbackTo(name: String, v: Long): Long = {
    val target = manifestAt(name, v).getOrElse(throw new NoSuchElementException(
      s"$name has no live snapshot $v to roll back to"))
    val observed = currentVersion(name)
    val next = Manifest(nextVersion(name), target.partitionBy, target.mapping,
      target.schemaDDL, target.stats,
      // the restored state includes the target's PENDING deletes --
      // rolling back to a pre-delete snapshot really resurrects rows
      deletes = target.deletes,
      // ...and the target's column-identity ledger: its files are the
      // ones being re-served, so its (name -> ID) view is the correct
      // one (a rename after `v` rolls back with the data); defaults
      // likewise
      fieldIds = target.fieldIds,
      columnDefaults = target.columnDefaults,
      checks = target.checks)
    casManifest(name, next, observedParent = observed)
    expireSnapshots(name)
    next.version
  }

  /** `DELETE FROM name WHERE condition` as partition-granular
    * copy-on-write -- the Iceberg DELETE analogue:
    *  - partitions containing NO matching row (detected by one
    *    column-pruned scan of the condition columns; Catalyst
    *    partition-prunes it when the condition constrains partition
    *    columns) keep their immutable dirs, SHARED with the parent
    *    snapshot;
    *  - touched partitions are rewritten filtered; a partition whose
    *    rows ALL matched simply leaves the manifest (the mapping can
    *    express removal -- dynamic partition overwrite cannot);
    *  - manifest stats are inherited for untouched partitions and
    *    recomputed from the rewritten files.
    * A day-scoped delete on a years-deep table therefore rewrites one
    * day. Rows where the condition is NULL survive (SQL DELETE
    * semantics). No-op (no new snapshot) when nothing matches. The
    * touched-file detection collects one path per matching FILE to
    * the driver -- bounded by the touched partitions' file counts. */
  /** Shared copy-on-write skeleton for row-level DML: detect the
    * partitions holding rows where `fires` is TRUE (one column-pruned
    * scan; Catalyst partition-prunes it when the condition constrains
    * partition columns), apply `rewrite` to ONLY those partitions'
    * rows, and commit a manifest where every untouched partition
    * keeps its parent dir and a partition `rewrite` empties leaves
    * the mapping. Touched rels are resolved through FILE PATHS (dir
    * names on disk) rather than rebuilt rel strings -- hive-escaped
    * partition values would otherwise evade the rewrite. */
  private def copyOnWrite(name: String, fires: org.apache.spark.sql.Column,
      rewrite: DataFrame => DataFrame, branch: String = ""): Unit = {
    import org.apache.spark.sql.functions.input_file_name
    val m = currentOn(name, branch).getOrElse(
      throw new NoSuchElementException(
        if (branch.isEmpty) s"no snapshots for $name"
        else s"$name has no branch `$branch`"))
    if (m.partitionBy.isEmpty) {
      // unpartitioned: a rewritten full commit IS the minimal commit --
      // but only when a row actually fires. A no-match DML must stay a
      // no-op (the documented contract), not burn a snapshot on a
      // byte-identical full rewrite. One column-pruned limit-1 probe.
      if (load(name, m).filter(fires).isEmpty) return
      commitFull(rewrite(load(name, m)).localCheckpoint(true), name,
        Nil, statsColumns = m.stats.map(_._2).distinct, branch = branch)
      return
    }
    val files = load(name, m).filter(fires)
      .select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0))
    if (files.isEmpty) return
    // touched is REL-granular, never entry-granular: a rel can map to
    // several dirs (file-level appends), and the rewrite replaces the
    // WHOLE rel -- loading only the dir holding the match would drop
    // the sibling dirs' rows from the replacement (data loss)
    val touchedRels = m.mapping.filter { case (rel, d) =>
      files.exists(f => f.contains(s"/$d/") && f.contains(s"/$rel/"))
    }.map(_._1).toSet
    val touched = m.mapping.filter(e => touchedRels(e._1))
    val newRows = rewrite(load(name, m.copy(mapping = touched)))
      .localCheckpoint(true)
    val v = nextVersion(name)
    val dirId = freshDataDir(name, v)
    writeData(newRows, name, dirId, m.partitionBy, fieldIds = m.fieldIds)
    val written = partitionRels(new Path(s"${dataRoot(name)}/$dirId"),
      m.partitionBy.size).map(_ -> dirId)
    // a DML that empties every touched partition writes no partition
    // dirs at all: the manifest will reference nothing under dirId, so
    // reclaim the empty shell now instead of leaving audit-visible
    // debris for vacuum
    if (written.isEmpty) fs.delete(new Path(s"${dataRoot(name)}/$dirId"), true)
    // the copy-on-write rewrite is a write path like any other: its
    // freshly-written files validate against the table's CHECKs
    // before the CAS (an updateWhere assigning a violating value must
    // reject, not land)
    try enforceChecksOn(name, m.checks, dirId,
      Some(newRows.schema), m.partitionBy, written.map(_._1))
    catch { case e: Throwable =>
      fs.delete(new Path(s"${dataRoot(name)}/$dirId"), true); throw e
    }
    val mapping = m.mapping.filterNot(e => touchedRels(e._1)) ++ written
    val statsCols = m.stats.map(_._2).distinct
    val writtenStats =
      if (statsCols.isEmpty || written.isEmpty) Nil
      else {
        val base = s"${dataRoot(name)}/$dirId"
        columnStats(spark.read.schema(newRows.schema)
            .option("basePath", base)
            .parquet(written.map { case (rel, _) => s"$base/$rel" }: _*),
          m.partitionBy, statsCols)
      }
    val stats = m.stats.filterNot(s => touchedRels(s._1)) ++ writtenStats
    beforeSwap(name, v)
    // untouched rels keep their dirs, so pending merge-on-read deletes
    // carry (idempotent on the rewritten dirs -- those rows are gone)
    try casManifest(name, Manifest(v, m.partitionBy, mapping, m.schemaDDL,
        stats, deletes = m.deletes, branch = branch,
        fieldIds = m.fieldIds, columnDefaults = m.columnDefaults,
        checks = m.checks),
      observedParent = m.version)
    catch { case e: ConcurrentWriteException =>
      fs.delete(new Path(s"${dataRoot(name)}/$dirId"), true); throw e
    }
    expireSnapshots(name)
    newRows.unpersist()
    ()
  }

  override def deleteWhere(name: String,
      condition: org.apache.spark.sql.Column,
      partitionBy: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val fires = coalesce(condition, lit(false))
    copyOnWrite(name, fires, _.filter(not(fires)))
  }

  /** [[deleteWhere]] against a BRANCH head: the same partition-
    * granular copy-on-write, committed onto the branch lineage —
    * main readers never see it until merge/fast-forward. */
  def deleteWhereOn(name: String, branch: String,
      condition: org.apache.spark.sql.Column): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    requireValidBranch(branch)
    val fires = coalesce(condition, lit(false))
    copyOnWrite(name, fires, _.filter(not(fires)), branch = branch)
  }

  /** [[updateWhere]] against a BRANCH head. */
  def updateWhereOn(name: String, branch: String,
      condition: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column]): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    requireValidBranch(branch)
    val m = branchHeadManifest(name, branch)
    val cols = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDDL)
      .fieldNames.toSeq
    assignments.keys.foreach(c => require(cols.contains(c),
      s"UPDATE assigns unknown column `$c` (table has ${cols.mkString(",")})"))
    assignments.keys.foreach(c =>
      require(!PartitionTransforms.sourceNames(m.partitionBy)
          .exists(_.equalsIgnoreCase(c)),
        s"UPDATE cannot assign partition(-source) column `$c`; delete and" +
          " re-insert, or rewrite with commitFull"))
    val fires = coalesce(condition, lit(false))
    copyOnWrite(name, fires, df => df.select(df.columns.toSeq.map { c =>
      assignments.get(c)
        .map(a => when(fires, a).otherwise(col(c)).as(c))
        .getOrElse(col(c))
    }: _*), branch = branch)
  }

  /** `UPDATE name SET assignments WHERE condition` -- same
    * partition-granular copy-on-write as [[deleteWhere]]: rows where
    * the condition is TRUE take the assigned expressions (evaluated
    * against the pre-update row, standard UPDATE semantics), all
    * others -- including NULL-condition rows -- pass through
    * byte-identical, and untouched partitions keep their files shared
    * with the parent snapshot. */
  override def updateWhere(name: String,
      condition: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column],
      partitionBy: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    val cols = read(name).columns.toSeq
    assignments.keys.foreach(c => require(cols.contains(c),
      s"UPDATE assigns unknown column `$c` (table has ${cols.mkString(",")})"))
    // updating a partition column would MOVE rows between partitions:
    // the partition-local rewrite would then write into rels the
    // untouched mapping still references (duplicate rel entries) --
    // the same restriction Iceberg/Delta place on in-place updates of
    // partition values. Delete + re-insert, or commitFull a rewrite.
    current(name).foreach { m =>
      assignments.keys.foreach(c =>
        require(!PartitionTransforms.sourceNames(m.partitionBy)
            .exists(_.equalsIgnoreCase(c)),
          s"UPDATE cannot assign partition(-source) column `$c`; delete " +
            "and re-insert, or rewrite with commitFull"))
    }
    val fires = coalesce(condition, lit(false))
    copyOnWrite(name, fires, df => df.select(cols.map { c =>
      assignments.get(c)
        .map(a => when(fires, a).otherwise(col(c)).as(c))
        .getOrElse(col(c))
    }: _*))
  }

  /** Range-cluster a table on a high-cardinality numeric column: the
    * current snapshot is rewritten partitioned by a derived
    * `__cluster` bucket (quantile boundaries via approx_percentile --
    * near-equal bucket sizes under any distribution), with `column`'s
    * min/max recorded per bucket. Because buckets are value ranges,
    * the recorded stats are TIGHT, and a range filter on `column`
    * prunes to the touched buckets -- data skipping for columns the
    * natural partitioning can't express (Z-order-lite, one dimension).
    *
    * The synthetic `__cluster` column is visible in the schema (a
    * path-addressed store cannot hide partition columns the way
    * Iceberg's hidden partitioning does) -- drop it on read if
    * unwanted. Earlier snapshots keep their own layout and stay
    * readable/rollback-able: every manifest carries its own
    * partitionBy. */
  def clusterBy(name: String, column: String, nBuckets: Int): Long = {
    import org.apache.spark.sql.functions.{broadcast, col, expr, when}
    require(nBuckets >= 2, "clusterBy needs at least 2 buckets")
    val df = read(name).drop("__cluster")
    val qs = (1 until nBuckets).map(i => i.toDouble / nBuckets)
    val bounds = df.agg(
      expr(s"approx_percentile($column, array(${qs.mkString(",")}), 10000)").as("b"))
    val clustered = df.crossJoin(broadcast(bounds))
      .withColumn("__cluster",
        qs.indices.map(i => when(col(column) >= col("b")(i), 1).otherwise(0))
          .reduce(_ + _).cast("int"))
      .drop("b")
    commitFull(clustered.localCheckpoint(true), name, Seq("__cluster"),
      statsColumns = Seq(column))
  }

  /** Multi-column Z-order clustering (the Delta `OPTIMIZE ZORDER BY`
    * analogue; [[clusterBy]] is the 1-D special case): rewrite the
    * current snapshot partitioned by a derived `__zbucket` whose value
    * interleaves the bits of each column's quantile RANK -- rows close
    * in every clustered dimension land in the same cell, so the
    * recorded per-cell min/max stay tight on ALL columns at once and
    * a compound range filter prunes multiplicatively
    * (the thing 1-D range clustering structurally cannot do: tight on
    * its column, useless on every other).
    *
    * Cell count is the smallest power of two >= `nBuckets` (each
    * column needs >= 1 rank bit); quantile boundaries come from one
    * `approx_percentile` pass broadcast as a single row, so cells are
    * near-equal-sized under any distribution -- at 100 TB this is one
    * sketch aggregate + one partitioned rewrite, no global sort (the
    * classic Z-order-by-sort needs a range partitioner over the
    * interleaved key; bucketing by the key's high bits gives the same
    * pruning with a hash-free one-pass shuffle). Bits are dealt to
    * columns round-robin LSB-first, earlier columns first, so an
    * uneven budget (e.g. 5 bits over 2 columns) favors the leading
    * column -- order `columns` by expected predicate selectivity.
    *
    * Like [[clusterBy]], the synthetic `__zbucket` partition column is
    * schema-visible; earlier snapshots keep their own layout. */
  def clusterByZ(name: String, columns: Seq[String], nBuckets: Int): Long = {
    import org.apache.spark.sql.functions.{broadcast, col, expr, lit, shiftleft, shiftright, when}
    require(columns.size >= 2,
      "clusterByZ needs >= 2 columns (clusterBy covers one)")
    require(nBuckets >= (1 << columns.size),
      s"clusterByZ needs >= ${1 << columns.size} buckets for" +
        s" ${columns.size} columns (one rank bit each)")
    val nc = columns.size
    val bitsTotal = math.max(nc,
      64 - java.lang.Long.numberOfLeadingZeros((nBuckets - 1).toLong)).toInt
    val bits = columns.indices.map(i =>
      bitsTotal / nc + (if (i < bitsTotal % nc) 1 else 0))
    // global bit position of each column's rank bit j: deal positions
    // LSB-first, one bit per column per round, skipping columns whose
    // budget is spent -- low-order bits of every column interleave
    // first, which is what gives Z-cells their all-dimension locality
    val positions: Seq[Seq[Int]] = {
      val res = Array.fill(nc)(List.newBuilder[Int])
      var pos = 0
      for (round <- 0 until bits.max; c <- 0 until nc if round < bits(c)) {
        res(c) += pos; pos += 1
      }
      res.map(_.result()).toSeq
    }
    val df0 = read(name).drop("__zbucket")
    // STRING columns rank through an order-preserving numeric
    // surrogate (approx_percentile is numeric-only): the first 8
    // UTF-8 bytes, zero-padded, read as an unsigned big-endian
    // DECIMAL(20,0) -- byte order IS Spark's string comparison order
    // (UTF8String compares bytes), so quantile ranks over the
    // surrogate respect string order exactly; strings sharing an
    // 8-byte prefix tie into one rank bucket, degrading only
    // locality, never correctness (the Iceberg truncate-transform
    // trade). NULLs surrogate to NULL and land in bucket 0 like
    // numeric NULLs.
    val stringCols = columns.filter(c =>
      df0.schema(c).dataType == org.apache.spark.sql.types.StringType).toSet
    val df = stringCols.foldLeft(df0)((d, c) => d.withColumn(s"__zn_$c",
      expr(s"cast(conv(hex(rpad(substring(encode(`$c`, 'UTF-8'), 1, 8)," +
        " 8, x'00')), 16, 10) as decimal(20,0))")))
    def zc(c: String): String = if (stringCols(c)) s"__zn_$c" else c
    val aggs = columns.zip(bits).map { case (c, b) =>
      val qs = (1 until (1 << b)).map(i => i.toDouble / (1 << b))
      expr(s"approx_percentile(`${zc(c)}`, array(${qs.mkString(",")}), 10000)")
        .as(s"__b_$c")
    }
    val bounds = df.agg(aggs.head, aggs.tail: _*)
    val ranks = columns.zip(bits).map { case (c, b) =>
      (0 until (1 << b) - 1)
        .map(i => when(col(zc(c)) >= col(s"__b_$c")(i), 1).otherwise(0))
        .reduce(_ + _)
    }
    val z = columns.indices.flatMap { c =>
      positions(c).zipWithIndex.map { case (p, j) =>
        shiftleft(shiftright(ranks(c), j).bitwiseAND(lit(1)), p)
      }
    }.reduce(_ + _)
    val clustered = df.crossJoin(broadcast(bounds))
      .withColumn("__zbucket", z.cast("int"))
      .drop(columns.map(c => s"__b_$c"): _*)
      .drop(stringCols.toSeq.map(c => s"__zn_$c"): _*)
    commitFull(clustered.localCheckpoint(true), name, Seq("__zbucket"),
      statsColumns = columns)
  }

  /** Rewrite the current snapshot as ONE data dir (a full commit of
    * its own contents) -- collapses a long delta chain, the compaction
    * every manifest-sharing store eventually runs. */
  def compact(name: String, branch: String = ""): Long = {
    val m = currentOn(name, branch).getOrElse(
      throw new NoSuchElementException(
        if (branch.isEmpty) s"no snapshots for $name"
        else s"$name has no branch `$branch`"))
    // recompute stats for whichever columns the parent tracked, so
    // compaction never silently turns stats skipping off. On a
    // branch: collapse the branch's own delta chain (and apply its
    // pending merge-on-read deletes) before a merge — note the
    // compacted rels count as branch-CHANGED at merge time.
    commitFull(load(name, m).localCheckpoint(true), name, m.partitionBy,
      statsColumns = m.stats.map(_._2).distinct, branch = branch)
  }

  val DefaultTargetFileBytes: Long = 128L << 20

  /** OPTIMIZE (small-file bin-packing): rewrite ONLY the partitions
    * whose data sits in more under-sized files than a ~`targetBytes`
    * packing needs, coalescing each to ceil(bytes/targetBytes) files;
    * every well-packed partition keeps its files SHARED with the
    * parent snapshot (same mapping entry, zero I/O). [[compact]]
    * collapses a delta CHAIN by rewriting the whole table; this is
    * the file-granular maintenance pass a delta-maintained table
    * needs instead -- daily MERGE/append commits leave a trickle of
    * small files per touched partition, and at 100 TB rewriting the
    * table to fix yesterday's partitions is the difference between
    * O(day) and O(table). No-op (no new snapshot) when nothing needs
    * packing, so it is safe on a schedule.
    *
    * Rewrites are identity on content: touched partitions re-read,
    * repartitioned to their packed file count (a k-way salted spread
    * when one partition wants several output files), re-stated, and
    * committed with the untouched mapping entries carried over --
    * stats skipping keeps working on the repacked files. */
  def optimizeSmallFiles(name: String,
      targetBytes: Long = DefaultTargetFileBytes, minFiles: Int = 2): Long = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    require(targetBytes > 0, "targetBytes must be positive")
    require(minFiles >= 2, "minFiles < 2 would rewrite already-packed partitions")
    val m = current(name).getOrElse(
      throw new NoSuchElementException(s"no snapshots for $name"))
    def dataFileSizes(dir: String): Seq[Long] = {
      val p = new Path(dir)
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
        .map(_.getLen)
    }
    def packedCount(bytes: Long): Int =
      math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt

    if (m.partitionBy.isEmpty) {
      // an unpartitioned table can map "." to several dirs (file-level
      // appends) -- size the WHOLE set, and treat a multi-dir chain as
      // packable even at the target file count (collapsing it bounds
      // the manifest and the scan's relation fan-out)
      val dirs = m.mapping.map(_._2).distinct
      val sizes = dirs.flatMap(d => dataFileSizes(s"${dataRoot(name)}/$d"))
      val k = packedCount(sizes.sum)
      if (dirs.size <= 1 && (sizes.size < minFiles || sizes.size <= k))
        return m.version
      // coalesce, not repartition: packing needs no shuffle
      return commitFull(read(name).coalesce(k).localCheckpoint(true), name,
        Nil, statsColumns = m.stats.map(_._2).distinct)
    }
    // pack decisions are REL-granular over ALL the rel's dirs: an
    // entry-wise decision would load one dir's rows and then replace
    // the whole rel with them, dropping the sibling dirs (data loss).
    // A multi-dir rel is always packable (chain collapse), a
    // single-dir rel only when it beats the packed file count.
    val touched = m.mapping.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (rel, entries) =>
        val dirs = entries.map(_._2)
        val sizes = dirs.flatMap(d => dataFileSizes(s"${dataRoot(name)}/$d/$rel"))
        val k = packedCount(sizes.sum)
        if (dirs.distinct.size > 1 ||
            (sizes.size >= minFiles && sizes.size > k))
          entries.map { case (r, d) => (r, d, k) }
        else Nil
    }
    if (touched.isEmpty) return m.version
    val touchedRels = touched.map(_._1).toSet
    val statsCols = m.stats.map(_._2).distinct
    val v = nextVersion(name)
    val staged = scala.collection.mutable.ListBuffer.empty[String]
    try {
      // one write per distinct packed-file-count k: repartitioning on
      // (partition cols) alone gives 1 file/rel; adding a k-way row
      // salt gives k -- different k values can't share one shuffle
      val results = touched.groupBy(_._3).toSeq.sortBy(_._1).map {
        case (k, group) =>
          val rows = load(name,
            m.copy(mapping = group.map { case (rel, d, _) => (rel, d) }))
          // group by the LAYOUT dimensions: identity columns as-is,
          // transforms re-derived (hidden cols never reach a read)
          val pcols = PartitionTransforms.specs(m.partitionBy).map(_.derive)
          val keys =
            if (k == 1) pcols
            else pcols :+
              pmod(xxhash64(rows.columns.toIndexedSeq.map(col): _*), lit(k.toLong))
          val packed = rows.repartition(keys: _*)
          val dirId = freshDataDir(name, v)
          staged += dirId
          writeData(packed, name, dirId, m.partitionBy,
            fieldIds = m.fieldIds)
          val written = partitionRels(new Path(s"${dataRoot(name)}/$dirId"),
            m.partitionBy.size).map(_ -> dirId)
          val writtenStats =
            if (statsCols.isEmpty || written.isEmpty) Nil
            else {
              val base = s"${dataRoot(name)}/$dirId"
              columnStats(spark.read.schema(rows.schema)
                  .option("basePath", base)
                  .parquet(written.map { case (rel, _) => s"$base/$rel" }: _*),
                m.partitionBy, statsCols)
            }
          (written, writtenStats)
      }
      val written = results.flatMap(_._1)
      val stats = m.stats.filterNot(s => touchedRels(s._1)) ++
        results.flatMap(_._2)
      val mapping = m.mapping.filterNot(e => touchedRels(e._1)) ++ written
      beforeSwap(name, v)
      casManifest(name, Manifest(v, m.partitionBy, mapping, m.schemaDDL,
        stats, deletes = m.deletes, fieldIds = m.fieldIds,
        columnDefaults = m.columnDefaults, checks = m.checks),
        observedParent = m.version)
    } catch { case e: Throwable =>
      staged.foreach(d => fs.delete(new Path(s"${dataRoot(name)}/$d"), true))
      throw e
    }
    expireSnapshots(name)
    v
  }

  /** The head snapshot's partition columns (empty when the table is
    * unpartitioned or absent) -- streaming sources re-derive hive
    * partition values from file paths with this. */
  def partitionColumns(name: String): Seq[String] =
    current(name).map(_.partitionBy).getOrElse(Nil)

  /** Every table in this store root (a dir holding a `_commits`
    * dir), name order -- the maintenance scheduler's work list. */
  def tables(): Seq[String] = {
    val rootP = new Path(root)
    if (!fs.exists(rootP)) Nil
    else fs.listStatus(rootP).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => fs.exists(new Path(s"$root/$n/_commits")))
      .sorted
  }

  private def tagsPath(name: String) = new Path(s"${path(name)}/_tags")
  private def tagFile(name: String, tag: String) =
    new Path(tagsPath(name), s"t-$tag")
  private def requireValidTag(tag: String): Unit =
    require(tag.matches("[A-Za-z0-9._-]+"),
      s"tag name `$tag` must match [A-Za-z0-9._-]+")

  /** Pin snapshot `v` (default -1 = current head) under a named tag --
    * the Iceberg tag / git-tag analogue for reproducible experiment
    * refs: [[expireSnapshots]] never tombstones a tagged snapshot or
    * reclaims the dirs its manifest references, so `readTag` serves
    * the exact bytes a training run saw regardless of table churn.
    * Drop the tag to release it back to normal retention. Tags are
    * human-named refs, not concurrency primitives: retargeting needs
    * `replace = true` and is last-writer-wins (delete-then-rename, so
    * a reader racing a retarget can observe the tag briefly absent).
    * Returns the pinned version.
    *
    * Tagging races expiry: [[expireSnapshots]] reads the tag set once
    * up front, so a tag landing after that read cannot stop an
    * in-flight expiry from tombstoning its target. The liveness
    * re-check AFTER the rename below closes the window from this
    * side: if the target was expired while the tag was being written,
    * the dangling tag is removed and the call throws instead of
    * leaving a ref whose readTag fails later. An expiry that
    * tombstones between that re-check and return remains possible --
    * tag BEFORE scheduling expiry (the runMaintenance order) rather
    * than concurrently with it. */
  def tagSnapshot(name: String, tag: String, v: Long = -1L,
      replace: Boolean = false): Long = {
    requireValidTag(tag)
    val target = if (v == -1L) currentVersion(name) else v
    require(manifestAt(name, target).isDefined,
      s"$name has no live snapshot $target to tag")
    val f = tagFile(name, tag)
    if (!replace) require(!fs.exists(f),
      s"$name already has tag `$tag` (pass replace = true to retarget)")
    fs.mkdirs(tagsPath(name))
    val tmp = new Path(tagsPath(name),
      s".tmp-t-$tag-${UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, false)
    try out.write(target.toString.getBytes("UTF-8")) finally out.close()
    if (fs.exists(f)) fs.delete(f, false)
    if (!fs.rename(tmp, f)) {
      fs.delete(tmp, false)
      throw new ConcurrentWriteException(s"tag `$tag` raced another writer")
    }
    if (manifestAt(name, target).isEmpty) {
      fs.delete(f, false)
      throw new ConcurrentWriteException(
        s"$name snapshot $target was expired while tag `$tag` was being" +
          " written; the tag was not created")
    }
    target
  }

  /** All tags of a table as (tag, version), tag-name order. */
  def tags(name: String): Seq[(String, Long)] = {
    val dir = tagsPath(name)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("t-"))
      .flatMap(p => readText(p).flatMap(_.trim.toLongOption)
        .map(p.getName.drop(2) -> _))
      .sortBy(_._1)
  }

  /** Resolve a tag to its pinned version (throws on unknown tags). */
  def tagVersion(name: String, tag: String): Long = {
    requireValidTag(tag)
    readText(tagFile(name, tag)).flatMap(_.trim.toLongOption).getOrElse(
      throw new NoSuchElementException(s"$name has no tag `$tag`"))
  }

  /** Read the snapshot a tag pins -- time travel by name. */
  def readTag(name: String, tag: String): DataFrame =
    readVersion(name, tagVersion(name, tag))

  /** Remove a tag; the snapshot returns to normal retention (a later
    * [[expireSnapshots]] may reclaim it). */
  def dropTag(name: String, tag: String): Unit = {
    requireValidTag(tag)
    fs.delete(tagFile(name, tag), false)
    ()
  }

  // ------------------------------------------------------- branches

  /** Branch names must be non-numeric words so the catalog's
    * `VERSION AS OF '<ref>'` can tell a branch from a snapshot
    * number, and must be valid ref characters like tags. */
  private def requireValidBranch(branch: String): Unit =
    require(branch.matches("[A-Za-z][A-Za-z0-9._-]*"),
      s"branch name `$branch` must match [A-Za-z][A-Za-z0-9._-]* " +
        "(start with a letter — numeric refs are snapshot versions)")

  /** All live manifests of a branch, version-ascending. The FIRST is
    * always the branch-create manifest: a full copy of the fork
    * point's state, which doubles as the durable MERGE BASE (the fork
    * point itself is a main version that normal retention may expire;
    * the copy is pinned with the branch).
    *
    * The validity check here is LOAD-BEARING, not cosmetic: main
    * manifests carry `branch == ""`, so without it a caller passing
    * an empty (or malformed) branch name would match the ENTIRE live
    * main history — `dropBranch(t, "")` would then rename every main
    * commit to a d-file and reclaim main-exclusive data dirs
    * (irreversible table destruction), and `expireBranchSnapshots(t,
    * "", k)` would expire main middles bypassing tag pinning and the
    * x-tombstone floor. Every branch operation funnels through this
    * listing, so the guard covers them all. */
  private def branchManifests(name: String, branch: String): Seq[Manifest] = {
    requireValidBranch(branch)
    val dir = commitsPath(name)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.matches("c\\d{8}"))
      .sortBy(_.getPath.getName)
      .flatMap(st => readManifest(st.getPath))
      .filter(m => m.wap.isEmpty && m.branch == branch)
  }

  private def branchHeadManifest(name: String, branch: String): Manifest = {
    requireValidBranch(branch)
    currentOn(name, branch).getOrElse(throw new NoSuchElementException(
      s"$name has no branch `$branch`"))
  }

  /** Fork a named branch from snapshot `fromV` (default -1 = current
    * head) — the git-branch / Iceberg-ref analogue. One manifest CAS,
    * zero data I/O: the branch-create manifest copies the fork
    * point's complete state (mapping, stats, schema, pending
    * merge-on-read deletes) under the branch name, so
    *
    *  - branch reads/commits are isolated from main (head resolution,
    *    `versions`, time travel, the change feed, and main writers'
    *    conflict checks all skip branch manifests);
    *  - main retention never unpins the branch: branch manifests and
    *    every data dir they reference are retained until
    *    [[dropBranch]];
    *  - the branch keeps its own durable merge base even after the
    *    fork-point version expires from main history.
    *
    * Returns the branch-create version (also the branch's initial
    * head). Write to the branch by passing `branch = ...` to
    * [[commitFull]] / [[commitPartitions]]; read with [[readBranch]];
    * land it back with [[fastForward]] (main unmoved) or
    * [[mergeBranch]] (three-way, partition-granular). */
  def createBranch(name: String, branch: String, fromV: Long = -1L): Long = {
    requireValidBranch(branch)
    require(currentOn(name, branch).isEmpty,
      s"$name already has branch `$branch`")
    val target = if (fromV == -1L) currentVersion(name) else fromV
    val m = manifestAt(name, target).getOrElse(
      throw new NoSuchElementException(
        s"$name has no live snapshot $target to branch from"))
    val v = nextVersion(name)
    casManifest(name, m.copy(version = v, branch = branch, wap = "",
      txn = ""), observedParent = target)
    // the same race tagging has (tag/expiry re-check, see
    // [[tagSnapshot]]): an expiry that listed manifests before our CAS
    // can still tombstone the fork point and reclaim dirs this branch
    // now references. Re-check fork liveness after the CAS; on loss,
    // retract the branch and throw rather than leave dangling refs.
    if (manifestAt(name, target).isEmpty) {
      fs.delete(commitFile(name, v), false)
      throw new ConcurrentWriteException(
        s"$name snapshot $target was expired while branch `$branch` was " +
          "being created; the branch was not created")
    }
    v
  }

  /** All branches as (branch, head version, fork version), name
    * order. Fork version = the main snapshot the branch-create
    * manifest recorded as parent (it may have expired from main
    * history since; the branch keeps its own copy of that state). */
  def branches(name: String): Seq[(String, Long, Long)] = {
    val dir = commitsPath(name)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.matches("c\\d{8}"))
      .sortBy(_.getPath.getName)
      .flatMap(st => readManifest(st.getPath))
      .filter(m => m.wap.isEmpty && m.branch.nonEmpty)
      .groupBy(_.branch).toSeq
      .map { case (b, ms) => (b, ms.last.version, ms.head.parent) }
      .sortBy(_._1)
  }

  def branchHeadVersion(name: String, branch: String): Long =
    branchHeadManifest(name, branch).version

  /** Live versions of a branch's own lineage, ascending (first = the
    * branch-create fork copy) — the branch twin of [[versions]], so
    * a change feed can walk a branch commit-by-commit. */
  def branchVersions(name: String, branch: String): Seq[Long] = {
    requireValidBranch(branch)
    branchManifests(name, branch).map(_.version)
  }

  /** Branch-head scan — same load path as any snapshot read. */
  def readBranch(name: String, branch: String): DataFrame =
    load(name, branchHeadManifest(name, branch))

  /** SQL surface: the branch head as temp view `<table>_at_<branch>`
    * (same naming fold as [[registerTag]]). */
  def registerBranch(name: String, branch: String): String = {
    val view = s"${name}_at_${branch.replaceAll("[^A-Za-z0-9_]", "_")}"
    readBranch(name, branch).createOrReplaceTempView(view)
    view
  }

  /** Changelog of everything the branch changed since its fork:
    * [[snapshotDiff]] from the branch-create manifest (the durable
    * fork-state copy) to the branch head — the merge PREVIEW. */
  def branchDiff(name: String, branch: String, keys: Seq[String],
      includePre: Boolean = false): DataFrame = {
    val ms = branchManifests(name, branch)
    require(ms.nonEmpty, s"$name has no branch `$branch`")
    snapshotDiff(name, ms.head.version, ms.last.version, keys,
      includePre = includePre)
  }

  /** Publish the branch head onto main as a FAST-FORWARD: requires
    * main has not moved since the fork (head == fork version), then
    * one manifest CAS lands the branch head's complete state as a
    * fresh main version sharing the branch's data dirs — zero data
    * I/O, the WAP-publish discipline applied to a multi-commit
    * lineage. If main moved, throws [[ConcurrentWriteException]]:
    * use [[mergeBranch]] (disjoint changes) or drop and re-fork.
    * The branch stays (now content-equal to main): [[dropBranch]] to
    * retire it. Returns the new main head version. */
  def fastForward(name: String, branch: String): Long = {
    val ms = branchManifests(name, branch)
    require(ms.nonEmpty, s"$name has no branch `$branch`")
    val headV = currentVersion(name)
    if (headV != ms.head.parent)
      throw new ConcurrentWriteException(
        s"$name advanced to $headV after branch `$branch` forked from " +
          s"${ms.head.parent}: fast-forward would drop main commits — " +
          "use mergeBranch, or drop and re-fork the branch")
    val v = nextVersion(name)
    casManifest(name, ms.last.copy(version = v, branch = ""),
      observedParent = headV)
    expireSnapshots(name)
    v
  }

  /** Three-way, partition-granular merge of a branch into main — the
    * git-merge analogue at rel (partition) granularity:
    *
    *  - base   = the branch-create manifest (fork-state copy),
    *  - theirs = the branch head, ours = the main head;
    *  - a rel changed on ONE side takes that side's dirs; changed on
    *    BOTH sides to different dirs is a [[BranchMergeConflict]]
    *    (identical changes — e.g. the same maintenance ran twice —
    *    are not conflicts);
    *  - schema and pending merge-on-read deletes follow the same
    *    one-side-changed rule (diverging both ways conflicts).
    *
    * The merged manifest shares every data dir it takes (zero data
    * I/O) and lands with the usual observed-parent CAS, so a main
    * writer racing the merge loses exactly one of the two commits,
    * never both silently. Returns the merged main head version. */
  def mergeBranch(name: String, branch: String): Long = {
    val ms = branchManifests(name, branch)
    require(ms.nonEmpty, s"$name has no branch `$branch`")
    val (base, theirs) = (ms.head, ms.last)
    val ours = current(name).getOrElse(throw new NoSuchElementException(
      s"no snapshots for $name"))
    require(theirs.partitionBy == ours.partitionBy &&
        theirs.partitionBy == base.partitionBy,
      s"$name: partition layout diverged across the merge " +
        s"(base=${base.partitionBy} main=${ours.partitionBy} " +
        s"branch=${theirs.partitionBy}) — merge needs one layout")
    def dirSets(mm: Manifest): Map[String, Set[String]] =
      mm.mapping.groupBy(_._1).map { case (r, es) => r -> es.map(_._2).toSet }
    val (bd, td, od) = (dirSets(base), dirSets(theirs), dirSets(ours))
    val rels = bd.keySet ++ td.keySet ++ od.keySet
    val theirChanged = rels.filter(r => bd.get(r) != td.get(r))
    val ourChanged = rels.filter(r => bd.get(r) != od.get(r))
    val conflicts = theirChanged.intersect(ourChanged)
      .filter(r => td.get(r) != od.get(r)).toSeq.sorted
    if (conflicts.nonEmpty)
      throw new BranchMergeConflict(name, branch, conflicts)
    def threeWay[T](b: T, t: T, o: T, what: String): T =
      if (t == b) o else if (o == b || o == t) t
      else throw new BranchMergeConflict(name, branch, Seq(s"<$what>"))
    val mergedSchema = threeWay(base.schemaDDL, theirs.schemaDDL,
      ours.schemaDDL, "schema")
    val mergedDeletes = threeWay(base.deletes, theirs.deletes,
      ours.deletes, "pending-deletes")
    // the column-identity ledger merges exactly like the schema: a
    // branch-side rename lands its (new name -> same ID) entries, a
    // divergent double-rename is a conflict the caller must resolve
    val mergedIds = threeWay(base.fieldIds, theirs.fieldIds,
      ours.fieldIds, "column-ids")
    val mergedDefaults = threeWay(base.columnDefaults, theirs.columnDefaults,
      ours.columnDefaults, "column-defaults")
    val mergedChecks = threeWay(base.checks, theirs.checks,
      ours.checks, "check-constraints")
    val mapping = ours.mapping.filterNot(e => theirChanged(e._1)) ++
      theirs.mapping.filter(e => theirChanged(e._1))
    val stats = ours.stats.filterNot(s => theirChanged(s._1)) ++
      theirs.stats.filter(s => theirChanged(s._1))
    // a merge ADOPTS data neither lineage validated under the other's
    // constraints: rels adopted from the branch scan against checks
    // the BRANCH lacked, and rels retained from main scan against
    // checks only the BRANCH carried — each side costs only ITS
    // adopted/retained rels, and a violation rejects the merge before
    // any metadata moves (the ADD CONSTRAINT discipline, applied to
    // the merge's data movement)
    def validateSide(rels: Set[String], source: Manifest,
        missing: Seq[(String, String)], side: String): Unit =
      if (missing.nonEmpty && rels.nonEmpty) {
        import org.apache.spark.sql.functions.{expr, not}
        val df = load(name, source.copy(
          mapping = source.mapping.filter(e => rels(e._1))))
        missing.foreach { case (cn, sql) =>
          val bad = df.where(not(expr(sql))).take(1)
          if (bad.nonEmpty) throw new CheckViolation(name,
            cn, sql, s"[$side of merge] ${bad.head.toString}")
        }
      }
    validateSide(theirChanged.toSet, theirs,
      mergedChecks.filterNot(theirs.checks.contains), "branch side")
    validateSide(rels.diff(theirChanged).toSet, ours,
      mergedChecks.filterNot(ours.checks.contains), "main side")
    // column-identity guard (mirrors commitStagedAppend's writer-ledger
    // check): every data dir the merged head serves must have been
    // written under a ledger the merged ledger can resolve — adopting
    // ID-less files (a lineage that predates the table's identity
    // ledger) or files whose ID for a still-named column disagrees
    // would brick every read of the merged head until rollback
    requireLedgerCompatible(name, mergedIds,
      theirs, theirs.mapping.filter(e => theirChanged(e._1)),
      s"branch `$branch` side of merge")
    requireLedgerCompatible(name, mergedIds,
      ours, ours.mapping.filterNot(e => theirChanged(e._1)),
      "main side of merge")
    val v = nextVersion(name)
    casManifest(name, Manifest(v, ours.partitionBy, mapping, mergedSchema,
      stats, deletes = mergedDeletes, fieldIds = mergedIds,
      columnDefaults = mergedDefaults, checks = mergedChecks),
      observedParent = ours.version)
    expireSnapshots(name)
    v
  }

  /** Shared ledger-compatibility guard for metadata-only data-dir
    * adoption (mergeBranch / cherryPick): `adopted` dirs were written
    * under `source`'s field-ID ledger; the surviving head will serve
    * them under `survivingIds`. Rejects (before any CAS) when the
    * surviving ledger is non-empty but the source's is empty — those
    * files carry NO field IDs, and per the [[FieldIds]] invariant an
    * ID-stamped read schema fails on them — or when a still-named
    * column's ID disagrees between the two (a drop + re-add
    * reassigned identity; by-ID resolution would serve the wrong or a
    * null column). Renames are fine by construction: resolution is by
    * ID, and a renamed column's old name simply leaves the surviving
    * ledger. Mirrors [[commitStagedAppend]]'s writer-ledger check —
    * the same hazard through the merge/pick door. */
  private def requireLedgerCompatible(name: String,
      survivingIds: Seq[(String, Int)], source: Manifest,
      adopted: Seq[(String, String)], what: String): Unit = {
    if (survivingIds.isEmpty || adopted.isEmpty) return
    if (source.fieldIds.isEmpty)
      throw new ConcurrentWriteException(
        s"$name: $what adopts data dirs written before the table " +
          "gained column identities (its manifest carries no field-ID " +
          "ledger) while the surviving head's schema is ID-stamped — " +
          "those files would fail every read; rewrite the source " +
          "lineage (full commit) before merging/picking")
    val survByName = survivingIds.filter(_._1.nonEmpty).toMap
    source.fieldIds.filter(_._1.nonEmpty).foreach { case (n, id) =>
      survByName.get(n).filter(_ != id).foreach { other =>
        throw new ConcurrentWriteException(
          s"$name: $what adopts files that stamp column `$n` with ID " +
            s"$id, but the surviving ledger maps it to $other (a drop " +
            "+ re-add reassigned identity) — by-ID reads would serve " +
            "the wrong column; rewrite the source lineage first")
      }
    }
  }

  /** Per-branch retention: burn branch history beyond the last
    * `keep` commits. The branch-create manifest (the durable MERGE
    * BASE) and the newest `keep` commits always survive; expired
    * middles are renamed to d-files (versions burned, the WAP-retire
    * discipline — main's x-tombstone floor is never moved by branch
    * retention) and data dirs ONLY they referenced are reclaimed.
    * Main retention never touches branch lineage (it is pinned), so
    * long-lived branches call this to bound their own growth. */
  def expireBranchSnapshots(name: String, branch: String,
      keep: Int = keepSnapshots): Unit = {
    require(keep >= 1, "expireBranchSnapshots needs keep >= 1")
    val ms = branchManifests(name, branch)
    require(ms.nonEmpty, s"$name has no branch `$branch`")
    val expired = ms.drop(1).dropRight(keep)
    if (expired.isEmpty) return
    // dirs of commits a PREVIOUS expiry pass d-filed may have been
    // kept alive only by commits expiring now — they re-enter the
    // candidate set (see [[droppedBranchManifests]]); the referenced
    // filter below still protects anything a live manifest holds
    val prior = droppedBranchManifests(name, branch)
    expired.foreach(m =>
      fs.rename(commitFile(name, m.version), droppedFile(name, m.version)))
    val dir = commitsPath(name)
    val referenced: Set[String] =
      if (!fs.exists(dir)) Set.empty
      else fs.listStatus(dir).toSeq
        .filter(_.getPath.getName.matches("c\\d{8}"))
        .flatMap(st => readManifest(st.getPath))
        .flatMap(m => m.mapping.map(_._2) ++ m.deletes.map(_._1))
        .toSet
    val gone = expired ++ prior
    val own = gone.map(m => s"v${m.version}-").toSet
    gone.flatMap(_.mapping.map(_._2)).distinct
      .filter(d => own.exists(d.startsWith))
      .filterNot(referenced)
      .foreach(d => fs.delete(new Path(s"${dataRoot(name)}/$d"), true))
  }

  /** The branch's already-expired (d-filed) commits.
    * [[expireBranchSnapshots]] renames expired middles to d-files,
    * but a data dir one of them CREATED can outlive its manifest when
    * a later branch commit still references it. Reclaim passes must
    * therefore treat those dirs as branch-owned candidates too —
    * otherwise dropping the branch orphans them until an unrelated
    * main expiry pass happens to reach their version (a storage leak
    * on quiet tables). The `wap.isEmpty` filter keeps retired staged
    * snapshots (also d-filed) out of branch accounting. */
  private def droppedBranchManifests(name: String,
      branch: String): Seq[Manifest] = {
    requireValidBranch(branch)
    val dir = commitsPath(name)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.matches("d\\d{8}"))
      .sortBy(_.getPath.getName)
      .flatMap(st => readManifest(st.getPath))
      .filter(m => m.wap.isEmpty && m.branch == branch)
  }

  /** Cherry-pick ONE commit onto the main head — the Iceberg
    * `cherrypick_snapshot` analogue, and the partial alternative to
    * [[mergeBranch]]: apply exactly what snapshot `v` changed
    * relative to ITS OWN parent (both must still be live), leaving
    * the rest of the source lineage behind. Rels the pick changed
    * overlay the head's mapping; a rel the head ALSO changed since
    * the pick's parent conflicts ([[BranchMergeConflict]]) unless
    * both landed identical dirs. Zero data I/O — the new manifest
    * shares the picked dirs. Returns the new head version. */
  def cherryPick(name: String, v: Long): Long = {
    val picked = manifestAt(name, v).getOrElse(
      throw new NoSuchElementException(
        s"$name has no live snapshot $v to cherry-pick"))
    val base = manifestAt(name, picked.parent).getOrElse(
      throw new NoSuchElementException(
        s"$name: snapshot $v's parent ${picked.parent} is no longer " +
          "live — the pick's own delta is unrecoverable"))
    val ours = current(name).getOrElse(throw new NoSuchElementException(
      s"no snapshots for $name"))
    require(picked.partitionBy == ours.partitionBy,
      s"$name: cherry-pick layout ${picked.partitionBy} does not match " +
        s"head layout ${ours.partitionBy}")
    def dirSets(mm: Manifest): Map[String, Set[String]] =
      mm.mapping.groupBy(_._1).map { case (r, es) => r -> es.map(_._2).toSet }
    val (bd, pd, od) = (dirSets(base), dirSets(picked), dirSets(ours))
    val rels = bd.keySet ++ pd.keySet ++ od.keySet
    val pickChanged = rels.filter(r => bd.get(r) != pd.get(r))
    val conflicts = pickChanged
      .filter(r => bd.get(r) != od.get(r) && pd.get(r) != od.get(r))
      .toSeq.sorted
    if (conflicts.nonEmpty)
      throw new BranchMergeConflict(name, s"cherry-pick:$v", conflicts)
    require(picked.deletes == base.deletes,
      s"$name: snapshot $v changes the pending-delete set — a " +
        "merge-on-read takedown is snapshot-wide and cannot be " +
        "cherry-picked; re-run deleteKeys against the head instead")
    val mapping = ours.mapping.filterNot(e => pickChanged(e._1)) ++
      picked.mapping.filter(e => pickChanged(e._1))
    val stats = ours.stats.filterNot(s => pickChanged(s._1)) ++
      picked.stats.filter(s => pickChanged(s._1))
    // the picked commit's data was never validated under checks the
    // HEAD carries that its own lineage lacked — scan the adopted
    // rels before any metadata moves (merge discipline)
    locally {
      val missing = ours.checks.filterNot(picked.checks.contains)
      if (missing.nonEmpty && pickChanged.nonEmpty) {
        import org.apache.spark.sql.functions.{expr, not}
        val df = load(name, picked.copy(
          mapping = picked.mapping.filter(e => pickChanged(e._1))))
        missing.foreach { case (cn, sql) =>
          val bad = df.where(not(expr(sql))).take(1)
          if (bad.nonEmpty) throw new CheckViolation(name,
            cn, sql, s"[cherry-picked $v] ${bad.head.toString}")
        }
      }
    }
    // column-identity guard (merge discipline): the picked dirs must
    // be readable under the HEAD's ledger — a pick from a lineage that
    // predates the table's identity ledger (or that re-assigned a
    // still-named column's ID) would brick the head until rollback
    requireLedgerCompatible(name, ours.fieldIds,
      picked, picked.mapping.filter(e => pickChanged(e._1)),
      s"cherry-picked snapshot $v")
    val next = nextVersion(name)
    casManifest(name, Manifest(next, ours.partitionBy, mapping,
      ours.schemaDDL, stats, deletes = ours.deletes,
      // head keeps its own name view; the picked dirs' files carry
      // the same stable IDs, so they read correctly under it
      fieldIds = ours.fieldIds,
      columnDefaults = ours.columnDefaults, checks = ours.checks),
      observedParent = ours.version)
    expireSnapshots(name)
    next
  }

  /** Retire a branch: every branch manifest is renamed to a d-file
    * (version burned, never re-served — the WAP-retire discipline),
    * then data dirs the branch's own commits created (`v{v}-` for the
    * branch's versions) are reclaimed UNLESS another live manifest
    * still references them (a fast-forwarded head shares the branch's
    * dirs). Fork-point dirs are shared by construction and never
    * touched. */
  def dropBranch(name: String, branch: String): Unit = {
    val ms = branchManifests(name, branch)
    require(ms.nonEmpty, s"$name has no branch `$branch`")
    // middles expireBranchSnapshots already d-filed: their dirs may
    // have been kept alive only by the manifests we are about to
    // drop, so they join the reclaim candidates (see
    // [[droppedBranchManifests]])
    val expired = droppedBranchManifests(name, branch)
    // markers first: readers stop resolving before files disappear
    ms.foreach(m =>
      fs.rename(commitFile(name, m.version), droppedFile(name, m.version)))
    // reference set from every REMAINING live manifest (main, other
    // branches, staged WAP), read after the renames
    val dir = commitsPath(name)
    val referenced: Set[String] =
      if (!fs.exists(dir)) Set.empty
      else fs.listStatus(dir).toSeq
        .filter(_.getPath.getName.matches("c\\d{8}"))
        .flatMap(st => readManifest(st.getPath))
        .flatMap(m => m.mapping.map(_._2) ++ m.deletes.map(_._1))
        .toSet
    val gone = ms ++ expired
    val own = gone.map(m => s"v${m.version}-").toSet
    gone.flatMap(_.mapping.map(_._2)).distinct
      .filter(d => own.exists(d.startsWith))
      .filterNot(referenced)
      .foreach(d => fs.delete(new Path(s"${dataRoot(name)}/$d"), true))
  }

  // -------------------------------------------- write-audit-publish

  /** Stage a FULL snapshot under a WAP id without moving the head:
    * the data is written and committed like any snapshot, but head
    * resolution, `versions`, time travel, the change feed, and every
    * reader skip it until [[publishStaged]] — the Iceberg
    * write-audit-publish pattern. Audit the staged rows with
    * [[readStaged]] (run the validation suite, diff against the
    * head), then publish (one manifest CAS, zero data I/O — the
    * published snapshot SHARES the staged data dirs) or
    * [[dropStaged]] (staged data reclaimed, head never perturbed).
    *
    * Staged snapshots are pinned against retention until retired and
    * are invisible to concurrent writers' conflict checks: main
    * commits keep landing while an audit runs. The price is re-check
    * at publish time — the staged parent must still be the head. */
  def stageFull(df: DataFrame, name: String, wapId: String,
      partitionBy: Seq[String] = Nil,
      statsColumns: Seq[String] = Nil): Long =
    stage(df, name, wapId, partitionBy, statsColumns, delta = false)

  /** Stage a partition DELTA (the shape of a daily append /
    * backfill): only the incoming partitions are written; the staged
    * manifest shares every untouched partition dir with the observed
    * head. See [[stageFull]] for the WAP contract. */
  def stagePartitions(df: DataFrame, name: String, wapId: String,
      partitionBy: Seq[String],
      statsColumns: Seq[String] = Nil): Long =
    stage(df, name, wapId, partitionBy, statsColumns, delta = true)

  private def stage(df: DataFrame, name: String, wapId: String,
      partitionBy: Seq[String], statsColumns: Seq[String],
      delta: Boolean): Long = {
    requireValidTag(wapId)
    require(!stagedSnapshots(name).exists(_._2 == wapId),
      s"$name already has a staged snapshot under WAP id `$wapId` — " +
        "publish or drop it first")
    commit(name, df, partitionBy, deltaPartitions = delta,
      statsColumns = statsColumns, wap = wapId)
  }

  /** All in-flight staged snapshots as (version, wapId), ascending. */
  def stagedSnapshots(name: String): Seq[(Long, String)] = {
    val dir = commitsPath(name)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.matches("c\\d{8}"))
      .sortBy(_.getPath.getName)
      .flatMap(st => readManifest(st.getPath))
      .filter(_.wap.nonEmpty)
      .map(m => (m.version, m.wap))
  }

  private def stagedManifest(name: String, wapId: String): Manifest = {
    requireValidTag(wapId)
    stagedSnapshots(name).find(_._2 == wapId)
      .flatMap { case (v, _) => manifestAt(name, v) }
      .getOrElse(throw new NoSuchElementException(
        s"$name has no staged snapshot under WAP id `$wapId`"))
  }

  /** Read a staged snapshot's rows — the AUDIT surface: full-table
    * semantics (for a staged delta this is head-with-the-delta-
    * applied, exactly what will become the head on publish). */
  def readStaged(name: String, wapId: String): DataFrame =
    load(name, stagedManifest(name, wapId))

  /** Publish a staged snapshot: one manifest CAS fast-forwards the
    * head to the audited rows — zero data I/O, the published snapshot
    * shares the staged dirs, and the version the READERS see is a
    * fresh head version (the staged version number is burned, never
    * re-served). Serializable with concurrent writers: if the head
    * moved after staging, the staged delta's retained partitions are
    * stale and the publish REJECTS with [[ConcurrentWriteException]]
    * (drop and restage on the new head) — the same observed-parent
    * discipline every commit follows. Returns the published head
    * version. */
  def publishStaged(name: String, wapId: String): Long = {
    val m = stagedManifest(name, wapId)
    val headV = current(name).map(_.version).getOrElse(0L)
    if (m.parent != headV)
      throw new ConcurrentWriteException(
        s"$name advanced to $headV after WAP `$wapId` was staged on " +
          s"parent ${m.parent}: the audited snapshot no longer reflects " +
          "head state — drop the staged snapshot and restage")
    val v = nextVersion(name)
    casManifest(name, m.copy(version = v, wap = ""),
      observedParent = m.parent)
    // retire the staged marker: version burned via the d-file so the
    // audit trail ("validated at version N") stays unambiguous forever
    fs.rename(commitFile(name, m.version), droppedFile(name, m.version))
    expireSnapshots(name)
    v
  }

  /** Abandon a staged snapshot: data dirs ONLY this staged manifest
    * references (its own `v{staged}-` write, or a row-level rewrite's
    * `rl-` staging — retained parent dirs are shared with live
    * manifests and never touched) are deleted and the version is
    * burned. The head was never perturbed. */
  def dropStaged(name: String, wapId: String): Unit = {
    val m = stagedManifest(name, wapId)
    // marker first: readers stop resolving the manifest before its
    // files disappear
    fs.rename(commitFile(name, m.version), droppedFile(name, m.version))
    // referenced-by-others set read AFTER the rename (this manifest is
    // no longer live, so anything only it held is now reclaimable)
    val dir = commitsPath(name)
    val others: Set[String] =
      if (!fs.exists(dir)) Set.empty
      else fs.listStatus(dir).toSeq
        .filter(_.getPath.getName.matches("c\\d{8}"))
        .flatMap(st => readManifest(st.getPath))
        .flatMap(mm => mm.mapping.map(_._2) ++ mm.deletes.map(_._1))
        .toSet
    m.mapping.map(_._2).distinct
      .filterNot(others)
      .foreach(d => fs.delete(new Path(s"${dataRoot(name)}/$d"), true))
  }

  /** The full write-audit-publish loop: stage `df` (delta when
    * `partitionBy` + `delta`), run `audit` over the staged full-table
    * read, publish on pass / drop on fail. Returns the published head
    * version, or None when the audit rejected (staged data already
    * reclaimed). */
  def writeAuditPublish(df: DataFrame, name: String, wapId: String,
      audit: DataFrame => Boolean, partitionBy: Seq[String] = Nil,
      delta: Boolean = false, statsColumns: Seq[String] = Nil)
      : Option[Long] = {
    if (delta) stagePartitions(df, name, wapId, partitionBy, statsColumns)
    else stageFull(df, name, wapId, partitionBy, statsColumns)
    val passed =
      try audit(readStaged(name, wapId))
      catch { case e: Throwable => dropStaged(name, wapId); throw e }
    if (passed) Some(publishStaged(name, wapId))
    else { dropStaged(name, wapId); None }
  }

  /** Drop LIVE snapshots beyond the last `keepSnapshots` and delete
    * data dirs no retained snapshot references. Retention counts live
    * manifests only -- debris (truncated manifests) must not displace
    * a real snapshot out of the window. Expired commit files are
    * RENAMED to tombstones (`x{v}`), not deleted: the tombstones are
    * the monotonic floor casManifest checks, and the renames land
    * BEFORE any data-dir deletion so a concurrent stale writer is
    * rejected before its observed files can vanish. Debris at or
    * below the floor is provably dead (casManifest rejects those
    * versions, and a writer mid-create there fails its verify-read)
    * and is reclaimed; in-flight staged data dirs above the floor are
    * never touched. */
  def expireSnapshots(name: String): Unit = {
    val dir = commitsPath(name)
    if (!fs.exists(dir)) return
    val commits = fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.matches("c\\d{8}")).map(_.getPath)
      .sortBy(_.getName)
    val (allLive, debris) = commits.partition(p => readManifest(p).isDefined)
    // staged (WAP) snapshots and BRANCH commits neither consume
    // retention slots nor expire: staged snapshots are in-flight work
    // pinned until published or dropped; branch lineages are pinned
    // until the branch is dropped (dropBranch reclaims) — and both
    // kinds of manifest keep their data dirs live below
    val (staged, live) = allLive.partition(p =>
      readManifest(p).exists(m => m.wap.nonEmpty || m.branch.nonEmpty))
    // tagged snapshots are pinned: retention never tombstones them or
    // reclaims dirs their manifests reference (drop the tag to free)
    val tagged = tags(name).map(_._2).toSet
    if (live.size > keepSnapshots) {
      val expired = live.dropRight(keepSnapshots)
        .filterNot(p => tagged(fileVersion(p)))
      if (expired.nonEmpty) {
        val retained = live.filterNot(expired.contains) ++ staged
        val liveDirs = retained.flatMap(readManifest).flatMap(_.mapping.map(_._2)).toSet
        expired.foreach(p => fs.rename(p, tombstoneFile(name, fileVersion(p))))
        val maxExpired = expired.map(fileVersion).max
        val dRoot = new Path(dataRoot(name))
        if (fs.exists(dRoot)) fs.listStatus(dRoot).toSeq.map(_.getPath)
          .filter { p =>
            val n = p.getName
            !liveDirs(n) && n.matches("v\\d+-.*") &&
              n.drop(1).takeWhile(_.isDigit).toLong <= maxExpired
          }
          .foreach(fs.delete(_, true))
      }
    }
    val floor = expiryFloor(name)
    debris.filter(p => fileVersion(p) <= floor).foreach(fs.delete(_, false))
    // orphaned staging files (writer died between stage and publish):
    // the embedded version tells us when one is provably dead -- a
    // live writer's dot-temp is always at a version ABOVE the floor.
    // Digits are matched open-endedly (%08d GROWS past 8 digits at
    // version 1e8 -- a fixed {8} would leak those forever), and
    // LocalFileSystem checksum sidecars (..tmp-*.crc) are swept with
    // their temp
    val Orphan = "\\.?\\.tmp-c(\\d+)-.*?(\\.crc)?".r
    fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(p => p.getName match {
        case Orphan(v, _) => v.toLong <= floor
        case _ => false
      })
      .foreach(fs.delete(_, false))
  }

  /** Snapshot audit surface (the Iceberg `table.snapshots` analogue):
    * one row per LIVE snapshot -- version, the parent version the
    * writer observed (-1 in pre-r7 manifests), partition columns,
    * distinct data dirs (fan width a scan of that version pays),
    * partition count, whether it shares any data dir with its
    * predecessor (delta commit or rollback alias), and `lineage_ok`:
    * the recorded parent IS the preceding live version (or the
    * predecessor was expired / parent unrecorded). A false row is the
    * after-the-fact signature of the optimistic protocol's residual
    * race (a commit that landed below a head that never saw it) --
    * detectable here instead of silent. Driver-side manifest reads;
    * manifests are tiny by construction. */
  def snapshots(name: String): DataFrame = {
    import spark.implicits._
    val ms = versions(name).flatMap(v => manifestAt(name, v))
    // floor read AFTER the manifest reads: an expiry racing this scan
    // can remove versions mid-listing, and any parent at or below the
    // post-scan floor is an expired predecessor, not a lineage break
    // (conservative: a real race whose parent also expired is missed,
    // never a clean chain falsely flagged)
    val floor = expiryFloor(name)
    val rows = ms.zip(None +: ms.map(Some(_))).map { case (m, prev) =>
      val dirs = m.mapping.map(_._2).distinct
      val shared = prev.exists(_.mapping.map(_._2).toSet.intersect(dirs.toSet).nonEmpty)
      val lineageOk = m.parent == -1L || m.parent <= floor ||
        prev.map(_.version == m.parent)
          // first live snapshot: parent must be pre-history (a fresh
          // table's 0) or expired below the floor
          .getOrElse(m.parent == 0L)
      (m.version, m.parent, m.partitionBy.mkString(","), dirs.size.toLong,
        m.mapping.size.toLong, shared, lineageOk)
    }
    rows.toDF("version", "parent_version", "partition_by", "n_data_dirs",
      "n_partitions", "shares_parent_files", "lineage_ok")
  }

  /** Changelog between two snapshots (the Iceberg CDC / changelog-scan
    * analogue): one row per key whose row was inserted, updated, or
    * deleted between `fromV` and `toV`. Values are the post-change row
    * for insert/update and the deleted row for delete.
    *
    * Scale shape: because delta commits SHARE unchanged partitions'
    * data dirs, any partition mapped to the same dir in both manifests
    * is provably identical -- `pruneUnchanged` (default) drops those
    * from BOTH scans before the full-outer key join, so the diff costs
    * the changed partitions, not the table. Pruning assumes a key does
    * not migrate between partitions across the two snapshots (true
    * whenever the partition columns are function of the key, the
    * MERGE-writer invariant); pass pruneUnchanged=false otherwise. */
  /** `includePre`: also emit each data column's FROM-side value as
    * `pre_<col>` (null for inserts; for deletes pre equals the main
    * columns, which carry the deleted row) -- the pre-image feed
    * incremental aggregate maintenance needs (see
    * [[IncrementalAgg]]). */
  def snapshotDiff(name: String, fromV: Long, toV: Long,
      keys: Seq[String], pruneUnchanged: Boolean = true,
      includePre: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, when}
    require(keys.nonEmpty, "snapshotDiff needs at least one key column")
    val mFrom = manifestAt(name, fromV).getOrElse(throw new NoSuchElementException(
      s"$name has no live snapshot $fromV"))
    val mTo = manifestAt(name, toV).getOrElse(throw new NoSuchElementException(
      s"$name has no live snapshot $toV"))
    // compare the full DIR SET per rel, not a last-entry Map (a rel
    // can map to several dirs after file-level appends; toMap would
    // silently compare only one of them)
    def dirSets(mm: Manifest): Map[String, Set[String]] =
      mm.mapping.groupBy(_._1).map { case (r, es) => r -> es.map(_._2).toSet }
    val (fm, tm) = (dirSets(mFrom), dirSets(mTo))
    // merge-on-read deletes are snapshot-wide: equal dir sets prove a
    // rel unchanged only when the pending delete sets are ALSO equal
    // (a deleteKeys commit changes no dirs at all)
    val changed: String => Boolean =
      if (pruneUnchanged && mFrom.deletes == mTo.deletes)
        rel => fm.get(rel) != tm.get(rel)
      else _ => true
    val oldDf = load(name, mFrom.copy(mapping = mFrom.mapping.filter(p => changed(p._1))))
    val newDf = load(name, mTo.copy(mapping = mTo.mapping.filter(p => changed(p._1))))
    // the diff is expressed in the TO snapshot's schema: columns added
    // by an evolution read as null on the FROM side (so evolved rows
    // classify as updates), dropped columns are not compared
    val dataCols = newDf.columns.filterNot(keys.contains).toSeq
    val oldCols = oldDf.columns.toSet
    val oldT = oldDf.select(keys.map(col) ++ Seq(lit(1).as("__in_old")) ++
      dataCols.map { c =>
        (if (oldCols(c)) col(c)
         else lit(null).cast(newDf.schema(c).dataType)).as(s"__o_$c")
      }: _*)
    val newT = newDf.select(keys.map(col) ++ Seq(lit(1).as("__in_new")) ++
      dataCols.map(col): _*)
    val rowChanged = dataCols.map(c => !(col(c) <=> col(s"__o_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val ctype = when(col("__in_old").isNull, "insert")
      .when(col("__in_new").isNull, "delete")
      .when(rowChanged, "update")
    val preCols =
      if (includePre) dataCols.map(c => col(s"__o_$c").as(s"pre_$c")) else Nil
    oldT.join(newT, keys, "full_outer")
      .filter(ctype.isNotNull)
      .select(keys.map(col) ++ Seq(ctype.as("change_type")) ++
        dataCols.map(c =>
          when(col("__in_new").isNull, col(s"__o_$c")).otherwise(col(c)).as(c)) ++
        preCols: _*)
  }

  /** Per-commit changelog walk: the changelog of EVERY live commit in
    * (fromV, toV], each row tagged `commit_version` -- the batch twin
    * of the change feed's `maxVersionsPerTrigger = 1` granularity
    * where [[snapshotDiff]] alone gives the net collapse. Audit
    * answers ("which commit deleted these rows?") read straight off
    * the tag. Cost: one partition-pruned diff per live commit in the
    * range; expired intermediate versions collapse into their
    * successor's diff (the walk steps across live versions only). */
  def changelogWalk(name: String, fromV: Long, toV: Long,
      keys: Seq[String], includePre: Boolean = false): DataFrame = {
    require(fromV < toV, s"changelogWalk needs fromV < toV, got [$fromV, $toV]")
    val live = versions(name).filter(v => v >= fromV && v <= toV)
    require(live.headOption.contains(fromV) && live.lastOption.contains(toV),
      s"$name has no live snapshots at both ends of [$fromV, $toV]")
    import org.apache.spark.sql.functions.lit
    val diffs = live.sliding(2).collect { case Seq(a, b) =>
      snapshotDiff(name, a, b, keys, includePre = includePre)
        .withColumn("commit_version", lit(b))
    }.toSeq
    // every diff speaks its TO snapshot's schema: a schema change inside
    // the range would misalign a positional union, so reject it
    require(diffs.forall(_.columns.sameElements(diffs.head.columns)),
      s"$name changed its schema inside [$fromV, $toV]; walk each side " +
        "of the change separately")
    diffs.reduce(_ union _)
  }

  /** SQL surface: the current snapshot as a session temp view (a
    * manifest table spans dirs, so it registers as a view rather
    * than a single-location catalog table). */
  def register(name: String): Unit =
    read(name).createOrReplaceTempView(name)

  /** SQL-surface time travel (the `VERSION AS OF` analogue): snapshot
    * `v` as the temp view `name_v{v}`, so a plain SQL query can join
    * the table against its own past (audit / drift queries). Returns
    * the view name. */
  def registerVersion(name: String, v: Long): String = {
    val view = s"${name}_v$v"
    readVersion(name, v).createOrReplaceTempView(view)
    view
  }

  /** SQL surface for the changelog: `snapshotDiff(fromV, toV)` as the
    * temp view `<table>_changes_v<from>_v<to>` -- the batch twin of
    * the [[graft.streaming.ChangeFeedProvider]] streaming feed, for
    * audit SQL over what a maintenance window changed
    * (`SELECT change_type, count(*) FROM t_changes_v3_v7 GROUP BY 1`).
    * Returns the view name. */
  def registerChangelog(name: String, fromV: Long, toV: Long,
      keys: Seq[String], includePre: Boolean = false): String = {
    val view = s"${name}_changes_v${fromV}_v$toV"
    snapshotDiff(name, fromV, toV, keys, includePre = includePre)
      .createOrReplaceTempView(view)
    view
  }

  /** SQL time travel by TAG: temp view `<table>_at_<tag>` over the
    * snapshot the tag pins (view names keep the tag's word characters;
    * dots/dashes fold to `_`). */
  def registerTag(name: String, tag: String): String = {
    val view = s"${name}_at_${tag.replaceAll("[^A-Za-z0-9_]", "_")}"
    readTag(name, tag).createOrReplaceTempView(view)
    view
  }

  // WarehouseWrites: UpsertWriter merges through these, so a MERGE
  // against a versioned store is a snapshot commit with rollback.
  def createOrReplace(df: DataFrame, name: String,
      partitionBy: Seq[String]): Unit = {
    commitFull(df, name, partitionBy, statsFor(name)); ()
  }

  private[table] def swapIn(df: DataFrame, name: String,
      partitionBy: Seq[String]): Unit = {
    commitFull(df, name, partitionBy, statsFor(name)); ()
  }

  def overwritePartitions(df: DataFrame, name: String,
      partitionBy: Seq[String]): Unit = {
    commitPartitions(df, name, partitionBy, statsFor(name)); ()
  }

  def drop(name: String): Unit = {
    spark.sql(s"DROP VIEW IF EXISTS `$name`")
    fs.delete(new Path(path(name)), true)
  }
}
