package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec}

/** Physical-plan regression guards: the scale-critical plan
  * properties PLANS.md documents, asserted so a refactor that
  * silently loses a broadcast, a pushed filter, or a TakeOrdered
  * fails CI instead of surviving to a cluster. */
class PlanSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.sparkPlan
  // subqueries is erased to Seq[Any] at runtime and a checkpointed
  // plan's LogicalRDD can surface LOGICAL subquery plans through it --
  // keep only genuine physical nodes
  private def collectAll(p: SparkPlan): Seq[SparkPlan] =
    (p +: p.children.flatMap(collectAll)) ++
      p.subqueries.asInstanceOf[Seq[Any]]
        .collect { case sp: SparkPlan => sp }.flatMap(collectAll)

  test("p3_filter pushes predicate and projection into the parquet scan") {
    val scans = collectAll(plan(SparkEntry.queries("p3_filter")(spark, dir)))
      .collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    val s = scans.head
    assert(s.dataFilters.nonEmpty, "no pushed data filters")
    // projection pruning: scan reads a strict subset of the 11 columns
    assert(s.requiredSchema.fields.length <= 5,
      s"scan reads ${s.requiredSchema.fields.length} cols")
  }

  test("j1/j2 broadcast the dim side") {
    for (q <- Seq("j1_join_left", "j2_join_agg")) {
      val p = plan(SparkEntry.queries(q)(spark, dir))
      assert(collectAll(p).exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"$q lost its broadcast join")
    }
  }

  test("o1_topk is TakeOrderedAndProject, not a global sort") {
    val p = plan(SparkEntry.queries("o1_topk")(spark, dir))
    assert(p.toString.contains("TakeOrderedAndProject"))
  }

  test("no relational/star query plans a cartesian product") {
    // the deliberate tiny-side cross joins (broadcast N, centroids,
    // query sets) become BroadcastNestedLoopJoin, never Cartesian
    for (q <- Seq("s1_scan_project", "j1_join_left", "j2_join_agg",
        "a1_weekly_ohlcv", "tpch_q1", "text_tfidf", "w1_dedup_agg")) {
      val p = plan(SparkEntry.queries(q)(spark, dir))
      assert(!collectAll(p).exists(_.isInstanceOf[CartesianProductExec]),
        s"$q plans CartesianProduct")
    }
  }

  test("w1_dedup_agg plans an aggregate with no window sort") {
    val p = plan(SparkEntry.queries("w1_dedup_agg")(spark, dir))
    val s = p.toString
    assert(!s.contains("Window"), "agg variant must not plan a window")
    assert(s.contains("HashAggregate") || s.contains("SortAggregate"))
  }

  test("lshJaccardPairs reads its hash projection from one materialization") {
    val p = plan(graft.ops.DedupOps.dedupMinhashLsh(spark, dir))
    // both self-join branches must scan the checkpointed RDD, not the
    // raw parquet (which would recompute the signatures per branch)
    val parquetScans = collectAll(p).collect { case f: FileSourceScanExec => f }
    assert(parquetScans.isEmpty,
      "pair join recomputes the hash projection from the parquet scan")
    assert(p.toString.contains("ExistingRDD"))
  }

  test("benched approx stats is the one-scan HLL plan, not the exact-distinct Expand") {
    // the ORACLE entry is the tolerance gate (computes exact NDV too:
    // multi-column exact distinct = Expand, input x ncols+1, full
    // shuffle); the BENCH override must be the production sketch --
    // one narrow scan, map-side-combinable partials, no Expand
    val prod = plan(SparkEntry.benchOverrides("s15_table_stats_approx")(spark, dir))
    assert(!collectAll(prod)
        .exists(_.isInstanceOf[org.apache.spark.sql.execution.ExpandExec]),
      "production approx stats plans an Expand (exact-distinct shape)")
    assert(!prod.toString.contains("count(distinct"))
    val gate = plan(SparkEntry.queries("s15_table_stats_approx")(spark, dir))
    assert(collectAll(gate)
        .exists(_.isInstanceOf[org.apache.spark.sql.execution.ExpandExec]),
      "gate lost its exact twin (band check no longer guards the sketch)")
  }

  test("decontamination broadcasts the benchmark gram set, never a cartesian") {
    val p = plan(graft.ops.DedupOps.dedupDecontaminate(spark, dir))
    val all = collectAll(p)
    assert(!all.exists(_.isInstanceOf[CartesianProductExec]))
    assert(all.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "benchmark gram set must broadcast (eval sets are tiny vs the corpus)")
  }

  test("versioned store reads partition-prune through one manifest scan") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-planspec-v").toString
    val vs = new graft.table.VersionedTableStore(spark, root)
    vs.commitFull(Seq((1, "a", "d1"), (2, "b", "d2")).toDF("k", "v", "day"),
      "pt", Seq("day"))
    vs.commitPartitions(Seq((3, "c", "d3")).toDF("k", "v", "day"), "pt", Seq("day"))
    val filtered = vs.read("pt").filter($"day" === "d3")
    // two data dirs, ONE scan over the snapshot's file index
    val scans = collectAll(filtered.queryExecution.executedPlan)
      .collect { case b: BatchScanExec => b }
    assert(scans.size === 1, "a store read should be one scan however many dirs")
    val ps = scans.head.scan.asInstanceOf[org.apache.spark.sql.graft.GraftScan].parquetScan
    assert(ps.partitionFilters.exists(_.toString.contains("d3")),
      s"scan lost the day partition filter: ${ps.partitionFilters}")
    val planned = graft.table.PlannedScan.files(filtered)
    assert(planned.nonEmpty && planned.forall(_.contains("day=d3")))
    assert(filtered.count() === 1)
  }

  test("the similarity query side joins as a broadcast, never shuffled") {
    val q = graft.core.Tables.embeddings(spark, dir)
      .selectExpr("vec_id AS id", "embedding AS e")
    val hits = graft.api.Similarity.cosineTopK(q, org.apache.spark.sql.functions.col("id"),
      org.apache.spark.sql.functions.col("e"),
      q.filter("id < 3"), org.apache.spark.sql.functions.col("id"),
      org.apache.spark.sql.functions.col("e"))
    // sparkPlan predates EnsureRequirements, so assert the broadcast
    // JOIN node (the exchange is inserted later)
    val s = plan(hits).toString
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastHashJoin"))
  }

  test("chunking is one shuffle-free codegen pass over a two-column scan") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = SparkEntry.queries("text_chunk")(spark, dir)
      .queryExecution.executedPlan
    assert(!collectAll(p).exists(_.isInstanceOf[ShuffleExchangeExec]),
      "chunking must not shuffle")
    val scan = collectAll(p).collect { case f: FileSourceScanExec => f }.head
    assert(scan.requiredSchema.fieldNames.toSet === Set("doc_id", "text"),
      s"chunk scan reads ${scan.requiredSchema.fieldNames.mkString(",")}")
  }

  test("char entropy is one shuffle-free codegen pass reading only doc_id+text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = SparkEntry.queries("text_entropy")(spark, dir)
      .queryExecution.executedPlan
    assert(!collectAll(p).exists(_.isInstanceOf[ShuffleExchangeExec]),
      "char entropy must not shuffle")
    val scan = collectAll(p).collect { case f: FileSourceScanExec => f }.head
    assert(scan.requiredSchema.fieldNames.toSet === Set("doc_id", "text"),
      s"entropy scan reads ${scan.requiredSchema.fieldNames.mkString(",")}")
  }

  test("packing plans the bounded bucket-offset shape: bucketed windows, broadcast offsets") {
    // r9: packOf moved from one per-stream window (stream NDV is a
    // handful of languages FOREVER -- the low-card-window shape) to
    // BoundedWindows.prefixSum. The pin: every window partitions by
    // (stream, bucket) or runs over the tiny per-bucket aggregate;
    // the offset/bounds tables join back as BROADCAST, and the only
    // corpus-sized hash shuffle is the (stream, bucket) window's.
    val df = SparkEntry.queries("text_pack")(spark, dir)
    val t = df.queryExecution.executedPlan.treeString
    val corpusShuffles =
      "Exchange hashpartitioning\\(stream[^,]*, __bw_bin".r.findAllIn(t).size
    assert(corpusShuffles >= 1,
      s"packing lost its (stream, bucket) window shuffle:\n$t")
    assert("BroadcastExchange".r.findAllIn(t).nonEmpty,
      "bounds/offsets must ride broadcasts")
    val wins = collectAll(plan(df)).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    wins.foreach { w =>
      val overAgg = w.child.collectFirst {
        case a if a.getClass.getSimpleName.contains("Aggregate") => a
      }.isDefined
      assert(w.partitionSpec.size >= 2 || overAgg,
        s"window on ${w.partitionSpec.mkString(",")} is stream-partition-sized")
    }
  }

  test("incremental dedup computes the shared signature projection once") {
    val p = plan(graft.ops.DedupOps.dedupIncremental(spark, dir))
    // both sides must branch from the one materialized token-hash
    // table -- a parquet scan in either branch means the md5 hashing
    // (the expensive stage) re-runs per side
    val parquetScans = collectAll(p).collect { case f: FileSourceScanExec => f }
    assert(parquetScans.isEmpty,
      "incremental pair join recomputes the hash projection from the parquet scan")
    assert(p.toString.contains("ExistingRDD"))
  }

  test("PQ encode broadcasts the codebook, never a cartesian") {
    val p = plan(graft.ops.SimilarityOps.embPqEncode(spark, dir))
    val all = collectAll(p)
    assert(!all.exists(_.isInstanceOf[CartesianProductExec]))
    assert(all.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "encode pass must join the broadcast codebook")
  }

  test("range join is a bucket equi-join, never a nested-loop or cartesian") {
    // the scale property of j5: the interval predicate must ride INSIDE
    // a hash equi-join on the time bucket -- a BroadcastNestedLoopJoin
    // (Spark's default for pure range predicates) is quadratic at scale
    val all = collectAll(plan(SparkEntry.queries("j5_range_join")(spark, dir)))
    assert(!all.exists(_.isInstanceOf[CartesianProductExec]))
    assert(!all.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "range join fell back to a nested-loop join")
    assert(all.exists(p => p.isInstanceOf[BroadcastHashJoinExec] ||
      p.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec] ||
      p.isInstanceOf[org.apache.spark.sql.execution.joins.ShuffledHashJoinExec]),
      "range join lost its bucket equi-join")
  }

  test("mixture sample broadcasts the per-source rate table") {
    val all = collectAll(plan(SparkEntry.queries("p12_mixture_sample")(spark, dir)))
    assert(!all.exists(_.isInstanceOf[CartesianProductExec]))
    assert(all.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "docs->rates join must broadcast the 20-row rate side")
  }

  test("bm25 never plans a cartesian; corpus stats ride a broadcast") {
    val all = collectAll(plan(SparkEntry.queries("text_bm25")(spark, dir)))
    assert(!all.exists(_.isInstanceOf[CartesianProductExec]))
    assert(all.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "1-row stats side must join as a broadcast")
  }

  test("tpch_q3 broadcasts the segment dim and cuts top-10 without a global sort") {
    val p = plan(SparkEntry.queries("tpch_q3")(spark, dir))
    assert(collectAll(p).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "customer side lost its broadcast")
    assert(p.toString.contains("TakeOrderedAndProject"),
      "top-10 must be TakeOrderedAndProject, not Sort+Limit")
    assert(!collectAll(p).exists(_.isInstanceOf[CartesianProductExec]))
  }

  test("tpch_q5 broadcasts the dim chain; q6 pushes every predicate to the scan") {
    // The canonical gates AND their in-range r15 `b` siblings (the ones
    // whose arithmetic actually sees rows — q5/q6's 1994 windows predate
    // the data) must share the same plan shape.
    for (q <- Seq("tpch_q5", "tpch_q5b")) {
      val p = plan(SparkEntry.queries(q)(spark, dir))
      assert(collectAll(p).exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"$q lost its dim broadcasts")
      assert(!collectAll(p).exists(_.isInstanceOf[CartesianProductExec]))
    }
    for (q <- Seq("tpch_q6", "tpch_q6b")) {
      val scans = collectAll(plan(SparkEntry.queries(q)(spark, dir)))
        .collect { case f: FileSourceScanExec => f }
      assert(scans.nonEmpty && scans.head.dataFilters.nonEmpty,
        s"$q predicates not pushed")
      assert(scans.head.requiredSchema.fields.length <= 4,
        s"$q scan reads ${scans.head.requiredSchema.fields.length} cols")
    }
  }

  test("tpch q4/q22 plan semi/anti joins, never a per-row subquery or cartesian") {
    import org.apache.spark.sql.catalyst.plans.{LeftSemi, LeftAnti}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val q4 = collectAll(plan(SparkEntry.queries("tpch_q4")(spark, dir)))
    assert(q4.collect { case j: BaseJoinExec => j.joinType }.contains(LeftSemi),
      "q4 EXISTS must plan a left-semi join")
    val q22 = collectAll(plan(SparkEntry.queries("tpch_q22")(spark, dir)))
    assert(q22.collect { case j: BaseJoinExec => j.joinType }.contains(LeftAnti),
      "q22 NOT EXISTS must plan a left-anti join")
    assert(!(q4 ++ q22).exists(_.isInstanceOf[CartesianProductExec]))
  }

  test("tpch q10/q18 cut their top-20 via TakeOrderedAndProject") {
    for (q <- Seq("tpch_q10", "tpch_q18")) {
      val p = plan(SparkEntry.queries(q)(spark, dir))
      assert(p.toString.contains("TakeOrderedAndProject"),
        s"$q top-20 must be TakeOrderedAndProject, not Sort+Limit")
      assert(!collectAll(p).exists(_.isInstanceOf[CartesianProductExec]))
    }
  }

  test("tpch_q21 stacks semi and anti self-joins without a cartesian") {
    import org.apache.spark.sql.catalyst.plans.{LeftSemi, LeftAnti}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val all = collectAll(plan(SparkEntry.queries("tpch_q21")(spark, dir)))
    val types = all.collect { case j: BaseJoinExec => j.joinType }
    assert(types.contains(LeftSemi), "EXISTS leg must plan a left-semi join")
    assert(types.contains(LeftAnti), "NOT EXISTS leg must plan a left-anti join")
    assert(!all.exists(_.isInstanceOf[CartesianProductExec]))
    assert(all.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "one-nation supplier slice lost its broadcast")
  }

  test("tpch q2/q17 rewrite correlated subqueries as joins; q11/q15 broadcast scalars") {
    // the scale property for all four: the per-group or global scalar
    // must come from ONE aggregate joined back, never a re-executed
    // per-row subquery, and nothing may plan a cartesian product
    for (q <- Seq("tpch_q2", "tpch_q17", "tpch_q11", "tpch_q15")) {
      val all = collectAll(plan(SparkEntry.queries(q)(spark, dir)))
      assert(!all.exists(_.isInstanceOf[CartesianProductExec]),
        s"$q plans a cartesian product")
      assert(all.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"$q lost its dim/scalar broadcast")
    }
  }

  test("tpch_q19 pushes the union quantity band and broadcasts the brand slice") {
    val p = plan(SparkEntry.queries("tpch_q19")(spark, dir))
    val all = collectAll(p)
    assert(all.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "brand-pruned part side lost its broadcast")
    // the separate [1,30] conjunct is the only disjunction part that can
    // reach the fact scan -- losing it means scanning every quantity
    val liScan = all.collect { case f: FileSourceScanExec => f }
      .find(_.requiredSchema.fieldNames.contains("l_quantity"))
    assert(liScan.exists(_.dataFilters.exists(_.toString.contains("l_quantity"))),
      "union quantity band not pushed to the lineitem scan")
    assert(!all.exists(_.isInstanceOf[CartesianProductExec]))
  }

  test("substr-span dedup joins on the gram hash, never a cartesian") {
    val p = plan(SparkEntry.queries("dedup_substr_spans")(spark, dir))
    val all = collectAll(p)
    assert(!all.exists(_.isInstanceOf[CartesianProductExec]),
      "repeated-gram hit recovery must be an equi-join on the gram hash")
    // the gram stream is built by a projection over the token array --
    // exactly two parquet scans (gram build + semi-join probe side),
    // never one per gram
    val scans = all.collect { case f: FileSourceScanExec => f }
    assert(scans.size <= 2, s"gram stream re-scans the corpus: ${scans.size} scans")
  }

  test("semantic dedup pairs inside cells from one materialized assignment") {
    val p = plan(SparkEntry.queries("dedup_semantic")(spark, dir))
    val all = collectAll(p)
    assert(!all.exists(_.isInstanceOf[CartesianProductExec]),
      "within-cell pairing must be a cell equi-join, never corpus x corpus")
    // both pair sides and the anti join must read the checkpointed
    // assignment, not re-score every vector against the centroids
    val parquetScans = all.collect { case f: FileSourceScanExec => f }
    assert(parquetScans.isEmpty,
      "pair join recomputes the cell assignment from the parquet scan")
    assert(p.toString.contains("ExistingRDD"))
  }

  test("NB scoring rides broadcast joins: no cartesian over the token stream") {
    // the model/vocab/class tables must BROADCAST into the
    // (doc, token) stream; the only shuffle joins allowed are the two
    // DOC-SPINE left joins (matched scores + unseen mass onto the
    // doc x class spine -- both sides doc-sized, where a shuffle join
    // is the correct plan) plus the doc-sized argmax window
    val p = plan(SparkEntry.queries("text_nb_classify")(spark, dir))
    val s = p.toString
    assert(!s.contains("CartesianProduct"), "NB planned a cartesian")
    val smj = "SortMergeJoin".r.findAllIn(s).size
    assert(smj <= 2,
      s"NB planned $smj shuffle joins -- a model-sized table stopped broadcasting")
    val bcast = "Broadcast(Hash|NestedLoop)Join".r.findAllIn(s).size
    assert(bcast >= 2,
      s"NB model/vocab/class tables must ride broadcasts (saw $bcast)")
  }

  test("kmeans assignment is a broadcast projection: no window, no corpus shuffle") {
    // the scale property: per round the k x dim centroids collapse to
    // one broadcast row and the argmax is a per-row fold. The round
    // plan itself is pinned (the op's final frame is a checkpoint
    // scan -- rounds execute eagerly): NO Window, NO sort, NO
    // cartesian over the corpus
    import org.apache.spark.sql.functions.{col, lit, pmod, sqrt, transform}
    val e = graft.core.Tables.embeddings(spark, dir)
    val assigned0 = e.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(graft.functions.ArrayExprs.dot(col("v"), col("v"))))
      .withColumn("cell", pmod(graft.ops.Hashing.h15(col("vec_id").cast("string")),
        lit(graft.ops.SimilarityOps.KmeansK)).cast("long"))
    val p = plan(graft.ops.SimilarityOps.kmeansRound(assigned0))
    val s = p.toString
    assert(!s.contains("Window"), "kmeans argmax planned a window")
    assert(!s.contains("CartesianProduct"), "kmeans planned a cartesian")
    assert(!collectAll(p).exists(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]),
      "kmeans planned a sort")
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastExchange"),
      "centroid row must ride a broadcast")
  }

  test("curriculum binning is a broadcast-bounds projection, not a global sort") {
    // the scale property: decile assignment must NOT plan ntile/Window
    // over one partition or a global Sort of the corpus -- for BOTH
    // the exact oracle gate and the approx production default
    for ((label, fn) <- Seq(
        "gate" -> SparkEntry.queries("p13_curriculum_bins"),
        "production" -> SparkEntry.benchOverrides("p13_curriculum_bins"))) {
      val p = plan(fn(spark, dir))
      val s = p.toString
      assert(!s.contains("Window"), s"$label binning planned a window")
      assert(!collectAll(p).exists(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]),
        s"$label binning planned a sort")
      assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastExchange"),
        s"$label decile bounds must ride a broadcast")
    }
    // the gate computes exact percentile (hash-reproducible), the
    // production path the bounded-state sketch -- don't let either
    // silently become the other
    val gateStr = plan(SparkEntry.queries("p13_curriculum_bins")(spark, dir)).toString
    assert(gateStr.contains("percentile(") && !gateStr.contains("approx_percentile"),
      "gate must compute exact percentile bounds")
    assert(plan(SparkEntry.benchOverrides("p13_curriculum_bins")(spark, dir))
      .toString.contains("approx_percentile"))
  }

  test("a13/a15 production paths plan the percentile sketch; the gates stay exact") {
    for (q <- Seq("a13_winsorize", "a15_mad")) {
      val gate = plan(SparkEntry.queries(q)(spark, dir)).toString
      assert(gate.contains("percentile(") && !gate.contains("approx_percentile"),
        s"$q gate must compute exact percentiles")
      val prod = plan(SparkEntry.benchOverrides(q)(spark, dir)).toString
      assert(prod.contains("approx_percentile"),
        s"$q production path lost the bounded-state sketch")
    }
  }

  test("p17 shuffle-shard: bucket-partitioned rank + broadcast offsets, no global corpus sort") {
    import org.apache.spark.sql.execution.window.WindowExec
    val p = plan(SparkEntry.queries("p17_shuffle_shard")(spark, dir))
    val wins = collectAll(p).collect { case w: WindowExec => w }
    assert(wins.nonEmpty, "expected window nodes")
    // the corpus-sized rank window must partition by bucket; the only
    // legal UNpartitioned window is the running offset over the
    // buckets-row aggregate (tiny by contract) -- its input must be
    // an aggregate, never the raw corpus scan
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(collectAll(w.child).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec]),
        "a global window runs over something other than the bucket aggregate")
    }
    assert(wins.exists(_.partitionSpec.nonEmpty),
      "corpus rank lost its bucket partitioning (single-task global sort)")
    assert(collectAll(p).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "bucket offsets must ride a broadcast join")
    assert(!collectAll(p).exists(_.isInstanceOf[CartesianProductExec]))
  }

  test("u2 bag ops plan count-aggregated set ops, no cartesian") {
    val p = plan(SparkEntry.queries("u2_bag_ops")(spark, dir))
    assert(!collectAll(p).exists(_.isInstanceOf[CartesianProductExec]))
    // INTERSECT/EXCEPT ALL compile to per-side count aggregates +
    // a key join + replicate -- never a distinct-then-rejoin of rows
    assert(p.toString.contains("Generate") || p.toString.contains("HashAggregate"))
  }

  test("j5 salting splits a planted hot bucket and is result-identical to unsalted") {
    import spark.implicits._
    import graft.queries.AnalyticsQueries
    val W = AnalyticsQueries.RangeWindowUs
    // 2000 of 2100 events land in time bucket 0 (>50% hot); sparse tail
    // spreads over buckets 10..109; every ~40th event opens a window
    val hot = (0 until 2000).map { i =>
      (i.toLong, (i % 50).toLong, (i.toLong * 997) % W,
        if (i % 40 == 0) "error" else "click")
    }
    val sparse = (0 until 100).map { i =>
      ((2000 + i).toLong, (i % 50).toLong, W * (10 + i) + 1234L,
        if (i % 10 == 0) "error" else "click")
    }
    val ev = (hot ++ sparse)
      .toDF("event_id", "user_id", "ts_us", "event_type")
    def rows(df: DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val unsalted = AnalyticsQueries.j5RangeJoinOf(ev, saltG = 1)
    val salted = AnalyticsQueries.j5RangeJoinOf(ev, saltG = 8)
    assert(rows(salted) === rows(unsalted), "salting changed the result")
    assert(unsalted.count() > 0)
    // the salted plan joins on (bucket, salt) -- the hot bucket's point
    // rows hash across all 8 salt groups instead of one reducer
    val t = salted.queryExecution.executedPlan.treeString
    assert(t.contains("salt"), "salted plan lost its salt join key")
    assert(!collectAll(plan(salted)).exists(_.isInstanceOf[CartesianProductExec]))
    val saltSpread = ev.filter($"ts_us" < W)
      .select(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64($"event_id"),
        org.apache.spark.sql.functions.lit(8L)).as("g"))
      .distinct().count()
    assert(saltSpread === 8, s"hot bucket spread over $saltSpread of 8 salt groups")
  }

  test("unigram logprob broadcasts the vocab, never a cartesian") {
    val p = plan(SparkEntry.queries("text_unigram_logprob")(spark, dir))
    val all = collectAll(p)
    assert(!all.exists(_.isInstanceOf[CartesianProductExec]))
    assert(all.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "tf->vocab join must broadcast the vocab side")
  }

  test("bigram logprob broadcasts its model tables, never a cartesian") {
    val p = plan(SparkEntry.queries("text_bigram_logprob")(spark, dir))
    val all = collectAll(p)
    assert(!all.exists(_.isInstanceOf[CartesianProductExec]))
    assert(all.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "bigram scoring join must broadcast the quantized-logp model")
  }

  test("paragraph dedup: pk-keyed hash aggregation, no window over the corpus, no cartesian") {
    val all = collectAll(plan(SparkEntry.queries("dedup_paragraph")(spark, dir)))
    assert(!all.exists(_.isInstanceOf[CartesianProductExec]),
      "dedup_paragraph plans CartesianProduct")
    // first-occurrence election must stay a map-side-combinable agg,
    // never a corpus-wide window (partial HashAggregate before the pk
    // exchange is the scale property)
    assert(!all.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      "dedup_paragraph grew a window -- first-occurrence election should be a min-struct agg")
    val aggs = all.collect {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a.toString
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a.toString
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a.toString
    }
    assert(aggs.exists(_.contains("partial_min")),
      "pk first-occurrence agg lost its map-side partial")
  }

  test("hybrid RRF: query terms broadcast into the BM25 stream; sparse top-k is salted two-stage") {
    val all = collectAll(plan(SparkEntry.queries("ret_hybrid_rrf")(spark, dir)))
    assert(!all.exists(_.isInstanceOf[CartesianProductExec]),
      "ret_hybrid_rrf plans CartesianProduct")
    // the corpus-sized BM25 (doc, token) stream joins the TINY query
    // term list -- that join must be broadcast, never a shuffle of
    // the stream onto token
    assert(all.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "query-term join lost its broadcast")
    // two window passes per ranking stage (salted local + exact
    // final) bound per-task sort state; fusion adds one more --
    // sanity: windows exist but none partitions on nothing (a global
    // window would sort the corpus on one task)
    val wins = all.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(wins.nonEmpty)
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "a ranking window lost its partition spec (global single-task sort)")
  }

  test("round-8 ops: no cartesian anywhere, pagerank reclaim adds only a 1-row broadcast") {
    for (q <- Seq("graph_pagerank_dangling", "sim_ann_recall", "sim_ann_ivfpq",
        "dedup_minhash_norm", "text_normalize", "s24_merge_by_source")) {
      val all = collectAll(plan(SparkEntry.queries(q)(spark, dir)))
      assert(!all.exists(_.isInstanceOf[CartesianProductExec]),
        s"$q plans CartesianProduct")
    }
    // text_normalize is a pure projection: shuffle-free, 2-column scan
    val p = plan(SparkEntry.queries("text_normalize")(spark, dir))
    assert(!p.toString.contains("Exchange"), "text_normalize gained a shuffle")
    val scans = collectAll(p).collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty && scans.head.requiredSchema.fields.length <= 2,
      "text_normalize reads more than (doc_id, text)")
  }

  test("over-gate LM model joins plan SHUFFLED, not broadcast (100 TB bigram vocab)") {
    // with the size gate forced to 0 (and Spark's own auto-broadcast
    // off so the tiny test corpus can't mask the gate), every
    // model-table join -- c1, uni, and the scoring lp join -- must
    // plan as a shuffled join on its key: a corpus-proportional
    // bigram vocab is billions of rows at 100 TB and cannot ride a
    // forced broadcast. Only the deliberate 1-row total crossJoin may
    // broadcast (BroadcastNestedLoopJoin).
    val c = spark.conf
    val prevGate = c.getOption("spark.graft.text.modelBroadcastMaxInputBytes")
    val prevAuto = c.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      c.set("spark.graft.text.modelBroadcastMaxInputBytes", "0")
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      for (q <- Seq("text_bigram_logprob", "text_unigram_logprob", "text_nb_classify")) {
        val all = collectAll(plan(SparkEntry.queries(q)(spark, dir)))
        assert(!all.exists(_.isInstanceOf[CartesianProductExec]), s"$q: cartesian")
        assert(!all.exists(_.isInstanceOf[BroadcastHashJoinExec]),
          s"$q still forces a model-table broadcast above the size gate")
        assert(all.exists(p =>
          p.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec] ||
          p.isInstanceOf[org.apache.spark.sql.execution.joins.ShuffledHashJoinExec]),
          s"$q over-gate path lost its shuffled model join")
      }
    } finally {
      prevGate.fold(c.unset("spark.graft.text.modelBroadcastMaxInputBytes"))(
        v => c.set("spark.graft.text.modelBroadcastMaxInputBytes", v))
      c.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
    }
  }

  test("triangle counting: equi-joins + left-semi probe, no cartesian") {
    // the degree orientation exists precisely so the wedge join and
    // the (b,c) existence probe are EQUI-joins bounded by m^1.5; a
    // cartesian (or a nested-loop on edge-sized inputs) here would be
    // the quadratic naive plan the orientation kills
    val p = plan(SparkEntry.queries("graph_triangles")(spark, dir))
    val s = p.toString
    assert(!s.contains("CartesianProduct"), "triangles planned a cartesian")
    assert(s.contains("LeftSemi"),
      "the (b,c) edge probe must plan as a left-semi existence join")
  }

  test("kmv overlap: map-side-combinable sketch agg over a 2-column scan") {
    val all = collectAll(plan(SparkEntry.queries("agg_kmv_overlap")(spark, dir)))
    val scans = all.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty && scans.forall(_.output.size <= 2),
      s"overlap scan must prune to (o_orderdate, o_custkey): " +
        scans.map(_.output.map(_.name)).mkString(";"))
    // TypedImperativeAggregate plans as ObjectHashAggregate; partial +
    // final pair = sketches merge map-side, the property that makes
    // the pass 100 TB-viable
    val oha = all.count(_.getClass.getSimpleName.contains("ObjectHashAggregate"))
    assert(oha >= 2, s"expected partial+final ObjectHashAggregate, saw $oha")
    assert(!all.exists(_.isInstanceOf[CartesianProductExec]))
  }

  test("w9_rank_agg: no table-sized window partition (every window is binned or agg-bounded)") {
    // the suite twin's whole point: w9_rank_suite windows on bare
    // event_type (5 partitions = 5 tasks sorting the corpus at
    // 100 TB); the agg twin may only window (a) per (event_type,
    // __bin) -- 256x narrower under any value distribution -- or (b)
    // over the tiny per-bin count aggregate for the offsets
    val all = collectAll(plan(SparkEntry.queries("w9_rank_agg")(spark, dir)))
    val wins = all.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(wins.nonEmpty, "agg twin lost its bounded windows entirely")
    wins.foreach { w =>
      val keys = w.partitionSpec.map(_.toString).mkString(",")
      val overAgg = w.child.collectFirst {
        case a if a.getClass.getSimpleName.contains("Aggregate") => a
      }.isDefined
      assert(w.partitionSpec.size >= 2 || overAgg,
        s"window on ($keys) is table-partition-sized")
    }
    // and the measured lint agrees: no partition key below the
    // production session's parallelism floor
    assert(graft.plans.PlanAudit.auditWindowCardinality(
      SparkEntry.queries("w9_rank_agg")(spark, dir), Some(32L)).isEmpty)
  }
}
