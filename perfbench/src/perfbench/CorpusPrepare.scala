package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.Corpus

/** corpus_prepare: one fully materialized `Corpus.prepare` per op over
  * a seeded corpus with the shape of the sf0.1 `documents` table
  * ([[CorpusPrepare.generate]]). */
class CorpusPrepare(spark: SparkSession, seed: Long, work: Path,
    protected val tracer: Option[Tracer]) extends Workload {
  import Main._
  import CorpusPrepare._

  val SetupRepeats = 3
  val WarmupOps = 5

  private var path = ""
  private var docs = 0
  private var chars = 0L
  private var reference: Option[Long] = None

  private def build(dir: Path): Unit = {
    val texts = generate(seed)
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val rows = texts.indices.map(i => Row(i.toLong, texts(i)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.parquet(dir.toString)
    docs = texts.size
    chars = texts.map(_.length.toLong).sum
  }

  def setup(res: Result): Unit = {
    for (i <- 1 to SetupRepeats) {
      val dir = work.resolve(s"corpus$i")
      val t0 = System.nanoTime()
      build(dir)
      res.fixtureSecs += (System.nanoTime() - t0) / 1e9
      if (i < SetupRepeats) rmrf(dir) else path = dir.toString
    }
    res.sizes ++= Seq("docs" -> docs, "chars" -> chars, "near_copies" -> NearCopies,
      "exact_copies" -> ExactCopies, "setup_repeats" -> SetupRepeats, "warmup_ops" -> WarmupOps)
    val t0 = System.nanoTime()
    for (_ <- 1 to WarmupOps) prepareOnce(traceIt = false)
    res.warmupSecs = (System.nanoTime() - t0) / 1e9
  }

  def step(res: Result): Unit = {
    timed(res, "prepare") {
      val (n, keys, ids, badSplit, hash) = prepareOnce(traceIt = true)
      res.sizes("kept_docs") = n
      res.sizes("content_hash") = hash
      val same = reference.forall(_ == hash)
      if (reference.isEmpty) reference = Some(hash)
      res.check("unique_content_key", keys == n, s"$keys keys for $n docs") &
        res.check("unique_doc_id", ids == n, s"$ids ids for $n docs") &
        res.check("split_values", badSplit == 0, s"$badSplit docs outside train/val/test") &
        res.check("exact_dups_removed", n > 0 && n <= docs - ExactCopies,
          s"$n kept of $docs with $ExactCopies exact copies") &
        res.check("content_hash_stable", same, s"hash $hash != ${reference.get}")
    }
  }

  /** One prepare over the corpus, materialized through an aggregate
    * that hashes every output column. */
  private def prepareOnce(traceIt: Boolean): (Long, Long, Long, Long, Long) = {
    def run() = {
      val out = Corpus.prepare(spark.read.parquet(path), col("doc_id"), col("text"))
      val r = out.agg(count(lit(1)), countDistinct(col("content_key")),
        countDistinct(col("doc_id")),
        sum(when(col("split").isin("train", "val", "test"), 0L).otherwise(1L)),
        expr("bit_xor(xxhash64(doc_id, text, content_key, component, split))")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    }
    if (traceIt) traced("prepare")(run()) else run()
  }

  def finish(res: Result): Unit = ()
}

object CorpusPrepare {
  /** The sf0.1 `documents` table's shape, as measured on that file:
    * 5,000 docs of 10-99 tokens (uniform), every token drawn uniformly
    * from the same 30 words; 250 docs repeat another doc with one
    * `dup` token inserted, and 8 repeat another doc exactly. With so
    * few words, most pairs of docs share most of their token sets, so
    * the MinHash pair graph is dense (METRICS.md compares its pair
    * count with the file's). */
  val Docs = 5000
  val NearCopies = 250
  val ExactCopies = 8
  val Vocab: IndexedSeq[String] = IndexedSeq("a", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")

  /** The texts of doc ids 0 until [[Docs]], drawn from `seed`. */
  def generate(seed: Long): IndexedSeq[String] = {
    val rng = new java.util.SplittableRandom(seed)
    val copies = new scala.util.Random(seed).shuffle((1 until Docs).toVector)
    val exact = copies.take(ExactCopies).toSet
    val near = copies.slice(ExactCopies, ExactCopies + NearCopies).toSet
    val texts = new Array[String](Docs)
    for (i <- 0 until Docs) texts(i) =
      if (exact(i)) texts(rng.nextInt(i))
      else if (near(i)) {
        val toks = texts(rng.nextInt(i)).split(' ')
        val at = rng.nextInt(toks.length + 1)
        (toks.take(at) ++ ("dup" +: toks.drop(at))).mkString(" ")
      } else Seq.fill(10 + rng.nextInt(90))(Vocab(rng.nextInt(Vocab.size))).mkString(" ")
    texts.toIndexedSeq
  }
}
