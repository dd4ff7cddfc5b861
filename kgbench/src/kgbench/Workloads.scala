package kgbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.KgPipeline
import graft.sources.Tables

/** Timed samples of one run, in ms, by operation name. */
final class Samples {
  private val m = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(op: String, ms: Double): Unit =
    m.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += ms
  def apply(op: String): Seq[Double] = m.getOrElse(op, Nil).toSeq
  def median(op: String): Double = Stats.median(apply(op))
  /** Operations that threw; they leave no sample. */
  var failed = 0

  /** Time `body` as one sample of `op`. A failure is counted and logged,
    * and the round goes on.
    */
  def time(op: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try {
      body
      add(op, (System.nanoTime() - t0) / 1e6)
    } catch {
      case scala.util.control.NonFatal(e) =>
        failed += 1
        BenchMain.log(s"$op failed: $e")
    }
  }
}

/** One correctness check: `passed` on the real output, and `catches` when
  * the same comparison rejects a deliberately corrupted copy of it.
  */
final case class Check(name: String, passed: Boolean, catches: Boolean,
    detail: String)

object Check {
  /** Log every check; true when there is one and each passed on the real
    * output and failed on the corrupted one.
    */
  def report(checks: Seq[Check]): Boolean = {
    checks.foreach(c => BenchMain.log(s"check ${if (c.passed) "PASS" else "FAIL"} " +
      s"${if (c.catches) "" else "(corruption NOT caught) "}${c.name}: ${c.detail}"))
    checks.nonEmpty && checks.forall(c => c.passed && c.catches)
  }

  /** Compare sets; the corrupted copy drops one row and adds a foreign one. */
  def sets[T](name: String, actual: Set[T], expected: Set[T],
      foreign: T): Check = {
    val corrupted = actual.drop(1) + foreign
    Check(name, expected.nonEmpty && actual == expected, corrupted != expected,
      s"actual=${actual.size} expected=${expected.size} " +
        s"missing=${(expected -- actual).take(3)} extra=${(actual -- expected).take(3)}")
  }

  /** Compare maps; the corrupted copy changes one value. */
  def maps[K, V](name: String, actual: Map[K, V], expected: Map[K, V],
      alter: V => V): Check = {
    val corrupted =
      actual.headOption.map { case (k, v) => actual.updated(k, alter(v)) }
        .getOrElse(actual)
    val diff = (expected.keySet ++ actual.keySet)
      .filter(k => actual.get(k) != expected.get(k)).take(3)
      .map(k => s"$k: ${actual.get(k)} vs ${expected.get(k)}")
    Check(name, expected.nonEmpty && actual == expected, corrupted != expected,
      s"actual=${actual.size} expected=${expected.size} diff=$diff")
  }
}

/** A benchmark workload. Set-up is [[warmup]] in a fresh session; its
  * inputs are generated from the seed in [[prepare]], after set-up and
  * before any timed operation.
  */
abstract class Workload {
  /** The sample names behind `primary_ms` and `secondary_ms`. */
  def primary: String
  def secondary: String
  def prepare(spark: SparkSession): Unit
  /** Part of set-up: one small run through the workload's code, on
    * inputs held in memory (no generated files yet).
    */
  def warmup(spark: SparkSession): Unit
  def beginTimed(spark: SparkSession): Unit = ()
  /** One round of the timed operations; returns how many it attempted. */
  def round(spark: SparkSession, s: Samples): Int
  def endTimed(spark: SparkSession): Unit = ()
  /** Items per second of the primary operation. */
  def throughput(s: Samples): Double
  def check(spark: SparkSession): Seq[Check]
}

object Workload {
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
    f.delete()
  }

  def triples(df: DataFrame): Set[Twin.Triple] =
    df.select("subj", "pred", "obj", "repo", "lang").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4))).toSet

  val foreignTriple: Twin.Triple = ("x/none@0", "mentions:NONE", "E00", "x", "xx")

  def byName(name: String, seed: Long, work: String, cores: Int): Workload =
    name match {
      case "kg_batch" => new KgBatch(seed, work, cores)
      case "kg_stream" => new KgStream(seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
}

/** A generated corpus: `base` documents replicated `repl` times. */
final class Corpus(val seed: Long, val n: Int, val repl: Int, sources: Int,
    longDocs: Int, longSentences: Int, val dir: String) {
  val base: Seq[Gen.DocRow] = Gen.baseDocs(seed, n, sources, longDocs, longSentences)

  def write(spark: SparkSession, files: Int): Unit =
    Gen.writeCorpus(spark, base, repl, dir, files)

  /** Twin documents of replica `k`. */
  def replica(k: Int): Seq[Twin.Doc] =
    base.map(b => Twin.doc(k.toLong * n + b.doc_id, b.text, b.lang, b.source))

  /** Twin links of each base document (replicas share them). */
  lazy val baseLinks: Seq[Seq[(String, String)]] =
    replica(0).map(Twin.links(_, sentenceLevel = true))

  lazy val canon: Map[String, String] = Twin.components(baseLinks.map(_.map(_._2)))

  /** Expected sentence-level triples of replicas `ks`. */
  def triples(ks: Seq[Int], canonical: Boolean): Set[Twin.Triple] =
    ks.flatMap(k => replica(k).zip(baseLinks).flatMap { case (d, ls) =>
      ls.map { case (label, e) =>
        (Twin.subj(d), s"mentions:$label",
          if (canonical) canon.getOrElse(e, e) else e, d.repo, d.lang)
      }
    }).toSet

  def docs(spark: SparkSession): DataFrame = Tables.docsDf(spark, dir)
}

/** In-memory sentence-level triples, canon off then on, to the noop sink. */
final class KgBatch(seed: Long, work: String, cores: Int)
    extends Workload {
  lazy val corpus = new Corpus(seed, 1000, 12, 20, 2, 300, s"$work/kg_batch")
  private val small = Gen.baseDocs(seed + 1, 100, 20, 0, 0)
    .map(d => Twin.doc(d.doc_id, d.text, d.lang, d.source))
  def primary = "canon_off"
  def secondary = "canon_on"

  def prepare(spark: SparkSession): Unit = corpus.write(spark, 2 * cores)

  private def run(spark: SparkSession, docs: DataFrame, canon: Boolean): Unit =
    Workload.noop(KgPipeline.triples(spark, docs,
      canonicalize = canon, sentenceLevel = true))

  /** Canon-off triples of a 100-document corpus held in memory. */
  def warmup(spark: SparkSession): Unit = {
    import spark.implicits._
    run(spark, small.toDF("repo", "path", "commit", "lang", "content"), canon = false)
  }

  def round(spark: SparkSession, s: Samples): Int = {
    s.time(primary)(run(spark, corpus.docs(spark), canon = false))
    s.time(secondary)(run(spark, corpus.docs(spark), canon = true))
    2
  }

  def throughput(s: Samples): Double =
    corpus.triples(Seq(0), canonical = false).size.toDouble * corpus.repl /
      (s.median(primary) / 1000)

  /** Per variant: the triples of replica 0 and of one seed-chosen replica
    * equal the twin's, and the per-(pred, obj, repo, lang) counts over all
    * replicas equal the twin's base counts times the replication factor.
    */
  def check(spark: SparkSession): Seq[Check] = {
    val other = 1 + (seed.abs % (corpus.repl - 1)).toInt
    val sampled = Seq(0, other)
    Seq(false, true).flatMap { on =>
      val label = if (on) "canon_on" else "canon_off"
      val out = KgPipeline.triples(spark, corpus.docs(spark), canonicalize = on,
        sentenceLevel = true)
      val ids = regexp_extract(col("subj"), "/docs/([0-9]+)\\.txt@", 1).cast("long")
      val inSample = sampled.map(k =>
        ids.between(k.toLong * corpus.n, k.toLong * corpus.n + corpus.n - 1))
        .reduce(_ || _)
      val expectedCounts = corpus.triples(Seq(0), on).toSeq
        .groupBy(t => (t._2, t._3, t._4, t._5))
        .map { case (k, v) => k -> v.size.toLong * corpus.repl }
      val cached = out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val counts = cached.groupBy("pred", "obj", "repo", "lang").count().collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getString(3)) -> r.getLong(4)).toMap
      val sample = Workload.triples(cached.filter(inSample))
      cached.unpersist(true)
      Seq(
        Check.sets(s"$label triples of replicas ${sampled.mkString(",")} == twin",
          sample, corpus.triples(sampled, on), Workload.foreignTriple),
        Check.maps(s"$label per-(pred,obj,repo,lang) counts == twin x ${corpus.repl}",
          counts, expectedCounts, (v: Long) => v + 1))
    }
  }
}

/** Input of the warehouse layers: 150 documents twice over, in 4 repos
  * and 5 languages (about 20 (repo, lang) partitions per stage).
  */
object Warehouse {
  def corpus(seed: Long, dir: String): Corpus = new Corpus(seed, 150, 2, 4, 1, 100, dir)
}

/** Input of the cc and canon layers. */
object EntityGraph {
  /** 20,000 documents linking 1-6 of 20,000 Zipf-popular entities. */
  def links(seed: Long): Seq[(String, String, String)] = Gen.links(seed, 20000, 20000)
}

/** `EventStream.forEachBatchTriples` fed one micro-batch at a time: the
  * next batch is added only after `processAllAvailable` returns. Rounds
  * alternate a small batch (the per-trigger fixed cost) and a large one
  * (the per-document cost).
  */
final class KgStream(seed: Long, work: String) extends Workload {
  type Row5 = (String, String, String, String, String)
  private val dir = s"$work/kg_stream"
  val small = 8
  val large = 120
  def primary = "small_batch"
  def secondary = "large_batch"
  private var sizes = Vector.empty[Int]
  private var query: org.apache.spark.sql.streaming.StreamingQuery = null
  private var feed: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Row5] = null
  private var runs = 0
  private var outDir = ""

  /** Twin documents of batch `b` of `n` documents; doc ids are unique
    * across batches.
    */
  def batchDocs(b: Int, n: Int): Seq[Twin.Doc] =
    Gen.baseDocs(seed * 7919 + b, n, 8, 0, 0).map { d =>
      Twin.doc(b.toLong * 1000 + d.doc_id, d.text, d.lang, d.source)
    }

  def prepare(spark: SparkSession): Unit = ()

  private def start(spark: SparkSession): Unit = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    runs += 1
    outDir = s"$dir/out-$runs"
    feed = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Row5]
    query = graft.streaming.EventStream.forEachBatchTriples(spark,
      feed.toDF().toDF("repo", "path", "commit", "lang", "content"),
      outDir, s"$dir/chk-$runs").start()
    sizes = Vector.empty
  }

  private def push(n: Int): Unit = {
    feed.addData(batchDocs(sizes.length, n).map(d =>
      (d.repo, d.path, d.commit, d.lang, d.text)))
    query.processAllAvailable()
    sizes :+= n
  }

  private def stop(): Unit = { query.stop(); query = null }

  /** Start a fresh query, feed `n` alternating batches, stop it. */
  def feedBatches(spark: SparkSession, n: Int): Unit = {
    start(spark)
    try (0 until n).foreach(i => push(if (i % 2 == 0) small else large))
    finally stop()
  }

  def warmup(spark: SparkSession): Unit = feedBatches(spark, 2)

  /** The first batch of a fresh query carries its start-up; it runs
    * before the clock starts.
    */
  override def beginTimed(spark: SparkSession): Unit = { start(spark); push(small) }

  def round(spark: SparkSession, s: Samples): Int = {
    s.time(primary)(push(small))
    s.time(secondary)(push(large))
    2
  }

  override def endTimed(spark: SparkSession): Unit = stop()

  def throughput(s: Samples): Double =
    (small + large) * s(primary).length /
      ((s(primary).sum + s(secondary).sum) / 1000)

  def check(spark: SparkSession): Seq[Check] = {
    val out = spark.read.parquet(outDir)
      .select(col("subj"), col("pred"), col("obj"), col("repo"), col("lang"),
        col("batch_id").cast("long"))
      .collect()
      .groupBy(_.getLong(5))
      .map { case (b, rs) => b -> rs.map(r => (r.getString(0), r.getString(1),
        r.getString(2), r.getString(3), r.getString(4))).toSet }
    val expected = sizes.indices.map(b =>
      b.toLong -> Twin.triples(batchDocs(b, sizes(b)), sentenceLevel = false))
      .filter(_._2.nonEmpty).toMap
    Seq(Check.maps(s"each of ${sizes.length} micro-batches == twin on its slice",
      out, expected, (v: Set[Twin.Triple]) => v + Workload.foreignTriple))
  }
}
