package kgbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Main
import graft.operators.{ConnectedComponents, Tagger}
import graft.pipeline.KgPipeline
import graft.sources.Tables

import BenchMain.Metric

/** The traced run: the workload's timed loop once without and once with
  * the benchmark's listeners (the difference is the tracing overhead),
  * then every layer measured on this workload's inputs. A layer the
  * workload does not exercise is measured on a small auxiliary input made
  * from the same seed. A stage's self time is the time of the pipeline up
  * to and including it minus the time up to the stage before, each run to
  * the noop sink.
  */
object Profile {
  private val reps = 3

  private def mkDir(p: String): String = { new java.io.File(p).mkdirs(); p }

  def run(w: Workload, spark: SparkSession, seconds: Double, work: String,
      cores: Int, seed: Long): String = {
    val root = mkDir(s"$work/profile")
    val tracer = new Tracer(spark)
    // untraced and traced rounds alternate, so that both see the same
    // state of the JIT and the page cache
    val untraced = new Samples
    val traced = new Samples
    var attempted = 0
    var loop = Tracer.empty
    w.beginTimed(spark)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    try {
      do {
        attempted += w.round(spark, untraced)
        tracer.attach()
        val (n, _, c) = try tracer.measure(w.round(spark, traced)) finally tracer.detach()
        attempted += n
        loop = loop.plus(c)
      } while (System.nanoTime() < deadline)
    } finally w.endTimed(spark)
    val (u, t) = (untraced.median(w.primary), traced.median(w.primary))
    val overhead = 100 * (t - u) / u
    BenchMain.log(f"trace overhead on ${w.primary}: $overhead%.1f%% " +
      f"(untraced $u%.0f ms, traced $t%.0f ms)")
    tracer.attach()
    try {
      val textCorpus = w match {
        case b: KgBatch => b.corpus
        case _ =>
          val c = new Corpus(seed, 800, 4, 16, 2, 200, s"$root/aux")
          c.write(spark, cores)
          c
      }
      val whCorpus = Warehouse.corpus(seed, s"$root/wh-src")
      whCorpus.write(spark, cores)
      val text = textLayers(spark, tracer, textCorpus)
      // the co-occurrence graph of the 9-entity dictionary is tiny; the CC
      // layer is measured on the generated Zipf graph in every workload
      val (cc, ccChecks) = ccLayers(spark, tracer, EntityGraph.links(seed), root, cores)
      val (manifest, whChecks) = manifestLayers(spark, tracer, whCorpus, s"$root/wh")
      val progress = w match {
        case _: KgStream => loop.progress
        case _ =>
          val s = new KgStream(seed, mkDir(s"$root/stream"))
          tracer.measure(s.feedBatches(spark, 8))._3.progress
      }
      def p50(k: String) =
        Stats.median(progress.map(_.getOrElse(k, 0L).toDouble))
      val stream = Seq(
        Metric("stream.triggers", progress.length, "count"),
        Metric("stream.add_batch_ms_p50", p50("addBatch"), "ms"),
        Metric("stream.query_planning_ms_p50", p50("queryPlanning"), "ms"),
        Metric("stream.wal_commit_ms_p50", p50("walCommit"), "ms"),
        Metric("stream.commit_offsets_ms_p50", p50("commitOffsets"), "ms"),
        Metric("stream.trigger_execution_ms_p50", p50("triggerExecution"), "ms"))
      val sparkTotals = Seq(
        Metric("spark.jobs", loop.jobs, "count"),
        Metric("spark.tasks", loop.tasks, "count"),
        Metric("spark.gc_s", loop.gcMs / 1000.0, "s"),
        Metric("spark.shuffle_read_bytes", loop.shuffleRead, "B"),
        Metric("spark.shuffle_write_bytes", loop.shuffleWrite, "B"),
        Metric("spark.spill_bytes", loop.spill, "B"),
        Metric("trace.overhead_pct", overhead, "%"),
        Metric("jvm.peak_rss_mb", BenchMain.peakRssMb(), "MB"),
        Metric("host.loadavg_1m",
          BenchMain.loadavg().split(" ")(0).toDouble, "load"))
      val metrics = text ++ cc ++ manifest ++ stream ++ sparkTotals
      metrics.foreach(m => BenchMain.log(f"${m.name} = ${m.value}%.4f ${m.unit}"))
      val checks = w.check(spark) ++ ccChecks ++ whChecks
      BenchMain.json(Check.report(checks), attempted,
        untraced.failed + traced.failed, metrics)
    } finally tracer.detach()
  }

  /** Median wall ms of `reps` runs of `df` to the noop sink, plus the
    * counters of the last run.
    */
  private def timeNoop(tracer: Tracer, df: => DataFrame): (Double, Counters) = {
    val runs = (0 until reps).map(_ => tracer.measure(Workload.noop(df)))
    (Stats.median(runs.map(_._2)), runs.last._3)
  }

  private def textLayers(spark: SparkSession, tracer: Tracer,
      c: Corpus): Seq[Metric] = {
    def docs = c.docs(spark)
    val (scan, _) = timeNoop(tracer, docs)
    val (split, splitC) = timeNoop(tracer, KgPipeline.sentences(docs))
    val (tag, _) = timeNoop(tracer, KgPipeline.sentenceMentions(docs))
    val (link, _) = timeNoop(tracer,
      KgPipeline.links(spark, KgPipeline.sentenceMentions(docs)))
    val (dedup, dedupC) = timeNoop(tracer,
      KgPipeline.triples(spark, docs, sentenceLevel = true))
    val nDocs = docs.count()
    val sentences = KgPipeline.sentences(docs).count()
    val mentions = KgPipeline.sentenceMentions(docs)
    val nMentions = mentions.count()
    val kept = mentions.filter(col("confidence") >= Tagger.threshold).count()
    val links = KgPipeline.links(spark, mentions).count()
    val triples = KgPipeline.triples(spark, docs, sentenceLevel = true).count()
    Seq(
      Metric("sources.scan_s", scan / 1000, "s"),
      Metric("sources.docs", nDocs, "count"),
      Metric("sources.bytes",
        c.base.map(_.text.getBytes(UTF_8).length.toLong).sum * c.repl, "B"),
      Metric("splitter.self_s", (split - scan) / 1000, "s"),
      Metric("splitter.sentences", sentences, "count"),
      Metric("splitter.task_ms_max_over_median", splitC.taskMaxOverMedian, "ratio"),
      Metric("tagger.self_s", (tag - split) / 1000, "s"),
      Metric("tagger.mentions", nMentions, "count"),
      Metric("tagger.kept_ratio", kept.toDouble / nMentions, "ratio"),
      Metric("linker.self_s", (link - tag) / 1000, "s"),
      Metric("linker.links", links, "count"),
      Metric("linker.link_ratio", links.toDouble / kept, "ratio"),
      Metric("dedup.self_s", (dedup - link) / 1000, "s"),
      Metric("dedup.rows_in", links, "count"),
      Metric("dedup.rows_out", triples, "count"),
      Metric("dedup.shuffle_write_bytes", dedupC.shuffleWrite, "B"),
      Metric("dedup.spill_bytes", dedupC.spill, "B"))
  }

  private def heapPeakReset(): Unit =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .foreach(_.resetPeakUsage())

  private def heapPeakMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1 << 20)

  /** The canon and cc layers on the Zipf links graph `rows`, and checks
    * that the driver and the distributed canon maps both equal the
    * benchmark's union-find.
    */
  private def ccLayers(spark: SparkSession, tracer: Tracer,
      rows: Seq[(String, String, String)], root: String,
      cores: Int): (Seq[Metric], Seq[Check]) = {
    Gen.writeLinks(spark, rows, s"$root/graph", cores)
    val links = spark.read.parquet(s"$root/graph/links.parquet")
    val key = ConnectedComponents.maxDriverGraphConfKey
    def distributed[T](on: Boolean)(body: => T): T = {
      if (on) spark.conf.set(key, "0") else spark.conf.unset(key)
      try body finally spark.conf.unset(key)
    }
    // the (hub, member) pairs canonMap hands to runAuto, materialized so
    // that the CC can be timed without the set build in front of it
    links.groupBy("repo", "path").agg(collect_set(col("entity_id")).as("es"))
      .select(array_min(col("es")).as("src"), explode(col("es")).as("dst"))
      .distinct()
      .write.mode("overwrite").parquet(s"$root/pairs.parquet")
    val pairs = spark.read.parquet(s"$root/pairs.parquet")
    val nPairs = pairs.count()
    val (canonMs, canonC) = timeNoop(tracer, KgPipeline.canonMap(spark, links))
    heapPeakReset()
    val (driverMs, _) = timeNoop(tracer, ConnectedComponents.runAuto(spark, pairs))
    val heapMb = heapPeakMb()
    val (distMs, distC) = distributed(on = true)(
      timeNoop(tracer, ConnectedComponents.runAuto(spark, pairs)))
    // one convergence test (`count`) per pointer-doubling round
    val rounds = distC.jobSites.count(_.startsWith("count at ConnectedComponents"))

    val expected = Twin.components(
      rows.groupBy(r => (r._1, r._2)).values.map(_.map(_._3)))
    def canonMap(on: Boolean): Map[String, String] = distributed(on)(
      KgPipeline.canonMap(spark, links).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap)
    val (driver, dist) = (canonMap(on = false), canonMap(on = true))
    val bump = (v: String) => v + "x"
    val checks = Seq(
      Check.maps("driver canon map == union-find", driver, expected, bump),
      Check.maps("distributed canon map == union-find", dist, expected, bump),
      Check.maps("driver canon map == distributed", driver, dist, bump))
    (Seq(
      Metric("canon.set_build_s", (canonMs - driverMs) / 1000, "s"),
      Metric("canon.pairs", nPairs, "count"),
      Metric("canon.shuffle_write_bytes", canonC.shuffleWrite, "B"),
      Metric("cc.driver_s", driverMs / 1000, "s"),
      Metric("cc.heap_peak_mb", heapMb, "MB"),
      Metric("cc.distributed_s", distMs / 1000, "s"),
      Metric("cc.rounds", rounds, "count"),
      Metric("cc.jobs", distC.jobs, "count"),
      Metric("cc.shuffle_bytes", distC.shuffleWrite, "B")), checks)
  }

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)

  private val stages = Seq("docs", "mentions", "links", "canon_map", "triples")

  /** The rows each manifest of `wh` lists, by partition and in total,
    * against the rows of the stage's parquet.
    */
  private def manifestChecks(spark: SparkSession, wh: String): Seq[Check] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    stages.map { st =>
      val m = mapper.readTree(new java.io.File(s"$wh/$st/_manifest.json"))
      val cols = (0 until m.get("partition_cols").size)
        .map(i => m.get("partition_cols").get(i).asText)
      val parts = m.get("partitions")
      val listed = (0 until parts.size).map { i =>
        parts.get(i).get("partition").asText -> parts.get(i).get("rows").asLong
      }.toMap
      val df = spark.read.parquet(s"$wh/$st")
      val actual =
        if (cols.isEmpty) Map("(all)" -> df.count())
        else df.groupBy(cols.map(col): _*).count().collect()
          .map(r => cols.indices.map(r.get(_)).mkString("/") -> r.getLong(cols.length))
          .toMap
      Check.maps(s"manifest $st rows == parquet rows",
        listed + ("(total)" -> m.get("rows").asLong),
        actual + ("(total)" -> actual.values.sum), (v: Long) => v + 1)
    }
  }

  /** `Main.run(--canon)` into a fresh warehouse (cold), re-run with every
    * stage committed (resume), and re-run after `canon_map` and `triples`
    * are removed (recover). Checks that the cold triples equal the twin's,
    * that resume and recover give the cold triples, and that every
    * manifest's rows equal its parquet's.
    */
  private def manifestLayers(spark: SparkSession, tracer: Tracer, c: Corpus,
      wh: String): (Seq[Metric], Seq[Check]) = {
    def committed() = Workload.triples(spark.read.parquet(s"$wh/triples"))
    val fp = Stats.median((0 until reps).map(_ =>
      tracer.measure(Main.corpusFingerprint(Tables.docsDf(spark, c.dir)))._2))
    Workload.rm(new java.io.File(wh))
    val (n, coldMs, cold) = tracer.measure(Main.run(spark, c.dir, wh, true))
    val coldTriples = committed()
    val inWh = (a: Tracer.Action) => a.reads.exists(_.contains(wh))
    val writes = (cs: Counters) => cs.actions.filter(a => a.name != "collect" &&
      a.name != "count")
    val files = walk(new java.io.File(wh)).filterNot(_.getName.startsWith("."))
    val resume = Stats.median((0 until reps).map(_ =>
      tracer.measure(Main.run(spark, c.dir, wh, true))._2))
    val resumed = committed()
    Seq("canon_map", "triples").foreach(s => Workload.rm(new java.io.File(s"$wh/$s")))
    val (_, recoverMs, recover) = tracer.measure(Main.run(spark, c.dir, wh, true))
    val computed = writes(recover).length

    val expected = c.triples(0 until c.repl, canonical = true)
    val checks = Seq(
      Check.sets("cold triples == twin", coldTriples, expected, Workload.foreignTriple),
      Check.maps("cold triple count == twin", Map("n" -> n),
        Map("n" -> expected.size.toLong), (v: Long) => v - 1),
      Check.sets("resume triples == cold", resumed, coldTriples, Workload.foreignTriple),
      Check.sets("recover triples == cold", committed(), coldTriples,
        Workload.foreignTriple)) ++ manifestChecks(spark, wh)
    (Seq(
      Metric("manifest.fingerprint_s", fp / 1000, "s"),
      Metric("manifest.write_s", writes(cold).map(_.ms).sum / 1000, "s"),
      // the per-partition count passes read the committed stages; the
      // last action of Main.run is its own final count, not a manifest's
      Metric("manifest.count_s",
        cold.actions.init.filter(a => a.name == "collect" || a.name == "count")
          .filter(inWh).map(_.ms).sum / 1000, "s"),
      Metric("manifest.files_written", files.length, "count"),
      Metric("manifest.bytes_written", files.map(_.length).sum, "B"),
      Metric("manifest.cold_s", coldMs / 1000, "s"),
      Metric("manifest.resume_s", resume / 1000, "s"),
      Metric("manifest.recover_s", recoverMs / 1000, "s"),
      Metric("manifest.stages_computed", computed, "count"),
      Metric("manifest.stages_reused", stages.length - computed, "count")), checks)
  }
}
