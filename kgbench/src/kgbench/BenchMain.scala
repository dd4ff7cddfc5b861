package kgbench

import org.apache.spark.sql.SparkSession

/** Entry point: `kgbench.BenchMain --workload W --seed N --seconds S
  * --trace 0|1 --work DIR --cores C --launch-ms T`. Prints one JSON result
  * line prefixed with `KGBENCH_RESULT `; everything else goes to stderr.
  */
object BenchMain {

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("kgbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def log(msg: String): Unit = System.err.println(
    f"[kgbench +${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1fs] $msg")

  def loadavg(): String =
    scala.util.Try(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).trim).getOrElse("n/a")

  /** Peak resident set (VmHWM) of this process, in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    require(i >= 0 && i + 1 < args.length, s"missing $k")
    args(i + 1)
  }

  final case class Metric(name: String, value: Double, unit: String)

  def json(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[Metric]): String = {
    val ms = metrics.map { m =>
      require(!m.value.isNaN && !m.value.isInfinite, s"${m.name} = ${m.value}")
      s""""${m.name}": {"value": ${m.value}, "unit": "${m.unit}"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }

  /** Run whole rounds until `seconds` have passed (at least one). */
  def timedLoop(w: Workload, spark: SparkSession, seconds: Double,
      s: Samples): Int = {
    w.beginTimed(spark)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var attempted = 0
    try {
      do attempted += w.round(spark, s) while (System.nanoTime() < deadline)
    } finally w.endTimed(spark)
    attempted
  }

  /** JVM age at which timing starts. Driver-side code (query planning,
    * the pipeline's kernels) keeps getting faster for ~30 s of work after
    * start-up; rounds run untimed until then, at least one.
    */
  val primeUntilMs = 32000L

  def prime(w: Workload, spark: SparkSession): Unit = {
    val left = primeUntilMs - (System.currentTimeMillis() - jvmStart)
    val n = timedLoop(w, spark, math.max(0L, left) / 1000.0, new Samples)
    log(s"primed with $n operations")
  }

  def main(args: Array[String]): Unit = {
    val entered = System.currentTimeMillis()
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val trace = arg(args, "--trace") == "1"
    val work = arg(args, "--work")
    val cores = arg(args, "--cores").toInt
    val bootMs = (entered - arg(args, "--launch-ms").toLong).toDouble
    val load0 = loadavg()
    val w = Workload.byName(workload, seed, work, cores)

    // Set-up, once per run and cold: process launch to `main`, a session,
    // one warmup. Building the workload's inputs is not part of it.
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val t1 = System.nanoTime()
    val result =
      try {
        w.warmup(spark)
        val t2 = System.nanoTime()
        val setupMs = bootMs + (t2 - t0) / 1e6
        log(f"set-up ${setupMs}%.0f ms: boot ${bootMs}%.0f ms, " +
          f"session ${(t1 - t0) / 1e6}%.0f ms, warmup ${(t2 - t1) / 1e6}%.0f ms")
        w.prepare(spark)
        log(f"$workload seed=$seed generated in ${(System.nanoTime() - t2) / 1e9}%.2f s")
        prime(w, spark)
        if (trace) Profile.run(w, spark, seconds, work, cores, seed)
        else {
          val s = new Samples
          val t3 = System.nanoTime()
          val attempted = timedLoop(w, spark, seconds, s)
          val t4 = System.nanoTime()
          val correct = Check.report(w.check(spark))
          log(f"timed loop ${(t4 - t3) / 1e9}%.1f s, checks ${(System.nanoTime() - t4) / 1e9}%.1f s")
          log(s"$workload samples: " + Seq(w.primary, w.secondary).distinct.map(op =>
            s"$op=${s(op).map(x => f"$x%.0f").mkString(",")}").mkString(" "))
          json(correct, attempted, s.failed, Seq(
            Metric("setup_s", setupMs / 1000, "s"),
            Metric("primary_ms", s.median(w.primary), "ms"),
            Metric("secondary_ms", s.median(w.secondary), "ms"),
            Metric("throughput_per_s", w.throughput(s), "1/s")))
        }
      } finally stop(spark)
    log("session stopped")
    log(s"loadavg start=[$load0] end=[${loadavg()}]")
    println(s"KGBENCH_RESULT $result")
  }
}
