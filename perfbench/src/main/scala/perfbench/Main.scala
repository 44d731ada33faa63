package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark JVM entry point, launched by `run.py` (which also builds it):
  *
  *   Main <workload> <seed> <seconds> <trace 0|1> <work dir> <result file>
  *
  * Runs one workload and writes its raw measurements to the result file;
  * `run.py` turns them into the metrics. */
object Main {

  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    require(args.length == 6, "usage: Main <workload> <seed> <seconds> <trace> <work> <out>")
    val Array(workload, seed, seconds, trace, work, out) = args
    val cores = Runtime.getRuntime.availableProcessors()
    val rec = new Recorder
    val ctx = new Ctx(session(cores, work), work, seed.toLong, seconds.toDouble,
      trace == "1", cores, rec)
    ctx.spark.sparkContext.setLogLevel("WARN")
    rec.note("spark_version", ctx.spark.version)
    rec.note("java_version", System.getProperty("java.version"))
    rec.set("env.nproc", cores)
    workload match {
      case "ingest_replay" => IngestReplay.run(ctx, SetupReps)
      case "tail_feed" => TailFeed.run(ctx, SetupReps)
      case other => sys.error(s"unknown workload $other")
    }
    rec.set("peak_rss_mb", peakRssMb())
    ctx.spark.stop()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), rec.json)
  }

  def session(cores: Int, work: String): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()

  /** Replace the session with one at `local[cores]`. */
  def restartSpark(ctx: Ctx, cores: Int): Unit = {
    ctx.spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    ctx.spark = session(cores, ctx.work)
    ctx.spark.sparkContext.setLogLevel("WARN")
  }

  /** Run `f` traced: spans on, a [[SparkCounts]] listener registered. With
    * `engineCounts` the phase's whole-engine Spark figures are recorded as
    * the `spark.*` metrics. Returns f's result and the listener. */
  def tracedPhase[T](ctx: Ctx, engineCounts: Boolean)(f: => T): (T, SparkCounts) = {
    val sc = ctx.spark.sparkContext
    val counts = new SparkCounts
    sc.addSparkListener(counts)
    ctx.rec.tracing = true
    val t0 = System.nanoTime()
    val r =
      try f
      finally {
        ctx.rec.tracing = false
        org.apache.spark.PerfbenchShim.drainListeners(sc)
        sc.removeSparkListener(counts)
      }
    val wallMs = (System.nanoTime() - t0) / 1e6
    counts.jobs.foreach { case (span, trace, start, end) => ctx.rec.job(span, trace, start, end) }
    if (engineCounts) {
      val t = counts.total
      val rec = ctx.rec
      rec.set("spark.slot_util", t.runMs / (wallMs * ctx.cores))
      rec.set("spark.task_cpu_ms", t.cpuMs)
      rec.set("spark.gc_ms", t.gcMs)
      rec.set("spark.jobs", t.jobs.toDouble)
      rec.set("spark.tasks", t.tasks.toDouble)
      rec.set("spark.task_failures", t.failures.toDouble)
      rec.set("spark.wall_ms", wallMs)
    }
    (r, counts)
  }

  /** Peak resident set size of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val st = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
    import scala.jdk.CollectionConverters._
    st.asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(-1.0)
  }
}

/** Full resolve of a table view (`read()` or `readAt(v)`): `count()` over
  * base ∪ deltas with the read-side LWW. */
object Scan {
  /** Untimed scans first: a scan keeps getting faster for about fifteen
    * runs (first-scan planning and codegen, then the JIT), by a third on a
    * 4-core VM. */
  val WarmupReps = 16
  val Reps = 12

  /** `warmup` untimed scans after a full GC, then `Reps` timed ones. */
  def measure(ctx: Ctx, view: () => DataFrame, prefix: String, warmup: Int = WarmupReps): Unit = {
    System.gc()
    for (_ <- 0 until warmup) view().count()
    for (i <- 0 until Reps) {
      val (_, sec) = Inputs.timed(ctx.rec.span("scan", i)(
        ctx.layer("lake.scan", i)(view().count())))
      ctx.rec.sample(s"${prefix}scan_s", sec)
    }
  }
}
