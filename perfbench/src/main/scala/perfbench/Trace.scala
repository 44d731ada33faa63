package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** Everything one benchmark run measures, kept in memory and written as
  * one JSON file when the run ends. The JVM side only records raw values
  * (samples, counts, spans, Spark job intervals); all percentiles, medians
  * and self times are computed by `stats.py`, where they are unit-tested.
  *
  * Spans are recorded only while `tracing` is on: the end-to-end samples
  * of a run are taken with tracing off. */
final class Recorder {
  @volatile var tracing = false

  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val counts = mutable.LinkedHashMap[String, Double]()
  private val info = mutable.LinkedHashMap[String, String]()
  private val spans = mutable.ArrayBuffer[Span]()
  private val jobs = mutable.ArrayBuffer[(String, Long, Double, Double)]()
  private var nextSpanId = 0
  private val openSpans = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  var attempted = 0L
  var failed = 0L
  private val failures = mutable.ArrayBuffer[String]()

  def sample(key: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(key, mutable.ArrayBuffer()) += v
  }
  def add(key: String, v: Double): Unit = synchronized {
    counts(key) = counts.getOrElse(key, 0.0) + v
  }
  def max(key: String, v: Double): Unit = synchronized {
    counts(key) = math.max(counts.getOrElse(key, v), v)
  }
  def set(key: String, v: Double): Unit = synchronized { counts(key) = v }
  def count(key: String): Double = synchronized { counts.getOrElse(key, 0.0) }
  /** A Spark job's interval, with the span that submitted it. */
  def job(span: String, trace: Long, start: Double, end: Double): Unit = synchronized {
    jobs += ((span, trace, start, end))
  }
  def note(key: String, v: String): Unit = synchronized { info(key) = v }

  /** Count one attempted op; a false `ok` counts it failed. */
  def check(ok: Boolean, what: => String): Boolean = synchronized {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 20) failures += what
      System.err.println(s"perfbench: FAILED $what")
    }
    ok
  }

  /** Time `f` as a span named `name` under the calling thread's innermost
    * open span. `trace` groups the spans of one batch or op. */
  def span[T](name: String, trace: Long)(f: => T): T =
    if (!tracing) f
    else {
      val (id, parent) = synchronized {
        val id = nextSpanId; nextSpanId += 1
        (id, openSpans.get.headOption.getOrElse(-1))
      }
      openSpans.set(id :: openSpans.get)
      val start = Clock.ms()
      try f
      finally {
        val end = Clock.ms()
        openSpans.set(openSpans.get.tail)
        synchronized { spans += Span(id, name, start, end, parent, trace) }
      }
    }

  def json: String = synchronized {
    import scala.jdk.CollectionConverters._
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("attempted", attempted)
    m.put("failed", failed)
    m.put("failures", failures.asJava)
    m.put("samples", samples.map { case (k, v) => k -> v.asJava }.asJava)
    m.put("counts", counts.asJava)
    m.put("info", info.asJava)
    m.put("spans", spans.map(s => Map[String, Any]("id" -> s.id, "name" -> s.name,
      "start" -> s.start, "end" -> s.end, "parent" -> s.parent, "trace" -> s.trace).asJava).asJava)
    m.put("jobs", jobs.map(j => Map[String, Any]("span" -> j._1, "trace" -> j._2,
      "start" -> j._3, "end" -> j._4).asJava).asJava)
    new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(m)
  }
}

final case class Span(id: Int, name: String, start: Double, end: Double, parent: Int, trace: Long)

object Clock {
  private val epochAtStart = System.currentTimeMillis().toDouble
  private val nanoAtStart = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution, on the same axis
    * as Spark's listener timestamps. */
  def ms(): Double = epochAtStart + (System.nanoTime() - nanoAtStart) / 1e6
}

/** Spark listener: task counts and times, attributed to the benchmark span
  * or streaming query that submitted each job (the `perfbench.span` local
  * property or the query id, which a
  * thread created inside a span inherits — e.g. the lake's maintenance
  * thread, first started by the compaction call), and every job's
  * interval for the plan/footer split. */
final class SparkCounts extends SparkListener {
  import SparkCounts.Agg

  private val stageSpan = mutable.HashMap[Int, String]()
  private val byLayer = mutable.LinkedHashMap[String, Agg]()
  val total = Agg()
  /** (span, trace, jobStartMs, jobEndMs) of every finished job. */
  val jobs = mutable.ArrayBuffer[(String, Long, Double, Double)]()
  private val jobInfo = mutable.HashMap[Int, (String, Long, Double)]()

  private def agg(span: String): Agg = byLayer.getOrElseUpdate(span, Agg())
  def layer(span: String): Agg = synchronized { byLayer.getOrElse(span, Agg()) }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    // jobs of a streaming query (and of the threads it started, which
    // inherit its properties) are keyed by the query's id
    val span = props.flatMap(p => Option(p.getProperty("perfbench.span"))
      .orElse(Option(p.getProperty("sql.streaming.queryId")).map("query:" + _))).getOrElse("")
    val trace = props.flatMap(p => Option(p.getProperty("perfbench.trace"))).map(_.toLong).getOrElse(-1L)
    e.stageIds.foreach(id => stageSpan(id) = span)
    jobInfo(e.jobId) = (span, trace, e.time.toDouble)
    total.jobs += 1
    agg(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(e.jobId).foreach { case (span, trace, start) =>
      jobs += ((span, trace, start, e.time.toDouble))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val span = stageSpan.getOrElse(e.stageId, "")
    Seq(total, agg(span)).foreach { a =>
      a.tasks += 1
      if (!e.taskInfo.successful) a.failures += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuMs += m.executorCpuTime / 1e6
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.outBytes += m.outputMetrics.bytesWritten
        a.inRecords += m.inputMetrics.recordsRead
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val wroteShuffle = Option(s.taskMetrics).exists(_.shuffleWriteMetrics.bytesWritten > 0)
    for (st <- s.submissionTime; en <- s.completionTime if wroteShuffle)
      agg(stageSpan.getOrElse(s.stageId, "")).mapStageMs += (en - st)
  }
}

object SparkCounts {
  /** Sums over the tasks of one span's jobs (or of all jobs). */
  final case class Agg(var tasks: Long = 0, var failures: Long = 0,
      var runMs: Double = 0, var cpuMs: Double = 0, var gcMs: Double = 0,
      var shuffleWrite: Long = 0, var spill: Long = 0,
      var outBytes: Long = 0, var inRecords: Long = 0,
      var mapStageMs: Double = 0, var jobs: Long = 0)
}

/** Progress of every streaming query, by query id. */
final class ProgressLog extends StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._
  val events = mutable.ArrayBuffer[(java.util.UUID, org.apache.spark.sql.streaming.StreamingQueryProgress, Double)]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    events += ((e.progress.id, e.progress, Clock.ms()))
  }
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  def of(id: java.util.UUID): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    synchronized { events.filter(_._1 == id).map(_._2).toSeq }
  def except(id: java.util.UUID): Seq[(org.apache.spark.sql.streaming.StreamingQueryProgress, Double)] =
    synchronized { events.filter(_._1 != id).map(e => (e._2, e._3)).toSeq }
}

object Tracing {
  /** Run `f` with Spark jobs submitted from this thread tagged as `span`. */
  def tagged[T](spark: SparkSession, span: String, trace: Long)(f: => T): T = {
    val sc = spark.sparkContext
    val (p0, t0) = (sc.getLocalProperty("perfbench.span"), sc.getLocalProperty("perfbench.trace"))
    sc.setLocalProperty("perfbench.span", span)
    sc.setLocalProperty("perfbench.trace", trace.toString)
    try f
    finally { sc.setLocalProperty("perfbench.span", p0); sc.setLocalProperty("perfbench.trace", t0) }
  }
}
