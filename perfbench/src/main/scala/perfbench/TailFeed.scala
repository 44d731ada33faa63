package perfbench

import graft.cdc.{CdcApply, CdcPipeline, CdcStream}
import graft.gen.ChangeLogGen
import graft.lake.LakeTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** `tail_feed`: an open loop lands pre-generated small segments into the
  * watched log directory (one parquet file each, by atomic rename) at a
  * fixed rate while
  * `CdcStream.runTail` ingests them into a pre-loaded table and a
  * `graft-changes` consumer drains the table's change feed.
  *
  * Freshness of a segment = time from its SCHEDULED landing to the end of
  * the first consumer micro-batch whose max `_lsn` reaches the segment's
  * highest valid LSN. */
object TailFeed {
  val PreloadEvents = 50000L
  val SegmentEvents = 250L
  /** The open loop's fixed rate (segments per second). */
  val SegmentsPerSecond = 8.0
  val WarmupSegments = 8
  val Buckets = 8
  val TriggerMs = 200L
  /** How long after its landing a segment may take before it counts failed. */
  val DeadlineMs = 30000L
  val Opts = CdcApply.Options(mergeOnRead = true, pipelineDepth = 4, compactEvery = 16)

  final class Input(val dir: String, val logDir: String, val staging: String,
      val table: LakeTable, val checkpoint: String, val maxValidLsn: Array[Long],
      val total: Long)

  def run(ctx: Ctx, reps: Int): Unit = {
    val windows = if (ctx.traced) 2 else 1
    val perWindow = math.max(1, math.round(ctx.seconds * SegmentsPerSecond).toInt)
    val segments = WarmupSegments + windows * perWindow
    var in: Input = null
    for (_ <- 0 until reps) {
      if (in != null) ctx.deleteDir(in.dir)
      val (i, sec) = Inputs.timed(setup(ctx, segments))
      ctx.rec.sample("setup_s", sec)
      in = i
    }
    val cfg = Inputs.logConfig(in.total, ctx.seed)
    val oracle = Inputs.oracle(ChangeLogGen.events(ctx.spark, cfg, 0L, in.total))
    val preloaded = in.table.currentVersion
    ctx.phase("tail")(tail(ctx, in, perWindow, windows))
    // the oracle runs beside the table's own fingerprint, after the clock
    val want = scala.concurrent.Future(Inputs.fingerprint(oracle))(
      scala.concurrent.ExecutionContext.global)
    val got = Inputs.fingerprint(in.table.read())
    ctx.rec.check(got == scala.concurrent.Await.result(want, scala.concurrent.duration.Duration.Inf),
      "tail table != oracle")
    // scans read the pre-loaded snapshot, whose layout does not depend on
    // how the tail's micro-batches happened to be cut
    ctx.phase("scan")(Scan.measure(ctx, () => in.table.readAt(preloaded), ""))
    if (ctx.traced) {
      val (_, c) = Main.tracedPhase(ctx, engineCounts = false)(
        Scan.measure(ctx, () => in.table.readAt(preloaded), "traced.", warmup = 1))
      ctx.rec.set("lake.scan_shuffle_bytes", c.layer("lake.scan").shuffleWrite.toDouble / Scan.Reps)
    }
    if (ctx.traced)
      ctx.phase("read probe")(ReadProbe.run(ctx, in.table, cfg.numConversations, oracle))
  }

  /** Generate the log (pre-load part written into the watched directory,
    * tail segments staged beside it, split by LSN range) and pre-load a
    * fresh table through the streaming path. */
  private def setup(ctx: Ctx, segments: Int): Input = {
    val spark = ctx.spark
    val total = PreloadEvents + segments * SegmentEvents
    val cfg = Inputs.logConfig(total, ctx.seed)
    val dir = ctx.freshDir("tail")
    val logDir = s"$dir/log"
    val staging = s"$dir/staging"
    ctx.phase("generate log")(ChangeLogGen.events(spark, cfg, 0L, PreloadEvents).repartition(8)
      .write.parquet(s"$logDir/preload"))
    val seg = greatest(lit(0L), floor((col("lsn") - PreloadEvents) / SegmentEvents)).cast("int")
    val tail = ChangeLogGen.events(spark, cfg, PreloadEvents, total).withColumn("seg", seg)
    // one parquet file per segment, so each lands by one atomic rename
    ctx.phase("stage segments")(tail.coalesce(1).write.partitionBy("seg").parquet(staging))
    val maxValid = Array.fill(segments)(Long.MinValue)
    tail.filter(CdcApply.validationFilter).groupBy("seg").agg(max("lsn")).collect()
      .foreach(r => maxValid(r.getInt(0)) = r.getLong(1))
    require(maxValid.forall(_ != Long.MinValue), "a tail segment has no valid event")
    val table = Inputs.newTable(ctx, "tail-table", Buckets)
    val ck = s"$dir/checkpoint"
    ctx.phase("pre-load")(CdcStream.runOnce(spark, logDir, table, ck, maxFilesPerTrigger = 64, opts = Opts))
    new Input(dir, logDir, staging, table, ck, maxValid, total)
  }

  private def segmentFile(staging: String, i: Int): java.nio.file.Path = {
    val st = Files.list(Paths.get(staging, s"seg=$i"))
    try st.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq match {
      case Seq(f) => f
      case fs => sys.error(s"segment $i was staged as ${fs.size} files")
    } finally st.close()
  }

  final case class FeedBatch(maxLsn: Long, rows: Long, atMs: Double)

  private def tail(ctx: Ctx, in: Input, perWindow: Int, windows: Int): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    val table = in.table
    val v0 = table.currentVersion
    val feedBatches = new ConcurrentLinkedQueue[FeedBatch]()
    val feed = spark.readStream.format("graft-changes")
      .option("path", table.root).option("startingVersion", v0.toString).load()
      .writeStream.queryName("perfbench-feed")
      .option("checkpointLocation", s"${in.dir}/feed-checkpoint")
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .foreachBatch { (df: DataFrame, _: Long) =>
        val r = df.agg(max("_lsn"), count(lit(1))).head()
        val maxLsn = if (r.isNullAt(0)) Long.MinValue else r.getLong(0)
        feedBatches.add(FeedBatch(maxLsn, r.getLong(1), Clock.ms()))
        ()
      }
      .start()
    // idleStopMs = 0: the tail runs until its thread is interrupted
    @volatile var tailError: Throwable = null
    val tailThread = new Thread(() =>
      try CdcStream.runTail(spark, in.logDir, table, in.checkpoint, maxFilesPerTrigger = 64,
        intervalMs = TriggerMs, idleStopMs = 0L, opts = Opts)
      catch {
        case _: InterruptedException => ()
        case t: Throwable => tailError = t
      }, "perfbench-tail")
    tailThread.start()
    def ingestQuery: Option[StreamingQuery] = spark.streams.active.find(_.id != feed.id)
    waitFor("both streaming queries to start", 60000) {
      feed.lastProgress != null && ingestQuery.exists(_.lastProgress != null)
    }

    val segments = in.maxValidLsn.length
    val due = new Array[Double](segments)
    val landed = new Array[Double](segments)
    val t0 = Clock.ms() + 100
    for (i <- 0 until segments) due(i) = t0 + i * 1000.0 / SegmentsPerSecond
    val lander = new Thread(() => {
      for (i <- 0 until segments) {
        val wait = due(i) - Clock.ms()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        Files.move(segmentFile(in.staging, i), Paths.get(in.logDir, f"tail-$i%05d.parquet"),
          StandardCopyOption.ATOMIC_MOVE)
        landed(i) = Clock.ms()
      }
    }, "perfbench-lander")
    lander.start()

    def observedAt(i: Int): Option[Double] =
      feedBatches.asScala.iterator.filter(_.maxLsn >= in.maxValidLsn(i)).map(_.atMs).minOption
    def awaitSegments(upTo: Int): Unit = waitFor("segments to reach the feed",
      (due(upTo - 1) - Clock.ms() + DeadlineMs).toLong) {
      if (tailError != null) throw tailError
      observedAt(upTo - 1).isDefined
    }
    val warmEnd = WarmupSegments
    val windowEnd = (1 to windows).map(w => warmEnd + w * perWindow)
    // untraced window, then (traced runs) a second, traced window
    awaitSegments(windowEnd.head)
    if (windows > 1) {
      val progress = new ProgressLog
      spark.streams.addListener(progress)
      val poller = new Poller(ctx, table, feed, progress)
      try {
        val (_, c) = Main.tracedPhase(ctx, engineCounts = true) {
          poller.start()
          awaitSegments(windowEnd(1))
        }
        // the ingest query's jobs: delta writes and background compaction
        ingestQuery.foreach { q =>
          val w = c.layer(s"query:${q.id}")
          ctx.rec.set("cdc.shuffle_write_bytes", w.shuffleWrite.toDouble)
          ctx.rec.set("cdc.spill_bytes", w.spill.toDouble)
          ctx.rec.set("lake.bytes_written", w.outBytes.toDouble)
        }
      }
      finally { poller.stop(); spark.streams.removeListener(progress) }
      layerMetrics(ctx, progress, feed.id)
    }
    lander.join()
    tailThread.interrupt()
    tailThread.join()
    if (tailError != null) throw tailError
    // runTail's own epilogue on a finite run: apply any batch the source
    // journaled but the stopped query never executed
    CdcPipeline.recoverPending(spark, table, in.checkpoint, Opts)
    table.awaitMaintenance()
    waitFor("the feed to reach the table head", 60000) {
      feedEnd(feed).exists(_ >= table.currentVersion)
    }
    feed.stop()
    feed.awaitTermination()

    for (w <- 0 until windows) {
      val (lo, hi) = (if (w == 0) warmEnd else windowEnd(w - 1), windowEnd(w))
      val prefix = if (w == 0) "" else "traced."
      System.err.println(s"perfbench: window $w freshness ms: " +
        (lo until hi).map(i => observedAt(i).fold("-")(a => f"${a - due(i)}%.0f")).mkString(" "))
      for (i <- lo until hi) {
        val at = observedAt(i)
        if (rec.check(at.exists(_ - due(i) <= DeadlineMs), s"segment $i never reached the feed"))
          rec.sample(s"${prefix}lat_ms", at.get - due(i))
      }
      val lastSeen = (lo until hi).flatMap(observedAt).maxOption.getOrElse(due(hi - 1))
      rec.sample(s"${prefix}tput_per_s", (hi - lo) * SegmentEvents / ((lastSeen - due(lo)) / 1000))
    }
    rec.set("gen_late_ms_max", (0 until segments).map(i => landed(i) - due(i)).max)
    val emitted = feedBatches.asScala.map(_.rows).sum
    val committed = table.readChangesSince(v0).count()
    rec.check(emitted == committed, s"feed emitted $emitted rows, table committed $committed")
  }

  /** Per-trigger phase times from the two queries' progress reports. */
  private def layerMetrics(ctx: Ctx, progress: ProgressLog, feedId: java.util.UUID): Unit = {
    val rec = ctx.rec
    def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val ingest = progress.except(feedId).map(_._1).filter(carriesData)
    ingest.foreach { p =>
      rec.sample("stream.trigger_ms", d(p, "triggerExecution"))
      rec.sample("stream.latest_offset_ms", d(p, "latestOffset"))
      rec.sample("stream.wal_commit_ms", d(p, "walCommit"))
      rec.sample("stream.add_batch_ms", d(p, "addBatch"))
    }
    rec.set("stream.batches", ingest.size)
    val fed = progress.of(feedId).filter(_.numInputRows > 0)
    fed.foreach { p =>
      rec.sample("feed.trigger_ms", d(p, "triggerExecution"))
      rec.sample("feed.latest_offset_ms", d(p, "latestOffset"))
      rec.sample("feed.get_batch_ms", d(p, "getBatch"))
    }
    rec.set("feed.rows", fed.map(_.numInputRows).sum.toDouble)
  }

  /** Whether a trigger planned new input. The ingest query's progress
    * always reports 0 input rows: its foreachBatch hands the batch to the
    * pipeline, which runs the job after the trigger ends. */
  private def carriesData(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Boolean =
    p.sources.exists(s => s.endOffset != null && s.startOffset != s.endOffset)

  /** The table version the consumer has planned up to. */
  private def feedEnd(feed: StreamingQuery): Option[Long] =
    Option(feed.lastProgress).flatMap(_.sources.headOption).flatMap(s => Option(s.endOffset))
      .map(_.trim.stripPrefix("\"").stripSuffix("\"").toLong)

  private def waitFor(what: String, timeoutMs: Long)(cond: => Boolean): Unit = {
    val end = System.currentTimeMillis() + math.max(timeoutMs, 1000L)
    while (!cond) {
      if (System.currentTimeMillis() > end) {
        org.apache.spark.sql.SparkSession.active.streams.active.foreach(q =>
          System.err.println(s"perfbench: query ${q.name} ${q.status} ${q.lastProgress}"))
        sys.error(s"timed out waiting for $what")
      }
      Thread.sleep(5)
    }
  }

  /** Snapshot poller of the traced window: feed lag in versions, delta
    * depth, and each ingest batch's lag from its progress report to its
    * commit (`applied(batchId)`). */
  private final class Poller(ctx: Ctx, table: LakeTable, feed: StreamingQuery,
      progress: ProgressLog) {
    @volatile private var running = true
    private val thread = new Thread(() => {
      val waiting = scala.collection.mutable.LinkedHashMap[Long, Double]()
      var seen = 0
      while (running) {
        val snap = table.currentSnapshot
        feedEnd(feed).foreach(end => ctx.rec.max("feed.lag_versions_max", (snap.version - end).toDouble))
        ctx.rec.max("lake.delta_depth_max", snap.deltas.values.map(_.size).maxOption.getOrElse(0).toDouble)
        val reports = progress.except(feed.id)
        reports.drop(seen).foreach { case (pr, at) =>
          if (carriesData(pr)) waiting(pr.batchId) = at
        }
        seen = reports.size
        val now = Clock.ms()
        waiting.toSeq.foreach { case (b, at) =>
          if (snap.applied(b)) {
            ctx.rec.sample("pipeline.commit_lag_ms", now - at)
            ctx.rec.add("lake.commits", 1)
            waiting.remove(b)
          }
        }
        Thread.sleep(10)
      }
    }, "perfbench-poller")
    def start(): Unit = thread.start()
    def stop(): Unit = { running = false; thread.join() }
  }
}
