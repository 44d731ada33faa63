package perfbench

import graft.cdc.CdcApply
import graft.lake.LakeTable
import graft.model.Model

/** `ingest_replay`: the whole backlog is present at start and is replayed
  * in batch mode through `CdcApply.replay` (merge-on-read, pipelined) into
  * a fresh table, repeatedly for the measured window. Latency samples are
  * the per-batch durations the engine itself records (`ingestMetrics`). */
object IngestReplay {
  val Events = 100000L
  val Segments = 4
  val Buckets = 8
  /** `compactEvery` = the log's batch count (4 segments plus the
    * schema-evolution cut): compaction fires on the last commit and the
    * replay awaits it, so every replay ends fully compacted and the final
    * layout (and `scan_s`) does not hang on a race between the last commit
    * and the background compaction. */
  val Opts = CdcApply.Options(mergeOnRead = true, pipelineDepth = 4, compactEvery = 5)
  /** Untimed replays first: JIT and first-job costs fall on them. A replay
    * gets faster over its first four runs (8.5 s, then 3.7, 3.2, 2.9 s on
    * a 4-core VM) and then stays within about 10% of 2.5 s. */
  val WarmupReplays = 4
  val MinReplays = 5

  /** `oracle` is the expected table's fingerprint, computed concurrently
    * with the untimed warm-up replays. */
  final class Input(val segments: Seq[String],
      val oracle: scala.concurrent.Future[(Long, Long, Long)])

  def setup(ctx: Ctx, reps: Int): Input = {
    val cfg = Inputs.logConfig(Events, ctx.seed)
    var segs: Seq[String] = Nil
    for (i <- 0 until reps) {
      segs.headOption.foreach(s => ctx.deleteDir(java.nio.file.Paths.get(s).getParent.toString))
      val (s, sec) = Inputs.timed(ctx.phase("generate log")(Inputs.writeLog(ctx, cfg, ctx.freshDir("ingest-log"), Segments)))
      ctx.rec.sample("setup_s", sec)
      segs = s
    }
    val log = ctx.spark.read.schema(Model.changeEventSchema).parquet(segs: _*)
    new Input(segs, scala.concurrent.Future(Inputs.fingerprint(Inputs.oracle(log)))(
      scala.concurrent.ExecutionContext.global))
  }

  /** One replay into a fresh table; returns the table and its wall time. */
  def replayOnce(ctx: Ctx, in: Input): (LakeTable, Double) = {
    val table = Inputs.newTable(ctx, "ingest-table", Buckets)
    val (_, sec) = Inputs.timed(ctx.rec.span("ingest.replay", 0)(
      CdcApply.replay(ctx.spark, table, in.segments, Opts)))
    (table, sec)
  }

  def verify(ctx: Ctx, in: Input, table: LakeTable, what: String): Unit =
    ctx.rec.check(Inputs.fingerprint(table.read()) ==
      scala.concurrent.Await.result(in.oracle, scala.concurrent.duration.Duration.Inf),
      s"$what: table != oracle")

  /** Replays until they add up to `ctx.seconds`, at least `MinReplays`;
    * each is checked after its clock stops. Samples go under `prefix`. */
  def measure(ctx: Ctx, in: Input, prefix: String): LakeTable = {
    var spent = 0.0
    var last: LakeTable = null
    var n = 0
    while (n < MinReplays || spent < ctx.seconds) {
      if (last != null) ctx.deleteDir(last.root)
      val (table, sec) = replayOnce(ctx, in)
      System.err.println(f"perfbench: replay $n%d took $sec%.3f s")
      spent += sec
      ctx.rec.sample(s"${prefix}tput_per_s", Events / sec)
      table.ingestMetrics().select("duration_ms").collect()
        .foreach(r => ctx.rec.sample(s"${prefix}lat_ms", r.getLong(0).toDouble))
      verify(ctx, in, table, s"replay $n")
      last = table
      n += 1
    }
    last
  }

  def run(ctx: Ctx, reps: Int): Unit = {
    val in = ctx.phase("setup")(setup(ctx, reps))
    ctx.phase("warm-up")(for (i <- 0 until WarmupReplays) {
      val (warm, _) = replayOnce(ctx, in)
      verify(ctx, in, warm, s"warm-up replay $i")
      ctx.deleteDir(warm.root)
    })
    val table = ctx.phase("measure")(measure(ctx, in, ""))
    ctx.phase("scan")(Scan.measure(ctx, () => table.read(), ""))
    if (ctx.traced) traced(ctx, in)
  }

  /** Traced run: the same replays with the listener on (Spark counts and
    * overhead), a serial walk through the layer calls the replay makes
    * (per-layer self times), and one replay at local[1]. */
  private def traced(ctx: Ctx, in: Input): Unit = {
    val (table, c0) = ctx.phase("traced measure")(Main.tracedPhase(ctx, engineCounts = true) {
      val t = measure(ctx, in, "traced.")
      Scan.measure(ctx, () => t.read(), "traced.", warmup = 1)
      t
    })
    ctx.deleteDir(table.root)
    ctx.rec.set("lake.scan_shuffle_bytes", c0.layer("lake.scan").shuffleWrite.toDouble / Scan.Reps)
    val (_, c) = ctx.phase("serial walk")(Main.tracedPhase(ctx, engineCounts = false)(walk(ctx, in)))
    val write = c.layer("lake.write")
    val rec = ctx.rec
    rec.set("cdc.map_stage_ms", write.mapStageMs / in.segments.size)
    rec.set("cdc.rows_in", write.inRecords.toDouble)
    rec.set("cdc.shuffle_write_bytes", write.shuffleWrite.toDouble)
    rec.set("cdc.spill_bytes", write.spill.toDouble)
    rec.set("lake.bytes_written", write.outBytes.toDouble)
    rec.set("lake.compact_bytes", c.layer("lake.compact").outBytes.toDouble)
    rec.set("cdc.keep_ratio", rec.count("lake.rows_written") / math.max(1L, write.inRecords))
    ctx.phase("local[1] replay")(oneCore(ctx, in))
  }

  /** Serial walk: read → prepare → write → commit → compaction, one
    * segment at a time, each call a span (trace id = batch index). */
  private def walk(ctx: Ctx, in: Input): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    val table = Inputs.newTable(ctx, "walk-table", Buckets)
    in.segments.zipWithIndex.foreach { case (seg, i) =>
      rec.span("batch", i) {
        val events = ctx.layer("cdc.read", i)(spark.read.parquet(seg))
        val batch = ctx.layer("cdc.prepare", i)(CdcApply.prepareBatch(events, Opts))
        val w = ctx.layer("lake.write", i)(table.writeDeltaFiles(batch, Model.keyCols,
          saltPartitions = Opts.mergeSaltPartitions,
          bucketWeights = table.currentSnapshot.bucketWeights))
        ctx.layer("lake.commit", i)(table.commitDelta(i.toLong, w))
        rec.add("lake.commits", 1)
        rec.add("lake.files_written", w.files.values.map(_.size).sum)
        rec.add("lake.rows_written", w.stats.map(_._2).sum.toDouble)
        val depth = table.maxDeltaFiles
        rec.max("lake.delta_depth_max", depth)
        if (depth >= Opts.compactEvery) {
          ctx.layer("lake.compact", i) {
            table.maybeCompactAsync(Opts.compactEvery, Opts.mergeSaltPartitions)
            table.awaitMaintenance()
          }
          rec.add("lake.compactions", 1)
        }
      }
    }
    verify(ctx, in, table, "serial walk")
    ctx.deleteDir(table.root)
  }

  /** Scaling diagnostic: one replay of the same backlog at local[1] (the
    * JIT is already warm from the runs above). */
  private def oneCore(ctx: Ctx, in: Input): Unit = {
    Main.restartSpark(ctx, 1)
    val (table, sec) = replayOnce(ctx, in)
    verify(ctx, in, table, "local[1] replay")
    ctx.deleteDir(table.root)
    ctx.rec.set("ingest_eps_1core", Events / sec)
  }
}
