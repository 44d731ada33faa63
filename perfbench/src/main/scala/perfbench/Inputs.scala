package perfbench

import graft.cdc.CdcApply
import graft.gen.ChangeLogGen
import graft.lake.LakeTable
import graft.model.Model
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** One run's context: the session, the run's scratch directory and the
  * recorder. Every table, checkpoint and log lives under `work`, which
  * `run.py` deletes after the run, so nothing the engine wrote survives
  * into the next run. */
final class Ctx(var spark: SparkSession, val work: String, val seed: Long,
    val seconds: Double, val traced: Boolean, val cores: Int, val rec: Recorder) {
  private var dirs = 0
  def freshDir(prefix: String): String = synchronized {
    dirs += 1
    val d = java.nio.file.Paths.get(work, f"$prefix-$dirs%03d")
    java.nio.file.Files.createDirectories(d.getParent)
    d.toString
  }

  /** Run `f` and log its wall time to stderr (the run's log). */
  def phase[T](name: String)(f: => T): T = {
    val (r, sec) = Inputs.timed(f)
    System.err.println(f"perfbench: $name%s took $sec%.3f s")
    r
  }

  /** Time `f` as a traced layer span whose Spark jobs carry its name. */
  def layer[T](name: String, trace: Long)(f: => T): T =
    if (!rec.tracing) f
    else rec.span(name, trace)(Tracing.tagged(spark, name, trace)(f))

  def deleteDir(d: String): Unit = {
    val p = java.nio.file.Paths.get(d)
    if (java.nio.file.Files.exists(p)) {
      val st = java.nio.file.Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(x => java.nio.file.Files.delete(x))
      finally st.close()
    }
  }
}

object Inputs {
  val publicCols: Seq[String] = Model.transcriptSchema.fieldNames.toSeq

  /** The change-log generator's settings for `events` events. Keys are
    * `events / 200` conversations × 64 turns, so most keys see several
    * updates within one log. */
  def logConfig(events: Long, seed: Long): ChangeLogGen.Config =
    ChangeLogGen.Config(numEvents = events, numConversations = math.max(64L, events / 200),
      maxTurns = 64, seed = seed)

  /** Write the log for `cfg` as `segments` ordered segment directories
    * (the layout `ChangeLogGen.writeLog` produces: equal event-id ranges,
    * cut at the schema-evolution point, earlier segments without the
    * `tool` column) in two Spark jobs instead of one per segment. Returns
    * the segment paths in log order. */
  def writeLog(ctx: Ctx, cfg: ChangeLogGen.Config, dir: String, segments: Int): Seq[String] = {
    val evolveAt = (cfg.numEvents * cfg.evolveFrac).toLong
    val per = math.max(1L, cfg.numEvents / segments)
    val cuts = ((0L until cfg.numEvents by per) ++ Seq(evolveAt, cfg.numEvents))
      .distinct.sorted.filter(_ <= cfg.numEvents)
    val bounds = cuts.zip(cuts.tail).zipWithIndex
    val staging = s"$dir/staging"
    val (post, pre) = bounds.partition { case ((lo, _), _) => lo >= evolveAt }
    for ((part, withTool, name) <- Seq((pre, false, "v1"), (post, true, "v2")) if part.nonEmpty)
      part.map { case ((lo, hi), i) =>
        ChangeLogGen.events(ctx.spark, cfg, lo, hi, withToolCol = withTool).withColumn("seg", lit(i))
      }.reduce(_ union _).write.partitionBy("seg").parquet(s"$staging/$name")
    bounds.map { case ((lo, _), i) =>
      val from = Paths.get(staging, if (lo >= evolveAt) "v2" else "v1", s"seg=$i")
      val to = Paths.get(dir, f"segment-$i%05d")
      Files.move(from, to)
      to.toString
    }
  }

  /** Expected table state after applying the change events `events`,
    * computed without the engine's write path: max-LSN row per
    * (conv_id, turn_idx) among rows passing the validation filter,
    * tombstones dropped. */
  def oracle(events: DataFrame): DataFrame = {
    val ev = events.filter(CdcApply.validationFilter)
    ev.groupBy("conv_id", "turn_idx")
      .agg(max_by(struct(ev.columns.map(col).toIndexedSeq: _*), col("lsn")).as("r"))
      .select("r.*")
      .filter(col("op") =!= "D")
      .select(publicCols.map(col): _*)
  }

  /** Order-insensitive fingerprint of a table's public rows: the row count
    * and two 32-bit halves of every row's 64-bit hash, each summed (nulls
    * hashed as a marker, so swapped nulls do not collide). */
  def fingerprint(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(publicCols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)),
        sum(shiftright(col("h"), 32).bitwiseAND(0xffffffffL)))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  def render(r: Row): String = r.toSeq.map(String.valueOf).mkString("\u0001")

  def newTable(ctx: Ctx, prefix: String, buckets: Int): LakeTable = {
    val t = new LakeTable(ctx.spark, ctx.freshDir(prefix), numBuckets = buckets)
    t.create(Model.transcriptSchema)
    t
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
