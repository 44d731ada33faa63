package perfbench

import graft.lake.LakeTable
import org.apache.spark.sql.DataFrame

/** Traced point-read probe of the lake read path (`filesForConv`,
  * `readConv`, `readConvRange`): one closed-loop client issuing a seeded
  * key mix against a table that still carries deltas, every read collected
  * and checked against the oracle. Run in `tail_feed`'s traced run, on the
  * table the tail built. */
object ReadProbe {
  val Ops = 40

  sealed trait Op
  final case class Conv(id: String) extends Op
  final case class Range(lo: String, hi: String) extends Op

  def convId(i: Long): String = f"conv-$i%07d"

  /** Seeded key mix: 70% uniform existing ids, 10% the hot `conv-0000000`,
    * 10% absent ids, 10% ranges over three adjacent ids. */
  def ops(seed: Long, numConvs: Long): Iterator[Op] = {
    val rnd = new scala.util.Random(seed)
    Iterator.continually {
      val r = rnd.nextInt(10)
      val id = 1 + (rnd.nextDouble() * (numConvs - 1)).toLong
      if (r < 7) Conv(convId(id))
      else if (r == 7) Conv(convId(0))
      else if (r == 8) Conv(convId(numConvs + id))
      else Range(convId(id), convId(math.min(numConvs - 1, id + 2)))
    }
  }

  /** `Ops` traced reads; per-read counts go to the recorder. */
  def run(ctx: Ctx, table: LakeTable, numConvs: Long, oracle: DataFrame): Unit = {
    val expected = oracle.collect().toSeq
      .groupBy(_.getString(0)).map { case (k, rs) => k -> rs.map(Inputs.render).toSet }
    val mix = ops(ctx.seed, numConvs)
    for (_ <- 0 until Ops / 3) readOnce(ctx, table, mix.next(), expected, -1) // warm-up
    val (_, c) = Main.tracedPhase(ctx, engineCounts = false) {
      for (i <- 0 until Ops) readOnce(ctx, table, mix.next(), expected, i)
    }
    ctx.rec.set("lake.read_shuffle_bytes", c.layer("lake.read").shuffleWrite.toDouble / Ops)
  }

  private def readOnce(ctx: Ctx, table: LakeTable, op: Op,
      expected: Map[String, Set[String]], trace: Long): Unit = {
    val rec = ctx.rec
    val rows = rec.span("read", trace) {
      op match {
        case Conv(id) =>
          if (rec.tracing)
            rec.add("lake.files_read", ctx.layer("lake.prune", trace)(table.filesForConv(id)).size)
          ctx.layer("lake.read", trace)(table.readConv(id).collect())
        case Range(lo, hi) =>
          if (rec.tracing)
            rec.add("lake.files_read", ctx.layer("lake.prune", trace)(table.filesForConvRange(lo, hi)).size)
          ctx.layer("lake.read", trace)(table.readConvRange(lo, hi).collect())
      }
    }
    if (rec.tracing) rec.add("lake.reads", 1)
    val want = op match {
      case Conv(id) => expected.getOrElse(id, Set.empty)
      case Range(lo, hi) => expected.iterator
        .filter { case (k, _) => k >= lo && k <= hi }.flatMap(_._2).toSet
    }
    val got = rows.map(Inputs.render)
    rec.check(got.length == want.size && got.toSet == want, s"read $op: ${got.length} rows, want ${want.size}")
  }
}
