package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.{EntityStore, MergeLake}
import graft.streaming.{LoopStream, ResolveStream}

/** The deployed loop. Set-up lands and resolves day 0
  * ([[LoopStream.init]], which also serves as the warm-up: it runs the
  * same xref, resolver and lake code the batches run). The timed part
  * runs delta batches through [[LoopStream.processBatch]], one at a
  * time, while measuring time is left (at least one).
  *
  * Traced runs also time one from-scratch xref → resolve → apply over
  * the loop's final corpus, count the rows where the loop's canonical
  * lake differs from it, and repeat it untraced for the tracing
  * overhead.
  */
object LoopWorkload {

  /** Lake compaction threshold (live deltas): every batch folds its
    * delta into each lake, so the maintain stage of the one batch a run
    * has time for compacts every lake the loop appends to, and the
    * blocker index compacts inside the index stage.
    */
  val MaintainEvery = 1
  val Stages = Seq("merge", "index", "xref", "decide", "apply", "maintain")

  /** One generated file as loop statements (the MergeLake row shape). */
  private def statements(s: SparkSession, corpus: String, day: Int)
      : DataFrame =
    EntityStore.statements(
      EntityStore.readIjson(s,
        "%s/day-%02d.ijson".formatLocal(java.util.Locale.ROOT, corpus, day)),
      XrefWorkload.Dataset)
      .withColumn("stmt_id", col("id"))
      .withColumn("last_seen", lit(s"d$day"))

  def run(s: SparkSession, t: Tracer, rec: Record, corpus: String,
      work: String, seconds: Double): Unit = {
    val cfg = XrefWorkload.config
    val days = new java.io.File(corpus).list()
      .count(n => n.startsWith("day-") && n.endsWith(".ijson"))
    require(days >= 2, "need day 0 and at least one delta batch")
    // batches land as parquet first, so a timed batch does not pay the
    // JSON parse (a deployed loop reads its increments from a lake)
    val batches = (1 until days).map { d =>
      val dir = s"$work/batches/$d"
      statements(s, corpus, d).coalesce(1).write.parquet(dir)
      d -> s.read.parquet(dir)
    }
    val p = LoopStream.Paths(s"$work/loop")
    t.span("loop.init")(LoopStream.init(s, statements(s, corpus, 0), p, cfg))

    var stage = 0
    var pending: Option[Span] = None
    LoopStream.stageHook = (name, wall) => {
      require(name == Stages(stage), s"stage $name out of order")
      pending.foreach(t.finish(_, wall))
      stage += 1
      pending = Stages.lift(stage).map(n => t.detached(s"loop.$n"))
    }
    rec.startTiming()
    val start = System.nanoTime()
    val todo = batches.iterator
    var done = 0
    while (todo.hasNext &&
        (done == 0 || (System.nanoTime() - start) / 1e9 < seconds)) {
      val (d, df) = todo.next()
      val sp = t.begin("loop.batch")
      stage = 0
      pending = Some(t.detached("loop.merge"))
      LoopStream.processBatch(s, df, s"b$d", p, cfg, MaintainEvery)
      val wall = t.end(sp)
      require(stage == Stages.size, s"batch b$d ran $stage stages")
      val rows = df.count()
      sp.attrs("rows") = rows
      rec.op(Map("kind" -> "batch", "wall_s" -> wall, "rows" -> rows))
      if (t.traced) {
        // the statement lake's live delta count and snapshot read time
        // after each batch: both should stay flat under maintenance
        val lake = t.begin("loop.lake")
        lake.attrs("live_deltas") = MergeLake.deltaCount(s, p.lake)
        MergeLake.snapshot(s, p.lake).count(): Unit
        lake.attrs("snapshot_s") = t.end(lake)
      }
      done += 1
    }
    LoopStream.stageHook = (_, _) => ()

    val (all, nAll) =
      Main.materialize(MergeLake.snapshot(s, p.lake).drop("bucket"))
    val key = Seq("id", "canonical_id", "prop", "value").map(col)
    val got = MergeLake.snapshot(s, p.canonical).select(key: _*)
    val gotRows = got.count()
    rec.check("canonical lake holds one row per statement",
      gotRows == nAll, s"$gotRows vs $nAll")

    if (t.traced) {
      val sp = t.begin("loop.full")
      val (_, _, cm, want, _) = XrefWorkload.resolveAndApply(s, t, all)
      val wall = t.end(sp)
      rec.op(Map("kind" -> "full", "wall_s" -> wall, "rows" -> nAll))
      val exp = want.select(key: _*)
      rec.fact("state_mismatch_rows",
        got.exceptAll(exp).count() + exp.exceptAll(got).count())
      cm.unpersist()
      want.unpersist()
      t.overhead(rec, "loop.full", wall) {
        val (_, _, cm2, want2, _) = XrefWorkload.resolveAndApply(s, t, all)
        cm2.unpersist()
        want2.unpersist()
      }
    }

    // quality over the entities landed so far
    val landed = all.select(col("canonical_id")).distinct().collect()
      .map(_.getString(0)).toSet
    val truth = PairQuality.truth(corpus)
      .filter { case (a, b) => landed(a) && landed(b) }
    val state = ResolveStream.state(s, p.state).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val (prec, rc, predPairs, tp) = PairQuality.score(
      PairQuality.pairs(PairQuality.clustersOf(state)), truth)
    rec.fact("pair_precision", prec)
    rec.fact("pair_recall", rc)
    rec.fact("predicted_pairs", predPairs)
    rec.fact("true_positive_pairs", tp)
    rec.fact("truth_pairs", truth.size)
    rec.fact("statements", nAll)
    rec.fact("batches", done)
    s.catalog.clearCache()
  }
}
