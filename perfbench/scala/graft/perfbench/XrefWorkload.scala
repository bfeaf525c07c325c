package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.blocker.{Blocker, EntityTokenizer}
import graft.cli.CliArgs
import graft.store.EntityStore
import graft.xref.Xref

/** The batch dedupe job: ijson read → statements → xref → resolve →
  * apply → assemble, over the whole generated corpus, repeated until
  * the measuring time is up (closed loop, one iteration in flight).
  */
object XrefWorkload {

  /** The reference dedupe default the soaks use; the regression-v1
    * scorer separates the generator's true and false pairs there.
    */
  val Threshold = 0.5
  val Dataset = "perfbench"

  /** Reference blocker caps, unscaled: the Zipf head tokens bind them. */
  def config: Xref.Config =
    Xref.Config(autoThreshold = Some(Threshold),
      blocker = Blocker.Config.reference)

  final case class Result(statements: Long, entities: Long, merges: Long,
      suggestions: Long, cm: Seq[(String, String)], appliedRows: Long,
      assembled: DataFrame, wall: Double)

  def none(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq.empty[(String, String)].toDF("src", "dst")
  }

  /** xref → resolve → apply over a statement table: the from-scratch
    * run the loop workload compares its increments with. Returns the
    * canonical map and the canonicalised statements, both materialised.
    */
  def resolveAndApply(s: SparkSession, t: Tracer, stmts: DataFrame)
      : (Long, Long, DataFrame, DataFrame, Long) = {
    val (edges, merges, suggestions) = t.span("xref.run") {
      val (m, sug) = Xref.run(s, stmts, none(s), config)
      val (e, n) = Main.materialize(m.select(col("src"), col("dst")))
      (e, n, sug.count())
    }
    val cm = t.span("xref.resolve") {
      Main.materialize(CliArgs.canonicalMapOf(edges))._1
    }
    val (applied, rows) = t.span("xref.apply") {
      Main.materialize(CliArgs.applyCanonical(stmts, cm))
    }
    (merges, suggestions, cm, applied, rows)
  }

  def iteration(s: SparkSession, t: Tracer, corpus: String): Result = {
    val it = t.begin("xref.iteration")
    val (stmts, n) = t.span("xref.ingest") {
      Main.materialize(EntityStore.statements(
        EntityStore.readIjson(s, s"$corpus/day-*.ijson"), Dataset))
    }
    val full = t.begin("xref.full")
    val (merges, suggestions, cm, applied, rows) =
      resolveAndApply(s, t, stmts)
    t.end(full)
    val assembled = EntityStore.assemble(applied)
    t.span("xref.assemble") {
      assembled.write.format("noop").mode("overwrite").save()
    }
    val wall = t.end(it)
    it.attrs("statements") = n
    val cmRows = cm.collect().map(r => (r.getString(0), r.getString(1)))
      .toSeq
    val entities = stmts.select(col("canonical_id")).distinct().count()
    Result(n, entities, merges, suggestions, cmRows, rows, assembled, wall)
  }

  /** No warm-up iteration: a batch dedupe job runs as a fresh process
    * (the `nk xref` command), so the first iteration in a new JVM is
    * the one its users wait for. Further iterations run while measuring
    * time is left.
    */
  def run(s: SparkSession, t: Tracer, rec: Record, corpus: String,
      seconds: Double): Unit = {
    val truth = PairQuality.truth(corpus)
    rec.startTiming()
    val start = System.nanoTime()
    var last: Result = null
    var i = 0
    while (i < 1 || (System.nanoTime() - start) / 1e9 < seconds) {
      val r = iteration(s, t, corpus)
      rec.op(Map("kind" -> "iteration", "wall_s" -> r.wall,
        "rows" -> r.statements))
      check(rec, r, s"iteration $i")
      last = r
      s.catalog.clearCache()
      i += 1
    }
    val (p, r, predPairs, tp) = PairQuality.score(
      PairQuality.pairs(PairQuality.clustersOf(last.cm)), truth)
    rec.fact("pair_precision", p)
    rec.fact("pair_recall", r)
    rec.fact("predicted_pairs", predPairs)
    rec.fact("true_positive_pairs", tp)
    rec.fact("truth_pairs", truth.size)
    rec.fact("statements", last.statements)
    rec.fact("entities", last.entities)
    rec.fact("merges", last.merges)
    rec.fact("suggestions", last.suggestions)
    if (t.traced) {
      blockerProbe(s, t, rec, corpus, truth)
    }
  }

  /** Untimed output checks on one iteration. */
  private def check(rec: Record, r: Result, label: String): Unit = {
    rec.check(s"$label: apply keeps every statement",
      r.appliedRows == r.statements, s"${r.appliedRows} vs ${r.statements}")
    val folded = r.cm.count { case (m, c) => m != c }
    val assembled = r.assembled.count()
    rec.check(s"$label: one assembled entity per cluster",
      assembled == r.entities - folded,
      s"$assembled vs ${r.entities} - $folded")
    rec.check(s"$label: every canonical is a member of its cluster",
      r.cm.filter { case (m, c) => m == c }.map(_._2).toSet ==
        r.cm.map(_._2).toSet)
  }

  /** Traced runs only: the blocker's share of the xref, called on its
    * own with the xref's config, plus the scored-pair count. Its time
    * is also inside `xref.run`, so it is not additive. The scoring call
    * (blocking and matching, most of `Xref.run`) is repeated untraced
    * for the tracing overhead.
    */
  private def blockerProbe(s: SparkSession, t: Tracer, rec: Record,
      corpus: String, truth: Set[(String, String)]): Unit = {
    val cfg = config
    val stmts = Main.materialize(EntityStore.statements(
      EntityStore.readIjson(s, s"$corpus/day-*.ijson"), Dataset))._1
    val cand = t.span("xref.blocker") {
      val view = EntityStore.view(stmts, withExternal = cfg.external)
      val compat = Xref.compatDf(s)
      val tf = Blocker.termFrequencies(EntityTokenizer.entries(view), compat,
        Xref.boostsDf(s), cfg.blocker,
        dampFields = EntityTokenizer.DampFields)
      Blocker.pairs(tf, compat,
        cfg.blocker.copy(maxPairs = cfg.limit * cfg.limitFactor))
        .select(col("lid"), col("rid")).collect()
        .map(r => if (r.getString(0) < r.getString(1))
          (r.getString(0), r.getString(1)) else (r.getString(1), r.getString(0)))
        .toSet
    }
    val sp = t.begin("xref.scored")
    val scored = Xref.scoredPairs(s, stmts, none(s), cfg).count()
    t.overhead(rec, "Xref.scoredPairs", t.end(sp)) {
      Xref.scoredPairs(s, stmts, none(s), cfg).count(): Unit
    }
    val hits = cand.count(truth.contains)
    rec.fact("candidate_pairs", cand.size)
    rec.fact("candidate_true_pairs", hits)
    rec.fact("scored_pairs", scored)
    s.catalog.clearCache()
  }
}
