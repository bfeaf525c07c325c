package graft.resolver

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.blocker.{Blocker, BlockerQueries}
import graft.store.StarStatements

/** Resolver operators wired to the blocker's candidate pairs: positive
  * edges (score ≥ 20) → connected components → canonical map →
  * statement canonicalization → transitive judgement. The DuckDB oracles
  * replay the same pipeline with a recursive CTE as the components spec.
  */
object ResolverQueries {

  val PositiveThreshold = 20.0
  val NegativeBelow = 19.0
  // edit-op fixtures derived from the same score table: suggestions are
  // the mid band, negative decisions the low band
  val SuggestLo = 10.0
  val NegLo = 5.0

  /** All scored candidate pairs (no top-N cut — the resolver consumes
    * the full score table, thresholds are the decision rule) as a lake
    * artifact: eight resolver queries consume this table, exactly like
    * the reference's resolver reads one edge/score store.
    */
  def pairScoresCk(s: SparkSession, d: String): DataFrame =
    graft.IndexLake.artifact(s, d, "resolver_scores")(
      BlockerQueries.pairsAll(s, d))

  private def pairScores(s: SparkSession, d: String): DataFrame =
    pairScoresCk(s, d)

  private def edges(s: SparkSession, d: String): DataFrame =
    pairScores(s, d).filter(col("score") >= PositiveThreshold)
      .select(col("lid").as("src"), col("rid").as("dst"))

  /** Precedence of an id when electing a cluster canonical — the QID >
    * NK- > raw rule of the reference (`resolver/identifier.py:11-27`)
    * mapped onto the star id prefixes.
    */
  private def weightOf(id: Column): Column =
    when(id.startsWith("c:"), 3).when(id.startsWith("s:"), 2).otherwise(1)

  /** Connected components of the positive edges as a lake artifact —
    * the resolver STATE. The reference persists exactly this (the
    * loaded resolver file's cluster/canonical assignments,
    * `resolver/resolver.py:101-173`); apply/judgement/prune/review are
    * READERS of that state, not re-clusterers. Recomputing it billed
    * the driver union-find fast path (~0.5-1.2 s at sf0.1, JobCount
    * build time) into every resolver-family invocation — and at
    * cluster scale would re-run pointer-doubling per query.
    */
  def componentsCk(s: SparkSession, d: String): DataFrame =
    graft.IndexLake.artifact(s, d, "resolver_components")(
      Resolver.connectedComponents(edges(s, d)))

  /** The elected canonical per cluster member, stored beside the
    * components (same rationale; five queries consume it broadcast).
    */
  def canonicalCk(s: SparkSession, d: String): DataFrame =
    graft.IndexLake.artifact(s, d, "resolver_canonical")(
      Resolver.canonicalMap(componentsCk(s, d), weightOf))

  def components(s: SparkSession, d: String): DataFrame =
    componentsCk(s, d)

  def canonicalMapQ(s: SparkSession, d: String): DataFrame =
    canonicalCk(s, d)

  def applyQ(s: SparkSession, d: String): DataFrame =
    Resolver.applyCanonical(StarStatements(s, d), canonicalMapQ(s, d))

  /** Lower bound of the "operator approved these suggestions" band the
    * incremental-decide query promotes to positive edges.
    */
  val PromoteLo = 15.0

  /** Incremental decide (`resolver/resolver.py:353-401` batch form): a
    * batch of newly-approved judgement edges (the upper suggestion
    * band, score ∈ [15, 20)) folds into the STORED cluster state in
    * O(|Δ|) — [[Resolver.addEdges]] over the components artifact. The
    * oracle re-clusters the FULL extended edge set recursively, so the
    * hash match proves incremental-update ≡ full re-cluster.
    */
  def addEdgesQ(s: SparkSession, d: String): DataFrame = {
    val delta = pairScores(s, d)
      .filter(col("score") >= PromoteLo && col("score") < PositiveThreshold)
      .select(col("lid").as("src"), col("rid").as("dst"))
    Resolver.addEdges(componentsCk(s, d), delta)
  }

  /** Transitive judgement for every candidate pair
    * (`resolver/resolver.py:256-282`): same cluster → positive; a
    * negative edge between the two clusters → negative; else
    * no_judgement. Negative edges here are the weak candidates
    * (score < 19).
    */
  def judgementQ(s: SparkSession, d: String): DataFrame = {
    // the materialized blocker score table; both the positive-edge set
    // and the candidate batch derive from it (round 1 ran the whole
    // blocker chain twice inside this one plan)
    val scores = pairScores(s, d)
    // the stored resolver state (posEdges ≡ edges(s, d) by the same
    // threshold filter, so the artifact applies verbatim)
    val cm = canonicalCk(s, d)
    // judge the candidate batch (top-N pairs), the xref shape — not the
    // full score table
    val ps = scores
      .orderBy(col("score").desc, col("lid").asc, col("rid").asc)
      .limit(graft.blocker.BlockerQueries.cfg.maxPairs)
    val lc = cm.select(col("member").as("lid"), col("canonical").as("lcan"))
    val rc = cm.select(col("member").as("rid"), col("canonical").as("rcan"))
    val withCan = ps
      .join(broadcast(lc), Seq("lid"), "left_outer")
      .join(broadcast(rc), Seq("rid"), "left_outer")
      .select(col("lid"), col("rid"), col("score"),
        coalesce(col("lcan"), col("lid")).as("lcan"),
        coalesce(col("rcan"), col("rid")).as("rcan"))
    val negPairs = withCan.filter(col("score") < NegativeBelow)
      .select(least(col("lcan"), col("rcan")).as("na"),
        greatest(col("lcan"), col("rcan")).as("nb"))
      .distinct()
    withCan
      .join(broadcast(negPairs),
        least(col("lcan"), col("rcan")) === col("na") &&
          greatest(col("lcan"), col("rcan")) === col("nb"), "left_outer")
      .select(col("lid"), col("rid"),
        when(col("lcan") === col("rcan"), "positive")
          .when(col("na").isNotNull, "negative")
          .otherwise("no_judgement").as("judgement"))
  }

  /** Checkpointed score table shared by the edit-op queries. */
  private def scoresCk(s: SparkSession, d: String): DataFrame =
    pairScores(s, d)

  private def edgesOf(scores: DataFrame): DataFrame =
    scores.filter(col("score") >= PositiveThreshold)
      .select(col("lid").as("src"), col("rid").as("dst"))

  /** Explode the cluster containing the globally-smallest member id:
    * remaining live positive edges (`resolver/resolver.py:486-496`).
    */
  def explodeQ(s: SparkSession, d: String): DataFrame = {
    val scores = scoresCk(s, d)
    val e = edgesOf(scores)
    val cc = componentsCk(s, d)
    val minId = cc.agg(min(col("id")).as("m"))
    val members = cc.crossJoin(broadcast(minId))
      .filter(col("cluster") === col("m"))
      .select(col("id").as("member"))
    val log = e.select(col("src").as("target"), col("dst").as("source"),
      lit(ResolverOps.Positive).as("judgement"), lit(1.0).as("score"),
      lit("t").as("user"), lit("t0").as("created_at"),
      lit(null).cast("string").as("deleted_at"))
    ResolverOps.explode(log, members, "t1")
      .filter(col("deleted_at").isNull)
      .select(col("target"), col("source"))
  }

  /** Rename the smallest edge endpoint to a minted NK- id across the
    * positive edge list (`resolver/resolver.py:447-484`).
    */
  def renameQ(s: SparkSession, d: String): DataFrame = {
    val scores = scoresCk(s, d)
    val e = edgesOf(scores)
    val oldId = e.agg(min(col("src")).as("m")).head.getString(0)
    val log = e.select(col("src").as("target"), col("dst").as("source"),
      lit(ResolverOps.Positive).as("judgement"), lit(1.0).as("score"),
      lit("t").as("user"), lit("t0").as("created_at"),
      lit(null).cast("string").as("deleted_at"))
    ResolverOps.renameNode(log, oldId, "NK-0")
      .select(col("target"), col("source")).distinct()
  }

  /** Prune the full edge log (positives + mid-band suggestions +
    * low-band negatives) into canonical star form
    * (`resolver/resolver.py:498-608`).
    */
  def pruneQ(s: SparkSession, d: String): DataFrame = {
    val scores = scoresCk(s, d)
    val cm = canonicalCk(s, d)
    val log = scores.select(col("lid").as("target"),
      col("rid").as("source"),
      when(col("score") >= PositiveThreshold, ResolverOps.Positive)
        .when(col("score") >= SuggestLo, ResolverOps.NoJudgement)
        .when(col("score") >= NegLo, ResolverOps.Negative)
        .otherwise(ResolverOps.NoJudgement).as("judgement"),
      col("score"), lit("t").as("user"), lit("t0").as("created_at"),
      lit(null).cast("string").as("deleted_at"))
    ResolverOps.prune(log, cm)
  }

  /** check_candidate (`resolver/resolver.py:284-288`): candidate pairs
    * not yet decided (positive band and negative band count as decided).
    */
  def checkCandidateQ(s: SparkSession, d: String): DataFrame = {
    val scores = scoresCk(s, d)
    val cand = scores
      .orderBy(col("score").desc, col("lid").asc, col("rid").asc)
      .limit(graft.blocker.BlockerQueries.cfg.maxPairs)
    val decided = scores
      .filter(col("score") >= PositiveThreshold ||
        (col("score") >= NegLo && col("score") < SuggestLo))
      .select(least(col("lid"), col("rid")).as("da"),
        greatest(col("lid"), col("rid")).as("db")).distinct()
    cand.join(broadcast(decided),
        least(col("lid"), col("rid")) === col("da") &&
          greatest(col("lid"), col("rid")) === col("db"), "left_anti")
      .select(col("lid"), col("rid"))
  }

  /** Review queue (`tui/dedupe.py:45-67` + `resolver.py:306-327` in
    * batch form, [[Review.queue]]): the full banded edge log
    * (positives / mid-band suggestions / low-band negatives, exactly
    * the prune fixture) filtered to reviewable canonical pairs with
    * schema compatibility.
    */
  def reviewQueueQ(s: SparkSession, d: String): DataFrame = {
    val scores = scoresCk(s, d)
    val cm = canonicalCk(s, d)
    val log = scores.select(col("lid").as("target"),
      col("rid").as("source"),
      when(col("score") >= PositiveThreshold, ResolverOps.Positive)
        .when(col("score") >= SuggestLo, ResolverOps.NoJudgement)
        .when(col("score") >= NegLo, ResolverOps.Negative)
        .otherwise(ResolverOps.NoJudgement).as("judgement"),
      col("score"), lit("t").as("user"), lit("t0").as("created_at"),
      lit(null).cast("string").as("deleted_at"))
    val schemas = StarStatements(s, d)
      .select(col("id"), col("schema")).distinct()
    Review.queue(log, cm, schemas, StarStatements.compat)
  }

  /** Conflicting-match report (`conflicting_match.py:14-47`) over the
    * mid-band suggestions and low-band negative decisions.
    */
  def conflictsQ(s: SparkSession, d: String): DataFrame = {
    val scores = scoresCk(s, d)
    val oneWay = scores
      .filter(col("score") >= SuggestLo && col("score") < PositiveThreshold)
      .select(col("lid").as("subject"), col("rid").as("candidate"),
        col("score"))
    val sugg = oneWay.unionByName(oneWay.select(
      col("candidate").as("subject"), col("subject").as("candidate"),
      col("score")))
    val negs = scores
      .filter(col("score") >= NegLo && col("score") < SuggestLo)
      .select(least(col("lid"), col("rid")).as("na"),
        greatest(col("lid"), col("rid")).as("nb")).distinct()
    ResolverOps.conflictingMatches(sugg, negs)
  }

  // ---------------------------------------------------------------- oracle

  /** Blocker CTE chain + resolver CTEs, under WITH RECURSIVE. */
  private def prefix: String = {
    val blk = BlockerQueries.ctePrefix.trim.stripPrefix("WITH")
    s"""WITH RECURSIVE $blk,
    edges AS (SELECT lid AS src, rid AS dst FROM pair_scores
              WHERE score >= $PositiveThreshold),
    verts AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
    sym AS (SELECT src, dst FROM edges
            UNION SELECT dst AS src, src AS dst FROM edges),
    reach AS (
      SELECT id, id AS lbl FROM verts
      UNION
      SELECT s.dst AS id, r.lbl FROM reach r JOIN sym s ON s.src = r.id
    ),
    cc AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id),
    canon AS (
      SELECT cluster,
             split_part(max(
               (CASE WHEN id LIKE 'c:%' THEN '3'
                     WHEN id LIKE 's:%' THEN '2' ELSE '1' END) || '|' || id),
               '|', 2) AS canonical
      FROM cc GROUP BY cluster
    ),
    canonical_map AS (
      SELECT cc.id AS member, canon.canonical
      FROM cc JOIN canon ON cc.cluster = canon.cluster
    ),
    cand_pairs AS (
      SELECT lid, rid, score FROM pair_scores
      ORDER BY score DESC, lid, rid
      LIMIT ${graft.blocker.BlockerQueries.cfg.maxPairs}
    ),
    pair_can AS (
      SELECT p.lid, p.rid, p.score,
             coalesce(lc.canonical, p.lid) AS lcan,
             coalesce(rc.canonical, p.rid) AS rcan
      FROM cand_pairs p
      LEFT JOIN canonical_map lc ON p.lid = lc.member
      LEFT JOIN canonical_map rc ON p.rid = rc.member
    ),
    neg_pairs AS (
      SELECT DISTINCT least(lcan, rcan) AS na, greatest(lcan, rcan) AS nb
      FROM pair_can WHERE score < $NegativeBelow
    ),
    sugg_band AS (
      SELECT lid AS subject, rid AS candidate, score FROM pair_scores
      WHERE score >= $SuggestLo AND score < $PositiveThreshold
    ),
    sugg_sym AS (
      SELECT subject, candidate, score FROM sugg_band
      UNION ALL
      SELECT candidate, subject, score FROM sugg_band
    ),
    neg_band AS (
      SELECT DISTINCT least(lid, rid) AS na, greatest(lid, rid) AS nb
      FROM pair_scores WHERE score >= $NegLo AND score < $SuggestLo
    )
    """
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_res_components" -> (components _),
    "q_res_canonical_map" -> (canonicalMapQ _),
    "q_res_apply" -> (applyQ _),
    "q_res_judgement" -> (judgementQ _),
    "q_res_explode" -> (explodeQ _),
    "q_res_rename" -> (renameQ _),
    "q_res_prune" -> (pruneQ _),
    "q_res_conflicts" -> (conflictsQ _),
    "q_res_check_candidate" -> (checkCandidateQ _),
    "q_res_add_edges" -> (addEdgesQ _),
    "q_review_queue" -> (reviewQueueQ _))

  val oracles: Map[String, String] = Map(
    "q_res_components" -> (prefix + "SELECT id, cluster FROM cc"),
    "q_res_add_edges" -> (prefix + s""",
      edges2 AS (
        SELECT src, dst FROM edges
        UNION
        SELECT lid AS src, rid AS dst FROM pair_scores
        WHERE score >= $PromoteLo AND score < $PositiveThreshold
      ),
      verts2 AS (SELECT src AS id FROM edges2 UNION SELECT dst FROM edges2),
      sym2 AS (SELECT src, dst FROM edges2
               UNION SELECT dst AS src, src AS dst FROM edges2),
      reach2 AS (
        SELECT id, id AS lbl FROM verts2
        UNION
        SELECT s.dst AS id, r.lbl FROM reach2 r JOIN sym2 s ON s.src = r.id
      )
      SELECT id, min(lbl) AS cluster FROM reach2 GROUP BY id"""),
    "q_res_canonical_map" -> (prefix +
      "SELECT member, canonical FROM canonical_map"),
    "q_res_apply" -> (prefix + """
      SELECT st.id, coalesce(cm.canonical, st.id) AS canonical_id,
             st.schema, st.field, st.value
      FROM stmts st LEFT JOIN canonical_map cm ON st.id = cm.member"""),
    "q_res_judgement" -> (prefix + """
      SELECT p.lid, p.rid,
             CASE WHEN p.lcan = p.rcan THEN 'positive'
                  WHEN n.na IS NOT NULL THEN 'negative'
                  ELSE 'no_judgement' END AS judgement
      FROM pair_can p
      LEFT JOIN neg_pairs n ON least(p.lcan, p.rcan) = n.na
                           AND greatest(p.lcan, p.rcan) = n.nb"""),
    "q_res_explode" -> (prefix + """
      SELECT src AS target, dst AS source FROM edges
      WHERE src NOT IN (SELECT id FROM cc
                        WHERE cluster = (SELECT min(id) FROM cc))
        AND dst NOT IN (SELECT id FROM cc
                        WHERE cluster = (SELECT min(id) FROM cc))"""),
    "q_res_rename" -> (prefix + """
      SELECT DISTINCT
             CASE WHEN src = (SELECT min(src) FROM edges)
                  THEN 'NK-0' ELSE src END AS target,
             CASE WHEN dst = (SELECT min(src) FROM edges)
                  THEN 'NK-0' ELSE dst END AS source
      FROM edges
      WHERE (CASE WHEN src = (SELECT min(src) FROM edges)
                  THEN 'NK-0' ELSE src END)
         <> (CASE WHEN dst = (SELECT min(src) FROM edges)
                  THEN 'NK-0' ELSE dst END)"""),
    "q_res_prune" -> (prefix + s"""
      SELECT canonical AS target, member AS source,
             'positive' AS judgement
      FROM canonical_map WHERE member <> canonical
      UNION ALL
      SELECT DISTINCT least(t, s) AS target, greatest(t, s) AS source,
             'negative' AS judgement
      FROM (
        SELECT coalesce(lc.canonical, p.lid) AS t,
               coalesce(rc.canonical, p.rid) AS s
        FROM pair_scores p
        LEFT JOIN canonical_map lc ON p.lid = lc.member
        LEFT JOIN canonical_map rc ON p.rid = rc.member
        WHERE p.score >= $NegLo AND p.score < $SuggestLo
      ) WHERE t <> s"""),
    "q_res_conflicts" -> (prefix + """
      SELECT s1.subject, s1.candidate AS b, s2.candidate AS c,
             s1.score AS score_b, s2.score AS score_c
      FROM sugg_sym s1
      JOIN sugg_sym s2 ON s1.subject = s2.subject
                      AND s1.candidate < s2.candidate
      JOIN neg_band n ON least(s1.candidate, s2.candidate) = n.na
                     AND greatest(s1.candidate, s2.candidate) = n.nb"""),
    "q_review_queue" -> (prefix + s"""
      SELECT r.left_id, r.right_id, r.score,
             ls.schema AS left_schema, rs.schema AS right_schema
      FROM (
        SELECT least(a, b) AS left_id, greatest(a, b) AS right_id,
               max(score) AS score
        FROM (
          SELECT coalesce(lc.canonical, p.lid) AS a,
                 coalesce(rc.canonical, p.rid) AS b, p.score
          FROM pair_scores p
          LEFT JOIN canonical_map lc ON p.lid = lc.member
          LEFT JOIN canonical_map rc ON p.rid = rc.member
          WHERE (p.score >= $SuggestLo AND p.score < $PositiveThreshold)
             OR p.score < $NegLo
        ) WHERE a <> b GROUP BY 1, 2
      ) r
      JOIN (SELECT DISTINCT id, schema FROM stmts) ls
        ON r.left_id = ls.id
      JOIN (SELECT DISTINCT id, schema FROM stmts) rs
        ON r.right_id = rs.id
      JOIN compat c ON least(ls.schema, rs.schema) = c.ls
                   AND greatest(ls.schema, rs.schema) = c.rs
      WHERE NOT EXISTS (
        SELECT 1 FROM (
          SELECT DISTINCT least(a, b) AS na, greatest(a, b) AS nb
          FROM (
            SELECT coalesce(lc.canonical, p.lid) AS a,
                   coalesce(rc.canonical, p.rid) AS b
            FROM pair_scores p
            LEFT JOIN canonical_map lc ON p.lid = lc.member
            LEFT JOIN canonical_map rc ON p.rid = rc.member
            WHERE p.score >= $NegLo AND p.score < $SuggestLo
          ) WHERE a <> b
        ) n WHERE n.na = r.left_id AND n.nb = r.right_id)"""),
    "q_res_check_candidate" -> (prefix + s"""
      SELECT c.lid, c.rid FROM cand_pairs c
      WHERE NOT EXISTS (
        SELECT 1 FROM pair_scores p
        WHERE least(p.lid, p.rid) = least(c.lid, c.rid)
          AND greatest(p.lid, p.rid) = greatest(c.lid, c.rid)
          AND (p.score >= $PositiveThreshold
               OR (p.score >= $NegLo AND p.score < $SuggestLo)))"""))
}
