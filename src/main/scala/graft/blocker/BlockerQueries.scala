package graft.blocker

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.StarStatements

/** Driver-facing blocker queries over the synthetic statement view, each
  * with a line-for-line DuckDB oracle (the reference executes this whole
  * stage as SQL — `blocker/index.py` — so the oracle is the spec).
  */
object BlockerQueries {

  val cfg: Blocker.Config = Blocker.Config()

  private def compatDf(s: SparkSession): DataFrame = {
    import s.implicits._
    StarStatements.compat.toDF("ls", "rs")
  }

  private def boostsDf(s: SparkSession): DataFrame = {
    import s.implicits._
    StarStatements.boosts.toDF("field", "boost")
  }

  def entries(s: SparkSession, d: String): DataFrame =
    Blocker.entries(StarStatements(s, d), cfg)

  /** The entries table as a lake artifact — the reference persists
    * `entries` as a DuckDB TABLE before any frequency work
    * (`blocker/index.py:148-195`); without this every TF-derived query
    * re-tokenizes the corpus. Built once per data dir and published via
    * [[graft.IndexLake]]; every later session reads the parquet.
    */
  def entriesCk(s: SparkSession, d: String): DataFrame =
    graft.IndexLake.artifact(s, d, "blocker_entries")(entries(s, d))

  def tokenStats(s: SparkSession, d: String): DataFrame =
    Blocker.tokenStats(entriesCk(s, d))

  def stopwordsQ(s: SparkSession, d: String): DataFrame =
    Blocker.stopwords(tokenStats(s, d), compatDf(s), cfg)

  /** Stopword stats report (`blocker/index.py:388-403`): one-row
    * conditional aggregate over the token cost model.
    */
  def stopwordStatsQ(s: SparkSession, d: String): DataFrame =
    Blocker.tokenCosts(tokenStats(s, d), compatDf(s))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("cost") > cfg.maxPairCost, 1).otherwise(0))
          .as("n_stopwords"),
        sum(col("cost")).cast("long").as("total_cost"),
        sum(when(col("cost") > cfg.maxPairCost, col("cost")).otherwise(0L))
          .cast("long").as("stopword_cost"),
        max(col("cost")).as("max_cost"))

  /** Top stopwords report (`blocker/index.py:432-437`). */
  def topStopwordsQ(s: SparkSession, d: String): DataFrame =
    Blocker.tokenCosts(tokenStats(s, d), compatDf(s))
      .orderBy(col("cost").desc, col("token").asc)
      .limit(10)

  def tf(s: SparkSession, d: String): DataFrame =
    Blocker.termFrequencies(entriesCk(s, d), compatDf(s), boostsDf(s), cfg)

  /** The term-frequency index as a lake artifact — the DataFrame
    * analogue of the reference persisting `term_frequencies` as a
    * DuckDB TABLE (`blocker/index.py:504-531`) and running every
    * downstream query against it. Without this, each of the ~14
    * blocker-derived driver queries re-tokenizes the corpus.
    */
  def tfCk(s: SparkSession, d: String): DataFrame =
    graft.IndexLake.artifact(s, d, "blocker_tf")(tf(s, d))

  /** Served from the lake artifact, like every other TF consumer — the
    * artifact IS tf()'s output, so this is a map-only parquet scan
    * (recomputing from entries billed ~15 sequential shuffle stages
    * per bench run for identical rows).
    */
  def tfRounded(s: SparkSession, d: String): DataFrame =
    tfCk(s, d).withColumn("weight", round(col("weight"), 6))

  def pairsQ(s: SparkSession, d: String): DataFrame =
    Blocker.pairs(tfCk(s, d), compatDf(s), cfg)

  /** Full pair score table, no top-N (resolver input). */
  def pairsAll(s: SparkSession, d: String): DataFrame =
    Blocker.pairScores(tfCk(s, d), compatDf(s))

  /** Query side for the match join: Part entities with key % 10 == 0. */
  private def isQuerySide = col("schema") === "Part" &&
    substring(col("id"), 3, 30).cast("long") % 10 === 0

  def matchTopKQ(s: SparkSession, d: String): DataFrame = {
    val t = tfCk(s, d)
    Blocker.matchTopK(t.filter(isQuerySide), t.filter(!isQuerySide),
      compatDf(s), cfg)
  }

  /** The delta entity set of the store's increment scenario: the ADD
    * batch of the v2 merge (every 7th entity — the same slice
    * [[graft.store.StoreQueries.deltaQ]] reports as ADD and
    * [[graft.store.StoreQueries.mergeQ]] lands as delta1). Kept as a
    * COLUMN predicate so it pushes into the TF artifact scan.
    *
    * Id-format note: ids are assumed `prefix:number`. Spark's `cast`
    * yields null (row excluded) on a malformed second segment; the
    * oracles use TRY_CAST for the same excluded-not-crashed behaviour.
    */
  def isDeltaEntity: org.apache.spark.sql.Column =
    split(col("id"), ":").getItem(1).cast("long") % 7 === 0

  /** Incremental blocking after a MERGE: candidate pairs touching the
    * delta entities only, scored and capped exactly like the full pass.
    * The oracle proves the incremental claim — it computes the FULL
    * pair table and filters, so a hash match shows delta-sized work
    * reproduces the corpus-sized answer for the delta slice.
    */
  def deltaPairsQ(s: SparkSession, d: String): DataFrame =
    Blocker.deltaPairScores(tfCk(s, d), isDeltaEntity, compatDf(s))
      .orderBy(col("score").desc, col("lid").asc, col("rid").asc)
      .limit(cfg.maxPairs)

  /** Incremental index maintenance end to end: build the blocker index
    * from the stale v1 base of the MERGE scenario
    * ([[graft.store.StoreQueries.mergeQ]] — every 7th entity missing,
    * every 3rd name stale), fold forward two increments (the new
    * entities, then the corrections) with
    * [[BlockerIndex.refresh]]'s O(|Δ|·tokens) stat folding, and read
    * the maintained TF back. The oracle is the FULL-REBUILD tf over the
    * final corpus (byte-identical SQL to q_blk_tf, because the merged
    * end state IS the clean statement table) — a hash match proves
    * N incremental index folds ≡ one from-scratch build, the same
    * proof shape as q_store_merge/q_res_add_edges.
    *
    * Like mergeQ, the init/refresh/refresh sequence is the operator
    * under test and runs inside the query (marker-gated per data dir;
    * the sequence is deterministic, so a rebuilt dir is
    * byte-equivalent).
    */
  def indexAddQ(s: SparkSession, d: String): DataFrame = {
    val num = split(col("id"), ":").getItem(1).cast("long")
    val all = StarStatements(s, d).withColumn("num", num)
    val cols = Seq("id", "schema", "field", "value").map(col)
    val tokenize = (df: DataFrame) => Blocker.entries(df, cfg)
    // built under a scratch dir, published atomically (BuildOnce):
    // racing sessions can't init() over each other's half-built index,
    // and the engine-build hash inside the fingerprint retires stale
    // artifacts
    val path = graft.store.BuildOnce(s, "/tmp/graft-blkidx-" +
      sys.props.getOrElse("user.name", "anon") + "/" +
      graft.IndexLake.fingerprint(d)) { tmp =>
      val base = all.filter(col("num") % 7 =!= 0)
        .withColumn("value",
          when(col("field") === "name" && col("num") % 3 === 0,
            concat(lit("OLD "), col("value"))).otherwise(col("value")))
      BlockerIndex.init(base.select(cols: _*), tmp, tokenize)
      // increment 1: the entities the v2 merge ADDs (every 7th) —
      // their post-merge statements are exactly their batch rows
      val t1 = all.filter(col("num") % 7 === 0)
      val ids1 = t1.select(col("id")).distinct()
        .collect().map(_.getString(0)).toSeq
      BlockerIndex.refresh(s, tmp, t1.select(cols: _*), ids1, "v2",
        tokenize)
      // increment 2: the v3 corrections touch every entity that got a
      // corrected name (num % 3) or a re-asserted type row (Parts,
      // num % 5); their post-merge statements are the CLEAN rows
      val touched2 = (col("num") % 3 === 0) ||
        (col("schema") === "Part" && col("num") % 5 === 0)
      val t2 = all.filter(touched2)
      val ids2 = t2.select(col("id")).distinct()
        .collect().map(_.getString(0)).toSeq
      BlockerIndex.refresh(s, tmp,
        all.join(t2.select(col("id")).distinct(), Seq("id"), "left_semi")
          .select(cols: _*),
        ids2, "v3", tokenize)
      // production maintenance after the increment burst: fold the
      // stat log + compact the entries lake so every later TF read is
      // one bare scan + one folded stats scan (the uncompacted view
      // measured 25 jobs / 3.3 s at sf0.1; compacted ~8 jobs)
      BlockerIndex.compact(s, tmp)
    }
    BlockerIndex.termFrequencies(s, path, compatDf(s), boostsDf(s), cfg)
      .withColumn("weight", round(col("weight"), 6))
  }

  /** Symbol-token emission (`sy:` families) over the star names —
    * the blocking analogue of the reference's symbol spans
    * (`blocker/tokenizer.py:71-78`). Map-only until the distinct.
    */
  def symbolsQ(s: SparkSession, d: String): DataFrame =
    EntityTokenizer.symbolEntries(
      StarStatements(s, d).filter(col("field") === "name"))

  // ---------------------------------------------------------------- oracle

  /** Shared CTE chain mirroring the DataFrame lineage above (also reused
    * by the resolver oracles, which prepend RECURSIVE). */
  val ctePrefix: String = s"""
    WITH ${StarStatements.sql.trim},
    ${StarStatements.compatSql.trim},
    ${StarStatements.boostsSql.trim},
    tokens AS (
      SELECT id, schema, field, substr(t, 1, ${cfg.maxTokenLen}) AS token
      FROM stmts, unnest(string_split_regex(lower(value), '[^a-z0-9]+')) AS u(t)
      WHERE length(t) >= ${cfg.minTokenLen}
    ),
    entries AS (
      SELECT schema, id, field, token, count(*) AS cnt
      FROM tokens GROUP BY schema, id, field, token
    ),
    token_stats AS (
      SELECT token, schema, count(*) AS df, CAST(sum(cnt) AS BIGINT) AS freq,
             min(field) AS field
      FROM entries GROUP BY token, schema
    ),
    costs AS (
      SELECT l.token,
             CAST(sum(CASE WHEN l.schema = r.schema THEN (l.df*(l.df-1))//2
                           ELSE l.df*r.df END) AS BIGINT) AS cost
      FROM token_stats l
      JOIN token_stats r ON l.token = r.token AND l.schema <= r.schema
      JOIN compat ON ls = l.schema AND rs = r.schema
      GROUP BY l.token
    ),
    stopwords AS (SELECT token, cost FROM costs WHERE cost > ${cfg.maxPairCost}),
    idf AS (
      SELECT token,
             1.0 + ln(CAST((SELECT count(DISTINCT id) FROM entries) AS DOUBLE)
                      / CAST(count(DISTINCT id) AS DOUBLE)) AS idf
      FROM entries GROUP BY token
    ),
    name_counts AS (
      SELECT id, greatest(1, CAST(sum(cnt) AS BIGINT)) AS n_names
      FROM entries WHERE field = 'name' GROUP BY id
    ),
    tf AS (
      SELECT e.schema, e.id, e.field, e.token,
             CASE WHEN e.field IN ('name')
                  THEN i.idf * coalesce(b.boost, 1.0)
                       / sqrt(coalesce(nc.n_names, 1))
                  ELSE i.idf * coalesce(b.boost, 1.0)
             END AS weight
      FROM entries e
      LEFT JOIN stopwords sw ON e.token = sw.token
      JOIN idf i ON e.token = i.token
      LEFT JOIN name_counts nc ON e.id = nc.id
      LEFT JOIN boosts b ON e.field = b.field
      WHERE sw.token IS NULL
    ),
    pair_fields AS (
      SELECT l.id AS lid, r.id AS rid, l.field AS field,
             max(l.weight + r.weight) AS maxw, count(*) AS n
      FROM tf l
      JOIN tf r ON l.token = r.token AND l.field = r.field AND l.id > r.id
      JOIN compat c ON c.ls = least(l.schema, r.schema)
                  AND c.rs = greatest(l.schema, r.schema)
      GROUP BY l.id, r.id, l.field
    ),
    pair_scores AS (
      SELECT lid, rid, round(sum(maxw * (1.0 + ln(n))), 4) AS score
      FROM pair_fields GROUP BY lid, rid
    ),
    matching AS (
      SELECT * FROM tf
      WHERE schema = 'Part' AND CAST(substr(id, 3) AS BIGINT) % 10 = 0
    ),
    index_side AS (
      SELECT * FROM tf
      WHERE NOT (schema = 'Part' AND CAST(substr(id, 3) AS BIGINT) % 10 = 0)
    ),
    match_fields AS (
      SELECT m.id AS qid, t.id AS cid, m.field AS field,
             max(t.weight) AS maxw, count(*) AS n
      FROM matching m
      JOIN index_side t
        ON m.token = t.token AND m.field = t.field AND m.id <> t.id
      JOIN compat c ON c.ls = least(m.schema, t.schema)
                  AND c.rs = greatest(m.schema, t.schema)
      GROUP BY m.id, t.id, m.field
    ),
    match_scores AS (
      SELECT qid, cid, round(sum(maxw * (1.0 + ln(n))), 4) AS score
      FROM match_fields GROUP BY qid, cid
    ),
    match_ranked AS (
      SELECT qid, cid, score,
             row_number() OVER w AS rn, first_value(score) OVER w AS best
      FROM match_scores
      WINDOW w AS (PARTITION BY qid ORDER BY score DESC, cid)
    )
    """

  // Lexicon VALUES tables for the symbol oracle — generated from the
  // same Symbols maps the Spark side uses, sorted for determinism.
  private def q(s: String) = s"'${s}'"
  private val symOrgVals = graft.text.Symbols.OrgClasses.toSeq
    .map { case (k, c) => k -> graft.text.Symbols.orgClassGroup(c) }
    .sortBy(_._1).map { case (k, g) => s"(${q(k)}, ${q(g)})" }
    .mkString(", ")
  private val symNameVals = graft.text.Symbols.NameVariants.toSeq
    .sortBy(_._1).map { case (k, g) => s"(${q(k)}, $g)" }.mkString(", ")
  private val symNickVals = graft.text.Symbols.Nicknames.toSeq
    .sortBy(_._1).map { case (k, g) => s"(${q(k)}, $g)" }.mkString(", ")
  private val symLocVals = graft.text.Symbols.Locations.toSeq.sorted
    .map(t => s"(${q(t)})").mkString(", ")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_blk_entries" -> (entriesCk _),
    "q_blk_symbols" -> (symbolsQ _),
    "q_blk_token_stats" -> (tokenStats _),
    "q_blk_stopwords" -> (stopwordsQ _),
    "q_blk_stopword_stats" -> (stopwordStatsQ _),
    "q_blk_top_stopwords" -> (topStopwordsQ _),
    "q_blk_tf" -> (tfRounded _),
    "q_blk_index_add" -> (indexAddQ _),
    "q_blk_pairs" -> (pairsQ _),
    "q_blk_delta_pairs" -> (deltaPairsQ _),
    "q_blk_match_topk" -> (matchTopKQ _))

  val oracles: Map[String, String] = Map(
    "q_blk_entries" -> (ctePrefix +
      "SELECT schema, id, field, token, cnt FROM entries"),
    "q_blk_symbols" -> (ctePrefix + s""",
      sym_org(tok, grp) AS (VALUES $symOrgVals),
      sym_name(tok, gid) AS (VALUES $symNameVals),
      sym_nick(tok, gid) AS (VALUES $symNickVals),
      sym_loc(tok) AS (VALUES $symLocVals),
      name_parts AS (
        SELECT DISTINCT id, schema, t AS part
        FROM stmts, unnest(string_split_regex(
          translate(replace(lower(value), 'ß', 'ss'),
                    '${EntityTokenizer.FoldSrc}', '${EntityTokenizer.FoldDst}'),
          '[^a-z0-9]+')) AS u(t)
        WHERE field = 'name' AND length(t) > 0
      ),
      sy AS (
        SELECT id, schema,
               'sy:numeric:' || CAST(CAST(part AS BIGINT) AS VARCHAR) AS token
          FROM name_parts WHERE regexp_full_match(part, '[0-9]{1,15}')
        UNION
        SELECT id, schema, 'sy:org_class:' || s.grp
          FROM name_parts p JOIN sym_org s ON p.part = s.tok
        UNION
        SELECT id, schema, 'sy:name:' || CAST(s.gid AS VARCHAR)
          FROM name_parts p JOIN sym_name s ON p.part = s.tok
        UNION
        SELECT id, schema, 'sy:nick:' || CAST(s.gid AS VARCHAR)
          FROM name_parts p JOIN sym_nick s ON p.part = s.tok
        UNION
        SELECT id, schema, 'sy:location:' || part
          FROM name_parts p JOIN sym_loc s ON p.part = s.tok
      )
      SELECT schema, id, 'sy' AS field, token, CAST(1 AS BIGINT) AS cnt
      FROM sy"""),
    "q_blk_token_stats" -> (ctePrefix +
      "SELECT token, schema, df, freq, field FROM token_stats"),
    "q_blk_stopwords" -> (ctePrefix + "SELECT token, cost FROM stopwords"),
    "q_blk_stopword_stats" -> (ctePrefix + s"""
      SELECT count(*) AS n_tokens,
             CAST(sum(CASE WHEN cost > ${cfg.maxPairCost} THEN 1 ELSE 0 END)
               AS BIGINT) AS n_stopwords,
             CAST(sum(cost) AS BIGINT) AS total_cost,
             CAST(sum(CASE WHEN cost > ${cfg.maxPairCost} THEN cost
                      ELSE 0 END) AS BIGINT) AS stopword_cost,
             max(cost) AS max_cost
      FROM costs"""),
    "q_blk_top_stopwords" -> (ctePrefix + """
      SELECT token, cost FROM costs
      ORDER BY cost DESC, token ASC LIMIT 10"""),
    "q_blk_tf" -> (ctePrefix +
      "SELECT schema, id, field, token, round(weight, 6) AS weight FROM tf"),
    // the incremental-maintenance proof: same full-rebuild SQL as
    // q_blk_tf — the engine side got there by folding two deltas into
    // stored artifacts instead of rebuilding
    "q_blk_index_add" -> (ctePrefix +
      "SELECT schema, id, field, token, round(weight, 6) AS weight FROM tf"),
    "q_blk_pairs" -> (ctePrefix +
      s"""SELECT lid, rid, score FROM pair_scores
          ORDER BY score DESC, lid, rid LIMIT ${cfg.maxPairs}"""),
    "q_blk_delta_pairs" -> (ctePrefix + s""",
      delta_ids AS (
        SELECT DISTINCT id FROM stmts
        WHERE TRY_CAST(split_part(id, ':', 2) AS BIGINT) % 7 = 0
      )
      SELECT lid, rid, score FROM pair_scores
      WHERE lid IN (SELECT id FROM delta_ids)
         OR rid IN (SELECT id FROM delta_ids)
      ORDER BY score DESC, lid, rid LIMIT ${cfg.maxPairs}"""),
    "q_blk_match_topk" -> (ctePrefix +
      s"""SELECT qid, cid, score, rn FROM match_ranked
          WHERE rn <= ${cfg.maxCandidates}
            AND score >= best * ${cfg.minScoreRatio}"""))
}
