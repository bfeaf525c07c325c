package graft.enrich

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-facing wikidata transform query: a synthetic wikidata dump
  * slice generated deterministically from the customer table, run
  * end-to-end through parse → claim/label transform → FtM statements,
  * gated by a DuckDB oracle that computes the expected statements
  * directly from the base table (an independent path — the oracle never
  * parses JSON, so it checks parser + transform together).
  *
  * Fixture shape exercises the reference semantics inventory
  * (`wikidata/model.py`, `wikidata/value.py`, `enrich/wikidata.py`):
  * time precision 9/10/11 + bot `-01-01` trimming, BCE → HISTORIC,
  * old/recent imprecise dates, entity-valued claims resolved through
  * dump labels (gender, position), qualified position date ranges
  * (P580/P582/P585), country QID mapping, topics mapping with unmapped
  * drop, name-part sanity checks, strong/weak aliases from labels and
  * claims, deprecated-rank and somevalue snaks, the P31=Q5 person gate,
  * description→notes language pick, and enwiki/fallback sitelinks.
  */
object WikidataQueries {

  /** (QID, ftm country) per TPC-H nationkey 0..24 — all present in
    * [[Wikidata.QidCountries]].
    */
  val FixtureCountries: Seq[(String, String)] = Seq(
    "Q262" -> "dz", "Q414" -> "ar", "Q155" -> "br", "Q16" -> "ca",
    "Q79" -> "eg", "Q115" -> "et", "Q142" -> "fr", "Q183" -> "de",
    "Q668" -> "in", "Q252" -> "id", "Q794" -> "ir", "Q796" -> "iq",
    "Q17" -> "jp", "Q810" -> "jo", "Q114" -> "ke", "Q1028" -> "ma",
    "Q1029" -> "mz", "Q419" -> "pe", "Q148" -> "cn", "Q218" -> "ro",
    "Q159" -> "ru", "Q851" -> "sa", "Q145" -> "gb", "Q30" -> "us",
    "Q881" -> "vn")

  private val Modified = "2024-01-01T00:00:00Z"

  // ------------------------------------------------ JSON doc assembly

  private def timeSnak(prop: String, time: String, prec: Int): String =
    s"""{"snaktype":"value","property":"$prop","datatype":"time","datavalue":{"type":"time","value":{"time":"$time","precision":$prec}}}"""

  private def strSnak(prop: String, v: String): String =
    s"""{"snaktype":"value","property":"$prop","datatype":"string","datavalue":{"type":"string","value":"$v"}}"""

  private def entSnak(prop: String, qid: String): String =
    s"""{"snaktype":"value","property":"$prop","datatype":"wikibase-item","datavalue":{"type":"wikibase-entityid","value":{"id":"$qid"}}}"""

  private def claim(id: String, main: String, rank: String = "normal",
      qualifiers: Seq[(String, String)] = Nil,
      refs: Seq[String] = Nil): String = {
    val quals =
      if (qualifiers.isEmpty) ""
      else qualifiers.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (p, ss) => s""""$p":[${ss.map(_._2).mkString(",")}]""" }
        .mkString(""","qualifiers":{""", ",", "}")
    val references =
      if (refs.isEmpty) ""
      else refs.map(r => s"""{"snaks":{"P854":[$r]}}""")
        .mkString(""","references":[""", ",", "]")
    s"""{"id":"$id","rank":"$rank","mainsnak":$main$quals$references}"""
  }

  private def langVal(lang: String, v: String): String =
    s""""$lang":{"language":"$lang","value":"$v"}"""

  /** One synthetic person item per customer row. */
  def personDoc(k: Long, name: String): String = {
    val qid = s"Q${100000 + k}"
    val labels = Seq(Some(langVal("en", name)),
      if (k % 3 == 0) Some(langVal("de", s"$name (de)")) else None)
      .flatten.mkString(",")
    val aliasVals = Seq(
      if (k % 4 == 0) Some(s"C $k") else None,
      if (k % 8 == 0) Some(s"AK$k") else None,
      if (k % 12 == 0) Some(name) else None).flatten
    val aliases =
      if (aliasVals.isEmpty) ""
      else aliasVals.map(v => s"""{"language":"en","value":"$v"}""")
        .mkString(""","aliases":{"en":[""", ",", "]}")
    val descVals = Seq(
      if (k % 2 == 0) Some(langVal("en", s"customer $k")) else None,
      if (k % 5 == 1) Some(langVal("fr", s"client $k")) else None).flatten
    val descs =
      if (descVals.isEmpty) ""
      else descVals.mkString(""","descriptions":{""", ",", "}")

    val y = 1900 + k % 100
    val m = 1 + k % 11
    val d = 1 + k % 23
    val birthRaw = f"+$y%04d-$m%02d-$d%02dT00:00:00Z"
    val birthPrec = 9 + (k % 3).toInt
    val p = (k % 20).toInt
    val posQuals =
      if (k % 4 == 0)
        Seq("P580" -> timeSnak("P580", f"+${2000 + p}%04d-01-01T00:00:00Z", 9),
          "P582" -> timeSnak("P582", f"+${2010 + p}%04d-01-01T00:00:00Z", 9))
      else if (k % 2 == 0)
        Seq("P580" -> timeSnak("P580", f"+${2000 + p}%04d-01-01T00:00:00Z", 9))
      else if (k % 10 == 9)
        Seq("P585" -> timeSnak("P585", f"+${2015 + k % 5}%04d-01-01T00:00:00Z", 9))
      else Nil

    val claims = Seq.newBuilder[(String, String)]
    val instQid = if (k % 10 == 7) "Q4830453" else "Q5"
    claims += "P31" -> claim(s"$qid-p31", entSnak("P31", instQid))
    claims += "P569" -> claim(s"$qid-p569",
      timeSnak("P569", birthRaw, birthPrec))
    if (k % 6 == 3) claims += "P570" -> claim(s"$qid-p570",
      timeSnak("P570", "-0100-01-01T00:00:00Z", 11))
    if (k % 6 == 0) claims += "P570" -> claim(s"$qid-p570",
      timeSnak("P570", "+1950-01-01T00:00:00Z", 8))
    if (k % 6 == 4) claims += "P570" -> claim(s"$qid-p570",
      timeSnak("P570", "+1700-01-01T00:00:00Z", 8))
    if (k % 13 == 0) claims += "P1477" -> claim(s"$qid-p1477",
      s"""{"snaktype":"somevalue","property":"P1477","datatype":"monolingualtext"}""")
    val first = if (k % 9 == 5) s"zzz$k" else "customer"
    claims += "P735" -> claim(s"$qid-p735", strSnak("P735", first))
    claims += "P734" -> claim(s"$qid-p734",
      strSnak("P734", f"#$k%09d"))
    claims += "P21" -> claim(s"$qid-p21",
      entSnak("P21", if (k % 2 == 0) "Q6581097" else "Q6581072"))
    claims += "P27" -> claim(s"$qid-p27",
      entSnak("P27", FixtureCountries((k % 25).toInt)._1))
    claims += "P39" -> claim(s"$qid-p39",
      entSnak("P39", s"Q${200000 + p}"), qualifiers = posQuals)
    if (k % 7 == 0) claims += "P106" -> claim(s"$qid-p106",
      entSnak("P106", "Q82955"))
    if (k % 7 == 1) claims += "P106" -> claim(s"$qid-p106",
      entSnak("P106", "Q16533"))
    if (k % 7 == 2) claims += "P106" -> claim(s"$qid-p106",
      entSnak("P106", "Q999999"))
    if (k % 5 == 0) claims += "P856" -> claim(s"$qid-p856",
      strSnak("P856", s"https://ex.example/$k"))
    if (k % 4 == 1) claims += "P2561" -> claim(s"$qid-p2561",
      strSnak("P2561", s"Customer $k"))
    if (k % 11 == 0) claims += "P1813" -> claim(s"$qid-p1813",
      strSnak("P1813", s"DEP$k"), rank = "deprecated")
    // relationship claims (q_wd_links): spouse with a start date and a
    // source reference, sibling, business associate
    if (k % 8 == 2) claims += "P26" -> claim(s"$qid-p26",
      entSnak("P26", s"Q${100000 + k + 1}"),
      qualifiers = Seq("P580" ->
        timeSnak("P580", f"+${1990 + k % 10}%04d-01-01T00:00:00Z", 9)),
      refs = Seq(strSnak("P854", s"https://src.example/$k")))
    if (k % 8 == 6) claims += "P3373" -> claim(s"$qid-p3373",
      entSnak("P3373", s"Q${100000 + k + 2}"))
    if (k % 16 == 3) claims += "P1327" -> claim(s"$qid-p1327",
      entSnak("P1327", s"Q${100000 + k + 3}"))

    val claimsJson = claims.result().groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (pr, cs) => s""""$pr":[${cs.map(_._2).mkString(",")}]""" }
      .mkString(",")

    val sitelinks =
      if (k % 3 == 0)
        s""","sitelinks":{"enwiki":{"site":"enwiki","title":"C$k","url":"https://en.wikipedia.org/wiki/C$k"}}"""
      else if (k % 5 == 2)
        s""","sitelinks":{"dewiki":{"site":"dewiki","title":"D$k","url":"https://de.wikipedia.org/wiki/D$k"},"frwiki":{"site":"frwiki","title":"F$k","url":"https://fr.wikipedia.org/wiki/F$k"}}"""
      else ""

    s"""{"id":"$qid","modified":"$Modified","labels":{$labels}$aliases$descs,"claims":{$claimsJson}$sitelinks}"""
  }

  /** Label-provider items: 20 positions, 2 genders. None is a Q5
    * instance, so none emits statements — they only feed the label join.
    */
  def auxDocs: Seq[String] = {
    val positions = (0 until 20).map { i =>
      val qid = s"Q${200000 + i}"
      s"""{"id":"$qid","modified":"$Modified","labels":{${langVal("en", s"position $i")}},"claims":{"P31":[${claim(s"$qid-p31", entSnak("P31", "Q4164871"))}]}}"""
    }
    val genders = Seq("Q6581097" -> "male", "Q6581072" -> "female").map {
      case (qid, label) =>
        s"""{"id":"$qid","modified":"$Modified","labels":{${langVal("en", label)}},"claims":{"P31":[${claim(s"$qid-p31", entSnak("P31", "Q48277"))}]}}"""
    }
    positions ++ genders
  }

  /** The dump slice: one doc per customer + the aux items. */
  def docs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val persons = graft.Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("k"), col("c_name").as("n"))
      .as[(Long, String)]
      .map { case (k, n) => personDoc(k, n) }
      .toDF("doc")
    persons.unionByName(s.createDataset(auxDocs).toDF("doc"))
  }

  /** Parsed snak table as a lake artifact, shared by the statement and
    * relationship transforms (~8 downstream branches: labels, names,
    * qualifiers, claims, descriptions, sitelinks, instance gate) — the
    * "parse the dump once, keep the snak table" step made literal: one
    * parquet per data dir, parsed JSON never touched again.
    */
  def snakCk(s: SparkSession, d: String): DataFrame =
    graft.IndexLake.artifact(s, d, "wd_snaks")(Wikidata.parse(docs(s, d)))

  /** The projected FtM statement table and the relationship table are
    * the wikidata ingest's second-stage artifacts (parse once → snak
    * table → project once → statement lake); every later session reads
    * the parquet instead of re-running the label windows.
    */
  def statementsQ(s: SparkSession, d: String): DataFrame =
    graft.IndexLake.artifact(s, d, "wd_statements")(
      Wikidata.statements(snakCk(s, d)))

  def linksQ(s: SparkSession, d: String): DataFrame =
    graft.IndexLake.artifact(s, d, "wd_links")(
      Wikidata.relationships(snakCk(s, d)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_wd_statements" -> (statementsQ _),
    "q_wd_links" -> (linksQ _))

  private val countryVals = FixtureCountries.zipWithIndex
    .map { case ((q, c), i) => s"($i, '$q', '$c')" }.mkString(", ")

  /** Expected statements computed straight from `customer` — mirrors
    * every fixture rule in [[personDoc]] without touching JSON.
    */
  val oracles: Map[String, String] = Map(
    "q_wd_statements" -> s"""
    WITH ck AS (
      SELECT c_custkey AS k, c_name AS n,
             'Q' || CAST(100000 + c_custkey AS VARCHAR) AS qid
      FROM customer WHERE c_custkey % 10 <> 7
    ),
    countries(idx, cqid, code) AS (VALUES $countryVals),
    stmts AS (
      -- en label -> name
      SELECT qid, 'name' AS prop, 'name' AS prop_type, n AS value,
             'eng' AS lang, n AS original_value, NULL AS origin FROM ck
      UNION ALL
      -- de label (bracket segment cleaned) -> name
      SELECT qid, 'name', 'name', n, 'deu', n || ' (de)', NULL
      FROM ck WHERE k % 3 = 0
      UNION ALL
      -- strong label alias
      SELECT qid, 'alias', 'name', 'C ' || CAST(k AS VARCHAR), 'eng',
             'C ' || CAST(k AS VARCHAR), NULL FROM ck WHERE k % 4 = 0
      UNION ALL
      -- weak label alias (single word)
      SELECT qid, 'weakAlias', 'name', 'AK' || CAST(k AS VARCHAR), 'eng',
             'AK' || CAST(k AS VARCHAR), NULL FROM ck WHERE k % 8 = 0
      UNION ALL
      -- birthDate at precision 9/10/11 with -01-01 trim
      SELECT qid, 'birthDate', 'date',
             CASE
               WHEN k % 3 = 0 THEN CAST(1900 + k % 100 AS VARCHAR)
               WHEN k % 3 = 1 THEN CAST(1900 + k % 100 AS VARCHAR) || '-'
                 || lpad(CAST(1 + k % 11 AS VARCHAR), 2, '0')
               WHEN k % 11 = 0 AND k % 23 = 0
                 THEN CAST(1900 + k % 100 AS VARCHAR)
               ELSE CAST(1900 + k % 100 AS VARCHAR) || '-'
                 || lpad(CAST(1 + k % 11 AS VARCHAR), 2, '0') || '-'
                 || lpad(CAST(1 + k % 23 AS VARCHAR), 2, '0')
             END, NULL,
             '+' || CAST(1900 + k % 100 AS VARCHAR) || '-'
               || lpad(CAST(1 + k % 11 AS VARCHAR), 2, '0') || '-'
               || lpad(CAST(1 + k % 23 AS VARCHAR), 2, '0')
               || 'T00:00:00Z', NULL
      FROM ck
      UNION ALL
      -- BCE death -> HISTORIC
      SELECT qid, 'deathDate', 'date', '1001-01-01', NULL,
             '-0100-01-01T00:00:00Z', NULL FROM ck WHERE k % 6 = 3
      UNION ALL
      -- old + imprecise death -> HISTORIC (k%6=0 recent+imprecise drops)
      SELECT qid, 'deathDate', 'date', '1001-01-01', NULL,
             '+1700-01-01T00:00:00Z', NULL FROM ck WHERE k % 6 = 4
      UNION ALL
      -- firstName passes the names_concat containment check
      SELECT qid, 'firstName', 'name', 'customer', NULL, 'customer', NULL
      FROM ck WHERE k % 9 <> 5
      UNION ALL
      SELECT qid, 'lastName', 'name', '#' || lpad(CAST(k AS VARCHAR), 9, '0'),
             NULL, '#' || lpad(CAST(k AS VARCHAR), 9, '0'), NULL FROM ck
      UNION ALL
      SELECT qid, 'gender', 'gender',
             CASE WHEN k % 2 = 0 THEN 'male' ELSE 'female' END, 'eng',
             CASE WHEN k % 2 = 0 THEN 'Q6581097' ELSE 'Q6581072' END, NULL
      FROM ck
      UNION ALL
      SELECT qid, 'citizenship', 'country', c.code, NULL, c.cqid, NULL
      FROM ck JOIN countries c ON c.idx = k % 25
      UNION ALL
      -- position with qualifier date range
      SELECT qid, 'position', 'string',
             'position ' || CAST(k % 20 AS VARCHAR) ||
             CASE
               WHEN k % 4 = 0 THEN ' (' || CAST(2000 + k % 20 AS VARCHAR)
                 || '-' || CAST(2010 + k % 20 AS VARCHAR) || ')'
               WHEN k % 2 = 0 THEN ' (' || CAST(2000 + k % 20 AS VARCHAR)
                 || '-)'
               WHEN k % 10 = 9 THEN ' (' || CAST(2015 + k % 5 AS VARCHAR)
                 || ')'
               ELSE ''
             END, 'eng', 'Q' || CAST(200000 + k % 20 AS VARCHAR), NULL
      FROM ck
      UNION ALL
      SELECT qid, 'topics', 'topic', 'role.pol', NULL, 'Q82955', NULL
      FROM ck WHERE k % 7 = 0
      UNION ALL
      SELECT qid, 'topics', 'topic', 'role.judge', NULL, 'Q16533', NULL
      FROM ck WHERE k % 7 = 1
      UNION ALL
      SELECT qid, 'website', 'url', 'https://ex.example/' || CAST(k AS VARCHAR),
             NULL, 'https://ex.example/' || CAST(k AS VARCHAR), NULL
      FROM ck WHERE k % 5 = 0
      UNION ALL
      -- claim alias (strong, not a known name)
      SELECT qid, 'alias', 'name', 'Customer ' || CAST(k AS VARCHAR), NULL,
             'Customer ' || CAST(k AS VARCHAR), NULL FROM ck WHERE k % 4 = 1
      UNION ALL
      SELECT qid, 'wikidataId', 'identifier', qid, NULL, qid, NULL FROM ck
      UNION ALL
      SELECT qid, 'notes', 'text',
             CASE WHEN k % 2 = 0 THEN 'customer ' ELSE 'client ' END
               || CAST(k AS VARCHAR),
             CASE WHEN k % 2 = 0 THEN 'eng' ELSE 'fra' END,
             CASE WHEN k % 2 = 0 THEN 'customer ' ELSE 'client ' END
               || CAST(k AS VARCHAR), NULL
      FROM ck WHERE k % 2 = 0 OR k % 5 = 1
      UNION ALL
      SELECT qid, 'wikipediaUrl', 'url',
             'https://en.wikipedia.org/wiki/C' || CAST(k AS VARCHAR), 'eng',
             'C' || CAST(k AS VARCHAR), 'enwiki' FROM ck WHERE k % 3 = 0
      UNION ALL
      SELECT qid, 'wikipediaUrl', 'url',
             'https://de.wikipedia.org/wiki/D' || CAST(k AS VARCHAR), 'deu',
             'D' || CAST(k AS VARCHAR), 'dewiki'
      FROM ck WHERE k % 3 <> 0 AND k % 5 = 2
    )
    SELECT qid AS entity_id, 'Person' AS schema, prop, prop_type, value,
           lang, original_value, origin
    FROM stmts""",

    "q_wd_links" -> """
    WITH persons AS (
      SELECT c_custkey AS k FROM customer WHERE c_custkey % 10 <> 7
    ),
    -- (source k, target k, wd prop, schema, target prop, label, quals?)
    pairs AS (
      SELECT p.k, p.k + 1 AS t, 'p26' AS wdp, 'Family' AS schema,
             'relative' AS tprop, 'spouse' AS label, TRUE AS dated
      FROM persons p WHERE p.k % 8 = 2
      UNION ALL
      SELECT p.k, p.k + 2, 'p3373', 'Family', 'relative', 'sibling', FALSE
      FROM persons p WHERE p.k % 8 = 6
      UNION ALL
      SELECT p.k, p.k + 3, 'p1327', 'Associate', 'associate',
             'partner in business or sport', FALSE
      FROM persons p WHERE p.k % 16 = 3
    ),
    live AS (
      SELECT pr.*,
             'wd-' || wdp || '-q' || CAST(100000 + pr.k AS VARCHAR)
               || '-q' || CAST(100000 + pr.t AS VARCHAR) AS link_id,
             'Q' || CAST(100000 + pr.k AS VARCHAR) AS src_qid,
             'Q' || CAST(100000 + pr.t AS VARCHAR) AS tgt_qid
      FROM pairs pr
      WHERE EXISTS (SELECT 1 FROM persons p2 WHERE p2.k = pr.t)
    ),
    stmts AS (
      SELECT link_id, schema, 'person' AS prop, 'entity' AS prop_type,
             src_qid AS value, CAST(NULL AS VARCHAR) AS lang,
             src_qid AS original_value
      FROM live
      UNION ALL
      SELECT link_id, schema, tprop, 'entity', tgt_qid, NULL, tgt_qid
      FROM live
      UNION ALL
      SELECT link_id, schema, 'relationship', 'string', label, NULL, label
      FROM live
      UNION ALL
      SELECT link_id, schema, 'startDate', 'date',
             CAST(1990 + k % 10 AS VARCHAR), NULL,
             '+' || CAST(1990 + k % 10 AS VARCHAR) || '-01-01T00:00:00Z'
      FROM live WHERE dated
      UNION ALL
      SELECT link_id, schema, 'sourceUrl', 'url',
             'https://src.example/' || CAST(k AS VARCHAR), NULL,
             'https://src.example/' || CAST(k AS VARCHAR)
      FROM live WHERE dated
    )
    SELECT link_id AS entity_id, schema, prop, prop_type, value, lang,
           original_value, CAST(NULL AS VARCHAR) AS origin
    FROM stmts""")
}
