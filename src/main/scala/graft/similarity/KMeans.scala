package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** One Lloyd iteration of spherical k-means over the embedding corpus —
  * the centroid-training step that turns [[SimilarityQueries.ivfTopK]]'s
  * "every ~37th vector is a centroid" seed into data-adapted IVF lists.
  * (`SimilarityQueries` notes production IVF wants k-means centroids;
  * this is that trainer, one iteration per run — epochs compose by
  * feeding the output centroids back in.)
  *
  * Scale shape (100 TB of vectors): assignment is the same linear n×C
  * broadcast product as IVF assignment, collapsed by a
  * map-side-combining argmax — the corpus never self-joins and never
  * shuffles whole vectors; the mean-update explodes assigned vectors to
  * (centroid, dim) contributions and hash-aggregates them, so the only
  * exchange carries C × dim partial sums per map partition.
  *
  * Reproducibility: element sums are accumulated in 1e-6 fixed-point
  * BIGINT units, not doubles — double addition is non-associative, so a
  * float mean would differ run-to-run with partitioning (and between
  * engines). Integer accumulation gives bit-identical centroids on any
  * cluster layout — which is what makes a trained index auditable and
  * a training run resumable.
  */
object KMeans {

  /** Lloyd steps folded into [[trainedCentroids]] — the N the IVF index
    * build pays once per corpus (the BPE-style driver loop).
    */
  val IvfIterations = 2

  /** Seeded centroids (every mod-th vector, mod = n÷⌊√n⌋ →
    * C ≈ √n lists — [[SimilarityQueries.centroidMod]]) as (cid, cv,
    * cnrm) — iteration 0 of the trainer and the SemDedup partitioner.
    */
  def seededCentroids(p: DataFrame, mod: Int): DataFrame =
    p.filter(col("vec_id") % mod === 0)
      .select(col("vec_id").as("cid"), col("v").as("cv"),
        col("nrm").as("cnrm"))

  /** One Lloyd step: nearest-centroid assignment (argmax as ONE
    * aggregation, ties → min cid — the same shape as
    * [[SimilarityQueries.ivfTopK]] assignment), then fixed-point
    * element sums → exact integer means. Emits (cid, n_members, nv);
    * centroids that attracted no members drop out.
    */
  def lloydStep(p: DataFrame, cent: DataFrame): DataFrame = {
    val assigned = p.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("v"), col("cid"),
        (Similarity.dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
          .as("csim"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("csim"), (-col("cid")).as("ncid"), col("cid"),
        col("v"))).as("m"))
      .select(col("m.cid").as("cid"), col("m.v").as("v"))
    // fixed-point element contributions → exact integer sums
    val contrib = assigned
      .select(col("cid"), posexplode(col("v")))
      .select(col("cid"), col("pos"),
        floor(col("col") * lit(1e6) + lit(0.5)).cast("long").as("e6"))
    val sums = contrib.groupBy(col("cid"), col("pos"))
      .agg(sum(col("e6")).as("s6"), count(lit(1)).as("n"))
      .select(col("cid"), col("pos"), col("n"),
        (col("s6").cast("double") / (col("n").cast("double") * lit(1e6)))
          .as("x"))
    sums.groupBy(col("cid"))
      .agg(max(col("n")).as("n_members"),
        transform(array_sort(collect_list(struct(col("pos"), col("x")))),
          e => e.getField("x")).as("nv"))
  }

  def lloydQ(s: SparkSession, d: String): DataFrame = {
    // the banded-corpus session copy: same (vec_id, v, nrm) rows as
    // Similarity.prepared, already decoded once — the artifact BUILD
    // below keeps raw prepared (ingest runs before/with the artifact)
    val p = SimilarityQueries.nearPreparedCk(s, d)
    val cent = seededCentroids(p, SimilarityQueries.centroidMod(s, d))
    // report each centroid's movement: cosine(old, new) and the new norm
    lloydStep(p, cent).join(broadcast(cent), Seq("cid"))
      .select(col("cid"), col("n_members"),
        round(Similarity.dot(col("nv"), col("cv")) /
          (Similarity.norm(col("nv")) * col("cnrm")), 5).as("shift"),
        round(Similarity.norm(col("nv")), 5).as("norm"))
  }

  /** Trained IVF centroids: [[IvfIterations]] Lloyd steps from the
    * seeded positions, driver-looped with a checkpoint per step (the
    * BPE pattern — lineage would otherwise stack an n×C product per
    * iteration), published as a lake artifact like the blocker's TF
    * index: an IVF index is trained once per corpus, then every query
    * probes it. Fixed-point sums make the result bit-identical on any
    * partitioning — which is what lets the DuckDB oracle re-derive the
    * same centroids by unrolling the same [[IvfIterations]] steps.
    */
  def trainedCentroids(s: SparkSession, d: String): DataFrame =
    graft.IndexLake.artifact(s, d, "ivf_centroids") {
      val p = Similarity.prepared(s, d)
      var cent = seededCentroids(p, SimilarityQueries.centroidMod(s, d))
      for (_ <- 0 until IvfIterations)
        cent = lloydStep(p, cent)
          .select(col("cid"), col("nv").as("cv"),
            Similarity.norm(col("nv")).as("cnrm"))
          .localCheckpoint(true)
      cent
    }

  // ---------------------------------------------------------------- oracle

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sim_kmeans" -> (lloydQ _))

  val oracles: Map[String, String] = Map(
    "q_sim_kmeans" -> (SimilarityQueries.ctePrefix + s"""
      , cents AS (
        SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM normed
        WHERE vec_id % ${SimilarityQueries.CentroidModSql} = 0
      ),
      asg AS (
        SELECT n.vec_id, n.v, c.cid,
               row_number() OVER (PARTITION BY n.vec_id
                 ORDER BY list_sum(list_transform(list_zip(n.v, c.cv),
                   s -> s[1] * s[2])) / (n.nrm * c.cnrm) DESC,
                   c.cid ASC) AS arn
        FROM normed n, cents c
      ),
      assigned AS (SELECT vec_id, v, cid FROM asg WHERE arn = 1),
      contrib AS (
        SELECT cid, i AS pos,
               CAST(floor(v[i+1] * 1e6 + CAST(0.5 AS DOUBLE)) AS BIGINT)
                 AS e6
        FROM assigned, unnest(range(len(v))) t(i)
      ),
      sums AS (
        SELECT cid, pos, CAST(sum(e6) AS BIGINT) AS s6, count(*) AS n
        FROM contrib GROUP BY cid, pos
      ),
      vals AS (
        SELECT cid, pos, n,
               CAST(s6 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS x
        FROM sums
      ),
      newc AS (
        SELECT cid, max(n) AS n_members, list(x ORDER BY pos) AS nv
        FROM vals GROUP BY cid
      )
      SELECT n.cid, n.n_members,
             round(list_sum(list_transform(list_zip(n.nv, c.cv),
               s -> s[1] * s[2]))
               / (sqrt(list_sum(list_transform(n.nv, x -> x * x))) * c.cnrm),
               5) AS shift,
             round(sqrt(list_sum(list_transform(n.nv, x -> x * x))), 5)
               AS norm
      FROM newc n JOIN cents c USING (cid)"""))
}
