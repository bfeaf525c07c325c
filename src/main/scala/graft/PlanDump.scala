package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Print the formatted physical plan of named queries to stdout — the
  * plan-audit input for PLANS.md. Usage: `runMain graft.PlanDump
  * [query ...]`; with no names it dumps the headline list. The data dir
  * is `SPARK_GRAFT_SF_DIR` (default sf0.001). Every stored-index
  * artifact is built first, so the plans show the artifact scans the
  * timed queries run rather than the ingest builds.
  */
object PlanDump {
  val Headline: Seq[String] = Seq(
    "q_agg_pricing", "q_blk_pairs", "q_blk_match_topk",
    "q_dedup_lsh_pairs", "q_sim_ann_lsh", "q_topk_window",
    "q_store_assemble", "q_sim_ivf", "q_dedup_ngram_jaccard",
    "q_store_delta", "q_train_quarantine", "q_enrich_candidates",
    "q_store_pack")

  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.maxPlanStringLength", "1000000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Caches.ensureAll(spark, d)
    for (n <- if (args.nonEmpty) args.toSeq else Headline) {
      println(s"==== $n ====")
      println(SparkEntry.queries(n)(spark, d)
        .queryExecution.explainString(FormattedMode))
    }
    spark.stop()
  }
}
