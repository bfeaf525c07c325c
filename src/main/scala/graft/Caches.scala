package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The session-artifact registry: every value the engine keeps per
  * (session, sfDir) between queries — lake-artifact scans, pins and
  * checkpoints of them, table readers, collected scalars — lives in ONE
  * map keyed by (session, sfDir, name), behind [[session]]. It owns:
  *  - eviction: every access first drops the entries of sessions whose
  *    context has stopped, so a JVM cycling SparkSessions retains none;
  *  - unpersist on clear: [[clearAll]] unpersists each DataFrame it
  *    drops, so a regenerated dir leaves no pins in the CacheManager
  *    (localCheckpoint blocks are not CacheManager entries);
  *  - nested builds: `TrieMap.getOrElseUpdate` builds outside any lock
  *    and keeps the first value published, so a builder may read other
  *    entries (LSH pairs → shingles, trained centroids → IVF modulus,
  *    postings stats and BPE merges → postings). A
  *    `ConcurrentHashMap.computeIfAbsent` map throws `Recursive update`
  *    on those nested builds under `ensureAll`'s concurrent ingest.
  * A long-lived session iterating regenerated data dirs calls
  * [[clearAll]] between dirs, else it keeps serving stale values.
  */
object Caches {

  private[graft] val registry = TrieMap.empty[(SparkSession, String, String), Any]

  /** Read-or-build the session value `name` for data dir `d`. Names
    * are shared by every module, so a value layered over a lake
    * artifact (a pin, a checkpoint, collected scalars) takes its own
    * name, never the artifact's.
    */
  def session[T](s: SparkSession, d: String, name: String)(build: => T): T = {
    registry.keys.foreach(k =>
      if (k._1.sparkContext.isStopped) registry.remove(k))
    registry.getOrElseUpdate((s, d, name), build).asInstanceOf[T]
  }

  /** Session-pin a multiply-consumed frame: eager persist (one parallel
    * materialization job; every consumer then reads the cache) with
    * LINEAGE RETAINED — unlike `localCheckpoint`, whose blocks live in
    * non-reliable executor storage and are unrecoverable after an
    * executor loss on a real cluster, a pinned partition that goes
    * missing recomputes from its parquet/shuffle lineage.
    *
    * DISK_ONLY, not MEMORY_AND_DISK: the corpus-sized array tables
    * (shingles, fp positions) cached on-heap taxed EVERY subsequent
    * query in the session ~2-4× through GC pressure (measured:
    * q_blk_stopword_stats 2.6 s pinned-in-memory vs 0.6 s unpinned,
    * a query that never touches the cache); local-disk blocks decode
    * once and read back at page-cache speed with zero heap footprint
    * — the xref scored-table rationale, applied session-wide.
    */
  def pin(df: DataFrame): DataFrame = {
    df.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    df.count()
    df
  }

  /** WHEN NOT TO PIN — the array-decode boundary (measured r10):
    * df.persist at ANY storage level stores COLUMNAR batches and
    * re-decodes them on every scan; for a small table of big arrays
    * fanned out compute-heavily (the banded embedding corpus, the
    * SemDedup ranked table) that decode measured ~2× on the whole
    * family vs `localCheckpoint(true)`, whose raw-row blocks are the
    * only true decode-once form. Rule: corpus-text-sized caches →
    * [[pin]] (heap tax dominates); small array-heavy fan-out tables →
    * localCheckpoint (decode dominates, heap footprint is noise, and
    * an executor-loss rebuild from the backing lake artifact costs
    * seconds).
    */

  /** Drop every in-session value (unpersisting live sessions' frames),
    * the data-dir fingerprints and Propose's scaffold pins. The lake
    * files stay: they key on the data fingerprint.
    */
  def clearAll(): Unit = {
    for (k <- registry.keys; v <- registry.remove(k)) v match {
      case df: Dataset[_] if !k._1.sparkContext.isStopped =>
        df.unpersist(blocking = false)
      case _ =>
    }
    IndexLake.fpMemo.clear()
    enrich.Propose.clearCache()
  }

  /** Build and publish every stored-index artifact for a data dir —
    * the ingest step of the 100 TB pipeline (run once when data lands;
    * every query session after that reads the artifacts). Each call
    * below is read-or-build, so re-running on an unchanged dir is a
    * no-op; a regenerated dir re-keys the fingerprint and rebuilds.
    */
  def ensureAll(s: SparkSession, d: String): Unit = {
    val builds: Seq[() => Any] = Seq(
      () => blocker.BlockerQueries.entriesCk(s, d),
      () => blocker.BlockerQueries.tfCk(s, d),
      () => resolver.ResolverQueries.pairScoresCk(s, d),
      () => resolver.ResolverQueries.canonicalCk(s, d),
      () => enrich.WikidataQueries.snakCk(s, d),
      () => enrich.WikidataQueries.statementsQ(s, d),
      () => enrich.WikidataQueries.linksQ(s, d),
      () => enrich.ProposeQueries.personStmtsCk(s, d),
      () => enrich.BrightQueryQueries.recordsCk(s, d),
      () => enrich.NominatimQueries.gazetteerCk(s, d),
      () => enrich.PermIdQueries.orgsCk(s, d),
      () => similarity.KMeans.trainedCentroids(s, d),
      () => similarity.Pq.indexCk(s, d),
      () => similarity.SimilarityQueries.nearPreparedCk(s, d),
      () => dedup.DedupQueries.fpSetsCk(s, d),
      () => dedup.DedupQueries.fpPosCk(s, d),
      () => dedup.DedupQueries.shinglesCk(s, d),
      () => dedup.DedupQueries.charGramsCk(s, d),
      () => dedup.DedupQueries.lshPairsCk(s, d),
      () => dedup.DedupQueries.clusterCcCk(s, d),
      () => similarity.SimilarityQueries.embedCcCk(s, d),
      () => dedup.DedupQueries.ngramPairsCk(s, d),
      () => dedup.DedupQueries.cloneSpansCk(s, d),
      () => dedup.DedupQueries.simhashSigsCk(s, d),
      () => dedup.DedupQueries.substrPosCk(s, d),
      () => multimodal.Multimodal.ahashSigsCk(s, d),
      () => textanalysis.Curation.crossdocGramsCk(s, d),
      () => enrich.ProposeQueries.scaffoldCk(s, d),
      // builds the merge-demo lake if absent (read-or-build marker)
      () => store.StoreQueries.mergeQ(s, d),
      () => matching.MatchingQueries.analysisCk(s, d),
      () => textanalysis.Bpe.trainedMergesCk(s, d),
      () => textanalysis.Classifier.modelCk(s, d),
      () => textanalysis.LangModel.lmModelCk(s, d),
      () => search.Search.postingsCk(s, d),
      () => search.Search.postingsStatsCk(s, d))
    // Concurrent ingest: the artifacts are independent write-once DAGs
    // (IndexLake publish-locks per artifact), and each build is a small
    // multi-stage Spark job whose stage boundaries leave most executor
    // cores idle when run one at a time — submitting from a few driver
    // threads lets the scheduler interleave their tasks. Failures
    // propagate through the Future.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    var failed = false
    try {
      val futs = builds.map(b => pool.submit(
        new java.util.concurrent.Callable[Any] { def call(): Any = b() }))
      futs.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            // Surface the builder's own exception type to callers, and
            // don't leave the other submitted builds running after we
            // throw.
            failed = true
            throw Option(e.getCause).getOrElse(e)
        }
      }
    } finally {
      if (failed) pool.shutdownNow() else pool.shutdown()
    }
  }
}
