package graft

import java.security.MessageDigest

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lake-persisted stored-index artifacts — the production shape of the
  * engine's derived indexes (blocker entries/TF, resolver score table,
  * wikidata snak table, trained IVF centroids, PQ codebook/codes, the
  * banded near-dup corpus, winnow fingerprint tables, BPE merges).
  *
  * The reference persists every one of these inside its storage engine
  * (the blocker keeps `term_frequencies` as a DuckDB TABLE,
  * `blocker/index.py:504-531`; the resolver reads one edge store,
  * `resolver/index.py`); a 100 TB Spark lake does the same with
  * write-once parquet next to the data: build on first touch, publish
  * atomically, and every later session — verify, bench, a different
  * driver — reads the artifact instead of re-deriving it.
  *
  * All I/O goes through `org.apache.hadoop.fs.FileSystem`, so the
  * artifact root may be any Hadoop-reachable URI — `file:`, `hdfs://`,
  * `s3a://` — and in production lives NEXT TO THE DATA, exactly like
  * the curate report writer. Readers trust an artifact only when its
  * `_SUCCESS` marker exists, and the marker is written AFTER the
  * directory publish completes: on filesystems without atomic directory
  * rename (object stores copy file-by-file) a half-renamed artifact is
  * never served, merely rebuilt.
  *
  * Artifacts are keyed by a fingerprint of the source directory
  * (name/size/mtime of its parquet entries + [[FormatVersion]]), so a
  * regenerated data dir or a changed builder silently rebuilds instead
  * of serving a stale index. Concurrent builders race benignly: the
  * publish loop re-checks the marker after every failed rename, and
  * because builders are deterministic the rare raced republish costs
  * work, never correctness.
  */
object IndexLake {

  /** Manual escape hatch for semantics changes the builder hash cannot
    * see (e.g. a bundled RESOURCE changes what an unchanged builder
    * emits). v2: corpus-scaled IVF coarse lists (C ≈ √n) replaced
    * mod-37 seeding; wd statement/link artifacts added.
    */
  val FormatVersion = 2

  /** Engine-build hash folded into every fingerprint: SHA-256 over the
    * graft class files of THIS build (sorted names + bytes, from the
    * classes dir or jar this class loaded from). A changed builder —
    * any engine code change — re-keys every artifact automatically
    * instead of relying on a manual [[FormatVersion]] bump; the cost is
    * one re-ingest per engine build (reported separately as
    * index_build_sec by Bench), the payoff is that stale artifacts can
    * never be served silently.
    */
  lazy val builderHash: String = {
    val md = MessageDigest.getInstance("SHA-256")
    val src = getClass.getProtectionDomain.getCodeSource
    val loc = if (src == null) null else src.getLocation
    if (loc != null) {
      val p = java.nio.file.Paths.get(loc.toURI)
      // hash EVERY class file of the build output (not just graft/**):
      // the org.apache.spark.sql.graftbridge foothold is part of the
      // same build and feeds every native expression — a change there
      // must re-key artifacts too
      if (java.nio.file.Files.isDirectory(p)) {
        val walk = java.nio.file.Files.walk(p)
        try {
          val classes = scala.collection.mutable.ArrayBuffer.empty[
            java.nio.file.Path]
          val files = walk.iterator()
          while (files.hasNext) {
            val f = files.next()
            if (f.toString.endsWith(".class")) classes += f
          }
          classes.sortBy(f => p.relativize(f).toString).foreach { f =>
            md.update(p.relativize(f).toString.getBytes("UTF-8"))
            md.update(java.nio.file.Files.readAllBytes(f))
          }
        } finally walk.close()
      } else if (p.toString.endsWith(".jar")) {
        val jar = new java.util.jar.JarFile(p.toFile)
        try {
          import scala.jdk.CollectionConverters._
          val entries = jar.entries().asScala
            .filter(_.getName.endsWith(".class"))
            .toSeq.sortBy(_.getName)
          entries.foreach { e =>
            md.update(e.getName.getBytes("UTF-8"))
            val in = jar.getInputStream(e)
            try md.update(in.readAllBytes()) finally in.close()
          }
        } finally jar.close()
      }
    }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Artifact root — overridable per deployment (`GRAFT_INDEX_DIR` /
    * `graft.index.dir`; any Hadoop URI). The default is a USER-SCOPED
    * local directory (created 0700, ownership-checked below): a shared
    * world-writable path would let any local user pre-plant a
    * fingerprint dir with a `_SUCCESS` marker and have the engine serve
    * poisoned index data. In production point this next to the data
    * (`hdfs://…/graft-index`, `s3a://bucket/graft-index`).
    */
  def root: String = sys.env.getOrElse("GRAFT_INDEX_DIR",
    sys.props.getOrElse("graft.index.dir",
      s"/tmp/graft-index-${sys.props.getOrElse("user.name", "anon")}"))

  private def hadoopConf: Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  private def fsOf(p: Path): FileSystem = p.getFileSystem(hadoopConf)

  /** Roots already created-or-ownership-checked this session. */
  private val checkedRoots = TrieMap.empty[String, Unit]

  /** Create the root 0700 if absent; if present, refuse roots owned by
    * another user (when the filesystem reports ownership at all —
    * object stores return the connecting identity, which passes).
    */
  private def ensureRoot(rootPath: Path, fs: FileSystem): Unit =
    checkedRoots.getOrElseUpdate(rootPath.toString, {
      if (!fs.exists(rootPath)) {
        fs.mkdirs(rootPath)
        fs.setPermission(rootPath, new FsPermission("700"))
      } else {
        val owner = fs.getFileStatus(rootPath).getOwner
        val user = org.apache.hadoop.security.UserGroupInformation
          .getCurrentUser.getShortUserName
        require(owner == null || owner.isEmpty || owner == user,
          s"index root $rootPath is owned by '$owner', not '$user' — " +
            "refusing to trust its artifacts (set GRAFT_INDEX_DIR)")
      }
    })

  /** Fingerprint of a source dir: sorted `name:size:mtime` of its
    * parquet entries (recursing into directory-shaped parquet), hashed
    * with [[FormatVersion]]. Regenerated data ⇒ new fingerprint ⇒
    * rebuild; stale fingerprints age out with their root.
    */
  private[graft] val fpMemo = TrieMap.empty[String, String]

  def fingerprint(sfDir: String): String =
    // memoized per JVM: every artifact path re-derives it, and the
    // listing walk is an RPC storm on object stores. Caches.clearAll
    // drops it (the regenerated-dir path), so a refreshed dir
    // re-fingerprints.
    fpMemo.getOrElseUpdate(sfDir, {
      val p = new Path(sfDir)
      val fs = fsOf(p)
      def walk(st: FileStatus): Seq[String] =
        if (st.isDirectory)
          fs.listStatus(st.getPath).sortBy(_.getPath.getName)
            .flatMap(walk).toSeq
        else Seq(s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      val entries =
        (if (fs.exists(p)) fs.listStatus(p).toSeq else Seq.empty)
          .filter(_.getPath.getName.endsWith(".parquet"))
          .sortBy(_.getPath.getName).flatMap(walk)
      val md = MessageDigest.getInstance("SHA-256")
      // lexicon salt: blocker artifacts embed sy: group ids, so a
      // plugged external variant lexicon re-keys the lake exactly like
      // a changed engine build ("" when none — fingerprints unchanged)
      val lex = graft.text.Symbols.lexiconFingerprint
      md.update(s"graft-index-v$FormatVersion-$builderHash-$lex\n$sfDir\n"
        .getBytes("UTF-8"))
      entries.foreach(e => md.update((e + "\n").getBytes("UTF-8")))
      md.digest().take(8).map("%02x".format(_)).mkString
    })

  def path(sfDir: String, name: String): Path =
    new Path(new Path(root, fingerprint(sfDir)), name)

  private def marker(dir: Path): Path = new Path(dir, "_SUCCESS")

  private def ready(fs: FileSystem, dir: Path): Boolean =
    fs.exists(marker(dir))

  /** Read-or-build: return `name` for `sfDir`, building and publishing
    * it first if absent. The returned frame is a plain parquet scan of
    * the artifact — column pruning and predicate pushdown apply to
    * every consumer, unlike a checkpointed in-memory frame — and is
    * held per session in the [[Caches]] registry under `name`.
    */
  def artifact(s: SparkSession, sfDir: String, name: String)
      (build: => DataFrame): DataFrame =
    Caches.session(s, sfDir, name) {
      val dir = path(sfDir, name)
      val fs = fsOf(dir)
      if (!ready(fs, dir)) publish(fs, dir, build)
      s.read.parquet(dir.toString)
    }

  /** Publish protocol (object-store safe): write to a temp sibling,
    * strip the committer's own `_SUCCESS` from it, move it into place,
    * then write OUR marker last. Readers gate on the marker, so a
    * non-atomic (copy-per-file) rename can expose a partial directory
    * but never a trusted one. The swap runs in a bounded retry loop:
    * after any failed move the marker is re-checked — if another
    * builder won, its copy is kept and ours discarded; a marker-less
    * leftover (crashed builder) is cleared and the move retried.
    */
  /** Per-artifact publish locks: different artifacts build and publish
    * CONCURRENTLY (the parallel-ingest path in `Caches.ensureAll` —
    * independent write-once DAGs, so a global lock would serialize the
    * whole ingest behind each artifact's Spark job); same-artifact
    * builders in this JVM still serialize, and the loser of the lock
    * re-checks the marker before doing any work.
    */
  private val publishLocks = TrieMap.empty[String, Object]

  private def publish(fs: FileSystem, dir: Path, df: DataFrame): Unit =
    publishLocks.getOrElseUpdate(dir.toString, new Object).synchronized {
      if (ready(fs, dir)) return
      ensureRoot(new Path(root), fsOf(new Path(root)))
      fs.mkdirs(dir.getParent)
      val tmp = new Path(dir.getParent,
        s".${dir.getName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      // spread the artifact over the session's parallelism: an
      // AQE-coalesced single file would scan as ONE task in every
      // consumer (a 36k-row analysis index cost 1.3 s single-threaded;
      // 0.3 s spread). At lake scale the same rule sizes files so a
      // scan saturates the cluster.
      val parts = math.min(32,
        df.sparkSession.sparkContext.defaultParallelism)
      df.repartition(parts).write.mode("overwrite").parquet(tmp.toString)
      // the committer's marker must not pre-announce the artifact
      // mid-copy on stores where rename is per-file
      fs.delete(marker(tmp), false)
      var attempts = 0
      var done = false
      while (!done) {
        attempts += 1
        if (ready(fs, dir)) { // a concurrent builder won: keep theirs
          fs.delete(tmp, true)
          done = true
        } else {
          if (fs.exists(dir)) fs.delete(dir, true) // crashed partial
          // rename fails (false) if dst reappeared — loop re-checks
          if (fs.rename(tmp, dir) && !fs.exists(new Path(dir, tmp.getName))) {
            fs.create(marker(dir), true).close()
            done = true
          } else if (fs.exists(new Path(dir, tmp.getName))) {
            // rename-into-dir race: on HDFS-like filesystems a rename
            // whose dst directory REAPPEARED (a cross-process builder
            // recreated it between our delete and rename) returns true
            // but nests src as dst/src.name — trusting it would publish
            // a marker over a dir whose data sits one level too deep.
            // Pull our copy back out to the tmp sibling and re-enter
            // the loop; the marker re-check decides who won.
            fs.rename(new Path(dir, tmp.getName), tmp)
            if (attempts >= 5) {
              fs.delete(tmp, true)
              sys.error(s"index publish failed after $attempts attempts: $dir")
            } else Thread.sleep(50L * attempts)
          } else if (attempts >= 5) {
            // match the nested-rename branch: never leak the tmp
            // sibling into the lake on a persistent failure
            fs.delete(tmp, true)
            sys.error(s"index publish failed after $attempts attempts: $dir")
          } else Thread.sleep(50L * attempts)
        }
      }
    }

  /** Delete every on-disk artifact for `sfDir` (tests). */
  def invalidate(sfDir: String): Unit = {
    val p = new Path(root, fingerprint(sfDir))
    val fs = fsOf(p)
    if (fs.exists(p)) fs.delete(p, true)
    Caches.clearAll()
  }

  /** Retire stale artifact generations: every engine build re-keys the
    * whole lake (builderHash in the fingerprint), so a busy deployment
    * accumulates one full artifact set per build. Deletes fingerprint
    * directories under [[root]] that are NOT in `keep` and whose entries
    * were last modified more than `maxAgeMs` ago (age guards a
    * concurrent builder mid-publish on its brand-new fingerprint).
    * Returns the deleted fingerprints.
    */
  def gc(keep: Set[String], maxAgeMs: Long = 6L * 3600 * 1000): Seq[String] = {
    val rootPath = new Path(root)
    val fs = fsOf(rootPath)
    if (!fs.exists(rootPath)) return Seq.empty
    val now = System.currentTimeMillis()
    fs.listStatus(rootPath).toSeq
      .filter(_.isDirectory)
      .filter(st => !keep.contains(st.getPath.getName))
      .filter { st =>
        val entries = fs.listStatus(st.getPath)
        val newest = (st.getModificationTime +:
          entries.map(_.getModificationTime).toSeq).max
        now - newest > maxAgeMs
      }
      .map { st => fs.delete(st.getPath, true); st.getPath.getName }
  }
}
