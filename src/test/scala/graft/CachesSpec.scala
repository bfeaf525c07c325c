package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The stored-index lake: artifacts publish to disk once, later
  * sessions read them, clearing/invalidation is safe mid-session —
  * every index rebuilds on next use with identical results.
  */
class CachesSpec extends AnyFunSuite {
  import SparkSpec.spark

  val dir = "/root/testdata/sf0.001"

  test("clearAll drops and rebuilds every stored-index cache") {
    val ivf = similarity.SimilarityQueries.queries("q_sim_ivf")
    val pairs = dedup.DedupQueries.queries("q_dedup_winnow")
    val before = (ivf(spark, dir).count(), pairs(spark, dir).count())
    Caches.clearAll()
    val after = (ivf(spark, dir).count(), pairs(spark, dir).count())
    assert(before === after)
  }

  test("ensureAll publishes on-disk artifacts; reads match rebuilds") {
    val tmp = Files.createTempDirectory("graft-index-spec").toString
    val prev = sys.props.get("graft.index.dir")
    sys.props.put("graft.index.dir", tmp)
    Caches.clearAll()
    try {
      Caches.ensureAll(spark, dir)
      val fp = IndexLake.fingerprint(dir)
      val names = Seq("blocker_entries", "blocker_tf", "resolver_scores",
        "wd_snaks", "ivf_centroids", "pq_codebook", "pq_codes",
        "near_banded", "fp_sets", "fp_pos", "bpe_merges")
      for (n <- names)
        assert(Files.exists(Paths.get(tmp, fp, n, "_SUCCESS")),
          s"artifact $n not published")
      // a fresh registry (new session would do the same) reads the artifact
      // and the result matches a from-scratch rebuild bit-for-bit
      val viaDisk = blocker.BlockerQueries.tfCk(spark, dir)
        .orderBy("field", "token", "id").collect().toSeq
      Caches.clearAll()
      val reread = blocker.BlockerQueries.tfCk(spark, dir)
        .orderBy("field", "token", "id").collect().toSeq
      assert(viaDisk === reread)
      val rebuilt = blocker.BlockerQueries.tf(spark, dir)
        .orderBy("field", "token", "id").collect().toSeq
      assert(viaDisk === rebuilt)
      // invalidate wipes the fingerprint dir; next touch republishes
      IndexLake.invalidate(dir)
      assert(!Files.exists(Paths.get(tmp, fp, "blocker_tf", "_SUCCESS")))
      blocker.BlockerQueries.tfCk(spark, dir).count()
      assert(Files.exists(Paths.get(tmp, fp, "blocker_tf", "_SUCCESS")))
    } finally {
      prev match {
        case Some(v) => sys.props.put("graft.index.dir", v)
        case None => sys.props.remove("graft.index.dir")
      }
      Caches.clearAll()
      IndexLake.invalidate(dir) // no-op under the restored root
    }
  }

  test("a partial artifact (no _SUCCESS) is rebuilt, not served") {
    val tmp = Files.createTempDirectory("graft-index-partial").toString
    val prev = sys.props.get("graft.index.dir")
    sys.props.put("graft.index.dir", tmp)
    Caches.clearAll()
    try {
      // plant a garbage directory where the artifact would live,
      // WITHOUT the _SUCCESS marker — a crashed writer's leftovers
      val dir = Paths.get(tmp, IndexLake.fingerprint(this.dir),
        "blocker_tf")
      Files.createDirectories(dir)
      Files.write(dir.resolve("part-garbage.parquet"),
        Array[Byte](1, 2, 3))
      val viaLake = blocker.BlockerQueries.tfCk(spark, this.dir).count()
      val direct = blocker.BlockerQueries.tf(spark, this.dir).count()
      assert(viaLake === direct, "partial artifact must be rebuilt")
      assert(Files.exists(dir.resolve("_SUCCESS")))
    } finally {
      prev match {
        case Some(v) => sys.props.put("graft.index.dir", v)
        case None => sys.props.remove("graft.index.dir")
      }
      Caches.clearAll()
    }
  }

  test("concurrent first-touch builders publish exactly one artifact") {
    val tmp = Files.createTempDirectory("graft-index-race").toString
    val prev = sys.props.get("graft.index.dir")
    sys.props.put("graft.index.dir", tmp)
    Caches.clearAll()
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val counts = Await.result(
        Future.sequence((1 to 4).map(_ => Future {
          blocker.BlockerQueries.tfCk(spark, dir).count()
        })), 120.seconds)
      assert(counts.distinct.size === 1)
      val fp = IndexLake.fingerprint(dir)
      assert(Files.exists(Paths.get(tmp, fp, "blocker_tf", "_SUCCESS")))
      // no leftover temp dirs from losing racers
      val leftovers = Files.list(Paths.get(tmp, fp)).toArray
        .map(_.toString).filter(_.contains(".tmp-"))
      assert(leftovers.isEmpty, leftovers.mkString(","))
    } finally {
      prev match {
        case Some(v) => sys.props.put("graft.index.dir", v)
        case None => sys.props.remove("graft.index.dir")
      }
      Caches.clearAll()
    }
  }

  test("artifacts publish and read through a file: URI root") {
    // the Hadoop-FS port: the root may be any Hadoop URI, not a bare
    // local path — hdfs://, s3a:// go through the same code path
    val tmp = Files.createTempDirectory("graft-index-uri").toString
    val prev = sys.props.get("graft.index.dir")
    sys.props.put("graft.index.dir", s"file:$tmp")
    Caches.clearAll()
    try {
      val viaLake = blocker.BlockerQueries.tfCk(spark, dir).count()
      val fp = IndexLake.fingerprint(dir)
      assert(Files.exists(Paths.get(tmp, fp, "blocker_tf", "_SUCCESS")))
      Caches.clearAll()
      assert(blocker.BlockerQueries.tfCk(spark, dir).count() === viaLake)
    } finally {
      prev match {
        case Some(v) => sys.props.put("graft.index.dir", v)
        case None => sys.props.remove("graft.index.dir")
      }
      Caches.clearAll()
    }
  }

  test("gc retires stale generations, keeps the current and the young") {
    val tmp = Files.createTempDirectory("graft-index-gc").toString
    val prev = sys.props.get("graft.index.dir")
    sys.props.put("graft.index.dir", tmp)
    Caches.clearAll()
    try {
      def mk(name: String, ageMs: Long): Unit = {
        val d = Paths.get(tmp, name, "some_artifact")
        Files.createDirectories(d)
        Files.write(d.resolve("part-0.parquet"), Array[Byte](1))
        val t = java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - ageMs)
        Files.setLastModifiedTime(d.resolve("part-0.parquet"), t)
        Files.setLastModifiedTime(d, t)
        Files.setLastModifiedTime(Paths.get(tmp, name), t)
      }
      mk("aaaa00000000stal", 48L * 3600 * 1000) // stale
      mk("bbbb00000000kept", 48L * 3600 * 1000) // stale but kept
      mk("cccc00000000youn", 0L) // too young to collect
      val gone = IndexLake.gc(keep = Set("bbbb00000000kept"),
        maxAgeMs = 6L * 3600 * 1000)
      assert(gone === Seq("aaaa00000000stal"))
      assert(!Files.exists(Paths.get(tmp, "aaaa00000000stal")))
      assert(Files.exists(Paths.get(tmp, "bbbb00000000kept")))
      assert(Files.exists(Paths.get(tmp, "cccc00000000youn")))
    } finally {
      prev match {
        case Some(v) => sys.props.put("graft.index.dir", v)
        case None => sys.props.remove("graft.index.dir")
      }
      Caches.clearAll()
    }
  }

  test("clearAll re-derives the IVF modulus of a regenerated dir") {
    val tmp = Files.createTempDirectory("graft-regen")
    val emb = tmp.resolve("embeddings.parquet")
    try {
      Files.copy(Paths.get(dir, "embeddings.parquet"), emb)
      def mod(d: String) = similarity.SimilarityQueries.centroidMod(spark, d)
      val n = Tables.embeddings(spark, dir).count()
      assert(mod(tmp.toString) === n / math.floor(math.sqrt(n.toDouble)).toLong)
      // regenerate the dir in place with 100 rows: 100 / ⌊√100⌋ = 10
      val staged = tmp.resolve("staged").toString
      Tables.embeddings(spark, dir).orderBy("vec_id").limit(100)
        .write.parquet(staged)
      Files.delete(emb)
      Files.move(Paths.get(staged), emb)
      Caches.clearAll()
      assert(mod(tmp.toString) === 10)
    } finally {
      Caches.clearAll()
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("clearAll unpersists the session pins it drops") {
    val fps = dedup.DedupQueries.fpSetsCk(spark, dir)
    assert(fps.storageLevel === StorageLevel.DISK_ONLY)
    Caches.clearAll()
    assert(fps.storageLevel === StorageLevel.NONE)
  }

  test("the registry retains no stopped session") {
    // the suite shares one SparkContext, so stop/restart runs in a
    // child JVM on this JVM's classpath and flags
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString).toSeq
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-Xmx1g", "-cp",
      sys.props("java.class.path"), "graft.SessionCycleMain", dir)
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    assert(proc.waitFor() === 0, out)
    assert(out.contains("session-cycle ok"), out)
  }

  test("fingerprint tracks data-dir content") {
    val a = IndexLake.fingerprint(dir)
    assert(a === IndexLake.fingerprint(dir), "fingerprint is stable")
    assert(a !== IndexLake.fingerprint("/root/testdata/sf0.01"),
      "different dirs key different artifact sets")
  }
}

/** Child-JVM body of "the registry retains no stopped session": build a
  * table reader and a lake artifact in session A, stop A, start B,
  * touch the registry from B, and exit 0 only if no key holds A.
  */
object SessionCycleMain {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    sys.props.put("graft.index.dir",
      Files.createTempDirectory("graft-index-cycle").toString)
    def start(): SparkSession = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val held = try {
      val a = start()
      a.sparkContext.setLogLevel("ERROR")
      Tables.read(a, d, "region").count()
      IndexLake.artifact(a, d, "cycle_probe")(a.range(3).toDF()).count()
      require(Caches.registry.keys.exists(_._1 eq a), "A built no entry")
      a.stop()
      val b = start()
      require(b ne a, "a stopped session was reused")
      Tables.read(b, d, "region").count()
      val h = Caches.registry.keys.filter(_._1 eq a).map(_._3).toSeq
      b.stop()
      h
    } catch { case e: Throwable => e.printStackTrace(System.out); sys.exit(2) }
    if (held.nonEmpty) {
      println(s"stopped session still holds ${held.mkString(",")}")
      sys.exit(1)
    }
    println("session-cycle ok")
    sys.exit(0)
  }
}
