package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, MapType, StructType}

import graft.{Caches, IndexLake, SparkEntry}

/** One pass over every `SparkEntry.queries` entry on an sf table
  * directory, each run to completion through the noop sink as
  * `graft.Bench` does.
  *
  * Set-up builds every stored artifact (`Caches.ensureAll` plus the
  * three build-once lakes the index-add queries create on first use),
  * then runs an untimed digest pass, which is also the warm-up. Timed
  * passes follow while measuring time is left; the artifact roots must
  * not change during them.
  */
object SuiteWorkload {

  /** Modules as named by the engine's packages; a query belongs to the
    * module whose `queries` map contributes it.
    */
  val Modules = Seq("store", "blocker", "matching", "resolver", "dedup",
    "similarity", "search", "textanalysis", "streaming", "multimodal",
    "enrich")

  /** The queries that create a build-once lake on first use. */
  val BuildOnceQueries = Seq("q_blk_index_add", "q_ref_index_add",
    "q_search_index_add")

  val Control = "q_agg_pricing"

  def moduleOf(fn: AnyRef): String = {
    val cls = fn.getClass.getName
    Modules.find(m => cls.startsWith(s"graft.$m."))
      .getOrElse(sys.error(s"no module for query function $cls"))
  }

  private def exhaust(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Row count plus an order-insensitive hash of the rows. Columns are
    * taken in name order; floating point values are rendered with nine
    * significant digits (the `tools/check_oracle.py` canonical form),
    * other atomic values as strings, nested values as JSON.
    */
  def digest(df: DataFrame): (Long, String) = {
    val fields = df.schema.fields.zipWithIndex.sortBy { case (f, i) =>
      (f.name, i) }
    val pos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val canon = fields.map { case (f, i) =>
      val c = col(s"c$i")
      val v = f.dataType match {
        case DoubleType | FloatType => format_string("%.9g", c.cast("double"))
        case _: ArrayType | _: MapType | _: StructType => to_json(struct(c))
        case _ => c.cast("string")
      }
      coalesce(v, lit("\u0000"))
    }
    val header = fields.map(_._1.name).mkString(",")
    val h = xxhash64(concat_ws("\u0001", canon.toIndexedSeq: _*))
    val r = pos.select(h.as("h"))
      .agg(count(lit(1)), sum(shiftrightunsigned(col("h"), 32)),
        sum(col("h").bitwiseAND(0xffffffffL)))
      .head()
    val n = r.getLong(0)
    val hi = if (r.isNullAt(1)) 0L else r.getLong(1)
    val lo = if (r.isNullAt(2)) 0L else r.getLong(2)
    (n, "%08x-%016x-%016x".formatLocal(java.util.Locale.ROOT,
      header.hashCode, hi, lo))
  }

  /** (files, bytes, newest mtime) under every artifact root. */
  private def rootsState(roots: Seq[File]): Seq[(String, Long, Long, Long)] =
    roots.map { r =>
      val files = if (r.exists()) {
        val w = java.nio.file.Files.walk(r.toPath)
        try {
          import scala.jdk.CollectionConverters._
          w.iterator().asScala.map(_.toFile).filter(_.isFile).toSeq
        } finally w.close()
      } else Nil
      (r.getPath, files.size.toLong, files.map(_.length).sum,
        if (files.isEmpty) 0L else files.map(_.lastModified).max)
    }

  def run(s: SparkSession, t: Tracer, rec: Record, data: String,
      golden: Option[String], seconds: Double): Unit = {
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    val module = queries.map { case (n, fn) => n -> moduleOf(fn) }.toMap
    val user = sys.props("user.name")
    val roots = Seq(new File(IndexLake.root)) ++
      Seq("blkidx", "refidx", "searchidx", "merge")
        .map(k => new File(s"/tmp/graft-$k-$user"))
    rec.fact("artifact_roots", roots.map(_.getPath))
    rec.fact("queries", queries.size)

    t.span("suite.ensure_all")(Caches.ensureAll(s, data))
    t.span("suite.build_once") {
      BuildOnceQueries.foreach(q => exhaust(SparkEntry.queries(q)(s, data)))
    }
    // untimed digest pass: output check and warm-up in one
    val digests = t.span("suite.digest_pass") {
      queries.map { case (n, fn) =>
        n -> (try Right(digest(fn(s, data)))
          catch { case e: Throwable => Left(e.toString) })
      }.toMap
    }
    val want: Map[String, (Long, String)] = golden.filter(new File(_).exists)
      .map(readGolden).getOrElse(Map.empty)
    rec.fact("digests", digests.map {
      case (n, Right((rows, h))) => n -> Map("rows" -> rows, "hash" -> h)
      case (n, Left(e)) => n -> Map("error" -> e)
    })
    rec.fact("golden_present", want.nonEmpty)
    val before = rootsState(roots)

    rec.startTiming()
    val start = System.nanoTime()
    var pass = 0
    def control(at: String): Unit = {
      val sp = t.begin("suite.control")
      sp.attrs("at") = at
      sp.attrs("pass") = pass
      exhaust(SparkEntry.queries(Control)(s, data))
      t.end(sp)
    }
    while (pass < 1 || (System.nanoTime() - start) / 1e9 < seconds) {
      control("start")
      queries.zipWithIndex.foreach { case ((n, fn), i) =>
        if (i == queries.size / 2) control("middle")
        val sp = t.begin(s"suite.query")
        sp.attrs("query") = n
        sp.attrs("module") = module(n)
        sp.attrs("pass") = pass
        val ok = try {
          val t0 = System.nanoTime()
          val df = fn(s, data)
          df.queryExecution.executedPlan
          sp.attrs("plan_s") = (System.nanoTime() - t0) / 1e9
          exhaust(df)
          true
        } catch { case e: Throwable => sp.attrs("error") = e.toString; false }
        val wall = t.end(sp)
        val good = ok && digests(n).isRight &&
          want.get(n).forall(g => digests(n).contains(g))
        rec.op(Map("kind" -> "query", "query" -> n, "module" -> module(n),
          "pass" -> pass, "wall_s" -> wall, "ok" -> good))
      }
      control("end")
      pass += 1
    }
    val after = rootsState(roots)
    rec.check("no timed query built a stored artifact", before == after,
      s"$before -> $after")
    val errors = digests.collect { case (n, Left(e)) => s"$n: $e" }
    rec.check("every query computes a digest", errors.isEmpty,
      errors.mkString("; "))
    if (want.nonEmpty) {
      val bad = queries.map(_._1).filterNot(n =>
        want.get(n).exists(g => digests(n).contains(g)))
      rec.check(s"digests match the golden file", bad.isEmpty,
        bad.mkString(","))
    }
    rec.fact("passes", pass)
  }

  def readGolden(path: String): Map[String, (Long, String)] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File(path))
    import scala.jdk.CollectionConverters._
    node.fields().asScala.map { e =>
      e.getKey -> (e.getValue.get("rows").asLong(),
        e.getValue.get("hash").asText())
    }.toMap
  }
}
