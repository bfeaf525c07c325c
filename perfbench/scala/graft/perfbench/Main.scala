package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The benchmark's JVM side: runs one workload against the engine's
  * public entry points and writes a raw record (every span, every
  * check, every sample) as JSON. `perfbench/run.py` builds the engine,
  * generates the inputs, launches this and turns the record into
  * metrics.
  *
  * Arguments (all `--name value`):
  *   --workload  xref_batch | loop_increment | suite_sf01
  *   --work      scratch directory owned by this run (lakes, spill)
  *   --corpus    generated corpus directory (xref_batch, loop_increment)
  *   --data      sf table directory (suite_sf01)
  *   --golden    per-query digest file (suite_sf01)
  *   --seconds   measuring time
  *   --trace     0 | 1
  *   --t0        epoch seconds at which the benchmark process started
  *   --out       record path
  */
object Main {

  def main(args: Array[String]): Unit = {
    val flags = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def flag(k: String): String =
      flags.getOrElse(k, sys.error(s"missing --$k"))
    val workload = flag("workload")
    val work = flag("work")
    val seconds = flag("seconds").toDouble
    val traced = flag("trace") == "1"
    val t0 = flag("t0").toDouble
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionUp = epochNow()
    val tracer = new Tracer(spark, traced)
    val rec = Record(workload, traced, t0, sessionUp, cpus)
    try {
      workload match {
        case "xref_batch" =>
          XrefWorkload.run(spark, tracer, rec, flag("corpus"), seconds)
        case "loop_increment" =>
          LoopWorkload.run(spark, tracer, rec, flag("corpus"), work, seconds)
        case "suite_sf01" =>
          SuiteWorkload.run(spark, tracer, rec, flag("data"),
            flags.get("golden"), seconds)
        case other => sys.error(s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        rec.error = Some(e.toString)
        e.printStackTrace()
    }
    tracer.close()
    rec.spans = tracer.toJson
    rec.peakRssMb = vmHwmMb()
    Files.write(Paths.get(flag("out")),
      Json.write(rec.toMap).getBytes(StandardCharsets.UTF_8))
    spark.stop()
    if (rec.error.nonEmpty) sys.exit(1)
  }

  def epochNow(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(-1.0)

  /** Persist to local disk (the engine's own pin level) and count: a
    * stage boundary the benchmark times, so each span bills its own
    * work and not a lazily deferred part of the previous one.
    */
  def materialize(df: DataFrame): (DataFrame, Long) = {
    df.persist(StorageLevel.DISK_ONLY)
    (df, df.count())
  }
}

/** What one run saw: set-up timestamps, operation samples, checks,
  * quality figures and spans. `run.py` derives every metric from it.
  */
final case class Record(workload: String, traced: Boolean, t0: Double,
    sessionUp: Double, cpus: Int) {
  var firstOp: Double = -1
  var ops = Seq.empty[Map[String, Any]]
  var checks = Seq.empty[Map[String, Any]]
  var facts = Map.empty[String, Any]
  var spans: Seq[Map[String, Any]] = Nil
  var peakRssMb: Double = -1
  var error: Option[String] = None

  def op(m: Map[String, Any]): Unit = ops :+= m
  def check(name: String, ok: Boolean, detail: Any = ""): Unit =
    checks :+= Map("name" -> name, "ok" -> ok, "detail" -> detail.toString)
  def fact(k: String, v: Any): Unit = facts += k -> v
  def startTiming(): Unit = if (firstOp < 0) firstOp = Main.epochNow()

  def toMap: Map[String, Any] = Map(
    "workload" -> workload, "traced" -> traced, "t0" -> t0,
    "session_up" -> sessionUp, "first_op" -> firstOp, "cpus" -> cpus,
    "ops" -> ops, "checks" -> checks,
    "facts" -> facts, "spans" -> spans, "peak_rss_mb" -> peakRssMb,
    "error" -> error.orNull)
}

object Json {
  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }
  def write(v: Any): String = mapper.writeValueAsString(v)
}

/** Pairwise clustering quality against the generator's truth clusters:
  * a pair is two entity ids placed in one cluster.
  */
object PairQuality {
  def pairs(clusters: Iterable[Iterable[String]]): Set[(String, String)] =
    clusters.iterator.flatMap { c =>
      val ids = c.toIndexedSeq.distinct.sorted
      for (i <- ids.indices.iterator; j <- (i + 1 until ids.size).iterator)
        yield (ids(i), ids(j))
    }.toSet

  def truth(corpusDir: String): Set[(String, String)] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$corpusDir/truth.json"))
    import scala.jdk.CollectionConverters._
    pairs(node.get("clusters").elements().asScala
      .map(_.elements().asScala.map(_.asText()).toSeq).toSeq)
  }

  /** (precision, recall, predicted pairs, true positives). */
  def score(pred: Set[(String, String)], truth: Set[(String, String)])
      : (Double, Double, Int, Int) = {
    val tp = pred.count(truth.contains)
    (if (pred.isEmpty) 0.0 else tp.toDouble / pred.size,
      if (truth.isEmpty) 0.0 else tp.toDouble / truth.size, pred.size, tp)
  }

  /** Clusters from (member, cluster key) rows. */
  def clustersOf(rows: Seq[(String, String)]): Iterable[Seq[String]] =
    rows.groupBy(_._2).values.map(_.map(_._1))
}
