package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** JVM side of the benchmark (perfbench/run.py drives it).
  *
  * Runs one workload closed-loop from one client: an untimed set-up,
  * then whole rounds (two at least) until the timed phase has lasted
  * `--seconds`. Each
  * operation's output is checked. With `--trace 1` the timed phase runs
  * untraced, then under the span recorder and the Spark ledger, then
  * untraced again; the traced and untraced rounds give the tracing
  * overhead. Raw samples, spans and ledger rows go to `--out` as JSON;
  * run.py turns them into metrics.
  */
object Main {

  final case class Op(round: Int, name: String, start: Double, end: Double,
      traced: Boolean, err: String, build: Double, topkIn: Long, topkOut: Long)

  final case class Ctx(spark: SparkSession, trace: Trace, data: String,
      work: Path, seed: Long)

  /** A workload: its set-up and one round. A round returns its operations. */
  trait Load {
    def setup(c: Ctx): Unit
    def round(c: Ctx, r: Int, traced: Boolean): Seq[Op]
    /** Facts about the whole run, as JSON members. */
    def facts(c: Ctx, traced: Boolean): Seq[(String, Any)] = Nil
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = Paths.get(opt("work")).toAbsolutePath
    val cpus = opt("cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("graft.scratch", work.resolve("artifacts").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      if (opt.contains("record")) ComposeLoad.record(spark, opt("data"), Paths.get(opt("record")))
      else run(spark, opt, work)
    } finally spark.stop()
  }

  private def run(spark: SparkSession, opt: Map[String, String], work: Path): Unit = {
    val traced = opt("trace") == "1"
    val trace = new Trace(false)
    val c = Ctx(spark, trace, opt("data"), work, opt("seed").toLong)
    val load: Load = opt("workload") match {
      case "convert" => new ConvertLoad
      case "compose" => new ComposeLoad(readExpected(opt("expected")))
    }
    load.setup(c)

    val ops = mutable.ArrayBuffer.empty[Op]
    val seconds = opt("seconds").toDouble
    val gc0 = gcSeconds()
    val steal0 = stealSeconds()
    val t0 = trace.nowMs
    var r = 0
    // whole rounds until `secs` have passed, at least `minRounds` of them
    def phase(secs: Double, tr: Boolean, minRounds: Int): Unit = {
      val start = trace.nowMs
      var n = 0
      while (n < minRounds || trace.nowMs - start < secs * 1000) {
        ops ++= load.round(c, r, tr)
        r += 1
        n += 1
      }
    }
    val ledger = new Ledger
    // two rounds at least: the latency tail needs more than ten samples,
    // and a compose round has nine
    if (!traced) phase(seconds, tr = false, minRounds = 2)
    else {
      // untraced, traced, untraced: the untraced rounds bracket the traced
      // ones, so a drift across the phase does not read as tracing overhead
      phase(seconds / 2, tr = false, minRounds = 1)
      spark.sparkContext.addSparkListener(ledger)
      trace.enabled = true
      phase(seconds, tr = true, minRounds = 2)
      trace.enabled = false
      org.apache.spark.graftbench.BusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(ledger)
      phase(seconds / 2, tr = false, minRounds = 1)
    }
    val gc = gcSeconds() - gc0
    val steal = stealSeconds() - steal0
    val extra = load.facts(c, traced)

    val opsJson = ops.map { o =>
      Json.obj("round" -> o.round, "name" -> o.name, "start" -> o.start,
        "end" -> o.end, "traced" -> o.traced, "err" -> o.err, "build_s" -> o.build,
        "topk_in" -> o.topkIn, "topk_out" -> o.topkOut)
    }.mkString("[", ",", "]")
    val out = Json.obj(Seq[(String, Any)](
      "workload" -> opt("workload"),
      "cpus" -> opt("cpus").toInt,
      "timed_start" -> t0,
      "gc_s" -> gc,
      "steal_s" -> steal,
      "rss_peak_mb" -> rssPeakMb(),
      "ops" -> Json.Raw(opsJson),
      "spans" -> Json.Raw(if (traced) trace.json else "[]"),
      "ledger" -> Json.Raw(if (traced) ledger.json else "null")) ++ extra: _*)
    Files.writeString(Paths.get(opt("out")), out)
  }

  private def readExpected(path: String): Map[String, String] =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(new java.io.File(path), classOf[java.util.Map[String, String]])
      .asScala.toMap

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum / 1e3

  /** Host CPU steal (all CPUs) from /proc/stat, in seconds; 0 where the
    * file is missing. */
  def stealSeconds(): Double = {
    val f = Paths.get("/proc/stat")
    if (!Files.isReadable(f)) 0.0
    else {
      val cpu = Files.readAllLines(f).asScala.head.trim.split("\\s+")
      if (cpu.length > 8) cpu(8).toDouble / 100.0 else 0.0
    }
  }

  /** VmHWM of this JVM (driver and local executors), MiB. */
  def rssPeakMb(): Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.isReadable(f)) 0.0
    else Files.readAllLines(f).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** Order-sensitive digest of a result: columns sorted by name, one
    * canonical rendering per value, rows in the query's order. */
  def fingerprint(df: DataFrame, rows: Array[Row]): String = {
    val names = df.schema.fieldNames
    val order = names.indices.sortBy(names(_))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(names(_)).mkString(",").getBytes("UTF-8"))
    rows.foreach { r =>
      md.update(order.map(i => render(r.get(i))).mkString("\u0001", "\u0001", "\n")
        .getBytes("UTF-8"))
    }
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString + ":" + rows.length
  }

  def render(v: Any): String = v match {
    case null => "∅"
    case d: java.math.BigDecimal => d.toPlainString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }
}
