package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import Main.{Ctx, Op}

object ComposeLoad {

  /** Job- and driver-bound composed gates whose cold builds fit a run's
    * set-up; README.md says why each was chosen. */
  val gates: Seq[String] = Seq("q_mrr_batch", "q_ndcg_batch", "q_ndcg_rrf",
    "q_retrieval_pipeline_e2e", "q_takedown_dsir", "q_frontier_schedule",
    "q_recrawl_priority", "q_link_rank", "q_label_prop")

  /** Runs every gate once and writes, under `dir`, each result (as
    * parquet, rows in result order), its fingerprint and its oracle SQL,
    * for confirm.py to check against DuckDB. */
  def record(spark: SparkSession, data: String, dir: Path): Unit = {
    val fps = gates.sorted.map { g =>
      val df = graft.SparkEntry.queries(g)(spark, data)
      val rows = df.collect()
      spark.createDataFrame(rows.toList.asJava, df.schema).coalesce(1)
        .write.mode("overwrite").parquet(dir.resolve(g).toString)
      g -> Main.fingerprint(df, rows)
    }
    Files.writeString(dir.resolve("fingerprints.json"), Json.obj(fps: _*))
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(dir.resolve("oracle_sql.json"),
      Json.obj(gates.sorted.map(g => g -> oracle(g)): _*))
  }
}

/** compose: each operation is one gate, built by its `SparkEntry.queries`
  * entry (construct) and collected (action), its result checked against
  * expected.json. Set-up serves every gate once, cold, so the timed
  * rounds are warm; that cold pass is where the `operators` layer builds
  * its stored artifacts, and the traced run reports it. */
final class ComposeLoad(expected: Map[String, String]) extends Main.Load {
  import ComposeLoad.gates

  private val fns = graft.SparkEntry.queries
  private def root(c: Ctx) = c.work.resolve("artifacts")
  // (_SUCCESS markers, files, bytes) the cold set-up left, its build seconds
  private var setupArtifacts = (0L, 0L, 0L)
  private var setupBuild = 0.0
  // per traced round: (new _SUCCESS markers, new files, new bytes)
  private val perRound = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]

  override def setup(c: Ctx): Unit = {
    val missing = gates.filterNot(expected.contains)
    require(missing.isEmpty, s"no expected result for ${missing.mkString(", ")}")
    setupBuild = round(c, -1, traced = false).map(_.build).sum
    setupArtifacts = walk(root(c))
  }

  override def round(c: Ctx, r: Int, traced: Boolean): Seq[Op] = {
    val before = if (traced) walk(root(c)) else (0L, 0L, 0L)
    val order = new scala.util.Random(c.seed * 1000003L + r).shuffle(gates)
    val ops = order.map(g => one(c, g, r, traced))
    if (traced) {
      val after = walk(root(c))
      perRound += ((after._1 - before._1, after._2 - before._2, after._3 - before._3))
    }
    ops
  }

  private def one(c: Ctx, g: String, r: Int, traced: Boolean): Op = {
    graft.BuildTimer.drainSeconds()
    var df: DataFrame = null
    var rows: Array[Row] = null
    var err = ""
    val t0 = c.trace.nowMs
    try c.trace.span(g) {
      df = c.trace.span("construct")(fns(g)(c.spark, c.data))
      rows = c.trace.span("action")(df.collect())
    } catch { case NonFatal(e) => err = e.toString.take(300) }
    val t1 = c.trace.nowMs
    val build = graft.BuildTimer.drainSeconds()
    var topk = (0L, 0L)
    if (err.isEmpty) {
      val fp = Main.fingerprint(df, rows)
      if (!expected.get(g).contains(fp))
        err = s"result $fp, expected ${expected.getOrElse(g, "none")}"
      else if (traced) topk = Plans.topK(df.queryExecution.executedPlan)
    }
    Op(r, g, t0, t1, traced, err, build, topk._1, topk._2)
  }

  /** (_SUCCESS markers, regular files, bytes) under `root`. */
  private def walk(root: Path): (Long, Long, Long) =
    if (!Files.isDirectory(root)) (0L, 0L, 0L)
    else {
      val files = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.count(_.getFileName.toString == "_SUCCESS").toLong, files.size.toLong,
        files.map(Files.size).sum)
    }

  override def facts(c: Ctx, traced: Boolean): Seq[(String, Any)] = {
    val inputBytes = Seq("documents", "embeddings")
      .map(t => Files.size(java.nio.file.Paths.get(c.data, s"$t.parquet"))).sum
    val rounds = perRound.map { case (m, f, b) =>
      Json.obj("commits" -> m, "files" -> f, "bytes" -> b)
    }
    val (m, f, b) = setupArtifacts
    Seq("input_bytes" -> inputBytes,
      "setup_artifacts" -> Json.Raw(Json.obj("commits" -> m, "files" -> f, "bytes" -> b,
        "build_s" -> setupBuild)),
      "artifact_rounds" -> Json.Raw(rounds.mkString("[", ",", "]"))) ++
      (if (traced) Seq("kernels" -> Json.Raw(Json.obj(Kernels.run(c.spark, c.data): _*)))
      else Nil)
  }
}
