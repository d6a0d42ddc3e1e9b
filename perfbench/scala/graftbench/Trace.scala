package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.schema.HogiaTable
import graft.sources.TableIO

/** In-memory span recorder. Times are epoch milliseconds (fractional),
  * derived from one nanoTime origin, so spans line up with the Spark
  * listener's job and stage timestamps. Spans are written out when the
  * run ends. A disabled trace runs its bodies and keeps nothing. */
final class Trace(@volatile var enabled: Boolean) {
  import Trace.Span
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble

  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int](0) // 0 = the run
  private var lastId = 0

  /** Runs `body` under a span named `name`, parented to the innermost
    * open span. Spans open only on the benchmark's own thread. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      lastId += 1
      val id = lastId
      val parent = stack.top
      stack.push(id)
      val t0 = nowMs
      try body
      finally {
        stack.pop()
        spans += Span(id, parent, name, t0, nowMs)
      }
    }

  def json: String = spans.sortBy(_.id).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""start":${s.start},"end":${s.end}}"""
  }.mkString("[", ",", "]")
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double)
}

/** Delegating TableIO: spans around each call into the `sources` layer,
  * and the bytes each truncate-load leaves on disk (every call rewrites
  * the whole single-file database, so its full size counts as written). */
final class TracedIO(inner: TableIO, layer: String, file: Option[java.nio.file.Path],
    trace: Trace) extends TableIO {

  var bytesWritten = 0L

  override def read(spark: SparkSession, table: HogiaTable): DataFrame =
    trace.span(s"$layer.read")(inner.read(spark, table))

  override def truncateLoad(df: DataFrame, table: HogiaTable): Unit = {
    trace.span(s"$layer.truncateLoad")(inner.truncateLoad(df, table))
    file.foreach(f => bytesWritten += java.nio.file.Files.size(f))
  }

  override def exists(spark: SparkSession, table: HogiaTable): Boolean =
    inner.exists(spark, table)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(kv: (String, Any)*): String = kv.map { case (k, v) =>
    val r = v match {
      case s: String => str(s)
      case raw: Raw => raw.s
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case other => other.toString
    }
    s"${str(k)}:$r"
  }.mkString("{", ",", "}")

  /** Already-encoded JSON. */
  final case class Raw(s: String)
}
