package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** The extension surface a session carries beyond Spark's built-ins:
  * function names, extra planner strategies and extra optimizer rules. */
case class SessionSurface(functions: Set[String], strategies: Seq[AnyRef],
    rules: Seq[AnyRef])

/** Test access to the session-extension internals, which are private to
  * Spark's SQL package. */
object SessionSurface {

  private def added(reg: FunctionRegistry): Set[String] =
    reg.listFunction().map(_.funcName).toSet --
      FunctionRegistry.builtin.listFunction().map(_.funcName)

  /** What `ext` injects into a session built with it. */
  def injected(ext: SparkSessionExtensions, s: SparkSession): SessionSurface =
    SessionSurface(added(ext.registerFunctions(FunctionRegistry.builtin.clone())),
      ext.buildPlannerStrategies(s), ext.buildOptimizerRules(s))

  /** What `s` carries now. */
  def of(s: SparkSession): SessionSurface = {
    val cs = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    SessionSurface(added(cs.sessionState.functionRegistry),
      cs.experimental.extraStrategies, cs.experimental.extraOptimizations)
  }

  /** Number of entries in the session's function registry. */
  def functionCount(s: SparkSession): Int =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.listFunction().size
}
