package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.gates.{Gates, Registry}

/** Registry-integrity guard (round-13 verdict #2): the gate surface is
  * a union of per-file row lists, and a plain `++` silently keeps the
  * right-most binding on a key collision — round 12's per-lang card
  * shadowed round 7's per-source one exactly this way. These tests
  * plant deliberate collisions to prove assembly fails LOUDLY, and pin
  * the real surface's size so the gate count is asserted, not
  * hand-counted. A query without an oracle cannot be written: both
  * halves are fields of one `Gate`. */
class RegistrySpec extends AnyFunSuite {

  test("unionDistinct refuses a planted duplicate key, naming key and owners") {
    val e = intercept[IllegalStateException] {
      Registry.unionDistinct(
        "modA" -> Map("q_x" -> 1, "q_dup" -> 2),
        "modB" -> Map("q_y" -> 3),
        "modC" -> Map("q_dup" -> 4))
    }
    assert(e.getMessage.contains("q_dup"), e.getMessage)
    assert(e.getMessage.contains("modA") && e.getMessage.contains("modC"),
      s"both owning modules must be named: ${e.getMessage}")
  }

  test("unionDistinct passes disjoint modules through unchanged") {
    val m = Registry.unionDistinct(
      "modA" -> Map("q_x" -> 1), "modB" -> Map("q_y" -> 2))
    assert(m == Map("q_x" -> 1, "q_y" -> 2))
  }

  test("the real registry assembles: aligned keys, derived gate count") {
    val qs = SparkEntry.queries.keySet
    assert(qs == SparkEntry.oracleSql.keySet)
    // the whole gate surface; the message names every gates
    // file's row count, so a dropped or added gate reds out pointing
    // at the file that moved
    val perFile = Gates.files.map { case (f, gs) => s"$f=${gs.size}" }
    assert(qs.size == 224,
      s"gate surface ${qs.size} != 224: ${perFile.mkString(", ")}")
  }
}
