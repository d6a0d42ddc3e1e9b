package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one context). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftExtensions.install(s)
    s
  }

  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"
}

abstract class SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  protected lazy val spark: SparkSession = TestSpark.spark
  override protected def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("WARN")
  }

  /** `import testImplicits._` for toDF on Seq of products. */
  protected object testImplicits extends org.apache.spark.sql.classic.SQLImplicits {
    override def session: org.apache.spark.sql.classic.SparkSession =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
  }

  /** Deterministic ScalaCheck sampling (scalatestplus is not on the
    * offline classpath, so property tests drive the generator directly). */
  protected def samples[A](gen: org.scalacheck.Gen[A], n: Int = 100): Seq[A] =
    (0 until n).flatMap { i =>
      gen.apply(org.scalacheck.Gen.Parameters.default,
        org.scalacheck.rng.Seed(i.toLong))
    }
}
