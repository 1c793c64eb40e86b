package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (getOrCreate reuses one
  * JVM-wide session, so N suites pay one Spark startup). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession =
    graft.util.Session.builder(4).appName("graft-test").getOrCreate()

  val Sf0001 = "/root/testdata/sf0.001"

  /** Evaluate a constant Column to a value on a 1-row frame. */
  def evalOne[T](c: Column): T =
    spark.range(1).select(c.as("v")).head.getAs[T]("v")

  def evalD(c: Column): Double = evalOne[Double](c)

  def approx(a: Double, b: Double, eps: Double = 1e-12): Boolean =
    math.abs(a - b) <= eps * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}
