package graft

import org.scalatest.funsuite.AnyFunSuite

/** Shared local session per suite (one JVM-wide session; Spark reuses it
  * across suites via getOrCreate). Built by the engine's own factory, so
  * every suite runs with the extensions and settings the mains use; a suite
  * that needs a different conf sets it around its own queries and restores
  * it.
  */
trait SparkSuite extends AnyFunSuite {
  val Sf = "/root/testdata/sf0.001"

  lazy val spark: org.apache.spark.sql.SparkSession =
    Graft.session("local[4]", "graft-test")
}
