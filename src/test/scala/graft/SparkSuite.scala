package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session per suite, built by the program's own factory
  * (one JVM-wide session; Spark reuses it across suites via getOrCreate,
  * so every suite must agree on the extension set and the `file` binding).
  */
trait SparkSuite extends AnyFunSuite {
  val Sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = Graft.session("local[4]", "graft-test")
}
