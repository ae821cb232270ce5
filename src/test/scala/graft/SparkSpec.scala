package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites (one per suite, lazy): the
  * library's own `GraftSession` on a fixed 4 cores, so the suites run the
  * shipped session setup and do not depend on the host's core count. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("graft-test", cores = 4)
}
