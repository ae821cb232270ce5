package graft

import graft.tools.PlanProfile
import org.scalatest.funsuite.AnyFunSuite

class PlanProfileSpec extends AnyFunSuite {

  test("SPARK_GRAFT_EXTRA_CONF splits only before a key=, keeps commas in values") {
    assert(PlanProfile.extraConf("a.b=1, c_d = 2") == Seq("a.b" -> "1", "c_d" -> "2"))
    assert(PlanProfile.extraConf("spark.driver.extraJavaOptions=-Da=1,-Db=2,spark.x=y") ==
      Seq("spark.driver.extraJavaOptions" -> "-Da=1,-Db=2", "spark.x" -> "y"))
    assert(PlanProfile.extraConf("k=v=w") == Seq("k" -> "v=w"))
    assert(PlanProfile.extraConf("") == Seq.empty)
  }

  test("SPARK_GRAFT_EXTRA_CONF refuses an entry that is not key=value") {
    intercept[IllegalArgumentException](PlanProfile.extraConf("noequals"))
    intercept[IllegalArgumentException](PlanProfile.extraConf("junk,a=1"))
    intercept[IllegalArgumentException](PlanProfile.extraConf("=v"))
  }
}
