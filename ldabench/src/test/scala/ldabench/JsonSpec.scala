package ldabench

import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {

  test("the result line has the four keys and every metric with its unit") {
    val line = Json.result(correct = true, 8, 0, Seq(("setup_s", 1.25, "s"), ("a.b-c", 3.0, "count")))
    assert(line == """{"correct":true,"attempted":8,"failed":0,"metrics":""" +
      """{"setup_s":{"value":1.25,"unit":"s"},"a.b-c":{"value":3.0,"unit":"count"}}}""")
  }

  test("bad or repeated metric names and non-finite values are refused") {
    intercept[IllegalArgumentException](Json.result(true, 1, 0, Seq(("a b", 1.0, "s"))))
    intercept[IllegalArgumentException](Json.result(true, 1, 0, Seq(("a", 1.0, "s"), ("a", 2.0, "s"))))
    intercept[IllegalArgumentException](Json.result(true, 1, 0, Seq(("a", Double.NaN, "s"))))
  }
}
