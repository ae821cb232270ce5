package ldabench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.collection.immutable.ListMap

/** The benchmark's output lines, written with Jackson. */
object Json {

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** A JSON object that keeps its fields in the given order. */
  def obj(fields: (String, Any)*): ListMap[String, Any] = ListMap(fields: _*)

  def write(value: Any): String = mapper.writeValueAsString(value)

  /** The result line: correctness, op counts and named metrics with units.
    * Every name must pass [[Stats.validName]], once, with a finite value. */
  def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String = {
    metrics.foreach { case (n, v, _) =>
      require(Stats.validName(n), s"bad metric name: $n")
      require(!v.isNaN && !v.isInfinite, s"metric $n is not a finite number: $v")
    }
    require(metrics.map(_._1).distinct.size == metrics.size, "duplicate metric name")
    write(obj("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> obj(metrics.map { case (n, v, u) => n -> obj("value" -> v, "unit" -> u) }: _*)))
  }
}
