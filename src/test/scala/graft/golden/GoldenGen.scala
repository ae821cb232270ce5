package graft.golden

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.DoubleType

/**
 * Regenerates the committed golden fixtures for the three model-output
 * registry queries the driver can only rows-check (`lda_top_terms`,
 * `lda_doc_topics`, `polylda_top_terms` — EM outputs, not SQL-expressible).
 * LdaGoldenSpec asserts the live queries against these fixtures, following
 * the reference's own golden-test precedent
 * (src/test/java/cc/mrlda/VariationalInferenceTest.java:28-62).
 *
 * Run after an INTENTIONAL model change:
 *   sbt "Test/runMain graft.golden.GoldenGen"
 * then commit the updated files under src/test/resources/golden/ with the
 * change that caused them.
 *
 * Format: TSV, header row, doubles via Double.toString (exact round-trip);
 * the spec compares double columns at tolerance, everything else exactly.
 */
object GoldenGen {

  val SfDir = "/root/testdata/sf0.01"
  val Queries: Seq[(String, String)] = Seq(
    "lda_top_terms" -> "lda_top_terms_sf001.tsv",
    "lda_doc_topics" -> "lda_doc_topics_sf001.tsv",
    "polylda_top_terms" -> "polylda_top_terms_sf001.tsv")

  /** TSV lines (header first) for a query's sorted output. */
  def render(spark: SparkSession, name: String, dir: String): Seq[String] = {
    val df = graft.queries.Registry.all(name).fn(spark, dir)
    val schema = df.schema
    val header = schema.fieldNames.mkString("\t")
    val lines = df.collect().map { row =>
      schema.fields.indices.map { i =>
        val f = schema.fields(i)
        if (row.isNullAt(i)) "␀"
        else f.dataType match {
          case DoubleType => java.lang.Double.toString(row.getDouble(i))
          case _ => row.get(i).toString
        }
      }.mkString("\t")
    }.toSeq
    header +: lines
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else SfDir
    val out = Paths.get("src/test/resources/golden")
    Files.createDirectories(out)
    // the test session's setup, so regenerated goldens match the suites
    val spark = graft.GraftSession.local("graft-golden-gen", cores = 4)
    try {
      Queries.foreach { case (name, file) =>
        val lines = render(spark, name, dir)
        Files.write(out.resolve(file),
          lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
        println(s"[golden] wrote ${out.resolve(file)} (${lines.size - 1} rows)")
      }
    } finally spark.stop()
  }
}
