package graft.polylda

import graft.corpus.ParseCorpus
import graft.model.{PolyDoc, PolyTermEntry}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Polylingual corpus pipeline: raw `title \t lang1-text \t ... \t langL-text`
 * lines (literal `null` = language missing from this document) → per-language
 * dictionaries + per-language dictionary-encoded documents sharing one docId.
 *
 * Spark-native rebuild of the reference's multilingual three-job pipeline
 * (reference: cc/mrlda/polylda/ParseCorpus.java:309-616). Everything after
 * the per-language slots (P9) is the one parse core, [[ParseCorpus.parse]]:
 * the per-language df/tf reduce (A2), the per-language df band, and the
 * per-language 1-based dense ranking on the driver (O3, reference
 * one-reducer-with-MultipleOutputs polylda/ParseCorpus.java:578-616). This
 * object adds the slots and builds one [[PolyDoc]] per document.
 */
object PolyParseCorpus {

  case class Config(
      numLanguages: Int,
      minDfFraction: Double = 0.0,
      maxDfFraction: Double = 1.0,
      lowercase: Boolean = false)

  case class Result(
      docs: Dataset[PolyDoc],
      terms: Dataset[PolyTermEntry],
      /** docs per language (reference counter TOTAL_DOCS_IN_LANGUAGE,
        * polylda/ParseCorpus.java:330-334). */
      docsPerLanguage: Map[Int, Long])

  /** Literal marking a missing language slot (polylda/ParseCorpus.java:318). */
  val MissingLanguage = "null"

  /**
   * Parse raw lines. Documents with fewer than numLanguages+1 tab fields are
   * dropped (the reference throws, polylda/ParseCorpus.java:308-310).
   * Doc ids are assigned 1-based by line order over a sort of (title, texts)
   * — deterministic, and independent of title uniqueness.
   */
  def fromRawLines(spark: SparkSession, path: String, cfg: Config): Result =
    parse(spark, ParseCorpus.numberedLines(spark, path, cfg.numLanguages + 1, limit = -1),
      numbered = true, cfg)

  /**
   * Parse a (docId, title, texts array<string>) DataFrame, one row per
   * document; texts(l) null or the literal "null" marks a missing language,
   * and slots past `numLanguages` are not read.
   */
  def run(input: DataFrame, cfg: Config): Result = {
    import input.sparkSession.implicits._
    val lines = input.select($"docId".cast("long"), slice($"texts", 1, cfg.numLanguages))
      .as[(Long, Seq[String])].rdd
      .map { case (id, texts) => ParseCorpus.Line(id, null, Option(texts).fold(Array.empty[String])(_.toArray)) }
    parse(input.sparkSession, lines, numbered = false, cfg)
  }

  private def parse(spark: SparkSession, lines: RDD[ParseCorpus.Line], numbered: Boolean,
      cfg: Config): Result = {
    import spark.implicits._
    val n = cfg.numLanguages
    val lower = ParseCorpus.sqlLower(spark)
    // P9: one slot per language, 0-based internally (the reference prints
    // 1-based language indicators only in file names); a slot is missing
    // when null or `null` in any case, spaces trimmed (read into a local so
    // the task closure does not capture this object)
    val missing = MissingLanguage
    val slot: String => String = t =>
      if (t == null || lower(UTF8String.fromString(t).trim().toString) == missing) null else t
    val slotted = lines.map(l => l.copy(title = null,
      texts = Array.tabulate(n)(i => if (i < l.texts.length) slot(l.texts(i)) else null)))
    val p = ParseCorpus.parse(spark, slotted, numbered, titles = false, n, ParseCorpus.Config(
        minDfFraction = cfg.minDfFraction, maxDfFraction = cfg.maxDfFraction,
        lowercase = cfg.lowercase),
      // both maps list the document's languages ascending
      (id: Long, langs: Seq[(Int, Map[Int, Int], Long)]) => PolyDoc(id,
        langs.map(l => l._1 -> l._2).toMap, langs.map(l => l._1 -> l._3).toMap, langs.map(_._3).sum))
    Result(p.docs, spark.createDataset(p.terms),
      p.docsPerLanguage.zipWithIndex.collect { case (n, l) if n > 0 => l -> n }.toMap)
  }
}
