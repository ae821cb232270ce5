package graft.polylda

import graft.corpus.ParseCorpus
import graft.model.{PolyDoc, PolyTermEntry}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Polylingual corpus pipeline: raw `title \t lang1-text \t ... \t langL-text`
 * lines (literal `null` = language missing from this document) → per-language
 * dictionaries + per-language dictionary-encoded documents sharing one docId.
 *
 * Spark-native rebuild of the reference's multilingual three-job pipeline
 * (reference: cc/mrlda/polylda/ParseCorpus.java:309-616). Everything after
 * the per-language fan-out (P9, a `posexplode` over the language columns) is
 * the one parse core, [[ParseCorpus.parse]]: the per-language df/tf
 * aggregate (A2), the per-language df band, and the per-language 1-based
 * dense ranking (O3, reference one-reducer-with-MultipleOutputs
 * polylda/ParseCorpus.java:578-616) as one global sort ranked within each
 * language. This object adds the fan-out and regroups the core's
 * per-language rows into one [[PolyDoc]] per document.
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
   * Doc ids are assigned 1-based by line order over a sort of (title, text)
   * — deterministic, and independent of title uniqueness.
   */
  def fromRawLines(spark: SparkSession, path: String, cfg: Config): Result = {
    import spark.implicits._
    val lines = spark.read.text(path)
      .select(split($"value", "\t").as("parts"))
      .filter(size($"parts") === cfg.numLanguages + 1)
      .select($"parts"(0).as("title"),
        slice($"parts", 2, cfg.numLanguages).as("texts"))
    val (withIds, rankCache) =
      ParseCorpus.rankByIndexWithCache(lines, Seq($"title".asc, $"texts".asc), "docId")
    val result = run(withIds.select($"docId", $"title", $"texts"), cfg)
    rankCache.unpersist() // run() persisted + counted docs/terms
    result
  }

  /**
   * Parse a (docId, title, texts array<string>) DataFrame; texts(l) null or
   * the literal "null" marks a missing language, and slots past
   * `numLanguages` are not read.
   */
  def run(input: DataFrame, cfg: Config): Result = {
    val spark = input.sparkSession
    import spark.implicits._

    // P9: per-language fan-out; 0-based lang index internally (the reference
    // prints 1-based language indicators only in file names)
    val perLang = input
      .select($"docId".cast("long").as("docId"),
        posexplode(slice($"texts", 1, cfg.numLanguages)).as(Seq("lang", "text")))
      .filter($"text".isNotNull && lower(trim($"text")) =!= MissingLanguage)

    val p = ParseCorpus.parse(perLang, cfg.numLanguages, ParseCorpus.Config(
        minDfFraction = cfg.minDfFraction, maxDfFraction = cfg.maxDfFraction,
        lowercase = cfg.lowercase),
      ParseCorpus.Shapes[PolyDoc, PolyTermEntry](
        // languages a doc is missing simply have no key in `counts`
        _.groupBy($"docId")
          .agg(
            // no array_sort here: structs holding maps aren't orderable, and
            // map_from_entries doesn't need sorted input (map semantics)
            map_from_entries(collect_list(struct($"lang", $"langCounts"))).as("counts"),
            map_from_entries(collect_list(struct($"lang", $"langTokens"))).as("numTokens"),
            sum($"langTokens").as("totalTokens"))
          .select($"docId", $"counts", $"numTokens", $"totalTokens",
            lit(null).cast("array<double>").as("gamma"))
          .as[PolyDoc],
        _.as[PolyTermEntry],
        _.select($"lang", $"termId", $"term")))
    Result(p.docs, p.terms,
      p.docsPerLanguage.zipWithIndex.collect { case (n, l) if n > 0 => l -> n }.toMap)
  }
}
