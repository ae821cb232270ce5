package graft

import graft.corpus.ParseCorpus
import graft.corpus.ParseCorpus.Config
import graft.lda.EmCore.Keys
import graft.model.{CorpusStats, Doc, PolyDoc, PolyTermEntry, TermEntry, TitleEntry}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * The DataFrame parse core the library ran before it counted documents in
 * the task that reads them, kept as the reference [[ParseEquivalenceSpec]]
 * checks the library against: token rows grouped by (docId, lang, term),
 * per-(lang, term) df/tf aggregated and ranked by a global sort, encoded by
 * a broadcast join on (term, lang) and regrouped per document. Also the
 * window ranking the top-terms display ran over a beta DataFrame.
 */
object ParseReference {

  final case class Vanilla(docs: Seq[Doc], terms: Seq[TermEntry], titles: Seq[TitleEntry],
      stats: CorpusStats)
  final case class Poly(docs: Seq[PolyDoc], terms: Seq[PolyTermEntry], docsPerLanguage: Map[Int, Long])

  def fromRawLines(spark: SparkSession, path: String, cfg: Config): Vanilla = {
    import spark.implicits._
    val lines = spark.read.text(path)
      .select(split($"value", "\t", 2).as("parts"))
      .filter(size($"parts") === 2)
      .select($"parts" (0).as("title"), $"parts" (1).as("text"))
    val (withIds, cache) = ParseCorpus.rankByIndexWithCache(lines, Seq($"title".asc, $"text".asc), "docId")
    try run(withIds.select($"docId", $"title", $"text"), cfg) finally cache.unpersist()
  }

  def run(input: DataFrame, cfg: Config): Vanilla = {
    val spark = input.sparkSession
    import spark.implicits._
    val base = input.select($"docId".cast("long"), $"title", $"text")
    val (docs, terms, perLang, low, high) = parse(base.select($"docId", lit(0).as("lang"), $"text"), 1, cfg)
    val vDocs = docs.select($"docId", $"langCounts".as("counts"), $"langTokens".as("numTokens"),
      lit(null).cast("array<double>").as("gamma")).as[Doc].collect().toSeq
    val vTerms = terms.select($"termId", $"term", $"df", $"tf").as[TermEntry].collect().toSeq
    docs.unpersist(); terms.unpersist()
    Vanilla(vDocs, vTerms, base.select($"docId", $"title").as[TitleEntry].collect().toSeq,
      CorpusStats(vDocs.length, vTerms.length, perLang.sum - vDocs.length, low, high))
  }

  def polyFromRawLines(spark: SparkSession, path: String, numLanguages: Int, cfg: Config): Poly = {
    import spark.implicits._
    val lines = spark.read.text(path)
      .select(split($"value", "\t").as("parts"))
      .filter(size($"parts") === numLanguages + 1)
      .select($"parts" (0).as("title"), slice($"parts", 2, numLanguages).as("texts"))
    val (withIds, cache) = ParseCorpus.rankByIndexWithCache(lines, Seq($"title".asc, $"texts".asc), "docId")
    try polyRun(withIds.select($"docId", $"title", $"texts"), numLanguages, cfg) finally cache.unpersist()
  }

  def polyRun(input: DataFrame, numLanguages: Int, cfg: Config): Poly = {
    val spark = input.sparkSession
    import spark.implicits._
    val perLang = input
      .select($"docId".cast("long").as("docId"),
        posexplode(slice($"texts", 1, numLanguages)).as(Seq("lang", "text")))
      .filter($"text".isNotNull && lower(trim($"text")) =!= "null")
    val (docs, terms, perLangCounts, _, _) = parse(perLang, numLanguages, cfg)
    val pDocs = docs.groupBy($"docId")
      .agg(
        map_from_entries(collect_list(struct($"lang", $"langCounts"))).as("counts"),
        map_from_entries(collect_list(struct($"lang", $"langTokens"))).as("numTokens"),
        sum($"langTokens").as("totalTokens"))
      .select($"docId", $"counts", $"numTokens", $"totalTokens", lit(null).cast("array<double>").as("gamma"))
      .as[PolyDoc].collect().toSeq
    val pTerms = terms.as[PolyTermEntry].collect().toSeq
    docs.unpersist(); terms.unpersist()
    Poly(pDocs, pTerms,
      perLangCounts.zipWithIndex.collect { case (n, l) if n > 0 => l -> n }.toMap)
  }

  /** (docId, lang, text) rows → the (docId, lang, langCounts, langTokens)
    * rows and the (lang, termId, term, df, tf) dictionary, both cached for
    * the caller to collect and drop, then documents per language and the
    * df band's low and high counts. */
  private def parse(input: DataFrame, numLanguages: Int, cfg: Config)
      : (DataFrame, DataFrame, Seq[Long], Long, Long) = {
    val spark = input.sparkSession
    import spark.implicits._
    val docsPerLanguage = {
      val r = input.select((0 until numLanguages).map(l => count(when($"lang" === l, 1))): _*).head()
      (0 until numLanguages).map(r.getLong)
    }
    val rawTok = (cfg.analyzer match {
      case Some(an) =>
        val tokenize = udf((text: String) => if (text == null) Seq.empty[String] else an(text))
        input.select($"docId", $"lang", explode(tokenize($"text")).as("term"))
      case None =>
        input.select($"docId", $"lang",
          explode(split(if (cfg.lowercase) lower($"text") else $"text", "\\s+")).as("term"))
    }).filter($"term" =!= "")
    val tokens = (if (cfg.stopwords.nonEmpty)
      rawTok.join(broadcast(cfg.stopwords.toDF("term")), Seq("term"), "left_anti")
    else rawTok)
      .groupBy($"docId", $"lang", $"term").agg(count(lit(1)).as("cnt"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val termAgg = tokens.groupBy($"lang", $"term").agg(count(lit(1)).as("df"), sum($"cnt").as("tf"))
    val banding = cfg.minDfFraction > 0.0 || cfg.maxDfFraction < 1.0
    def bound(fraction: Double): Column =
      element_at(typedLit(docsPerLanguage.map(fraction * _)), $"lang" + 1)
    val lo = bound(cfg.minDfFraction)
    val hi = bound(cfg.maxDfFraction)
    val banded = if (banding) termAgg.filter($"df" >= lo && $"df" <= hi) else termAgg
    val (lowDf, highDf) = if (banding) {
      val r = termAgg.agg(count_if($"df" < lo), count_if($"df" > hi)).head()
      (r.getLong(0), r.getLong(1))
    } else (0L, 0L)
    // the same dense 1-based ranking within each language as the global
    // sort with per-(partition, language) offsets it ran
    val terms = banded
      .select($"lang", row_number().over(Window.partitionBy($"lang").orderBy($"df".desc, $"tf".desc, $"term".asc))
        .as("termId"), $"term", $"df", $"tf")
      .persist(StorageLevel.MEMORY_AND_DISK)
    terms.count()
    val docs = tokens
      .join(broadcast(terms.select($"lang", $"termId", $"term")), Seq("term", "lang"))
      .groupBy($"docId", $"lang")
      .agg(
        map_from_entries(array_sort(collect_list(struct($"termId", $"cnt".cast("int"))))).as("langCounts"),
        sum($"cnt").as("langTokens"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    docs.count()
    tokens.unpersist()
    (docs, terms, docsPerLanguage, lowDf, highDf)
  }

  /** The window ranking over (lang…, topic, termId, elogbeta) rows: top-k
    * per (lang…, topic) by (elogbeta desc, termId asc) joined to the
    * dictionary's (lang…, termId, term) rows. */
  def rankTerms(beta: DataFrame, terms: DataFrame, keys: Keys, k: Int): DataFrame = {
    val w = Window.partitionBy(keys.norm.map(col): _*).orderBy(col("elogbeta").desc, col("termId").asc)
    beta.join(broadcast(terms.select((keys.term :+ "term").map(col): _*)), keys.term)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(keys.norm.map(col) ++ Seq(col("rank"), col("term"), col("elogbeta").as("score")): _*)
  }
}
