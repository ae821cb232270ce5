package graft.corpus

import graft.model.{CorpusStats, Doc, TermEntry, TitleEntry}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/**
 * Corpus → dictionary-encoded bag-of-words pipeline; Spark-native rebuild of
 * the reference's three-MR-job ParseCorpus (reference:
 * cc/mrlda/ParseCorpus.java:81-142 and SURVEY.md §3.1).
 *
 * The reference's job structure collapses to one declarative plan:
 * tokenize+count (P1-P5) is cached once, the term and title indices are two
 * small aggregates over it, and encoding (J1/J2/P7) is a broadcast join back.
 * Catalyst supplies partial aggregation, predicate pushdown, and column
 * pruning that the reference hand-wired with combiners and custom key types.
 *
 * The plan is the one parse core ([[parse]]) for both topic models, the way
 * Mr.LDA's polylda parser generalizes the vanilla one: it works on
 * (docId, lang, text) rows, and vanilla parsing is polylingual parsing with
 * every document in language 0. [[graft.polylda.PolyParseCorpus]] is only
 * the per-language fan-out in front of it and the regrouping behind it.
 *
 * Scale posture (100 TB): the only global sort is the dictionary ranking
 * over the *aggregated* term table (size = |V|, not corpus size); it uses
 * sort + per-partition offsets rather than the reference's single-reducer
 * ranking (ParseCorpus.java:475-490) so no single task sees the whole
 * vocabulary.
 */
object ParseCorpus {

  /** Defaults mirror reference ParseCorpusOptions.java:36-39 (df band as
    * fractions of the document count) and its whitespace tokenizer.
    *
    * `analyzer` is the pluggable-tokenizer extension point (reference P3:
    * a reflection-instantiated Lucene `Analyzer`, ParseCorpus.java:191-207 /
    * option ParseCorpusOptions.java:147-151, e.g. SmartChineseAnalyzer for
    * CJK text the whitespace split mangles). Any `String => Seq[String]` —
    * shipped to executors as a serialized closure driving a flatMap UDF;
    * when set it replaces the whitespace split + lowercase path entirely. */
  case class Config(
      minDfFraction: Double = 0.0,
      maxDfFraction: Double = 1.0,
      stopwords: Seq[String] = Seq.empty,
      lowercase: Boolean = false,
      analyzer: Option[String => Seq[String]] = None,
      /** Vocabulary size above which the dictionary-encode join drops its
        * broadcast hint and lets the planner shuffle-join instead (a 20M+
        * term dict is no longer comfortably executor-resident). Lowered in
        * tests to pin the fallback plan shape. */
      dictBroadcastMaxTerms: Long = 20_000_000L)

  /** Built-in analyzers plus the reference's reflection-by-class-name
    * loading surface (ParseCorpus.java:191-207,244-293 instantiates any
    * Lucene `Analyzer` named on the command line). */
  object Analyzers {
    /** Unicode-aware word segmentation: letter/digit runs OR single CJK
      * ideographs as tokens (the per-character segmentation is what Lucene's
      * StandardAnalyzer does for CJK). */
    val unicode: String => Seq[String] = { text =>
      val m = java.util.regex.Pattern
        .compile("[\\p{script=Han}\\p{script=Hiragana}\\p{script=Katakana}]|[\\p{L}\\p{N}]+")
        .matcher(text)
      val b = Seq.newBuilder[String]
      while (m.find()) b += m.group().toLowerCase(java.util.Locale.ROOT)
      b.result()
    }

    /** Lucene's English analysis stop set (StandardAnalyzer /
      * EnglishAnalyzer default — 33 words, a public constant since
      * Lucene 1.x). */
    val englishStopwords: Set[String] = Set(
      "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
      "in", "into", "is", "it", "no", "not", "of", "on", "or", "such",
      "that", "the", "their", "then", "there", "these", "they", "this",
      "to", "was", "will", "with")

    /**
     * The `EnglishAnalyzer` chain a reference user would name on the
     * command line (reference ParseCorpus.java:191-207 instantiates any
     * Lucene Analyzer by class name), rebuilt natively: unicode word
     * segmentation → possessive-'s strip → lowercase → English stop set →
     * Porter stem (graft.functions.PorterStemmer — the algorithm behind
     * Lucene's PorterStemFilter). No Lucene jar required.
     */
    val english: String => Seq[String] = { text =>
      // UAX#29-style segmentation: apostrophes are word-internal (MidLetter)
      // so "dog's" / "don't" stay single tokens, exactly like Lucene's
      // StandardTokenizer; CJK ideographs still segment per character.
      val m = java.util.regex.Pattern
        .compile("[\\p{script=Han}\\p{script=Hiragana}\\p{script=Katakana}]" +
          "|[\\p{L}\\p{N}]+(?:['’][\\p{L}\\p{N}]+)*")
        .matcher(text)
      val b = Seq.newBuilder[String]
      while (m.find()) {
        val raw = m.group().toLowerCase(java.util.Locale.ROOT)
        // EnglishPossessiveFilter: drop a trailing 's / ’s
        val t =
          if (raw.length > 2 && raw.endsWith("s") &&
              (raw.charAt(raw.length - 2) == '\'' || raw.charAt(raw.length - 2) == '’'))
            raw.dropRight(2)
          else raw
        if (!englishStopwords.contains(t)) b += graft.functions.PorterStemmer.stem(t)
      }
      b.result()
    }

    /**
     * Reflection-load an analyzer by class name — the reference's P3
     * surface. Accepts two shapes:
     *   - a class implementing `Function1[String, Seq[String]]` with a
     *     no-arg constructor;
     *   - a Lucene `org.apache.lucene.analysis.Analyzer` subclass WHEN
     *     Lucene is on the runtime classpath (e.g. `SmartChineseAnalyzer`).
     *     The adapter drains the token stream the way the reference's
     *     per-record tokenization does (ParseCorpus.java:244-293), built
     *     purely via reflection — this library has no compile-time Lucene
     *     dependency.
     * The returned function closes over the class NAME only and
     * instantiates lazily once per JVM, so it serializes into executor
     * closures regardless of whether the analyzer class itself does.
     */
    def byClassName(className: String): String => Seq[String] =
      new ReflectiveAnalyzer(className)
  }

  private[corpus] final class ReflectiveAnalyzer(className: String)
      extends (String => Seq[String]) with Serializable {
    @transient private lazy val delegate: String => Seq[String] =
      ReflectiveAnalyzer.instantiate(className)
    override def apply(text: String): Seq[String] = delegate(text)
  }

  private[corpus] object ReflectiveAnalyzer {
    private def isLuceneAnalyzer(cls: Class[_]): Boolean =
      Iterator.iterate[Class[_]](cls)(_.getSuperclass).takeWhile(_ != null)
        .exists(_.getName == "org.apache.lucene.analysis.Analyzer")

    def instantiate(className: String): String => Seq[String] = {
      val loader = Option(Thread.currentThread().getContextClassLoader)
        .getOrElse(getClass.getClassLoader)
      val cls = Class.forName(className, true, loader)
      val instance = cls.getDeclaredConstructor().newInstance()
      instance match {
        case f: Function1[_, _] =>
          (text: String) => f.asInstanceOf[String => Seq[String]](text)
        case a if isLuceneAnalyzer(cls) => luceneAdapter(a.asInstanceOf[AnyRef], loader)
        case _ => throw new IllegalArgumentException(
          s"$className is neither a String => Seq[String] nor a Lucene Analyzer")
      }
    }

    /** TokenStream drain (reset → incrementToken* → end → close) via
      * reflection against the Lucene 4+ analysis API. */
    private def luceneAdapter(analyzer: AnyRef, loader: ClassLoader): String => Seq[String] = {
      val termAttrCls = Class.forName(
        "org.apache.lucene.analysis.tokenattributes.CharTermAttribute", true, loader)
      val tokenStreamM = analyzer.getClass
        .getMethod("tokenStream", classOf[String], classOf[java.io.Reader])
      (text: String) => {
        val ts = tokenStreamM.invoke(analyzer, "text", new java.io.StringReader(text))
        val tsCls = ts.getClass
        val attr = tsCls.getMethod("addAttribute", classOf[Class[_]]).invoke(ts, termAttrCls)
        val increment = tsCls.getMethod("incrementToken")
        val b = Seq.newBuilder[String]
        tsCls.getMethod("reset").invoke(ts)
        try {
          while (increment.invoke(ts).asInstanceOf[java.lang.Boolean]) b += attr.toString
          tsCls.getMethod("end").invoke(ts)
        } finally tsCls.getMethod("close").invoke(ts)
        b.result()
      }
    }
  }

  case class Result(
      docs: Dataset[Doc],
      terms: Dataset[TermEntry],
      titles: Dataset[TitleEntry],
      stats: CorpusStats)

  /**
   * Parse raw one-doc-per-line text: `title \t w1 w2 ...`
   * (reference input format, README.md:38-43, ParseCorpus.java:174-179).
   */
  def fromRawLines(spark: SparkSession, path: String, cfg: Config = Config()): Result = {
    import spark.implicits._
    val lines = spark.read.text(path)
      .select(split($"value", "\t", 2).as("parts"))
      .filter(size($"parts") === 2) // reference throws on missing tab; we drop
      .select($"parts" (0).as("title"), $"parts" (1).as("text"))
    // docIds assigned 1-based over the full (title, text) rows — one id per
    // LINE, so duplicate titles stay distinct documents (the reference
    // assigns ids in merge-encounter order and tolerates duplicate titles,
    // ParseCorpus.java:698-710; a join back on the non-unique title would
    // conflate them). Sorted order is the deterministic stand-in for
    // encounter order.
    val (withIds, rankCache) = rankByIndexWithCache(lines, Seq($"title".asc, $"text".asc), "docId")
    val result = run(withIds.select($"docId", $"title", $"text"), cfg)
    // run() persisted AND counted docs/terms, so the ranking's internal
    // sorted cache is no longer load-bearing
    rankCache.unpersist()
    result
  }

  /** Parse a (docId, title, text) DataFrame (e.g. the `documents` table):
    * the parse core with every document in language 0. */
  def run(input: DataFrame, cfg: Config = Config()): Result = {
    val spark = input.sparkSession
    import spark.implicits._
    val base = input.select($"docId".cast("long"), $"title", $"text")
    val p = parse(base.select($"docId", lit(0).as("lang"), $"text"), numLanguages = 1, cfg,
      Shapes[Doc, TermEntry](
        _.select($"docId", $"langCounts".as("counts"), $"langTokens".as("numTokens"),
          lit(null).cast("array<double>").as("gamma")).as[Doc],
        _.select($"termId", $"term", $"df", $"tf").as[TermEntry],
        _.select(lit(0).as("lang"), $"termId", $"term")))
    Result(p.docs, p.terms, base.select($"docId", $"title").as[TitleEntry],
      CorpusStats(p.numDocs, p.numTerms, p.docsPerLanguage.sum - p.numDocs, p.lowDf, p.highDf))
  }

  /** How one model reads the parse core's rows back: (docId, lang,
    * langCounts, langTokens) rows → its documents, (lang, termId, term, df,
    * tf) rows → its dictionary, and that dictionary → the (lang, termId,
    * term) rows the encode joins. */
  private[graft] final case class Shapes[D, T](
      docs: DataFrame => Dataset[D],
      terms: DataFrame => Dataset[T],
      encodeKeys: Dataset[T] => DataFrame)

  /** The parse core's output: the shaped documents and dictionary, both
    * persisted and computed, and the pipeline's counters. */
  private[graft] final case class Parsed[D, T](
      docs: Dataset[D],
      numDocs: Long,
      terms: Dataset[T],
      numTerms: Long,
      /** input rows per language, 0 until numLanguages */
      docsPerLanguage: Seq[Long],
      lowDf: Long,
      highDf: Long)

  /**
   * The one parse core. Input: (docId, lang, text) rows, lang in
   * [0, numLanguages), one row per (document, language). Output, through
   * the caller's [[Shapes]]: (docId, lang, langCounts, langTokens) rows — a
   * document's count map and token total in one language, for every
   * (document, language) with a term left — and the (lang, termId, term,
   * df, tf) dictionary with ids dense and 1-based within each language.
   * The df band is a fraction of each language's document count (reference
   * polylda/ParseCorpus.java:242-245; with one language it is the vanilla
   * corpus-wide rule, ParseCorpus.java:455-467).
   */
  private[graft] def parse[D, T](input: DataFrame, numLanguages: Int, cfg: Config,
      shapes: Shapes[D, T]): Parsed[D, T] = {
    val spark = input.sparkSession
    import spark.implicits._

    // documents per language: one aggregate with no grouping (count, so
    // zero input rows give 0, not null; a constant lang folds to count(1))
    val docsPerLanguage = {
      val r = input.select((0 until numLanguages).map(l => count(when($"lang" === l, 1))): _*).head()
      (0 until numLanguages).map(r.getLong)
    }

    // P1-P5: tokenize (pluggable analyzer or whitespace split), optional
    // lowercase, stopword filter, per-(doc, language) tf. Leading or
    // trailing whitespace splits off empty strings: they are not tokens
    val rawTok = (cfg.analyzer match {
      case Some(an) =>
        val tokenize = udf((text: String) => if (text == null) Seq.empty[String] else an(text))
        input.select($"docId", $"lang", explode(tokenize($"text")).as("term"))
      case None =>
        input.select($"docId", $"lang",
          explode(split(if (cfg.lowercase) lower($"text") else $"text", "\\s+")).as("term"))
    })
      .filter($"term" =!= "")
    val tokens = (if (cfg.stopwords.nonEmpty) {
      val sw = cfg.stopwords.toDF("term")
      rawTok.join(broadcast(sw), Seq("term"), "left_anti")
    } else rawTok)
      .groupBy($"docId", $"lang", $"term").agg(count(lit(1)).as("cnt"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // A1/A2: per-(language, term) document frequency / collection frequency;
    // cached only when the band counters below read it a second time
    val banding = cfg.minDfFraction > 0.0 || cfg.maxDfFraction < 1.0
    val termAgg = tokens.groupBy($"lang", $"term")
      .agg(count(lit(1)).as("df"), sum($"cnt").as("tf"))
    if (banding) termAgg.persist(StorageLevel.MEMORY_AND_DISK)

    // P6: df band filter, bounds per language. With the default full-width
    // band this is a no-op — skip the filter and the counter job entirely.
    // Otherwise both band counters come from ONE aggregation pass.
    def bound(fraction: Double): Column =
      element_at(typedLit(docsPerLanguage.map(fraction * _)), $"lang" + 1)
    val lo = bound(cfg.minDfFraction)
    val hi = bound(cfg.maxDfFraction)
    val banded = if (banding) termAgg.filter($"df" >= lo && $"df" <= hi) else termAgg
    val (lowDf, highDf) = if (banding) {
      val r = termAgg.agg(count_if($"df" < lo), count_if($"df" > hi)).head()
      (r.getLong(0), r.getLong(1))
    } else (0L, 0L)

    // O1/O3: dense 1-based ranking within each language by (df desc, tf
    // desc, term asc — the term tiebreak makes the dictionary deterministic
    // where the reference depended on shuffle order)
    val (rankedTerms, termRankCache) = rankByIndexWithCache(banded,
      Seq($"df".desc, $"tf".desc, $"term".asc), "termId", group = Some("lang"))
    val terms = shapes.terms(rankedTerms.select($"lang", $"termId".cast("int").as("termId"),
        $"term", $"df", $"tf"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val numTerms = terms.count() // materializes terms → rank cache droppable
    termRankCache.unpersist()

    // J1/P7: dictionary-encode on (term, lang); broadcast for any realistic
    // vocabulary (a few hundred MB — beyond `dictBroadcastMaxTerms` drop the
    // hint and let AQE pick a shuffle join)
    val dict = shapes.encodeKeys(terms)
    val encoded = tokens
      .join(if (numTerms <= cfg.dictBroadcastMaxTerms) broadcast(dict) else dict, Seq("term", "lang"))
      .groupBy($"docId", $"lang")
      .agg(
        map_from_entries(array_sort(collect_list(struct($"termId", $"cnt".cast("int"))))).as("langCounts"),
        sum($"cnt").as("langTokens"))
    val docs = shapes.docs(encoded).persist(StorageLevel.MEMORY_AND_DISK)
    val numDocs = docs.count()

    tokens.unpersist()
    termAgg.unpersist()
    Parsed(docs, numDocs, terms, numTerms, docsPerLanguage, lowDf, highDf)
  }

  /**
   * Dense 1-based ranking without a single-partition window: global sort
   * (range-partitioned shuffle), then per-partition offsets. Deterministic
   * given a total ordering. With a `group` column the ids are dense and
   * 1-based within each group value (the sort then leads with the group, so
   * a group's rows are contiguous in every partition); the group column
   * must not be null.
   *
   * Stays in Tungsten end to end (the old shape dropped to
   * `rdd.zipWithIndex` + `createDataFrame`, paying InternalRow↔Row
   * conversion both ways and an RDD scan barrier in every consumer plan;
   * consumers now see a columnar InMemoryTableScan). The sorted frame is
   * persisted and materialized ONCE by the count job: that pins the
   * sampled range boundaries, so the partition-count job and the final
   * projection see identical partitions (two separate executions of an
   * orderBy may sample different boundaries; a cached plan re-reads — or
   * on eviction recomputes through the same exchange, whose shuffle
   * output is reused). The local index comes from
   * `monotonically_increasing_id`, consecutive within a partition. One
   * collect counts the rows and takes the first id per (partition, group);
   * a row's id is then the group's rows in earlier partitions + its id −
   * that first id + 1, joined from a broadcast table of one row per
   * (partition, group) — same role as zipWithIndex's internal count job,
   * minus the row conversions.
   */
  private[graft] def rankByIndex(df: DataFrame, order: Seq[Column],
      idName: String): DataFrame =
    rankByIndexWithCache(df, order, idName)._1

  /** As `rankByIndex`, also returning the internal sorted cache so the
    * caller can `unpersist()` it once a DOWNSTREAM frame is persisted and
    * materialized (otherwise one sorted copy per call lives until session
    * cleanup). Unpersisting is determinism-safe: an eviction-triggered
    * recompute replays the same physical exchange and reuses its shuffle
    * output, so partitions — and therefore the assigned ids — repeat. */
  private[graft] def rankByIndexWithCache(df: DataFrame, order: Seq[Column], idName: String,
      group: Option[String] = None): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    val marked = df.orderBy(group.map(col(_).asc).toSeq ++ order: _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__mid", monotonically_increasing_id())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val keys = "__pid" +: group.toSeq
    val firsts = marked.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"), min(col("__mid")).as("__first"))
      .collect().sortBy(_.getInt(0))
    val earlier = scala.collection.mutable.Map.empty[Option[Any], Long].withDefaultValue(0L)
    val offsets = firsts.map { r =>
      val g = group.map(_ => r.get(1))
      val off = earlier(g) - r.getAs[Long]("__first") + 1L
      earlier(g) += r.getAs[Long]("__n")
      Row.fromSeq(keys.indices.map(r.get) :+ off)
    }
    val offsetTable = spark.createDataFrame(java.util.Arrays.asList(offsets: _*),
      StructType(keys.map(marked.schema(_)) :+ StructField("__off", LongType)))
    val ranked = marked.join(broadcast(offsetTable), keys)
      .withColumn(idName, col("__mid") + col("__off"))
      .select(col(idName) +: df.columns.map(col): _*)
    (ranked, marked)
  }
}
