package graft.corpus

import graft.model.{CorpusStats, Doc, PolyTermEntry, TermEntry, TitleEntry}
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.immutable.ArraySeq
import scala.reflect.ClassTag

/**
 * Corpus → dictionary-encoded bag-of-words pipeline; Spark-native rebuild of
 * the reference's three-MR-job ParseCorpus (reference:
 * cc/mrlda/ParseCorpus.java:81-142 and SURVEY.md §3.1).
 *
 * The reference's job structure keeps its shape and loses its jobs: the
 * task that reads a document counts its terms and caches the counts, one
 * keyed reduce gives every (language, term) its df and tf, the driver
 * bands and ranks the dictionary, and one narrow map encodes the cached
 * counts against the broadcast dictionary ([[parse]]). Raw lines are
 * sorted once, to number them.
 *
 * [[parse]] is the one parse core for both topic models, the way Mr.LDA's
 * polylda parser generalizes the vanilla one: it works on documents with
 * one text slot per language, and vanilla parsing is polylingual parsing
 * with every document in language 0. [[graft.polylda.PolyParseCorpus]] is
 * only the per-language slots in front of it.
 *
 * Scale posture (100 TB): no exchange carries tokens — the line sort moves
 * documents, the reduce moves each partition's distinct (language, term)
 * pairs. The driver holds the whole dictionary, like the reference's
 * single ranking reducer (ParseCorpus.java:475-490) and every encode task
 * (the broadcast, as the reference's DistributedCache copy): |V| entries,
 * a few hundred MB at 20M+ terms.
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
      analyzer: Option[String => Seq[String]] = None)

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
   * (reference input format, README.md:38-43, ParseCorpus.java:174-179);
   * a line without a tab is dropped (the reference throws). Documents are
   * numbered 1.. over one sort of the lines by (title, text): one id per
   * LINE, so duplicate titles stay distinct documents (the reference
   * assigns ids in merge-encounter order and tolerates duplicate titles,
   * ParseCorpus.java:698-710; sorted order is the deterministic stand-in
   * for encounter order). The title index is kept from the same pass.
   */
  def fromRawLines(spark: SparkSession, path: String, cfg: Config = Config()): Result = {
    import spark.implicits._
    val p = parse(spark, numberedLines(spark, path, fields = 2, limit = 2), numbered = true,
      titles = true, numLanguages = 1, cfg, vanillaDoc)
    result(spark, p, p.titles.get)
  }

  /** Parse a (docId, title, text) DataFrame, one row per document (e.g.
    * the `documents` table): the parse core with every document in
    * language 0; a null text is an empty document. */
  def run(input: DataFrame, cfg: Config = Config()): Result = {
    val spark = input.sparkSession
    import spark.implicits._
    val base = input.select($"docId".cast("long"), $"title", $"text")
    val lines = base.select($"docId", $"text").as[(Long, String)].rdd
      .map { case (id, text) => Line(id, null, Array(if (text == null) "" else text)) }
    result(spark, parse(spark, lines, numbered = false, titles = false, numLanguages = 1, cfg, vanillaDoc),
      base.select($"docId", $"title").as[TitleEntry])
  }

  private val vanillaDoc: (Long, Seq[(Int, Map[Int, Int], Long)]) => Doc =
    (id, langs) => Doc(id, langs.head._2, langs.head._3)

  private def result(spark: SparkSession, p: Parsed[Doc], titles: Dataset[TitleEntry]): Result = {
    import spark.implicits._
    Result(p.docs, spark.createDataset(p.terms.map(t => TermEntry(t.termId, t.term, t.df, t.tf))), titles,
      CorpusStats(p.numDocs, p.terms.length, p.docsPerLanguage.sum - p.numDocs, p.lowDf, p.highDf))
  }

  /** One document as the parse core reads it: its id — or, when the core
    * numbers the documents, its index within its partition — its title
    * (read only for a title index) and its text per language, null where
    * the document lacks the language. */
  private[graft] final case class Line(id: Long, title: String, texts: Array[String])

  /** One partition's documents, their tokens counted per language, as
    * flat arrays: document d's language l is slot s = d·langs + l, absent
    * when `!present(s)`, its distinct terms and their counts at `start(s)
    * until start(s + 1)` of `terms` and `counts`; `titles` is empty unless
    * a title index is kept. One object of a few arrays per partition, so
    * caching it sizes samples instead of walking every string. */
  private final case class Counted(langs: Int, ids: Array[Long], titles: Array[String],
      present: Array[Boolean], start: Array[Int], terms: Array[String], counts: Array[Int]) {
    /** Document d's languages, ascending, each with its slice of `terms`. */
    def slots(d: Int): Iterator[(Int, Range)] = (0 until langs).iterator.map(l => (l, d * langs + l))
      .collect { case (l, s) if present(s) => l -> (start(s) until start(s + 1)) }
  }

  /** (lang, term, df, tf) sums as parallel arrays, as one partition ships
    * them to one reducer. */
  private final case class Sums(langs: Array[Int], terms: Array[String], df: Array[Long], tf: Array[Long])

  private object Sums {
    type Builder = scala.collection.mutable.HashMap[(Int, String), Array[Long]]
    def add(m: Builder, l: Int, w: String, df: Long, tf: Long): Unit = {
      val a = m.getOrElseUpdate((l, w), new Array[Long](2))
      a(0) += df
      a(1) += tf
    }
    def of(m: Builder): Sums = {
      val es = m.toArray
      Sums(es.map(_._1._1), es.map(_._1._2), es.map(_._2(0)), es.map(_._2(1)))
    }
  }

  /** The ranked dictionary as tasks receive it: each language's terms in
    * termId order (termId = index + 1), and their ids, indexed once per JVM. */
  private final class Dictionary(val terms: Array[Array[String]]) extends Serializable {
    @transient lazy val ids: Array[java.util.HashMap[String, Integer]] = terms.map { ts =>
      val m = new java.util.HashMap[String, Integer](ts.length * 2)
      ts.indices.foreach(i => m.put(ts(i), i + 1))
      m
    }
  }

  /** The parse core's output: the documents, persisted and computed; the
    * (lang, termId, term, df, tf) dictionary by (lang, termId), ids dense
    * and 1-based within each language; the title index of numbered input
    * when asked for; and the pipeline's counters. */
  private[graft] final case class Parsed[D](
      docs: Dataset[D],
      numDocs: Long,
      terms: Seq[PolyTermEntry],
      titles: Option[Dataset[TitleEntry]],
      /** documents per language, 0 until numLanguages */
      docsPerLanguage: Seq[Long],
      lowDf: Long,
      highDf: Long)

  /** Spark's string order, UTF-8 bytes compared unsigned, on well-formed
    * strings: code point order, which `String.compareTo` (UTF-16 units) is
    * not — it puts U+FF21 after U+1F600. */
  private[graft] val Utf8Order: Ordering[String] = (a, b) => {
    var i = 0
    var r = 0
    while (r == 0 && i < a.length && i < b.length) {
      val x = a.codePointAt(i)
      r = Integer.compare(x, b.codePointAt(i))
      i += Character.charCount(x)
    }
    if (r != 0) r else Integer.compare(a.length, b.length)
  }

  /** Dictionary order within a language: df desc, tf desc, then the term
    * (the tiebreak makes the dictionary deterministic where the reference
    * depended on shuffle order). */
  private val RankOrder: Ordering[(String, Long, Long)] =
    Ordering.by((t: (String, Long, Long)) => (-t._2, -t._3, t._1))(Ordering.Tuple3(Ordering.Long, Ordering.Long, Utf8Order))

  /** Spark SQL's `lower` (UTF8_BINARY, the session's ICU case-mapping
    * setting) as a function a task can run. */
  private[graft] def sqlLower(spark: SparkSession): String => String = {
    val icu = spark.conf.get(SQLConf.ICU_CASE_MAPPINGS_ENABLED.key).toBoolean
    s => CollationSupport.Lower.exec(UTF8String.fromString(s), CollationFactory.UTF8_BINARY_COLLATION_ID, icu)
      .toString
  }

  /** The lines of `path` split on tabs as Spark SQL's `split(value, "\t",
    * limit)` does, those of `fields` fields kept, sorted once by their
    * fields in Spark's string order and numbered from 0 within each
    * partition: the core's numbered input. */
  private[graft] def numberedLines(spark: SparkSession, path: String, fields: Int, limit: Int): RDD[Line] = {
    implicit val byFields: Ordering[Array[String]] =
      Ordering.by((a: Array[String]) => ArraySeq.unsafeWrapArray(a))(Ordering.Implicits.seqOrdering(Utf8Order))
    spark.read.textFile(path).rdd.map(_.split("\t", limit)).filter(_.length == fields)
      .sortBy(identity)
      .mapPartitions { ls =>
        var i = -1L
        ls.map { f => i += 1; Line(i, f.head, f.tail) }
      }
  }

  /**
   * The one parse core: both models' documents are [[Line]]s with
   * `numLanguages` text slots, and vanilla parsing is polylingual parsing
   * with every document in language 0. Two passes over the documents:
   *
   *  1. Each task counts its documents' tokens per language (P1-P5:
   *     pluggable analyzer or whitespace split, optional lowercase,
   *     stopwords; reference ParseCorpus.java:180-207 counts in the
   *     mapper too) and keeps the counts cached. One keyed reduce sums
   *     them to (lang, term) → (df, tf) (A1/A2) along with the documents
   *     per language and per partition; its result comes to the driver,
   *     which applies each language's df band (P6, a fraction of the
   *     language's document count: reference polylda/ParseCorpus.java
   *     :242-245; with one language the vanilla rule, ParseCorpus.java
   *     :455-467) and ranks each language 1.. by (df desc, tf desc, term)
   *     (O1/O3, the reference's one ranking reducer, ParseCorpus.java
   *     :480-490).
   *  2. One narrow map encodes each document with the broadcast
   *     dictionary (J1/P7, the reference's DistributedCache dictionary,
   *     ParseCorpus.java:661-663) and builds it with `doc` from its
   *     languages that kept a term, ascending: (lang, termId → count,
   *     tokens). A document with none is collapsed.
   *
   * Numbered input gets docIds 1.. in partition order; `titles` then also
   * keeps the (docId, title) index, from the cached counts.
   */
  private[graft] def parse[D](spark: SparkSession, lines: RDD[Line], numbered: Boolean, titles: Boolean,
      numLanguages: Int, cfg: Config, doc: (Long, Seq[(Int, Map[Int, Int], Long)]) => D)
      (implicit enc: Encoder[D]): Parsed[D] = {
    import spark.implicits._
    implicit val tag: ClassTag[D] = enc.clsTag
    val tokenize: String => Iterator[String] = cfg.analyzer match {
      case Some(an) => an(_).iterator
      case None if cfg.lowercase =>
        val lower = sqlLower(spark)
        t => lower(t).split("\\s+", -1).iterator
      case None => _.split("\\s+", -1).iterator
    }
    val stop = cfg.stopwords.toSet
    val counted = lines.mapPartitions { ls =>
      val (ids, names, present) = (Array.newBuilder[Long], Array.newBuilder[String], Array.newBuilder[Boolean])
      val (start, terms, counts) = (Array.newBuilder[Int], Array.newBuilder[String], Array.newBuilder[Int])
      val m = scala.collection.mutable.HashMap.empty[String, Int]
      var n = 0
      start += 0
      ls.foreach { l =>
        ids += l.id
        if (titles) names += l.title
        l.texts.foreach { t =>
          present += t != null
          m.clear()
          if (t != null) tokenize(t).foreach(w => if (w.nonEmpty && !stop(w)) m(w) = m.getOrElse(w, 0) + 1)
          m.foreach { case (w, c) => terms += w; counts += c }
          n += m.size
          start += n
        }
      }
      Iterator(Counted(numLanguages, ids.result(), names.result(), present.result(), start.result(),
        terms.result(), counts.result()))
    }.persist(StorageLevel.MEMORY_AND_DISK)

    // one keyed reduce: each partition's sums per (lang, term), hashed by
    // term to one block per reducer; counter rows have a null term,
    // (lang, null) → documents in lang and, in reducer 0's block,
    // (-1 - p, null) → documents in partition p
    val reducers = new HashPartitioner(
      math.max(1, math.min(counted.getNumPartitions, spark.sparkContext.defaultParallelism)))
    val summed = counted.mapPartitionsWithIndex { (p, bs) =>
      val blocks = Array.fill(reducers.numPartitions)(new Sums.Builder)
      bs.foreach { b =>
        Sums.add(blocks(0), -1 - p, null, b.ids.length, 0L)
        for (d <- b.ids.indices; (l, is) <- b.slots(d)) {
          Sums.add(blocks(0), l, null, 1L, 0L)
          is.foreach(i => Sums.add(blocks(reducers.getPartition(b.terms(i))), l, b.terms(i), 1L, b.counts(i)))
        }
      }
      blocks.indices.iterator.map(r => r -> Sums.of(blocks(r)))
    }.partitionBy(reducers).mapPartitions { bs =>
      val m = new Sums.Builder
      bs.foreach { case (_, b) => b.terms.indices.foreach(i => Sums.add(m, b.langs(i), b.terms(i), b.df(i), b.tf(i))) }
      Iterator(Sums.of(m))
    }.collect()

    val docsPerLanguage = new Array[Long](numLanguages)
    val perPartition = new Array[Long](counted.getNumPartitions)
    val byLang = Array.fill(numLanguages)(Array.newBuilder[(String, Long, Long)])
    for (b <- summed; i <- b.terms.indices) (b.langs(i), b.terms(i)) match {
      case (p, null) if p < 0 => perPartition(-1 - p) = b.df(i)
      case (l, null) => docsPerLanguage(l) = b.df(i)
      case (l, w) => byLang(l) += ((w, b.df(i), b.tf(i)))
    }
    // with the default full-width band nothing is dropped or counted
    val banding = cfg.minDfFraction > 0.0 || cfg.maxDfFraction < 1.0
    var lowDf, highDf = 0L
    val ranked = byLang.indices.map { l =>
      val all = byLang(l).result()
      val (lo, hi) = (cfg.minDfFraction * docsPerLanguage(l), cfg.maxDfFraction * docsPerLanguage(l))
      if (banding) {
        lowDf += all.count(_._2 < lo)
        highDf += all.count(_._2 > hi)
      }
      (if (banding) all.filter(t => t._2 >= lo && t._2 <= hi) else all).sorted(RankOrder)
    }
    val terms = ranked.zipWithIndex.flatMap { case (ts, l) =>
      ts.iterator.zipWithIndex.map { case ((w, df, tf), i) => PolyTermEntry(l, i + 1, w, df, tf) }
    }
    val dict = spark.sparkContext.broadcast(new Dictionary(ranked.map(_.map(_._1)).toArray))

    // the first docId of each partition, for numbered input
    val offsets = perPartition.scanLeft(1L)(_ + _)
    val docs = spark.createDataset(counted.mapPartitionsWithIndex { (p, bs) =>
      val ids = dict.value.ids
      bs.flatMap(b => b.ids.indices.iterator.flatMap { d =>
        val langs = b.slots(d).flatMap { case (l, is) =>
          val kept = is.flatMap(i => Option(ids(l).get(b.terms(i))).map(id => (id.intValue, b.counts(i)))).sortBy(_._1)
          if (kept.isEmpty) None else Some((l, kept.toMap, kept.iterator.map(_._2.toLong).sum))
        }.toSeq
        if (langs.isEmpty) None else Some(doc(if (numbered) offsets(p) + b.ids(d) else b.ids(d), langs))
      })
    })
    val numDocs = materialize(docs)
    val titleIndex = if (!titles) None else {
      val t = spark.createDataset(counted.mapPartitionsWithIndex { (p, bs) =>
        bs.flatMap(b => b.ids.indices.iterator.map(d => TitleEntry(offsets(p) + b.ids(d), b.titles(d))))
      })
      materialize(t)
      Some(t)
    }
    counted.unpersist()
    dict.unpersist()
    Parsed(docs, numDocs, terms, titleIndex, docsPerLanguage.toSeq, lowDf, highDf)
  }

  /** Persists `ds` and computes it in one job, its row count: a
    * Dataset's `count` plans an aggregation exchange, which adaptive
    * execution runs as jobs of their own. */
  private def materialize(ds: Dataset[_]): Long = {
    ds.persist(StorageLevel.MEMORY_AND_DISK)
    ds.toDF().queryExecution.toRdd.count()
  }

  /**
   * Dense 1-based ranking without a single-partition window: global sort
   * (range-partitioned shuffle), then per-partition offsets. Deterministic
   * given a total ordering.
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
   * collect counts the rows and takes the first id per partition; a row's
   * id is then the rows in earlier partitions + its id − that first id + 1,
   * joined from a broadcast table of one row per partition — same role as
   * zipWithIndex's internal count job, minus the row conversions.
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
  private[graft] def rankByIndexWithCache(df: DataFrame, order: Seq[Column], idName: String)
      : (DataFrame, DataFrame) = {
    import df.sparkSession.implicits._
    val marked = df.orderBy(order: _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__mid", monotonically_increasing_id())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val firsts = marked.groupBy($"__pid").agg(count(lit(1)), min($"__mid")).as[(Int, Long, Long)]
      .collect().sortBy(_._1)
    val offsets = firsts.zip(firsts.map(_._2).scanLeft(0L)(_ + _)).map { case ((p, _, first), before) =>
      (p, before - first + 1L)
    }
    val ranked = marked.join(broadcast(offsets.toSeq.toDF("__pid", "__off")), "__pid")
      .withColumn(idName, $"__mid" + $"__off")
      .select(col(idName) +: df.columns.toSeq.map(col): _*)
    (ranked, marked)
  }
}
