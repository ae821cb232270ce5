package ldabench

import graft.corpus.ParseCorpus
import graft.lda.{Display, LdaModel, Trainer}
import graft.model.{Doc, PolyDoc}
import graft.polylda.{PolyParseCorpus, PolyTrainer}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** One benchmark workload: a corpus shape and the training run on it. */
final case class Workload(name: String, shape: Shape, topics: Int, sweeps: Int, iterations: Int) {
  def poly: Boolean = shape.languages > 1
  def trainerConfig: Trainer.Config = Trainer.Config(
    numTopics = topics, maxIterations = iterations, localIterations = sweeps, convergence = 0.0)
  def polyConfig: PolyTrainer.Config = PolyTrainer.Config(
    numTopics = topics, maxIterations = iterations, localIterations = sweeps, convergence = 0.0)
}

/** The four timed operations of one pipeline, in seconds. */
final case class OpTimes(parse: Double, train: Double, infer: Double, inspect: Double) {
  def pipeline: Double = parse + train + infer + inspect
}

/** What one pass of the pipeline left behind: timings, live heap after each
  * operation, the check results and the model handles the traced run's
  * layer calls start from. */
final case class Outcome(
    times: OpTimes,
    heapMb: Map[String, Double],
    gcS: Double,
    problems: Seq[String],
    digest: String,
    heldoutNllPerToken: Double,
    trained: Option[Trained])

/** Final state of a vanilla run, kept for the traced layer calls. */
final case class Trained(spark: SparkSession, train: Dataset[Doc], numTerms: Int, model: LdaModel)

/** Runs one operation: timed, traced, GC time counted, live heap read
  * after a full collection outside the timed window. */
private final class OpClock(tracer: Tracer) {
  val seconds = scala.collection.mutable.LinkedHashMap[String, Double]()
  val heapMb = scala.collection.mutable.LinkedHashMap[String, Double]()
  var gcS = 0.0

  def apply[T](op: String, span: String)(body: => T): T = {
    val gc0 = OpClock.gcMillis()
    val t0 = System.nanoTime()
    val r = tracer.span(span)(body)
    seconds(op) = (System.nanoTime() - t0) / 1e9
    gcS += (OpClock.gcMillis() - gc0) / 1e3
    heapMb(op) = OpClock.liveHeapMb()
    r
  }

  def times: OpTimes = OpTimes(seconds("parse"), seconds("train"), seconds("infer"), seconds("inspect"))
}

private object OpClock {
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use after a full collection. `System.gc()` can return without
    * one (a JNI critical section holding the GC locker, say), which once in
    * twenty runs read three times the live heap; the smaller of two reads
    * is the live heap. */
  def liveHeapMb(): Double = Seq.fill(2) {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }.min
}

/**
 * parse → train → held-out infer → inspect through the library's public
 * calls only. Held-out documents are chosen after parsing, from the title
 * the generator wrote, so they share the training dictionary.
 */
object Pipeline {

  val TopTerms = 10

  /** One pass; `keep` leaves the vanilla run's datasets cached for the
    * traced layer calls. */
  def run(spark: SparkSession, wl: Workload, corpus: String, info: CorpusInfo,
      tracer: Tracer, keep: Boolean): Outcome = {
    val op = new OpClock(tracer)
    if (wl.poly) poly(spark, wl, corpus, info, op) else vanilla(spark, wl, corpus, info, op, keep)
  }

  private def vanilla(spark: SparkSession, wl: Workload, corpus: String, info: CorpusInfo,
      op: OpClock, keep: Boolean): Outcome = {
    import spark.implicits._
    val (parsed, train, held) = op("parse", "corpus")(parseVanilla(spark, corpus))
    val numTerms = parsed.stats.numTerms.toInt
    val model = op("train", "lda.trainer") {
      Trainer.train(train, numTerms, wl.trainerConfig)
    }
    val (gamma, heldLl) = op("infer", "lda.infer") {
      Trainer.infer(held, model, localIterations = wl.sweeps)
    }
    val (top, props) = op("inspect", "lda.display") {
      (Display.topTermsPerTopic(Display.betaToDF(spark, model), parsed.terms, TopTerms).collect(),
        Display.documentTopics(gamma).collect())
    }

    val topLines = top.toSeq.map(r => Checks.termLine(r.getAs[Int]("topic"), r.getAs[Int]("rank"),
      r.getAs[String]("term"), r.getAs[Double]("score")))
    val problems =
      Checks.model(wl.topics, model.iterations, wl.iterations, model.alpha,
        model.beta.valuesIterator, model.llHistory) ++
        Checks.proportions(props.toSeq.map(r => r.getAs[Long]("docId") -> r.getAs[Double]("proportion")),
          info.heldoutDocs) ++
        Checks.count("top terms", top.length, wl.topics.toLong * TopTerms) ++
        Checks.finite("held-out likelihood", heldLl)
    Outcome(op.times, op.heapMb.toMap, op.gcS, problems, Checks.digest(topLines, model.llHistory),
      -heldLl / info.heldoutTokens,
      if (keep) Some(Trained(spark, train, numTerms, model)) else None)
  }

  private def poly(spark: SparkSession, wl: Workload, corpus: String, info: CorpusInfo,
      op: OpClock): Outcome = {
    import spark.implicits._
    val (parsed, numTerms, train, held) = op("parse", "polylda.parse")(parsePoly(spark, wl, corpus))
    val model = op("train", "polylda.trainer") {
      PolyTrainer.train(train, numTerms, wl.polyConfig)
    }
    val (gamma, heldLl) = op("infer", "polylda.infer") {
      PolyTrainer.infer(held, model, localIterations = wl.sweeps)
    }
    val top = op("inspect", "polylda.display") {
      PolyTrainer.topTermsPerTopic(spark, model, parsed.terms, TopTerms).collect()
    }

    val topLines = top.toSeq.map(r => Checks.termLine(r.getAs[Int]("lang"), r.getAs[Int]("topic"),
      r.getAs[Int]("rnk"), r.getAs[String]("term"), r.getAs[Double]("score")))
    val gammaRows = gamma.as[(Long, Array[Double])].collect()
    val problems =
      Checks.model(wl.topics, model.iterations, wl.iterations, model.alpha,
        model.beta.valuesIterator.flatMap(_.valuesIterator), model.llHistory) ++
        Checks.proportions(Checks.gammaProportions(gammaRows), info.heldoutDocs) ++
        Checks.count("top terms", top.length, wl.shape.languages.toLong * wl.topics * TopTerms) ++
        Checks.finite("held-out likelihood", heldLl)
    Outcome(op.times, op.heapMb.toMap, op.gcS, problems, Checks.digest(topLines, model.llHistory),
      -heldLl / info.heldoutTokens, None)
  }

  /** Parses raw lines and splits the documents into (train, held out) by
    * the generator index in each title (`d<index>`); both splits come back
    * cached and computed. */
  def parseVanilla(spark: SparkSession, corpus: String)
      : (ParseCorpus.Result, Dataset[Doc], Dataset[Doc]) = {
    import spark.implicits._
    val p = ParseCorpus.fromRawLines(spark, corpus)
    val heldIds = p.titles
      .filter((substring($"title", 2, 16).cast("long") % Corpora.HeldoutEvery) === 0)
      .select($"docId")
    (p, materialize(p.docs.join(heldIds, Seq("docId"), "left_anti").as[Doc]),
      materialize(p.docs.join(heldIds, Seq("docId"), "left_semi").as[Doc]))
  }

  /** Parses bilingual raw lines: (result, vocabulary size per language,
    * train, held out), the splits cached and computed. */
  def parsePoly(spark: SparkSession, wl: Workload, corpus: String)
      : (PolyParseCorpus.Result, Map[Int, Int], Dataset[PolyDoc], Dataset[PolyDoc]) = {
    import spark.implicits._
    val p = PolyParseCorpus.fromRawLines(spark, corpus,
      PolyParseCorpus.Config(numLanguages = wl.shape.languages))
    val numTerms = p.terms.groupBy($"lang").agg(max($"termId").as("v"))
      .collect().map(r => r.getAs[Int]("lang") -> r.getAs[Int]("v")).toMap
    // PolyParseCorpus keeps no title index: it numbers documents 1.. in
    // title order, and generator titles sort in generator order, so
    // docId - 1 is the generator index the held-out rule reads
    val heldout = (($"docId" - 1) % Corpora.HeldoutEvery) === 0
    (p, numTerms, materialize(p.docs.filter(!heldout)), materialize(p.docs.filter(heldout)))
  }

  /** Caches a split and computes it, so the parse operation owns the
    * split and the operations after it start from cached rows. */
  private def materialize[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist(StorageLevel.MEMORY_AND_DISK).count()
    ds
  }

  /** Drops every cached dataset so one pass does not feed the next. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
