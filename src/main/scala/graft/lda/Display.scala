package graft.lda

import graft.lda.EmCore.Keys
import graft.model.TermEntry
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._

/**
 * Model inspection — the reference's read-path "queries"
 * (cc/mrlda/DisplayTopic.java:97-143 and DisplayDocument.java:81-103),
 * over the model on the driver, the dictionary and the documents' gammas
 * read as DataFrames. One ranking serves both topic models: vanilla LDA is
 * language 0, and its rows carry no `lang` column ([[EmCore.Keys]]).
 */
object Display {

  /**
   * Top-k terms per (lang, topic) by E[log β] → (lang, topic, rank, term,
   * score) rows by (lang, topic, rank), ranked on the driver (reference O4:
   * a bounded TreeMap per topic, DisplayTopic.java:97-143 — here a bounded
   * heap per (lang, topic), scores in Spark's double order, ties broken by
   * termId so output is deterministic). `beta` holds (lang, topic, termId,
   * E[log β]) entries, vanilla LDA's in language 0; `terms` is the
   * dictionary, (lang…, termId, term), read in one job for the ranked terms
   * only. A model term the dictionary lacks is skipped, and the next term
   * ranks in its place.
   */
  private[graft] def rankTerms(beta: Iterable[(Int, Int, Int, Double)], terms: DataFrame, keys: Keys,
      k: Int): Seq[(Int, Int, Int, String, Double)] = {
    import terms.sparkSession.implicits._
    val best: Ordering[(Int, Double)] = (a, b) => {
      val c = SQLOrderingUtil.compareDoubles(b._2, a._2)
      if (c != 0) c else Integer.compare(a._1, b._1)
    }
    @annotation.tailrec
    def ranked(skip: Set[(Int, Int)]): Seq[(Int, Int, Int, String, Double)] = {
      val heaps = scala.collection.mutable.HashMap.empty[(Int, Int), java.util.PriorityQueue[(Int, Double)]]
      for ((l, t, w, score) <- beta if !skip((l, w))) {
        val h = heaps.getOrElseUpdate((l, t), new java.util.PriorityQueue(math.max(k, 0) + 1, best.reverse))
        h.add((w, score))
        if (h.size > k) h.poll()
      }
      val top = heaps.toSeq.sortBy(_._1).map { case (lt, h) => lt -> h.toArray(Array.empty[(Int, Double)]).sorted(best) }
      val ids = top.flatMap(_._2.map(_._1)).distinct
      val names = terms.select(keys.lang, col("termId"), col("term")).filter(col("termId").isin(ids: _*))
        .as[(Int, Int, String)].collect().map { case (l, w, term) => (l, w) -> term }.toMap
      val missing = top.flatMap { case ((l, _), ws) => ws.map(w => (l, w._1)) }.filterNot(names.contains)
      if (missing.nonEmpty) ranked(skip ++ missing)
      else top.flatMap { case ((l, t), ws) =>
        ws.indices.map(r => (l, t, r + 1, names((l, ws(r)._1)), ws(r)._2))
      }
    }
    ranked(Set.empty)
  }

  /** Model beta map -> (topic 1..K, termId, elogbeta) DataFrame. */
  def betaToDF(spark: SparkSession, model: LdaModel): DataFrame =
    EmCore.betaRows(spark, VanillaDocs.keys, model.beta.toSeq.map { case (w, arr) => (0, w, arr) })

  /** Top-k terms per topic of (topic, termId, elogbeta) rows — a model's
    * [[betaToDF]] or a beta-<i> snapshot, collected — → a local (topic,
    * rank, term, score) DataFrame, ordered. */
  def topTermsPerTopic(beta: DataFrame, terms: Dataset[TermEntry], k: Int = 10): DataFrame = {
    import beta.sparkSession.implicits._
    val rows = beta.select($"topic", $"termId", $"elogbeta").as[(Int, Int, Double)].collect()
    rankTerms(rows.map { case (t, w, s) => (0, t, w, s) }, terms.toDF(), VanillaDocs.keys, k)
      .toDF("lang", "topic", "rank", "term", "score").drop("lang")
  }

  /** Per-document topic proportions from gamma (reference D8). */
  def documentTopics(gammaDocs: DataFrame): DataFrame = {
    val spark = gammaDocs.sparkSession
    import spark.implicits._
    gammaDocs
      .select($"docId", posexplode($"gamma").as(Seq("topicIdx", "g")),
        aggregate($"gamma", lit(0.0), (a, x) => a + x).as("gsum"))
      .select($"docId", ($"topicIdx" + 1).as("topic"), ($"g" / $"gsum").as("proportion"))
  }
}
