package graft.lda

import graft.lda.EmCore.Keys
import graft.model.TermEntry
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Model inspection — the reference's read-path "queries"
 * (cc/mrlda/DisplayTopic.java:97-143 and DisplayDocument.java:81-103),
 * expressed as DataFrame plans instead of driver-side scans. One ranking
 * serves both topic models: vanilla LDA is language 0, and its rows carry
 * no `lang` column ([[EmCore.Keys]]).
 */
object Display {

  /** Top-k terms per (lang…, topic) by E[log β] → (lang…, topic, rank,
    * term, score) (reference O4: bounded TreeMap per topic → here a
    * ranking window; ties broken by termId so output is deterministic).
    * `terms` is the dictionary: (lang…, termId, term). */
  private[graft] def rankTerms(beta: DataFrame, terms: DataFrame, keys: Keys, k: Int): DataFrame = {
    val w = Window.partitionBy(keys.norm.map(col): _*)
      .orderBy(col("elogbeta").desc, col("termId").asc)
    beta.join(broadcast(terms.select((keys.term :+ "term").map(col): _*)), keys.term)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(keys.norm.map(col) ++ Seq(col("rank"), col("term"), col("elogbeta").as("score")): _*)
  }

  /** Model beta map -> (topic 1..K, termId, elogbeta) DataFrame. */
  def betaToDF(spark: SparkSession, model: LdaModel): DataFrame =
    EmCore.betaRows(spark, VanillaDocs.keys, model.beta.toSeq.map { case (w, arr) => (0, w, arr) })

  /** Top-k terms per topic → (topic, rank, term, score), ordered. */
  def topTermsPerTopic(beta: DataFrame, terms: Dataset[TermEntry], k: Int = 10): DataFrame =
    rankTerms(beta, terms.toDF(), VanillaDocs.keys, k).orderBy(col("topic"), col("rank"))

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
