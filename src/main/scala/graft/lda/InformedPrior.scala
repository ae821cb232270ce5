package graft.lda

import graft.model.TermEntry
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * Informed-prior compilation (reference: cc/mrlda/InformedPrior.java:139-177,
 * operator J4/D6): per-topic seed-word lists joined against the term
 * dictionary; unknown words are dropped (the reference logs and skips them),
 * and a word listed twice for a topic is one seed (the reference keeps a
 * per-topic seed set). The result feeds MStep's eta smoothing.
 */
object InformedPrior {

  /** @param seedWords (topic 1..K, term String) rows
    * @return distinct (topic, termId) pairs for MStep.run's `prior` */
  def compile(seedWords: DataFrame, terms: Dataset[TermEntry]): DataFrame = {
    val spark = seedWords.sparkSession
    import spark.implicits._
    seedWords.join(broadcast(terms.toDF().select($"termId", $"term")), "term")
      .select($"topic", $"termId")
      .distinct()
  }
}
