package graft.queries

import graft.polylda.{PolyParseCorpus, PolyPlantedLda, PolyTrainer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Polylingual-LDA capabilities (reference cc/mrlda/polylda) as declared
 * queries. A deterministic bilingual corpus is derived from the `documents`
 * table so DuckDB can oracle-check the corpus pipeline exactly:
 *   language 0 = the text verbatim;
 *   language 1 = only the even-length tokens (a different vocabulary/df
 *                profile), with every 7th document missing (`"null"` slot —
 *                the reference's missing-language literal,
 *                polylda/ParseCorpus.java:318).
 */
object PolyldaQueries {

  private[queries] def bilingualInput(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Registry.t(s, dir, "documents")
      .select($"doc_id".cast("long").as("docId"),
        $"doc_id".cast("string").as("title"),
        array(
          $"text",
          when($"doc_id" % 7 === 0, lit("null"))
            .otherwise(concat_ws(" ",
              filter(graft.pipeline.TextAnalysis.wsTokens($"text"),
                x => length(x) % 2 === 0)))).as("texts"))
  }

  private[queries] def parsed(s: SparkSession, dir: String) =
    PolyParseCorpus.run(bilingualInput(s, dir), PolyParseCorpus.Config(numLanguages = 2))

  /** shared DuckDB CTEs reproducing the bilingual derivation */
  private val BilingualCtes =
    """WITH l0 AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
      |  FROM documents),
      |l1 AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
      |           x -> x <> '' AND len(x) % 2 = 0)) AS token
      |  FROM documents WHERE doc_id % 7 <> 0)""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "polylda_dictionary" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        parsed(s, dir).terms.toDF()
          .select($"lang", $"termId".as("term_id"), $"term", $"df", $"tf")
          .orderBy($"lang", $"term_id")
      },
      Some(BilingualCtes +
        """,
          |agg AS (
          |  SELECT CAST(0 AS INT) AS lang, token, count(DISTINCT doc_id) AS df, count(*) AS tf
          |  FROM l0 GROUP BY token
          |  UNION ALL
          |  SELECT CAST(1 AS INT), token, count(DISTINCT doc_id), count(*)
          |  FROM l1 GROUP BY token)
          |SELECT lang,
          |       CAST(row_number() OVER (PARTITION BY lang ORDER BY df DESC, tf DESC, token ASC) AS INT) AS term_id,
          |       token AS term, df, tf
          |FROM agg ORDER BY lang, term_id""".stripMargin)),

    "polylda_encoded_docs" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        parsed(s, dir).docs.toDF()
          .select($"docId".as("doc_id"), explode($"counts").as(Seq("lang", "m")),
            $"numTokens")
          .select($"doc_id", $"lang", size($"m").as("distinct_terms"),
            element_at($"numTokens", $"lang").as("num_tokens"))
          .orderBy($"doc_id", $"lang")
      },
      Some(BilingualCtes +
        """
          |SELECT * FROM (
          |  SELECT doc_id, CAST(0 AS INT) AS lang,
          |         CAST(count(DISTINCT token) AS INT) AS distinct_terms,
          |         count(*) AS num_tokens
          |  FROM l0 GROUP BY doc_id
          |  UNION ALL
          |  SELECT doc_id, CAST(1 AS INT),
          |         CAST(count(DISTINCT token) AS INT), count(*)
          |  FROM l1 GROUP BY doc_id)
          |ORDER BY doc_id, lang""".stripMargin)),

    /** trained tied-gamma model: top-5 terms per (language, topic) —
      * model output, rows-only check like lda_top_terms. */
    "polylda_top_terms" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val p = parsed(s, dir)
        val numTerms = p.terms.groupBy($"lang").agg(max($"termId").as("v"))
          .collect().map(r => r.getAs[Int]("lang") -> r.getAs[Int]("v")).toMap
        val m = PolyTrainer.train(p.docs, numTerms,
          PolyTrainer.Config(numTopics = 5, maxIterations = 3, localIterations = 20, seed = 42L))
        PolyTrainer.topTermsPerTopic(s, m, p.terms, k = 5)
          .orderBy($"lang", $"topic", $"rnk")
      },
      None),

    /** The same polylingual training through the SLICED beta lookup
      * (each corpus partition gets the (lang, term) rows of its own terms,
      * the Σ_l K×V_l scale path), forced via betaBroadcastMaxEntries = 0. Benched so
      * the poly scale path has a timed row (the poly twin of
      * lda_top_terms_shuffle); path parity with the broadcast E-step is
      * pinned by PolyldaSpec and the planted shuffle replay below. */
    "polylda_top_terms_shuffle" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val p = parsed(s, dir)
        val numTerms = p.terms.groupBy($"lang").agg(max($"termId").as("v"))
          .collect().map(r => r.getAs[Int]("lang") -> r.getAs[Int]("v")).toMap
        val m = PolyTrainer.train(p.docs, numTerms,
          PolyTrainer.Config(numTopics = 5, maxIterations = 3, localIterations = 20,
            seed = 42L, betaBroadcastMaxEntries = 0L))
        PolyTrainer.topTermsPerTopic(s, m, p.terms, k = 5)
          .orderBy($"lang", $"topic", $"rnk")
      },
      None, bench = true),

    /** Planted polylingual micro-EM, fully hash-oracled — the polylda
      * core (tied-gamma E-step across languages, eta-free floored
      * M-step) replayed in DuckDB; see PolyPlantedLda / the vanilla
      * q_lda_planted_em. */
    "q_polylda_planted_em" -> QueryDef(
      (s, dir) => PolyPlantedLda.run(s, dir),
      Some(LdaPlantedOracle.polySql)),

    /** Same planted trajectory through the polylingual SLICED beta
      * lookup (the Σ_l K×V_l scale path) — identical oracle by anchored
      * path-independence. */
    "q_polylda_planted_em_shuffle" -> QueryDef(
      (s, dir) => PolyPlantedLda.run(s, dir, useShuffle = true),
      Some(LdaPlantedOracle.polySql)))
}
