package graft.queries

import graft.corpus.ParseCorpus
import graft.lda.{Display, Trainer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The LDA-pipeline capabilities as declared queries over the `documents`
 * test table. Tokenize/df-tf/dictionary have exact DuckDB oracles; the
 * trained-model queries are not SQL-expressible (driver records rows-only
 * checks for them).
 */
object CorpusQueries {

  private def docsDf(s: SparkSession, dir: String): DataFrame =
    Registry.t(s, dir, "documents")
      .selectExpr("doc_id as docId", "cast(doc_id as string) as title", "text")

  // Parse and training are deterministic per (session, dir): memoize so the
  // queries sharing them (dictionary/encoded/prior parse; top_terms/doc_topics
  // model) don't re-run a 5-iteration EM per registry entry. The cache holds
  // persisted Datasets, so entries are only valid while their session lives —
  // key on the session identity too.
  private val parseCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), ParseCorpus.Result]()
  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), graft.lda.LdaModel]()

  private[queries] def parsedCorpus(s: SparkSession, dir: String): ParseCorpus.Result =
    parseCache.computeIfAbsent((s, dir), _ => ParseCorpus.run(docsDf(s, dir)))

  /** Drop the memoized parse + model for (session, dir) and release
    * their persisted blocks — Bench's band re-measure calls this so a
    * re-timed LDA row really re-runs the training instead of reading
    * the memo (which would record a meaningless sub-second number). */
  private[graft] def invalidateCaches(s: SparkSession, dir: String): Unit = {
    val parsed = parseCache.remove((s, dir))
    modelCache.remove((s, dir))
    if (parsed != null) {
      try { parsed.docs.unpersist(); parsed.terms.unpersist(); parsed.titles.unpersist() }
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** deterministic small training run shared by the model queries */
  private def model(s: SparkSession, dir: String): (ParseCorpus.Result, graft.lda.LdaModel) = {
    val parsed = parsedCorpus(s, dir)
    val m = modelCache.computeIfAbsent((s, dir), _ =>
      Trainer.train(parsed.docs, parsed.stats.numTerms.toInt,
        Trainer.Config(numTopics = 5, maxIterations = 5, localIterations = 20, seed = 42L)))
    (parsed, m)
  }

  val defs: Map[String, QueryDef] = Map(
    "corpus_wordcount" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        docsDf(s, dir)
          .select($"docId", explode(split($"text", " ")).as("token"))
          .filter($"token" =!= "")
          .groupBy($"token")
          .agg(count(lit(1)).as("tf"), countDistinct($"docId").as("df"))
          .orderBy($"token")
      },
      Some("""SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
             |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) u
             |WHERE token <> '' GROUP BY token ORDER BY token""".stripMargin),
      bench = true),

    "corpus_dictionary" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val parsed = parsedCorpus(s, dir)
        parsed.terms.toDF()
          .select($"termId".as("term_id"), $"term", $"df", $"tf")
          .orderBy($"term_id")
      },
      Some("""SELECT CAST(row_number() OVER (ORDER BY df DESC, tf DESC, token ASC) AS INT) AS term_id,
             |       token AS term, df, tf
             |FROM (SELECT token, count(DISTINCT doc_id) AS df, count(*) AS tf
             |      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) u
             |      WHERE token <> '' GROUP BY token)
             |ORDER BY term_id""".stripMargin)),

    // the full English analyzer chain (P3) driving the corpus build,
    // oracled end-to-end: the closed fixture vocabulary makes the Porter
    // stage an explicit stem map (hand-derived from the published rules,
    // independently pinned in PorterStemmerSpec), the stop filter drops
    // 'a'/'the', and the dictionary ranking replays as a window
    "corpus_english_dictionary" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val parsed = ParseCorpus.run(docsDf(s, dir),
          ParseCorpus.Config(analyzer = Some(ParseCorpus.Analyzers.english)))
        parsed.terms.toDF()
          .select($"termId".as("term_id"), $"term", $"df", $"tf")
          .orderBy($"term_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
             |  FROM documents),
             |mapped AS (
             |  SELECT doc_id,
             |    CASE tok WHEN 'customer' THEN 'custom' WHEN 'key' THEN 'kei'
             |      WHEN 'merge' THEN 'merg' WHEN 'query' THEN 'queri'
             |      WHEN 'table' THEN 'tabl' WHEN 'value' THEN 'valu'
             |      ELSE tok END AS stem
             |  FROM toks
             |  WHERE tok <> '' AND tok NOT IN ('a','an','and','are','as','at',
             |    'be','but','by','for','if','in','into','is','it','no','not',
             |    'of','on','or','such','that','the','their','then','there',
             |    'these','they','this','to','was','will','with')),
             |agg AS (
             |  SELECT stem, count(DISTINCT doc_id) AS df, count(*) AS tf
             |  FROM mapped GROUP BY stem)
             |SELECT CAST(row_number() OVER (ORDER BY df DESC, tf DESC, stem ASC) AS INT) AS term_id,
             |       stem AS term, df, tf
             |FROM agg ORDER BY term_id""".stripMargin)),

    // UMass topic coherence over deterministic term sets (the top-15
    // corpus terms by the dictionary ranking, dealt into 3 sets of 5) —
    // the co-occurrence joins and the log-sum replay exactly in SQL
    // (DuckDB ln(); its log() is log10). The same operator scores real
    // trained topics in LdaSpec.
    "q_topic_coherence" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val tok = docsDf(s, dir)
          .select($"docId".as("doc_id"), explode(split($"text", " ")).as("term"))
          .filter($"term" =!= "")
        val stats = tok.groupBy($"term")
          .agg(countDistinct($"doc_id").as("df"), count(lit(1)).as("tf"))
        // model-sized ranking (vocab rows post-aggregate), so the single-
        // partition window is bounded by the dictionary, not the corpus
        val w = org.apache.spark.sql.expressions.Window
          .orderBy($"df".desc, $"tf".desc, $"term".asc)
        val sets = stats.withColumn("rn", row_number().over(w))
          .filter($"rn" <= 15)
          .select((($"rn" - 1) / 5).cast("int").as("set_id"),
            ((($"rn" - 1) % 5) + 1).cast("int").as("rank"), $"term")
        graft.lda.Eval.umassCoherence(tok, "doc_id", "term",
            sets, "set_id", "rank", "term")
          .orderBy($"set_id")
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
             |  FROM documents),
             |tok2 AS (SELECT * FROM tok WHERE term <> ''),
             |stats AS (
             |  SELECT term, count(DISTINCT doc_id) AS df, count(*) AS tf
             |  FROM tok2 GROUP BY term),
             |ranked AS (
             |  SELECT term, row_number() OVER (ORDER BY df DESC, tf DESC, term ASC) AS rn
             |  FROM stats),
             |sets AS (
             |  SELECT CAST((rn - 1) // 5 AS INT) AS set_id,
             |         CAST((rn - 1) % 5 + 1 AS INT) AS rank, term
             |  FROM ranked WHERE rn <= 15),
             |inc AS (
             |  SELECT DISTINCT t.doc_id AS doc, t.term
             |  FROM tok2 t JOIN (SELECT DISTINCT term FROM sets) e USING (term)),
             |dfc AS (SELECT term, count(*) AS df FROM inc GROUP BY term),
             |pairs AS (
             |  SELECT si.set_id, si.term AS term_i, sj.term AS term_j
             |  FROM sets si JOIN sets sj
             |    ON si.set_id = sj.set_id AND si.rank > sj.rank),
             |codoc AS (
             |  SELECT a.term AS term_i, b.term AS term_j, count(*) AS d_ij
             |  FROM inc a JOIN inc b USING (doc) GROUP BY 1, 2)
             |SELECT p.set_id, count(*) AS n_pairs,
             |  round(sum(ln((coalesce(c.d_ij, 0) + 1) / CAST(d.df AS DOUBLE))), 6) AS coherence
             |FROM pairs p
             |LEFT JOIN codoc c ON c.term_i = p.term_i AND c.term_j = p.term_j
             |JOIN dfc d ON d.term = p.term_j
             |GROUP BY p.set_id ORDER BY p.set_id""".stripMargin)),

    "corpus_encoded_docs" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        // encoded corpus summary: per doc, vocabulary size and token count
        val parsed = parsedCorpus(s, dir)
        parsed.docs.toDF()
          .select($"docId".as("doc_id"), size($"counts").as("distinct_terms"),
            $"numTokens".as("num_tokens"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id, CAST(count(DISTINCT token) AS INT) AS distinct_terms,
             |       count(*) AS num_tokens
             |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) u
             |WHERE token <> '' GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    "lda_top_terms" -> QueryDef(
      (s, dir) => {
        val (parsed, m) = model(s, dir)
        Display.topTermsPerTopic(Display.betaToDF(s, m), parsed.terms, k = 10)
      },
      None, bench = true),

    /** Same training run forced onto the sliced beta lookup
      * (`betaBroadcastMaxEntries = 0`) — the 100 TB path where only L·K
      * normalisers per reducer reach the driver in an iteration and each
      * corpus partition gets the beta rows of its own terms. Benched so
      * the scale path has a timed row; bit-identity with the broadcast
      * lookup is pinned in sbt (TrainerPathsSpec / FitDeterminismSpec). Deliberately NOT cached: the
      * bench must time a full shuffle-mode training run. */
    "lda_top_terms_shuffle" -> QueryDef(
      (s, dir) => {
        val parsed = parsedCorpus(s, dir)
        val m = Trainer.train(parsed.docs, parsed.stats.numTerms.toInt,
          Trainer.Config(numTopics = 5, maxIterations = 5, localIterations = 20,
            seed = 42L, betaBroadcastMaxEntries = 0L))
        Display.topTermsPerTopic(Display.betaToDF(s, m), parsed.terms, k = 10)
      },
      None, bench = true),

    /** Planted micro-EM, fully hash-oracled: the reference's CORE math
      * (E-step fixed point, M-step lambda/eta/E[log beta]) on real
      * operators with rounding-anchored handoffs, replayed in DuckDB as
      * unrolled CTEs — the independent-engine check the full-scale
      * golden-pinned rows cannot have (see CATALOG.md). */
    "q_lda_planted_em" -> QueryDef(
      (s, dir) => graft.lda.PlantedLda.run(s, dir),
      Some(LdaPlantedOracle.sql)),

    /** The SAME planted trajectory through the SLICED beta lookup (the
      * 100 TB path behind lda_top_terms_shuffle: each corpus partition
      * gets the rows of its own terms): the anchored handoffs make the
      * trajectory execution-path-independent, so the identical DuckDB
      * oracle verifies the scale path too. */
    "q_lda_planted_em_shuffle" -> QueryDef(
      (s, dir) => graft.lda.PlantedLda.run(s, dir, useShuffle = true),
      Some(LdaPlantedOracle.sql)),

    /** The alpha Newton leg (D1 vector + D2 scalar, the verbatim
      * reference ports) run UNMODIFIED on the planted trajectory's
      * anchored sufficient statistics, replayed in DuckDB as a
      * fixed-depth Newton unroll with benign-path guards. */
    "q_lda_planted_alpha" -> QueryDef(
      (s, dir) => graft.lda.PlantedLda.alphaRows(s, dir),
      Some(LdaPlantedOracle.alphaSql)),

    /** Held-out inference (D5) on the planted model: fresh-init
      * E-step sweeps with learning off against the final beta —
      * the production inference shape, engine-replayed. */
    "q_lda_planted_infer" -> QueryDef(
      (s, dir) => graft.lda.PlantedLda.inferRows(s, dir),
      Some(LdaPlantedOracle.inferSql)),

    /** Per-doc variational log-likelihood from the planted run's final
      * E-step — the logGamma (Lanczos) kernel's engine witness
      * (reference DocumentMapper.java:244-254). */
    "q_lda_planted_ll" -> QueryDef(
      (s, dir) => graft.lda.PlantedLda.llRows(s, dir),
      Some(LdaPlantedOracle.llSql)),

    "lda_doc_topics" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val (parsed, m) = model(s, dir)
        val (gamma, _) = Trainer.infer(parsed.docs, m, localIterations = 20)
        Display.documentTopics(gamma).orderBy($"docId", $"topic")
      },
      None),

    "lda_informed_prior" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val parsed = parsedCorpus(s, dir)
        val seeds = Seq((1, "spark"), (1, "data"), (2, "join"), (2, "query"))
          .toDF("topic", "term")
        graft.lda.InformedPrior.compile(seeds, parsed.terms)
          .select($"topic", $"termId".as("term_id"))
          .orderBy($"topic", $"term_id")
      },
      Some("""WITH dict AS (
             |  SELECT CAST(row_number() OVER (ORDER BY df DESC, tf DESC, token ASC) AS INT) AS term_id,
             |         token AS term
             |  FROM (SELECT token, count(DISTINCT doc_id) AS df, count(*) AS tf
             |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) u
             |        WHERE token <> '' GROUP BY token)),
             |seeds(topic, term) AS (VALUES (1, 'spark'), (1, 'data'), (2, 'join'), (2, 'query'))
             |SELECT s.topic, d.term_id FROM seeds s JOIN dict d ON s.term = d.term
             |ORDER BY topic, term_id""".stripMargin)))
}
