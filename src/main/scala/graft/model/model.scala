package graft.model

/**
 * Core data model (SURVEY.md §1.1).
 *
 * `Doc` is the dictionary-encoded bag-of-words document — the Spark-native
 * equivalent of the reference's sparse `Document` Writable
 * (reference: cc/mrlda/Document.java:27,32,37): termId -> count, the token
 * total, and the optional per-topic variational posterior gamma carried
 * between EM iterations (warm start, DocumentMapper.java:184-193).
 */
case class Doc(
    docId: Long,
    counts: Map[Int, Int],
    numTokens: Long,
    gamma: Option[Array[Double]] = None)

/**
 * Polylingual document (reference: cc/mrlda/polylda/Document.java:22-37):
 * one bag of words per language keyed by 0-based language index (a missing
 * language has no key — the reference's nullable per-slot HMapII[]), one
 * shared topic posterior gamma across all languages (the tied-gamma model).
 */
case class PolyDoc(
    docId: Long,
    counts: Map[Int, Map[Int, Int]],
    numTokens: Map[Int, Long],
    totalTokens: Long,
    gamma: Option[Array[Double]] = None)

/** Dictionary row: ids dense and 1-based (0 reserved — reference README.md:284),
  * ordered by (df desc, tf desc, term asc). */
case class TermEntry(termId: Int, term: String, df: Long, tf: Long)

/** Per-language dictionary row: ids dense and 1-based *within each language*
  * (reference: cc/mrlda/polylda/ParseCorpus.java:578-616). */
case class PolyTermEntry(lang: Int, termId: Int, term: String, df: Long, tf: Long)

/** Title-index row (reference: ParseCorpus.java:698-710). */
case class TitleEntry(docId: Long, title: String)

/** Counters surfaced by the corpus pipeline
  * (reference: ParseCorpus.java:67,123-126 counter semantics). */
case class CorpusStats(numDocs: Long, numTerms: Long, collapsedDocs: Long,
    lowDfTerms: Long, highDfTerms: Long)
