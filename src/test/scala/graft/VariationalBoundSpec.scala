package graft

import graft.corpus.ParseCorpus
import graft.lda.{AlphaUpdate, Trainer}
import graft.model.{Doc, PolyDoc}
import graft.polylda.PolyTrainer

/**
 * Variational EM never lowers the bound it maximizes: from iteration 2 on
 * (the first E-step runs against the random init of unseen terms), each
 * iteration's corpus log-likelihood is at least the one before, within
 * the alpha step's tolerance — the Newton update stops at
 * [[AlphaUpdate.ConvergeThreshold]], taken here as a relative tolerance on
 * the LL. Both trainers, both beta lookups, on a small clustered corpus
 * and on a corpus of several partitions.
 */
class VariationalBoundSpec extends SparkSpec {
  import spark.implicits._

  private val tolerance = AlphaUpdate.ConvergeThreshold

  private def clustered: Seq[Doc] = {
    val fruit = Seq("apple banana cherry", "banana apple apple", "cherry banana fruit",
      "apple fruit fruit cherry", "banana banana apple")
    val metal = Seq("iron copper zinc", "copper iron iron", "zinc copper metal",
      "iron metal metal zinc", "copper copper zinc")
    ParseCorpus.run((fruit ++ metal).zipWithIndex.map { case (t, i) => (i.toLong, s"d$i", t) }
      .toDF("docId", "title", "text")).docs.collect().toSeq
  }

  /** 300 documents of 40 distinct terms each out of 1000 */
  private def wide: Seq[Doc] = {
    val rng = new scala.util.Random(17L)
    (0 until 300).map { d =>
      val counts = Iterator.continually(1 + rng.nextInt(1000)).distinct.take(40)
        .map(_ -> (1 + rng.nextInt(4))).toMap
      Doc(d.toLong, counts, counts.valuesIterator.map(_.toLong).sum)
    }
  }

  /** the documents in two languages, split by term parity */
  private def poly(docs: Seq[Doc]): Seq[PolyDoc] = docs.map { d =>
    val counts = d.counts.groupBy(_._1 % 2)
    PolyDoc(d.docId, counts, counts.map { case (l, c) => l -> c.valuesIterator.map(_.toLong).sum }, d.numTokens)
  }

  private def assertNonDecreasing(ll: Seq[Double], what: String): Unit = {
    assert(ll.length >= 4 && ll.forall(java.lang.Double.isFinite), s"$what: $ll")
    ll.drop(1).sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a - tolerance * math.abs(a), s"$what: LL fell from $a to $b in $ll")
    }
  }

  for ((corpus, docs, vocab, k) <- Seq(("clustered", () => clustered, 8, 2), ("wide", () => wide, 1000, 10));
       (lookup, ceiling) <- Seq("broadcast" -> (4L << 20), "sliced" -> 0L)) {
    test(s"the LL history does not fall from iteration 2 on: $corpus corpus, $lookup lookup, both trainers") {
      val d = docs()
      assert(d.flatMap(_.counts.keys).max <= vocab)
      val v = Trainer.train(d.toDS(), vocab, Trainer.Config(numTopics = k, maxIterations = 8,
        localIterations = 30, convergence = 0.0, seed = 3L, betaBroadcastMaxEntries = ceiling))
      assertNonDecreasing(v.llHistory, "vanilla")
      val p = PolyTrainer.train(poly(d).toDS(), Map(0 -> vocab, 1 -> vocab), PolyTrainer.Config(
        numTopics = k, maxIterations = 8, localIterations = 30, convergence = 0.0, seed = 3L,
        betaBroadcastMaxEntries = ceiling))
      assertNonDecreasing(p.llHistory, "polylingual")
    }
  }
}
