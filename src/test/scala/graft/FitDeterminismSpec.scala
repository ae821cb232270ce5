package graft

import graft.lda.{EmCore, Trainer}
import graft.model.{Doc, PolyDoc}
import graft.polylda.PolyTrainer
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/**
 * A trained model is a function of the corpus and the settings: both
 * trainers give bit-identical LL histories, alpha and beta on `local[1]`
 * and `local[4]`, and twice in one session. The corpus starts in one
 * partition on `local[1]` and in four on `local[4]`; training partitions
 * it by E-step work, and the M-step merges its partials in partition
 * order, whichever task finishes first.
 */
class FitDeterminismSpec extends AnyFunSuite {

  private val topics = 20
  private val sweeps = 30
  private val vocab = 3000

  /** 400 documents of 60 distinct terms: several partitions of work */
  private val corpus: Seq[Doc] = {
    val rng = new scala.util.Random(7L)
    (0 until 400).map { d =>
      val counts = Iterator.continually(1 + rng.nextInt(vocab)).distinct.take(60)
        .map(_ -> (1 + rng.nextInt(4))).toMap
      Doc(d.toLong, counts, counts.valuesIterator.map(_.toLong).sum)
    }
  }

  /** the same documents split into two languages by term parity */
  private val polyCorpus: Seq[PolyDoc] = corpus.map { d =>
    val counts = d.counts.groupBy(_._1 % 2)
    PolyDoc(d.docId, counts, counts.map { case (l, c) => l -> c.valuesIterator.map(_.toLong).sum },
      d.numTokens)
  }

  /** (LL history, alpha, beta) of one trainer */
  private type Trained = (Seq[Double], Seq[Double], Map[(Int, Int), Seq[Double]])

  private def train(spark: SparkSession): Seq[Trained] = trainWith(spark, 4L << 20)

  /** `ceiling`: the trainers' `betaBroadcastMaxEntries` (0: the sliced lookup) */
  private def trainWith(spark: SparkSession, ceiling: Long): Seq[Trained] = {
    import spark.implicits._
    val v = Trainer.train(corpus.toDS(), vocab, Trainer.Config(numTopics = topics,
      maxIterations = 3, localIterations = sweeps, convergence = 0.0, betaBroadcastMaxEntries = ceiling))
    val p = PolyTrainer.train(polyCorpus.toDS(), Map(0 -> vocab, 1 -> vocab),
      PolyTrainer.Config(numTopics = topics, maxIterations = 3, localIterations = sweeps,
        convergence = 0.0, betaBroadcastMaxEntries = ceiling))
    Seq(
      (v.llHistory, v.alpha.toSeq, v.beta.map { case (w, arr) => (0, w) -> arr.toSeq }.toMap),
      (p.llHistory, p.alpha.toSeq,
        p.beta.flatMap { case (l, m) => m.map { case (w, arr) => (l, w) -> arr.toSeq } }))
  }

  /** a session of its own on `cores` cores; the next suite's getOrCreate
    * builds a fresh one (suites run one after another in the test JVM) */
  private def inSession[T](cores: Int)(f: SparkSession => T): T = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    val spark = GraftSession.local(s"graft-determinism-$cores", cores)
    try f(spark) finally spark.stop()
  }

  private def bits(xs: Seq[Double]): Seq[Long] = xs.map(java.lang.Double.doubleToRawLongBits)

  private def assertSame(a: Seq[Trained], b: Seq[Trained], what: String): Unit =
    a.zip(b).zip(Seq("vanilla", "polylingual")).foreach { case ((x, y), trainer) =>
      assert(bits(x._1) == bits(y._1), s"$trainer LL history, $what: ${x._1} vs ${y._1}")
      assert(bits(x._2) == bits(y._2), s"$trainer alpha, $what")
      assert(x._3.keySet == y._3.keySet, s"$trainer beta keys, $what")
      x._3.foreach { case (w, arr) => assert(bits(arr) == bits(y._3(w)), s"$trainer beta $w, $what") }
    }

  test("both trainers: bit-identical on local[1] and local[4], and twice in one session") {
    val nnz = corpus.map(_.counts.size.toLong).sum
    assert(EmCore.partitionsFor(corpus.size, nnz, topics, sweeps) > 1)
    val one = inSession(1)(train)
    val (four, again) = inSession(4)(s => (train(s), train(s)))
    assert(one.head._1.length == 3 && one.forall(_._3.nonEmpty))
    assertSame(one, four, "local[1] vs local[4]")
    assertSame(four, again, "two runs in one session")
  }

  test("sliced beta lookup: bit-identical on local[1] and local[4], and to the broadcast lookup") {
    val nnz = corpus.map(_.counts.size.toLong).sum
    assert(EmCore.reducersFor(nnz * topics, EmCore.partitionsFor(corpus.size, nnz, topics, sweeps)) > 1)
    val one = inSession(1)(trainWith(_, 0L))
    val (four, broadcast) = inSession(4)(s => (trainWith(s, 0L), train(s)))
    assertSame(one, four, "sliced, local[1] vs local[4]")
    assertSame(four, broadcast, "sliced vs broadcast lookup on local[4]")
  }
}
