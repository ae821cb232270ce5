package graft

import graft.corpus.ParseCorpus
import graft.lda.{EStep, EStepShuffle, EmCore, Trainer}
import graft.model.PolyDoc
import graft.polylda.{PolyDocs, PolyTrainer}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit

/**
 * Vanilla LDA is polylingual LDA with one language: on the same corpus,
 * with every document's bag of words put under language 0, the vanilla
 * and the polylingual E-step give exactly equal gamma, document
 * log-likelihood and partition-combined log-phi, on both ways of
 * supplying E[log β] (broadcast lookup and shuffle join). Plus the
 * degenerate corpora both trainers must survive on both paths.
 */
class EmCoreSpec extends SparkSpec {
  import spark.implicits._

  private val k = 3

  private def parse(texts: Seq[String]) = ParseCorpus.run(texts.zipWithIndex
    .map { case (t, i) => (i.toLong, s"d$i", t) }.toDF("docId", "title", "text"))

  private def setup = {
    val fruit = Seq("apple banana cherry", "banana apple apple", "cherry banana fruit",
      "apple fruit fruit cherry", "banana banana apple")
    val metal = Seq("iron copper zinc", "copper iron iron", "zinc copper metal",
      "iron metal metal zinc", "copper copper zinc")
    val parsed = parse(fruit ++ metal)
    val numTerms = parsed.stats.numTerms.toInt
    // a model for every other term: the rest take the seeded random init
    val beta: Map[Int, Array[Double]] = (1 to numTerms by 2).map { w =>
      w -> Array.tabulate(k)(t => -math.log(numTerms.toDouble) + ((w * 7 + t * 3) % 11 - 5) / 50.0)
    }.toMap
    val docs = parsed.docs
    val polyDocs = docs.map(d =>
      PolyDoc(d.docId, Map(0 -> d.counts), Map(0 -> d.numTokens), d.numTokens, d.gamma))
    (docs, polyDocs, numTerms, beta)
  }

  private val sweeps = EmCore.Sweeps(15, randomStartGamma = false, learning = true, seed = 5L)

  /** doc rows: docId -> (gamma, ll); phi rows: termId -> sorted log-phi arrays. */
  private def split(estep: DataFrame, lang: Boolean)
      : (Map[Long, (Seq[Double], Double)], Map[Int, Seq[Seq[Double]]]) = {
    val rows = estep.collect()
    val docRows = rows.filter(_.getAs[Boolean]("isDoc")).map { r =>
      r.getAs[Long]("docId") ->
        ((r.getAs[scala.collection.Seq[Double]]("gamma").toList, r.getAs[Double]("ll")))
    }.toMap
    val phiRows = rows.filterNot(_.getAs[Boolean]("isDoc")).map { r: Row =>
      if (lang) assert(r.getAs[Int]("lang") == 0)
      r.getAs[Int]("termId") -> r.getAs[scala.collection.Seq[Double]]("logphi").toList
    }.groupBy(_._1).map { case (w, vs) => w -> vs.map(_._2).toSeq.sortBy(_.toString) }
    (docRows, phiRows)
  }

  private def assertSame(vanilla: DataFrame, poly: DataFrame): Unit = {
    val (vDocs, vPhi) = split(vanilla, lang = false)
    val (pDocs, pPhi) = split(poly, lang = true)
    assert(vDocs.size == 10 && vDocs.keySet == pDocs.keySet)
    vDocs.foreach { case (d, (g, ll)) =>
      assert(g == pDocs(d)._1, s"gamma differs for doc $d")
      assert(ll == pDocs(d)._2, s"ll differs for doc $d")
    }
    assert(vPhi.nonEmpty && vPhi == pPhi)
  }

  test("broadcast E-step: vanilla == polylingual with every doc as lang 0") {
    val (docs, polyDocs, numTerms, beta) = setup
    val alphaBc = spark.sparkContext.broadcast(Array(0.1, 0.2, 0.3))
    val vanilla = EStep.run(docs, alphaBc,
      spark.sparkContext.broadcast(beta: scala.collection.Map[Int, Array[Double]]),
      numTerms, localIterations = 15, seed = 5L)
    val polyBc = spark.sparkContext.broadcast(
      Map(0 -> (beta: scala.collection.Map[Int, Array[Double]])))
    val poly = EmCore.estep(polyDocs, PolyDocs, alphaBc, PolyTrainer.lookup(polyBc),
      PolyTrainer.vocab(Map(0 -> numTerms)), sweeps)
    assertSame(vanilla.toDF(), poly.toDF())
  }

  test("shuffle E-step: vanilla == polylingual with every doc as lang 0") {
    val (docs, polyDocs, numTerms, beta) = setup
    val alphaBc = spark.sparkContext.broadcast(Array(0.1, 0.2, 0.3))
    val betaDf = beta.toSeq.toDF("termId", "elogbeta")
    val vanilla = EStepShuffle.run(docs, alphaBc, betaDf, numTerms,
      localIterations = 15, seed = 5L)
    val poly = EmCore.estep(polyDocs, PolyDocs, alphaBc,
      EmCore.Join(betaDf.select(lit(0).as("lang"), $"termId", $"elogbeta"), None),
      PolyTrainer.vocab(Map(0 -> numTerms)), sweeps)
    assertSame(vanilla.toDF(), poly.toDF())
  }

  private def finite(ll: Seq[Double], alpha: Array[Double]): Unit = {
    assert(ll.nonEmpty && ll.forall(java.lang.Double.isFinite), s"LL history $ll")
    assert(alpha.forall(a => java.lang.Double.isFinite(a) && a > 0), s"alpha ${alpha.toSeq}")
  }

  for ((name, texts, topics) <- Seq(
      ("a single-document corpus", Seq("apple banana cherry apple"), 2),
      ("K > V", Seq("apple banana", "banana apple apple", "apple"), 5));
      (path, ceiling) <- Seq("broadcast" -> (4L << 20), "shuffle" -> 0L)) {
    test(s"$name trains to a finite LL and alpha on the $path path, both models") {
      val parsed = parse(texts)
      val v = parsed.stats.numTerms.toInt
      val m = Trainer.train(parsed.docs, v, Trainer.Config(numTopics = topics,
        maxIterations = 3, localIterations = 10, convergence = 0.0,
        betaBroadcastMaxEntries = ceiling))
      finite(m.llHistory, m.alpha)
      val poly = parsed.docs.map(d => PolyDoc(d.docId, Map(0 -> d.counts, 1 -> d.counts),
        Map(0 -> d.numTokens, 1 -> d.numTokens), 2 * d.numTokens, d.gamma))
      val pm = PolyTrainer.train(poly, Map(0 -> v, 1 -> v), PolyTrainer.Config(
        numTopics = topics, maxIterations = 3, localIterations = 10, convergence = 0.0,
        betaBroadcastMaxEntries = ceiling))
      finite(pm.llHistory, pm.alpha)
    }
  }
}
