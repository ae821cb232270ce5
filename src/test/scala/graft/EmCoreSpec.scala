package graft

import graft.corpus.ParseCorpus
import graft.lda.{Display, EStep, EStepShuffle, EmCore, LdaModel, Trainer}
import graft.model.{Doc, PolyDoc, PolyTermEntry}
import graft.polylda.{PolyDocs, PolyLdaModel, PolyTrainer}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.storage.StorageLevel

/**
 * Vanilla LDA is polylingual LDA with one language: on the same corpus,
 * with every document's bag of words put under language 0, the vanilla
 * and the polylingual E-step give exactly equal gamma, document
 * log-likelihood and partition-combined log-phi, on both ways of
 * supplying E[log β] (broadcast lookup and shuffle join). Plus the
 * degenerate corpora both trainers must survive on both paths, and what
 * training may and may not do to the caller's state.
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
      PolyTrainer.packed(Map(0 -> (beta: scala.collection.Map[Int, Array[Double]])), k))
    val poly = EmCore.estep(polyDocs, PolyDocs, alphaBc, EmCore.Lookup(polyBc),
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
      EmCore.slicesFor(polyDocs, PolyDocs, spark.sparkContext.parallelize(beta.toSeq.map {
        case (w, arr) => EmCore.key(0, w) -> arr }), k),
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

  test("both trainers refuse an empty corpus instead of returning NaN") {
    val blank = parse(Seq("", "   "))
    assert(blank.stats == graft.model.CorpusStats(0, 0, 2, 0, 0))
    for (parsed <- Seq(parse(Nil), blank)) {
      val v = parsed.stats.numTerms.toInt
      val e = intercept[IllegalArgumentException](Trainer.train(parsed.docs, v,
        Trainer.Config(numTopics = 3, maxIterations = 2, localIterations = 5)))
      assert(e.getMessage.contains("empty corpus"), e.getMessage)
      val poly = parsed.docs.map(d =>
        PolyDoc(d.docId, Map(0 -> d.counts), Map(0 -> d.numTokens), d.numTokens, d.gamma))
      val pe = intercept[IllegalArgumentException](PolyTrainer.train(poly, Map(0 -> v),
        PolyTrainer.Config(numTopics = 3, maxIterations = 2, localIterations = 5)))
      assert(pe.getMessage.contains("empty corpus"), pe.getMessage)
    }
  }

  private def onePoly(d: Doc): PolyDoc =
    PolyDoc(d.docId, Map(0 -> d.counts), Map(0 -> d.numTokens), d.numTokens, d.gamma)

  private val sixDocs = Seq("apple banana cherry", "banana apple apple", "cherry banana fruit",
    "iron copper zinc", "copper iron iron", "zinc copper metal")

  test("training leaves the caller's cache as it found it, both trainers") {
    val parsed = parse(sixDocs)
    val v = parsed.stats.numTerms.toInt
    val rows = parsed.docs.collect().toSeq
    def check[D](docs: => Dataset[D], train: (Dataset[D], Boolean) => Unit): Unit =
      for (cachedByCaller <- Seq(true, false); randomStart <- Seq(false, true)) {
        val corpus = docs
        if (cachedByCaller) corpus.persist(StorageLevel.MEMORY_AND_DISK).count()
        val before = corpus.storageLevel
        try {
          train(corpus, randomStart)
          assert(corpus.storageLevel == before,
            s"cached by caller: $cachedByCaller, randomStartGamma: $randomStart")
        } finally corpus.unpersist()
      }
    check[Doc](rows.toDS(), (docs, randomStart) => Trainer.train(docs, v, Trainer.Config(
      numTopics = 2, maxIterations = 2, localIterations = 5, randomStartGamma = randomStart)))
    check[PolyDoc](rows.map(onePoly).toDS(), (docs, randomStart) => PolyTrainer.train(docs,
      Map(0 -> v), PolyTrainer.Config(numTopics = 2, maxIterations = 2, localIterations = 5,
        randomStartGamma = randomStart)))
  }

  test("resuming a checkpoint with another K is refused, both trainers and paths") {
    val parsed = parse(sixDocs)
    val v = parsed.stats.numTerms.toInt
    val poly = parsed.docs.collect().toSeq.map(onePoly).toDS()
    for ((path, ceiling) <- Seq("broadcast" -> (4L << 20), "shuffle" -> 0L);
         (saved, asked) <- Seq(2 -> 3, 3 -> 2)) {
      def refused(resume: String => Unit): Unit = {
        val dir = TempDirs.create("graft_resume_k_").toString
        val e = intercept[IllegalArgumentException](resume(dir))
        assert(e.getMessage.contains(dir) && e.getMessage.contains(s"K=$saved") &&
          e.getMessage.contains(s"numTopics=$asked"), s"$path: ${e.getMessage}")
      }
      val vanilla = Trainer.Config(numTopics = saved, maxIterations = 1, localIterations = 5,
        betaBroadcastMaxEntries = ceiling)
      refused { dir =>
        Trainer.train(parsed.docs, v, vanilla.copy(checkpointDir = Some(dir)))
        Trainer.train(parsed.docs, v,
          vanilla.copy(numTopics = asked, maxIterations = 2, resumeFrom = Some((dir, 1))))
      }
      val polyCfg = PolyTrainer.Config(numTopics = saved, maxIterations = 1,
        localIterations = 5, betaBroadcastMaxEntries = ceiling)
      refused { dir =>
        PolyTrainer.train(poly, Map(0 -> v), polyCfg.copy(checkpointDir = Some(dir)))
        PolyTrainer.train(poly, Map(0 -> v),
          polyCfg.copy(numTopics = asked, maxIterations = 2, resumeFrom = Some((dir, 1))))
      }
    }
  }

  test("top terms: vanilla == polylingual with one language, ties broken by termId") {
    val parsed = parse(sixDocs)
    val v = parsed.stats.numTerms.toInt
    // four values per topic, shared by several terms: the termId tie-break
    // decides most ranks
    val beta = (1 to v).map(w => w -> Array.tabulate(k)(t => -2.0 - (w + t) % 4 * 0.1234567891)).toMap
    val vanilla = LdaModel(k, v, Array.fill(k)(0.1), beta, 0.0, 1, Nil)
    val poly = PolyLdaModel(k, Map(0 -> v), vanilla.alpha, Map(0 -> beta), 0.0, 1, Nil)
    val polyTerms = parsed.terms.map(t => PolyTermEntry(0, t.termId, t.term, t.df, t.tf))
    val top = 4
    val vTop = Display.topTermsPerTopic(Display.betaToDF(spark, vanilla), parsed.terms, top)
      .collect().map(r => (r.getAs[Int]("topic"), r.getAs[Int]("rank"), r.getAs[String]("term"),
        r.getAs[Double]("score"))).toSeq
    val pTop = PolyTrainer.topTermsPerTopic(spark, poly, polyTerms, top).collect().map { r =>
      assert(r.getAs[Int]("lang") == 0)
      (r.getAs[Int]("topic"), r.getAs[Int]("rnk"), r.getAs[String]("term"), r.getAs[Double]("score"))
    }.toSeq.sortBy(r => (r._1, r._2))
    val names = parsed.terms.collect().map(t => t.termId -> t.term).toMap
    val expected = for {
      t <- 1 to k
      ((w, e), i) <- beta.toSeq.map { case (w, arr) => (w, arr(t - 1)) }
        .sortBy { case (w, e) => (-e, w) }.take(top).zipWithIndex
    } yield (t, i + 1, names(w), e)
    assert(vTop == expected)
    assert(pTop.map(r => (r._1, r._2, r._3)) == expected.map(r => (r._1, r._2, r._3)))
    pTop.zip(expected).foreach { case (p, e) => assert(math.abs(p._4 - e._4) <= 5e-7, s"$p vs $e") }
  }
}
