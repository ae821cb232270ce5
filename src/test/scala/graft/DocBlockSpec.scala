package graft

import graft.lda.{EmCore, Trainer, VanillaDocs}
import graft.lda.EmCore.{DocShape, PackedBeta}
import graft.model.{Doc, PolyDoc}
import graft.polylda.{PolyDocs, PolyTrainer}
import org.apache.spark.SparkEnv
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftshim.shim
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.{Dataset, Encoder}

/**
 * The EM loop's corpus is one primitive block per partition, built once;
 * only the gammas rotate. The blocks give back the documents they were
 * built from, a broadcast iteration is one job with no SQL planning, the
 * broadcast model is its primitive arrays, and neither training nor
 * held-out inference (once its caller drops the gammas) leaves anything
 * cached. The cache checks compare the sets of cached RDD ids: suites share
 * the session and release their own caches meanwhile.
 */
class DocBlockSpec extends SparkSpec {
  import spark.implicits._

  private val k = 3

  /** blocks of `docs` over `parts` partitions and a distinct gamma per
    * document (from its docId) → the blocks' documents, and the source
    * documents carrying those gammas */
  private def roundTrip[D](docs: Seq[D], shape: DocShape[D, _], docId: D => Long,
      withGamma: (D, Array[Double]) => D, parts: Int)(implicit enc: Encoder[D]): (Seq[D], Seq[D]) = {
    val topics = k
    val gammaOf = (id: Long) => Array.tabulate(topics)(t => id + 0.25 * t)
    val blocks = EmCore.blocksOf(docs.toDS().rdd.map(shape.record), parts, Array.fill(topics)(0.1))
    try {
      val gammas = blocks.map(b => b.docIds.flatMap(gammaOf))
      val out = EmCore.documents(spark, blocks, gammas, shape).collect().toSeq
      (out.sortBy(docId), docs.map(d => withGamma(d, gammaOf(docId(d)))).sortBy(docId))
    } finally blocks.unpersist()
  }

  /** case classes holding arrays compare arrays by reference */
  private def same[D <: Product](got: Seq[D], want: Seq[D]): Unit = {
    def norm(d: D) = d.productIterator.map {
      case Some(a: Array[Double]) => a.toSeq
      case x => x
    }.toList
    assert(got.map(norm) == want.map(norm))
  }

  test("blocks + gamma give back the source documents, vanilla and polylingual") {
    val docs = Seq(
      Doc(5L, Map(3 -> 2, 1 -> 1, 7 -> 4), 7L),
      Doc(2L, Map.empty, 0L), // an empty document
      Doc(9L, (1 to 12).map(t => t -> t).toMap, 78L),
      Doc(4L, Map(3 -> 1), 1L, Some(Array(1.0, 2.0, 3.0))))
    val (got, want) = roundTrip[Doc](docs, VanillaDocs, _.docId, (d, g) => d.copy(gamma = Some(g)), 2)
    same(got, want)

    val poly = Seq(
      // termId 3 in both languages
      PolyDoc(1L, Map(0 -> Map(3 -> 2, 5 -> 1), 1 -> Map(3 -> 4)), Map(0 -> 3L, 1 -> 4L), 7L),
      // a missing language slot
      PolyDoc(2L, Map(1 -> Map(2 -> 1, 3 -> 1)), Map(1 -> 2L), 2L),
      // an empty document, and one with an empty language map
      PolyDoc(3L, Map.empty, Map.empty, 0L),
      PolyDoc(6L, Map(1 -> Map.empty, 0 -> Map(8 -> 3)), Map(0 -> 3L), 3L),
      PolyDoc(8L, Map(0 -> (1 to 9).map(t => t -> 1).toMap), Map(0 -> 9L), 9L))
    val (pGot, pWant) =
      roundTrip[PolyDoc](poly, PolyDocs, _.docId, (d, g) => d.copy(gamma = Some(g)), 3)
    same(pGot, pWant)
    // the sweep order survives: each count map iterates as its source did
    pGot.zip(pWant).foreach { case (a, b) =>
      assert(a.counts.keys.toSeq == b.counts.keys.toSeq)
      a.counts.foreach { case (l, m) => assert(m.toSeq == b.counts(l).toSeq) }
    }
  }

  private def corpus(n: Int, seed: Long): Seq[Doc] = {
    val rng = new scala.util.Random(seed)
    (0 until n).map { d =>
      val counts = Iterator.continually(1 + rng.nextInt(300)).distinct.take(20)
        .map(_ -> (1 + rng.nextInt(3))).toMap
      Doc(d.toLong, counts, counts.valuesIterator.map(_.toLong).sum)
    }
  }

  test("a broadcast fit runs one job per iteration and no SQL per iteration") {
    val docs = corpus(60, 1L).toDS()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val sql = new java.util.concurrent.atomic.AtomicInteger
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sqlListener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = sql.incrementAndGet()
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = sql.incrementAndGet()
    }
    def counted(iterations: Int): (Int, Int) = {
      shim.drainListenerBus(spark, 10000)
      jobs.set(0)
      sql.set(0)
      val m = Trainer.train(docs, 300, Trainer.Config(numTopics = k, maxIterations = iterations,
        localIterations = 5, convergence = 0.0))
      assert(m.iterations == iterations)
      shim.drainListenerBus(spark, 10000)
      (jobs.get, sql.get)
    }
    val before = spark.sparkContext.getPersistentRDDs.keySet
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(sqlListener)
    try {
      val (jobs2, sql2) = counted(2)
      val (jobs5, sql5) = counted(5)
      assert(jobs5 - jobs2 == 3, s"jobs: $jobs2 for 2 iterations, $jobs5 for 5")
      assert(sql5 <= sql2, s"SQL executions: $sql2 for 2 iterations, $sql5 for 5")
    } finally {
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(sqlListener)
    }
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"training left RDDs $left cached")
  }

  test("the serialized broadcast model is its primitive arrays") {
    val m = Trainer.train(corpus(40, 2L).toDS(), 300, Trainer.Config(numTopics = 10,
      maxIterations = 2, localIterations = 5))
    val beta = PackedBeta.of(m.beta.iterator.map { case (w, arr) => EmCore.key(0, w) -> arr }, 10)
    val n = beta.keys.length
    assert(n > 100)
    val bytes = SparkEnv.get.serializer.newInstance().serialize(beta).remaining()
    assert(bytes <= n * (8L + 8L * 10) + 4096, s"$bytes B for $n keys at K = 10")
  }

  test("held-out inference leaves nothing cached once its gammas are dropped, both trainers") {
    val docs = corpus(30, 3L)
    val m = Trainer.train(docs.toDS(), 300, Trainer.Config(numTopics = k, maxIterations = 2,
      localIterations = 5))
    val poly = docs.map(d => PolyDoc(d.docId, Map(0 -> d.counts), Map(0 -> d.numTokens), d.numTokens))
    val pm = PolyTrainer.train(poly.toDS(), Map(0 -> 300), PolyTrainer.Config(numTopics = k,
      maxIterations = 2, localIterations = 5))
    val held: Dataset[Doc] = docs.take(10).toDS()
    for ((infer, name) <- Seq[(() => (org.apache.spark.sql.DataFrame, Double), String)](
        (() => Trainer.infer(held, m, localIterations = 5), "vanilla"),
        (() => PolyTrainer.infer(poly.take(10).toDS(), pm, localIterations = 5), "polylingual"))) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val (gamma, ll) = infer()
      assert(gamma.count() == 10 && ll < 0, name)
      gamma.unpersist(blocking = true)
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"$name: infer left RDDs $left cached")
    }
  }
}
