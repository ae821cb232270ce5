package graft

import graft.functions.LogSumExp.logsumexp
import graft.lda.{EStep, EmCore, MStep, Trainer, VanillaDocs}
import graft.model.Doc
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.spark_partition_id
import org.apache.spark.sql.graftshim.shim
import org.apache.spark.storage.StorageLevel

/**
 * A broadcast model's M-step reduce — one partial per partition, merged by
 * key in partition-index order — against the fold it replaced, kept here
 * as the reference: the E-step's K-array phi rows posexploded and folded
 * by a SQL `logsumexp` per (topic, termId), and the ll / alpha statistics
 * aggregate over the doc rows. Only the merged model reaches the driver.
 */
class EmReduceSpec extends SparkSpec {
  import spark.implicits._

  private val k = 50

  /** documents with `terms` distinct terms each out of `vocab` */
  private def docs(ids: Range, terms: Int, vocab: Int, seed: Long): Seq[Doc] = {
    val rng = new scala.util.Random(seed)
    ids.map { d =>
      val counts = Iterator.continually(1 + rng.nextInt(vocab)).distinct.take(terms)
        .map(_ -> (1 + rng.nextInt(3))).toMap
      Doc(d.toLong, counts, counts.valuesIterator.map(_.toLong).sum)
    }
  }

  test("the partial-merge reduce equals the SQL logsumexp fold, a flushed partition included") {
    // a broadcast E-step combines its whole partition (the combiner is the
    // model's size, so it never flushes); the table path's kernel flushes
    // past 2^20 (topic, term) entries, and then a key arrives in several
    // rows of one partition. One such partition: the E-steps of two sets
    // of 20 documents with ~1000 terms each out of 60k, coalesced; three
    // more partitions of small documents
    val vocab = 60000
    def estepOf(input: Seq[Doc]) = EStep.run(input.toDS().coalesce(1),
      spark.sparkContext.broadcast(Array.tabulate(k)(i => 0.05 + i * 0.01)),
      spark.sparkContext.broadcast(Map.empty: scala.collection.Map[Int, Array[Double]]), vocab,
      localIterations = 3, seed = 11L)
    val big = docs(0 until 40, 1000, vocab, 1L)
    val small = docs(40 until 70, 20, 200, 2L)
    val estep = spark.createDataset(estepOf(big.take(20)).rdd.union(estepOf(big.drop(20)).rdd).coalesce(1)
      .union(Seq(small.take(10), small.slice(10, 20), small.drop(20)).map(estepOf(_).rdd).reduce(_ union _)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val phi = estep.toDF().filter(!$"isDoc")
      assert(estep.rdd.getNumPartitions == 4)
      assert(phi.groupBy(spark_partition_id(), $"termId").count().filter($"count" > 1).count() > 0,
        "no key arrived in two rows of one partition")

      val reference = EmCore.explodePhi(estep.toDF(), VanillaDocs.keys)
        .groupBy($"topic", $"termId").agg(logsumexp($"logphi").as("lp"))
        .as[(Int, Int, Double)].collect()
        .map { case (t, w, lp) => (t, w) -> lp }.toMap
      val (llRef, ssRef) = MStep.llAndAlphaStats(estep.toDF().filter($"isDoc"), k)

      val r = EmCore.reduce(estep.toDF(), VanillaDocs.keys)
      assert(r.ss.length == k && r.lambda.length == r.keys.length * k)
      assert(r.keys.toSeq == r.keys.sorted.toSeq, "keys not ascending")
      assert(reference.size == r.keys.length * k)
      // λ to 1e-12 relative: log λ to 1e-12 absolute
      for (j <- r.keys.indices; t <- 0 until k) {
        val got = r.lambda(j * k + t)
        val want = reference((t + 1, EmCore.termOf(r.keys(j))))
        assert(math.abs(got - want) <= 1e-12, s"log λ (${t + 1}, ${EmCore.termOf(r.keys(j))}): $got vs $want")
      }
      assert(math.abs(r.ll - llRef) <= 1e-12 * math.abs(llRef), s"ll ${r.ll} vs $llRef")
      r.ss.zip(ssRef).zipWithIndex.foreach { case ((got, want), i) =>
        assert(math.abs(got - want) <= 1e-12 * math.abs(want), s"ss($i): $got vs $want")
      }
    } finally estep.unpersist()
  }

  test("the driver receives the model, not one partial per partition") {
    // 16 partitions whose documents draw from the same 2000 terms: each
    // partition touches most of them, so partials collected per partition
    // would carry about ten copies of the model
    val vocab = 2000
    val input = docs(0 until 320, 100, vocab, 3L).toDS().repartition(16)
    val estep = EStep.run(input, spark.sparkContext.broadcast(Array.fill(k)(0.1)),
      spark.sparkContext.broadcast(Map.empty: scala.collection.Map[Int, Array[Double]]), vocab,
      localIterations = 2, seed = 5L).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      estep.count()
      shim.drainListenerBus(spark, 10000)
      val received = new java.util.concurrent.atomic.AtomicLong
      val listener = new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          Option(e.taskMetrics).foreach(m => received.addAndGet(m.resultSize))
      }
      spark.sparkContext.addSparkListener(listener)
      val r = try EmCore.reduce(estep.toDF(), VanillaDocs.keys) finally {
        shim.drainListenerBus(spark, 10000)
        spark.sparkContext.removeSparkListener(listener)
      }
      val modelBytes = r.lambda.length * 8L
      val phiBytes = estep.toDF().filter(!$"isDoc").count() * k * 8L
      assert(phiBytes > 8 * modelBytes, s"phi $phiBytes B is not several models ($modelBytes B)")
      assert(received.get <= 2 * modelBytes,
        s"task results ${received.get} B for a model of $modelBytes B (phi $phiBytes B)")
    } finally estep.unpersist()
  }

  test("a sliced iteration sends the driver the normalisers, not the model") {
    // 4000 terms at K = 50: a 1.6 MB model. Result bytes per iteration,
    // from the difference of a 3- and a 1-iteration run (the set-up jobs
    // and the final collect of the model cancel out), of the jobs' result
    // tasks: the broadcast lookup collects the model each iteration; the
    // sliced one collects per reducer L·K partial normalisers and K + 1
    // statistics, whatever the vocabulary
    val vocab = 4000
    val input = docs(0 until 320, 100, vocab, 4L).toDS()
    val nnz = 320L * 100
    val reducers = EmCore.reducersFor(nnz * k, EmCore.partitionsFor(320, nnz, k, 2))
    def resultBytes(iterations: Int, ceiling: Long): Long = {
      shim.drainListenerBus(spark, 10000)
      val received = new java.util.concurrent.atomic.AtomicLong
      val listener = new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (e.taskType == "ResultTask") Option(e.taskMetrics).foreach(m => received.addAndGet(m.resultSize))
      }
      spark.sparkContext.addSparkListener(listener)
      try Trainer.train(input, vocab, Trainer.Config(numTopics = k, maxIterations = iterations,
        localIterations = 2, convergence = 0.0, betaBroadcastMaxEntries = ceiling))
      finally {
        shim.drainListenerBus(spark, 10000)
        spark.sparkContext.removeSparkListener(listener)
      }
      received.get
    }
    val modelBytes = vocab.toLong * k * 8
    val broadcast = (resultBytes(3, 4L << 20) - resultBytes(1, 4L << 20)) / 2
    val sliced = (resultBytes(3, 0L) - resultBytes(1, 0L)) / 2
    assert(broadcast >= modelBytes, s"broadcast: $broadcast B per iteration for a model of $modelBytes B")
    // per reducer: L·K normalisers and K + 1 statistics, plus the task's
    // own metrics (a few kB)
    val bound = reducers * ((1L + k + 1) * 8 + 8192)
    assert(sliced <= bound && sliced * 10 < modelBytes,
      s"sliced: $sliced B per iteration over $reducers reducers (bound $bound B, model $modelBytes B)")
  }

  test("partition count: from the E-step work, not the host") {
    import EmCore.partitionsFor
    // ap_dense's training split: 144 documents of ~200 tokens over a 10k
    // vocabulary, ~156 distinct terms each; K = 20, 100 sweeps
    assert(partitionsFor(144, 144L * 156, 20, 100) > 1)
    // three short documents
    assert(partitionsFor(3, 9, 3, 100) == 1)
    // never more partitions than documents, never fewer than one
    assert(partitionsFor(2, 1L << 30, 100, 100) == 2)
    assert(partitionsFor(1, 0, 20, 100) == 1)
  }
}
