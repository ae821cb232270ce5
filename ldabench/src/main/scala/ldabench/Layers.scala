package ldabench

import graft.lda.{AlphaUpdate, EStep, EStepShuffle, LdaCheckpoint, MStep}
import graft.util.Ckpt._
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/**
 * The traced run's split of one EM iteration: each layer's public entry
 * point called once, outside the timed passes, on the final model state
 * of a vanilla run. Two iterations are split on the same state:
 *
 *  - the broadcast path the trainer takes on this workload: `lda.estep`,
 *    the fused fold `lda.mstep` with its driver tail, `lda.alpha`;
 *  - the scale path the trainer takes once K×V passes its broadcast
 *    threshold: `lda.estep_shuffle` over the hoisted exploded corpus, the
 *    distributed fold plus likelihood/alpha statistics `lda.mstep_shuffle`,
 *    and the parquet snapshot `lda.checkpoint`.
 */
object Layers {

  /** Work counts the per-layer rates are computed from. */
  final case class Work(nnz: Long, phiRows: Long, checkpointBytes: Long)

  def split(t: Trained, wl: Workload, rec: Recorder, snapshotDir: Path): Work = {
    val spark = t.spark
    import spark.implicits._
    val k = wl.topics
    val model = t.model
    val docs = t.train.persist(StorageLevel.MEMORY_AND_DISK)
    val numDocs = docs.count()
    val nnz = docs.select(sum(size($"counts"))).as[Long].head()
    val alphaBc = spark.sparkContext.broadcast(model.alpha)

    // broadcast path
    val betaBc = spark.sparkContext.broadcast(model.beta)
    val estep = rec.span("lda.estep") {
      val e = EStep.run(docs, alphaBc, betaBc, t.numTerms, localIterations = wl.sweeps,
        learning = true).persist(StorageLevel.MEMORY_AND_DISK)
      e.count()
      e
    }
    val phiRows = estep.filter(!$"isDoc").count() * k
    val ss = rec.span("lda.mstep") {
      val rows = MStep.fusedIterationRows(estep.toDF()).collect()
      rec.span("lda.mstep.driver_tail") {
        val (_, ss, lambda) = MStep.splitFused(rows, k)
        MStep.finishBetaOnDriver(lambda, k, None)
        ss
      }
    }
    val alpha = rec.span("lda.alpha")(AlphaUpdate.updateVectorAlpha(k, numDocs, model.alpha, ss))
    estep.unpersist()

    // scale path
    val beta = model.beta.toSeq.toDF("termId", "elogbeta").persist(StorageLevel.MEMORY_AND_DISK)
    beta.count()
    val exploded = EStepShuffle.explodeDocs(docs).persist(StorageLevel.MEMORY_AND_DISK)
    exploded.count()
    val estepSh = rec.span("lda.estep_shuffle") {
      val e = EStepShuffle.run(docs, alphaBc, beta, t.numTerms, localIterations = wl.sweeps,
        learning = true, preExploded = Some(exploded)).persist(StorageLevel.MEMORY_AND_DISK)
      e.count()
      e
    }
    val docSide = estepSh.filter($"isDoc").toDF()
    val betaRows = rec.span("lda.mstep_shuffle") {
      val rows = MStep.run(MStep.explodePhi(estepSh.toDF())).ckptSer()
      MStep.llAndAlphaStatsRows(docSide).collect()
      rows
    }
    val dir = snapshotDir.toUri.toString
    rec.span("lda.checkpoint") {
      LdaCheckpoint.saveAlpha(spark, dir, 1, alpha)
      LdaCheckpoint.saveBeta(betaRows, dir, 1)
      LdaCheckpoint.saveGamma(docSide.select($"docId", $"counts", $"numTokens", $"gamma"), dir, 1)
      LdaCheckpoint.saveState(spark, dir, 1, model.llHistory)
    }
    Work(nnz, phiRows, directoryBytes(snapshotDir))
  }

  def directoryBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}
