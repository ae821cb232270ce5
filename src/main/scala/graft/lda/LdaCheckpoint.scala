package graft.lda

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Per-iteration model snapshots (reference D4: `alpha-<i>` / `beta-<i>` /
 * `gamma-<i>` files rotated by cc/mrlda/VariationalInference.java:346-379 and
 * re-read on `-modelindex i` resume, :169-174). Parquet instead of
 * SequenceFiles; doubles round-trip exactly, so a resumed run continues the
 * same trajectory as an uninterrupted one.
 *
 * Layout under `dir`, vanilla LDA ([[Trainer]]):
 *   alpha-<i>/  (topic INT 1..K, alpha DOUBLE)
 *   beta-<i>/   (topic INT 1..K, termId INT, elogbeta DOUBLE)
 *   gamma-<i>/  the full gamma-annotated corpus
 *               (docId LONG, counts MAP<INT,INT>, numTokens LONG,
 *                gamma ARRAY<DOUBLE>) — like the reference, whose gamma
 *               output dir IS the next iteration's document input
 *   state-<i>.json  {"iteration":i,"llHistory":[...]}
 *
 * Polylingual LDA ([[graft.polylda.PolyTrainer]]) keeps alpha-<i> and
 * state-<i>.json and adds the language to the others:
 *   beta-<i>/   (lang INT, topic INT 1..K, termId INT, elogbeta DOUBLE) —
 *               the reference writes one beta_lang<l>-<i> file per
 *               language; here one table
 *   gamma-<i>/  (docId LONG, counts MAP<INT,MAP<INT,INT>>,
 *                numTokens MAP<INT,LONG>, totalTokens LONG, gamma ARRAY<DOUBLE>)
 */
object LdaCheckpoint {

  def saveAlpha(spark: SparkSession, dir: String, iter: Int, alpha: Array[Double]): Unit = {
    import spark.implicits._
    alpha.zipWithIndex.map { case (a, i) => (i + 1, a) }.toSeq
      .toDF("topic", "alpha")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/alpha-$iter")
  }

  /** ([lang,] topic, termId, elogbeta) rows; `lang` is written when the
    * rows carry it (polylingual models). */
  def saveBeta(betaRows: DataFrame, dir: String, iter: Int): Unit =
    betaRows.select(Seq("lang", "topic", "termId", "elogbeta")
        .filter(betaRows.columns.contains).map(col): _*)
      .write.mode("overwrite").parquet(s"$dir/beta-$iter")

  /** `gamma` should be the full gamma-annotated corpus (the model's
    * document columns plus gamma); written as-is. */
  def saveGamma(gamma: DataFrame, dir: String, iter: Int): Unit =
    gamma.write.mode("overwrite").parquet(s"$dir/gamma-$iter")

  /** state JSON goes through the Hadoop filesystem like the parquet
    * snapshots, so an hdfs:// or s3a:// checkpointDir keeps everything in
    * one place (a java.nio path would silently write a LOCAL "hdfs:" dir). */
  def saveState(spark: SparkSession, dir: String, iter: Int, llHistory: Seq[Double]): Unit = {
    val json = s"""{"iteration":$iter,"llHistory":[${llHistory.mkString(",")}]}"""
    val p = new org.apache.hadoop.fs.Path(s"$dir/state-$iter.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def loadAlpha(spark: SparkSession, dir: String, iter: Int): Array[Double] = {
    import spark.implicits._
    val rows = spark.read.parquet(s"$dir/alpha-$iter")
      .select($"topic", $"alpha").as[(Int, Double)].collect()
    val k = rows.map(_._1).max
    val a = new Array[Double](k)
    rows.foreach { case (t, v) => a(t - 1) = v }
    a
  }

  /** ([lang,] topic, termId, elogbeta) rows, as written by `saveBeta`. */
  def loadBeta(spark: SparkSession, dir: String, iter: Int): DataFrame =
    spark.read.parquet(s"$dir/beta-$iter")

  def loadGamma(spark: SparkSession, dir: String, iter: Int): DataFrame =
    spark.read.parquet(s"$dir/gamma-$iter")

  def loadLlHistory(spark: SparkSession, dir: String, iter: Int): Seq[Double] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/state-$iter.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else {
      val in = fs.open(p)
      val json =
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      val m = "\"llHistory\":\\[([^\\]]*)\\]".r.findFirstMatchIn(json)
      m.map(_.group(1)).filter(_.nonEmpty)
        .map(_.split(",").toSeq.map(_.toDouble)).getOrElse(Seq.empty)
    }
  }
}
