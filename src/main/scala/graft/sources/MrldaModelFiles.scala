package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The rest of a Mr.LDA installation's on-disk artifacts, readable and
 * writable without the mrlda/cloud9 jars — together with
 * [[MrldaSequenceFile]]'s corpus reader this covers everything a
 * migrating user has on disk (SURVEY §1.1):
 *
 *  - term index  `SequenceFile<IntWritable termId, Text term>`
 *    (written by `ParseCorpus.IndexTermReducer`, ParseCorpus.java:476-490,
 *    517-518; ids dense 1-based in df-descending order)
 *  - title index `SequenceFile<IntWritable docId, Text title>`
 *    (ParseCorpus.java:436-437, 698-710)
 *  - alpha       `SequenceFile<IntWritable topic 1..K, DoubleWritable>`
 *    (`VariationalInference.exportAlpha`, VariationalInference.java:549-558)
 *  - beta        `SequenceFile<PairOfIntFloat, HMapIDW>`: key = (topic,
 *    float normalizer = digamma(Σ_w λ_kw)), value = termId → digamma(λ_kw)
 *    (TermReducer.java:173-236, read back by DisplayTopic.java:106-138)
 *
 * Text/IntWritable/DoubleWritable framings are Hadoop-native. The two
 * cloud9 Writables follow cloud9's uniform map/pair convention
 * (github.com/lintool/Cloud9, `edu.umd.cloud9.io`): `PairOfIntFloat`
 * writes `int left, float right`; `HMapIDW` writes `int size` then
 * `(int key, double value)` pairs — the same size-then-entries framing
 * the reference's own `HMapII` uses inside `Document` (Document.java:
 * 241-251), which is cloud9's shared pattern.
 *
 * E[log β] relationship: the reference stores digamma(λ) per term with
 * the digamma of the row sum pre-folded into the key's FLOAT normalizer;
 * `readBeta` reconstitutes `elogbeta = value − normalizer` (the float
 * downcast is the reference's own precision loss, not ours), and
 * `writeBeta` emits normalizer = 0 with `value = elogbeta`, which reads
 * back bit-exactly here and ranks identically in the reference's own
 * DisplayTopic (per-topic ordering is shift-invariant).
 */
object MrldaModelFiles {

  import MrldaSequenceFile.{decodeIntKey, intKey, readText, scanRaw, writeRaw, writeText,
    DefaultSplitBytes, DefaultSyncIntervalBytes, KeyClassName}

  private val TextClassName = "org.apache.hadoop.io.Text"
  private val DoubleClassName = "org.apache.hadoop.io.DoubleWritable"
  private val PairClassName = "edu.umd.cloud9.io.pair.PairOfIntFloat"
  private val HMapClassName = "edu.umd.cloud9.io.map.HMapIDW"

  // ---- term / title indices (IntWritable -> Text) ----

  /** Read an id → string index file into (idCol, strCol). */
  def readIntTextIndex(spark: SparkSession, path: String, idCol: String,
      strCol: String, splitBytes: Long = DefaultSplitBytes): DataFrame = {
    import spark.implicits._
    scanRaw(spark, path, splitBytes) { case (key, value) =>
      (decodeIntKey(key), readText(new DataInputStream(new ByteArrayInputStream(value))))
    }.toDF(idCol, strCol)
  }

  def writeIntTextIndex(df: DataFrame, path: String, idCol: String, strCol: String,
      syncIntervalBytes: Int = DefaultSyncIntervalBytes): Unit = {
    import df.sparkSession.implicits._
    writeRaw(df.select(col(idCol).cast("int"), col(strCol)).as[(Int, String)],
      path, KeyClassName, TextClassName, syncIntervalBytes) { case (id, s) =>
      val b = new ByteArrayOutputStream(); val o = new DataOutputStream(b)
      writeText(o, s)
      (intKey(id), b.toByteArray)
    }
  }

  def readTermIndex(spark: SparkSession, path: String): DataFrame =
    readIntTextIndex(spark, path, "termId", "term")

  def readTitleIndex(spark: SparkSession, path: String): DataFrame =
    readIntTextIndex(spark, path, "docId", "title")

  // ---- alpha (IntWritable topic 1..K -> DoubleWritable) ----

  def readAlpha(spark: SparkSession, path: String): Array[Double] = {
    val rows = scanRaw(spark, path, DefaultSplitBytes) { case (key, value) =>
      (decodeIntKey(key),
        new DataInputStream(new ByteArrayInputStream(value)).readDouble())
    }.collect()
    require(rows.nonEmpty, s"no alpha entries under $path")
    val k = rows.map(_._1).max
    val a = new Array[Double](k)
    rows.foreach { case (topic, v) => a(topic - 1) = v } // 1-based topics
    a
  }

  def writeAlpha(spark: SparkSession, path: String, alpha: Array[Double]): Unit = {
    import spark.implicits._
    writeRaw(alpha.zipWithIndex.map { case (v, i) => (i + 1, v) }.toSeq.toDS().coalesce(1),
      path, KeyClassName, DoubleClassName, DefaultSyncIntervalBytes) { case (topic, v) =>
      val b = new ByteArrayOutputStream(); val o = new DataOutputStream(b)
      o.writeDouble(v)
      (intKey(topic), b.toByteArray)
    }
  }

  // ---- beta (PairOfIntFloat -> HMapIDW) ----

  /** One reference beta row: topic, float normalizer, termId → digamma(λ). */
  private[sources] def decodeBetaRecord(key: Array[Byte], value: Array[Byte])
      : (Int, Float, Map[Int, Double]) = {
    val kin = new DataInputStream(new ByteArrayInputStream(key))
    val topic = kin.readInt()
    val normalizer = kin.readFloat()
    val vin = new DataInputStream(new ByteArrayInputStream(value))
    val n = vin.readInt()
    val m = Map.newBuilder[Int, Double]
    var i = 0
    while (i < n) { m += vin.readInt() -> vin.readDouble(); i += 1 }
    (topic, normalizer, m.result())
  }

  private[sources] def encodeBetaRecord(topic: Int, normalizer: Float,
      entries: Map[Int, Double]): (Array[Byte], Array[Byte]) = {
    val kb = new ByteArrayOutputStream(); val ko = new DataOutputStream(kb)
    ko.writeInt(topic); ko.writeFloat(normalizer)
    val vb = new ByteArrayOutputStream(); val vo = new DataOutputStream(vb)
    vo.writeInt(entries.size)
    entries.toSeq.sortBy(_._1).foreach { case (id, v) => vo.writeInt(id); vo.writeDouble(v) }
    (kb.toByteArray, vb.toByteArray)
  }

  /** Read a reference beta file into (topic, termId, elogbeta) rows —
    * `LdaCheckpoint.saveBeta`'s shape, directly resumable. */
  def readBeta(spark: SparkSession, path: String,
      splitBytes: Long = DefaultSplitBytes): DataFrame = {
    import spark.implicits._
    scanRaw(spark, path, splitBytes) { case (key, value) => decodeBetaRecord(key, value) }
      .flatMap { case (topic, normalizer, entries) =>
        entries.iterator.map { case (termId, v) => (topic, termId, v - normalizer) }
      }.toDF("topic", "termId", "elogbeta")
  }

  /** Export (topic, termId, elogbeta) rows in the reference layout: one
    * record per topic (the reference's reducer emits whole topic rows, so
    * each topic's map is assembled on one task — model-row sized, K×V/K). */
  def writeBeta(beta: DataFrame, path: String,
      syncIntervalBytes: Int = DefaultSyncIntervalBytes): Unit = {
    import beta.sparkSession.implicits._
    val perTopic = beta
      .select(col("topic").cast("int"), col("termId").cast("int"),
        col("elogbeta").cast("double"))
      .as[(Int, Int, Double)]
      .groupByKey(_._1)
      .mapGroups { (topic, it) =>
        (topic, it.map { case (_, termId, v) => termId -> v }.toMap)
      }
    writeRaw(perTopic, path, PairClassName, HMapClassName, syncIntervalBytes) {
      case (topic, entries) => encodeBetaRecord(topic, 0.0f, entries)
    }
  }

  // ---- informed prior (IntWritable topic -> ArrayListOfIntsWritable) ----

  /** Read a reference informed-prior file (InformedPrior.java:126-170:
    * topic 1..T → seed term ids; cloud9 `ArrayListOfIntsWritable` writes
    * `int size` then the ints) into (topic, termIds). */
  def readInformedPrior(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    scanRaw(spark, path, DefaultSplitBytes) { case (key, value) =>
      val in = new DataInputStream(new ByteArrayInputStream(value))
      val n = in.readInt()
      (decodeIntKey(key), (0 until n).map(_ => in.readInt()))
    }.toDF("topic", "termIds")
  }

  /** Export (topic INT, termIds ARRAY<INT>) in the reference layout. */
  def writeInformedPrior(df: DataFrame, path: String,
      syncIntervalBytes: Int = DefaultSyncIntervalBytes): Unit = {
    import df.sparkSession.implicits._
    writeRaw(df.select(col("topic").cast("int"), col("termIds").cast("array<int>"))
        .as[(Int, Seq[Int])],
      path, KeyClassName, "edu.umd.cloud9.io.array.ArrayListOfIntsWritable",
      syncIntervalBytes) { case (topic, ids) =>
      val b = new ByteArrayOutputStream(); val o = new DataOutputStream(b)
      o.writeInt(ids.size)
      ids.foreach(o.writeInt)
      (intKey(topic), b.toByteArray)
    }
  }

  /**
   * One-call migration: convert a reference model (alpha-<i> + beta-<i>
   * SequenceFiles) into a graft checkpoint at `outDir`, from which
   * `Trainer.train(resumeFrom = Some((outDir, iter)))` continues training
   * and `DisplayTopicCli --model outDir --index <iter>` reads directly.
   * Gamma (per-doc warm start) lives inside the reference's document
   * SequenceFiles — pass the corpus dir to carry it over too.
   */
  def importLegacyCheckpoint(spark: SparkSession, alphaPath: String, betaPath: String,
      outDir: String, iter: Int, corpusPath: Option[String] = None): Unit = {
    graft.lda.LdaCheckpoint.saveAlpha(spark, outDir, iter, readAlpha(spark, alphaPath))
    graft.lda.LdaCheckpoint.saveBeta(readBeta(spark, betaPath), outDir, iter)
    corpusPath.foreach { cp =>
      graft.lda.LdaCheckpoint.saveGamma(
        MrldaSequenceFile.readDocs(spark, cp).toDF(), outDir, iter)
    }
  }

  /** Polylingual migration: the reference writes one `beta_lang<l>-<i>`
    * file per language (polylda/VariationalInference.java:358-399, same
    * PairOfIntFloat/HMapIDW framing); pass them ordered by graft's
    * 0-based language index. Produces PolyTrainer's checkpoint layout
    * (beta-<i> keeps the lang column, gamma holds PolyDoc rows). */
  def importLegacyPolyCheckpoint(spark: SparkSession, alphaPath: String,
      betaPathsByLang: Seq[String], outDir: String, iter: Int,
      corpusPath: Option[String] = None): Unit = {
    require(betaPathsByLang.nonEmpty,
      "betaPathsByLang is empty — no beta_lang<l> files matched; check the model path/glob")
    graft.lda.LdaCheckpoint.saveAlpha(spark, outDir, iter, readAlpha(spark, alphaPath))
    graft.lda.LdaCheckpoint.saveBeta(betaPathsByLang.zipWithIndex
      .map { case (p, lang) => readBeta(spark, p).withColumn("lang", lit(lang)) }
      .reduce(_.unionByName(_)), outDir, iter)
    corpusPath.foreach { cp =>
      graft.lda.LdaCheckpoint.saveGamma(
        MrldaSequenceFile.readPolyDocs(spark, cp).toDF()
          .select(col("docId"), col("counts"), col("numTokens"),
            col("totalTokens"), col("gamma")),
        outDir, iter)
    }
  }
}
