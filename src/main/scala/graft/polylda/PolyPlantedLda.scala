package graft.polylda

import graft.lda.{EmCore, PlantedLda}
import graft.model.PolyDoc
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The polylingual twin of [[graft.lda.PlantedLda]]: a planted two-
 * "language" micro-corpus (language 0 = words lexicographically below
 * "n", language 1 = the rest — a deterministic SQL-expressible split)
 * run through the REAL polylda operators — the EM core's E-step with the
 * fixture-only anchor knobs, the distributed (lang, topic, term)
 * logsumexp fold, and the driver-side M-step tail (eta-FREE
 * M-step with the -700 underflow floor, the polylda reducer's
 * semantics per cc/mrlda/polylda/TermReducer.java:84-119) — with every
 * handoff rounding-anchored so DuckDB replays the trajectory
 * ([[graft.queries.LdaPlantedOracle.polySql]]).
 */
object PolyPlantedLda {

  case class Cfg(
      k: Int = 2,
      vocabPerLang: Int = 10,
      maxDocId: Long = 30,
      emIters: Int = 3,
      sweeps: Int = 3,
      alpha: Double = 0.5,
      gammaDp: Int = 8,
      phiDp: Int = 10,
      betaDp: Int = 8,
      /** supply beta to the E-step as a joined table (the per-language
        * beta-as-table scale path); same oracle — see
        * [[graft.lda.PlantedLda.Cfg.useShuffle]]. */
      useShuffle: Boolean = false)

  private def rnd(x: Double, dp: Int): Double =
    BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Planted per-language init, packed (lang, termId) keys:
    * round(-ln V_l + ((7w + 3t + 5l) mod 11 - 5)/100, 8). */
  private[polylda] def initBeta(cfg: Cfg): Map[Long, Array[Double]] =
    (for (l <- 0 until 2; w <- 0 until cfg.vocabPerLang) yield
      EmCore.key(l, w) -> Array.tabulate(cfg.k)(t =>
        rnd(-math.log(cfg.vocabPerLang.toDouble) +
          ((w * 7 + t * 3 + l * 5) % 11 - 5) / 100.0, cfg.betaDp))).toMap

  private[polylda] def corpus(spark: SparkSession, dir: String, cfg: Cfg): Seq[PolyDoc] = {
    import spark.implicits._
    val words = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") < cfg.maxDocId)
      .select(col("doc_id").cast("long").as("doc"),
        explode(filter(split(lower(col("text")), " "), w => w =!= "")).as("word"))
      .withColumn("lang", when(col("word") < "n", 0).otherwise(1))
    val vocab: Map[(Int, String), Int] = words
      .groupBy($"lang", $"word").agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1)
      .toSeq
      .flatMap { case (l, rows) =>
        rows.toSeq.sortBy(r => (-r._3, r._2)).take(cfg.vocabPerLang)
          .zipWithIndex.map { case ((_, w, _), i) => (l, w) -> i }
      }.toMap
    val vocabBc = spark.sparkContext.broadcast(vocab)
    words.select($"doc", $"lang", $"word").as[(Long, Int, String)]
      .flatMap { case (d, l, w) => vocabBc.value.get((l, w)).map(t => (d, l, t)) }
      .groupByKey(_._1)
      .mapGroups { (d, it) =>
        val m = scala.collection.mutable.Map.empty[Int, scala.collection.mutable.Map[Int, Int]]
        it.foreach { case (_, l, t) =>
          val lm = m.getOrElseUpdate(l, scala.collection.mutable.Map.empty)
          lm(t) = lm.getOrElse(t, 0) + 1
        }
        val counts = m.map { case (l, lm) => l -> lm.toMap }.toMap
        val numTokens = counts.map { case (l, lm) => l -> lm.valuesIterator.map(_.toLong).sum }
        PolyDoc(d, counts, numTokens, numTokens.valuesIterator.sum)
      }
      .collect().toSeq.sortBy(_.docId)
  }

  /** Tidy rows: ('beta', lang, topic, termId, value 8dp) for the final
    * per-language model and ('gamma', -1, k+1, docId, gamma_k 8dp). */
  def run(spark: SparkSession, dir: String, cfg: Cfg = Cfg()): DataFrame = {
    import spark.implicits._
    // the driver tail applies the polylda reducer's -700 underflow floor
    val (beta, finalRows) = PlantedLda.anchoredEm(spark, corpus(spark, dir, cfg), PolyDocs,
      EmCore.Smoothing.floor, initBeta(cfg),
      PolyTrainer.vocab(Map(0 -> cfg.vocabPerLang, 1 -> cfg.vocabPerLang)),
      (d: PolyDoc, g: Map[Long, Array[Double]]) => d.copy(gamma = Some(g(d.docId))),
      Array.fill(cfg.k)(cfg.alpha), cfg.emIters,
      EmCore.Sweeps(cfg.sweeps + 1, randomStartGamma = false, learning = true, seed = 42L,
        anchorGammaDp = cfg.gammaDp, anchorPhiDp = cfg.phiDp),
      cfg.betaDp, cfg.useShuffle)

    val betaRows = beta.toSeq.flatMap { case (w, arr) =>
      arr.zipWithIndex.map { case (e, t) =>
        ("beta", EmCore.langOf(w), t + 1, EmCore.termOf(w).toLong, e)
      }
    }
    val gammaRows = finalRows.toSeq.flatMap { case (d, g, _) =>
      g.zipWithIndex.map { case (v, t) => ("gamma", -1, t + 1, d, v) }
    }
    (betaRows ++ gammaRows)
      .toDF("kind", "lang", "topic", "idx", "value")
      .orderBy($"kind", $"lang", $"topic", $"idx")
  }
}
