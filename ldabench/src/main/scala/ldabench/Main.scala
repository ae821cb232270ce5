package ldabench

import graft.GraftSession
import graft.model.Doc
import org.apache.spark.ml.clustering.LDA
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/**
 * The LDA pipeline benchmark driver.
 *
 *   ldabench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
 *
 * One JVM runs one workload with master `local[nproc]` and a session from
 * `GraftSession.builder`: a batch job, one pipeline at a time. It
 * generates the corpus from the seed, sets up twice (session start plus a
 * checked warm-up pass of all four operations on a small corpus of the
 * same shape, training it for one iteration), then repeats parse → train →
 * infer → inspect while another pass fits in `--seconds` (at least once),
 * checking every pass. With `--trace 0` the last stdout line carries the end-to-end
 * metrics as medians over the passes; with `--trace 1` it carries the
 * per-layer metrics of one traced pass, the isolated layer calls and the
 * baselines.
 */
object Main {

  /** The workloads, scaled down from the paper-regime shapes until 48 runs
    * take under an hour on 4 cores, each keeping its dominant layer. */
  val Workloads: Seq[Workload] = Seq(
    Workload("ap_dense", Shape(docs = 160, meanLens = Seq(200), vocabs = Seq(10000), topics = 20),
      topics = 20, sweeps = 100, iterations = 2),
    Workload("poly_ingest", Shape(docs = 800, meanLens = Seq(80, 60), vocabs = Seq(20000, 20000),
      topics = 20, nullEvery = 7), topics = 10, sweeps = 5, iterations = 2))

  /** Set-ups per run: the first pays the JVM's class loading and code
    * generation, the second a fresh session only; two set-ups put the
    * first measured pass within a few per cent of the passes after it. */
  val SetupRepeats = 2
  /** Timings that go to the result line; the rest are breakdown only. */
  val Gated = Set("setup_s", "pipeline_s", "train_s")
  /** The warm-up pass runs on this share of the workload's documents and
    * trains them for one iteration. */
  val WarmupShare = 0.05

  final case class Args(workload: Workload, seed: Long, seconds: Double, trace: Boolean, work: Path)

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val name = need("workload")
    val wl = Workloads.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown workload $name; have ${Workloads.map(_.name).mkString(", ")}"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace is 0 or 1, got $t")
    }
    Args(wl, need("seed").toLong, need("seconds").toDouble, trace, Paths.get(need("work")))
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val result = new Bench(args).run()
    println(result)
  }
}

/** One benchmark run; prints breakdown lines and returns the result line. */
final class Bench(args: Main.Args) {
  import Main._

  private val wl = args.workload
  private val warmup = wl.copy(shape = wl.shape.scaled(WarmupShare), iterations = 1)
  private val cores = Runtime.getRuntime.availableProcessors()
  private val work = args.work
  private val mainCorpus = work.resolve("corpus").resolve("docs.txt")
  private val warmCorpus = work.resolve("warmup").resolve("docs.txt")
  private var spark: SparkSession = _
  private val sessionStarts = mutable.ArrayBuffer[Double]()
  private val setupProblems = mutable.ArrayBuffer[String]()
  private val warmupTimes = mutable.ArrayBuffer[OpTimes]()
  /** Wall seconds of the run's parts, printed on the traced run's breakdown line. */
  private val phases = mutable.LinkedHashMap[String, Double]()

  private def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally phases(name) = (System.nanoTime() - t0) / 1e9
  }

  def run(): String = {
    val info = Corpora.write(wl.shape, args.seed, mainCorpus)
    val warmInfo = Corpora.write(warmup.shape, args.seed ^ 0x5eed, warmCorpus)
    try {
      val setups = phase("setups")((1 to SetupRepeats).map(_ => setUp(warmInfo)))
      if (args.trace) traced(info) else untraced(info, setups)
    } finally if (spark != null) spark.stop()
  }

  /** One set-up: a fresh session, then a checked warm-up pass through all
    * four operations on the small corpus. Returns its seconds. */
  private def setUp(warmInfo: CorpusInfo): Double = {
    val t0 = System.nanoTime()
    newSession(cores)
    sessionStarts += (System.nanoTime() - t0) / 1e9
    val o = Pipeline.run(spark, warmup, warmCorpus.toString, warmInfo, Untraced, keep = false)
    Pipeline.release(spark)
    setupProblems ++= o.problems.map("warm-up: " + _)
    warmupTimes += o.times
    (System.nanoTime() - t0) / 1e9
  }

  private def newSession(n: Int): Unit = {
    if (spark != null) spark.stop()
    spark = GraftSession.builder("ldabench", parallelism = n)
      .master(s"local[$n]")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toUri.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  /** One measured pass over the main corpus. */
  private def pass(info: CorpusInfo, tracer: Tracer, keep: Boolean): Outcome = {
    val out = Pipeline.run(spark, wl, mainCorpus.toString, info, tracer, keep)
    if (!keep) Pipeline.release(spark)
    out
  }

  /** End-to-end metrics: medians over as many passes as fit the window. */
  private def untraced(info: CorpusInfo, setups: Seq[Double]): String = {
    val outcomes = mutable.ArrayBuffer[Outcome]()
    val walls = mutable.ArrayBuffer[Double]()
    var attempted = 0L
    var failed = 0L
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    do {
      val p0 = System.nanoTime()
      attempted += OpsPerPass
      try {
        val o = pass(info, Untraced, keep = false)
        if (o.problems.nonEmpty) {
          failed += 1
          System.err.println(s"[ldabench] check failed: ${o.problems.mkString("; ")}")
        }
        outcomes += o
      } catch {
        case e: Exception =>
          failed += OpsPerPass
          System.err.println(s"[ldabench] pass failed: $e")
          e.printStackTrace()
          Pipeline.release(spark)
      }
      walls += (System.nanoTime() - p0) / 1e9
    } while (elapsed + Stats.median(walls.toSeq) <= args.seconds)

    val digests = outcomes.map(_.digest).distinct
    val correct = failed == 0 && outcomes.nonEmpty && digests.size == 1 && setupProblems.isEmpty
    if (digests.size > 1) System.err.println(s"[ldabench] digests differ across passes: $digests")
    if (setupProblems.nonEmpty) System.err.println(s"[ldabench] check failed: ${setupProblems.mkString("; ")}")
    val timings: Seq[(String, Seq[Double])] = Seq("setup_s" -> setups) ++
      Seq[(String, OpTimes => Double)]("pipeline_s" -> (_.pipeline), "parse_s" -> (_.parse),
        "train_s" -> (_.train), "infer_s" -> (_.infer), "inspect_s" -> (_.inspect))
        .map { case (n, f) => n -> outcomes.map(o => f(o.times)).toSeq }
    println(Json.write(Json.obj(
      "workload" -> wl.name, "seed" -> args.seed, "passes" -> outcomes.size,
      "setup_samples_s" -> setups,
      "session_start_samples_s" -> sessionStarts.toSeq,
      "warmup_pass_samples_s" -> warmupTimes.toSeq.map(opTimes),
      "digest" -> digests.mkString(","),
      "corpus" -> Json.obj("docs" -> info.docs, "tokens" -> info.tokens,
        "heldout_docs" -> info.heldoutDocs, "heldout_tokens" -> info.heldoutTokens),
      "timings" -> Json.obj(timings.filter(_._2.nonEmpty).map { case (n, xs) =>
        val s = Stats.summarize(xs)
        n -> Json.obj(Seq("median" -> s.median, "unit" -> "s", "n" -> s.n, "samples" -> xs) ++
          s.tail.toSeq.flatMap { case (p, v) => Seq("tail_percentile" -> p, "tail" -> v) }: _*)
      }: _*))))
    // parse_s, infer_s and inspect_s stay in the breakdown above: short,
    // scheduling-bound operations whose run-to-run spread on a shared
    // 4-core host exceeds any bound the result line may carry
    val metrics: Seq[(String, Double, String)] =
      if (outcomes.isEmpty) Nil
      else timings.collect { case (n, xs) if Gated(n) => (n, Stats.median(xs), "s") } ++ Seq(
        ("heldout_nll_per_token", outcomes.head.heldoutNllPerToken, "nats/token"),
        ("live_heap_mb", outcomes.map(_.heapMb.values.max).max, "MB"))
    Json.result(correct, attempted, failed, metrics)
  }

  /** Per-layer metrics from one traced pass, the isolated layer calls
    * and, on the vanilla workload, the local[1] and MLlib baselines. The
    * traced pass follows the same set-ups as an untraced run's measured
    * pass, so its layers split that pass. An untraced pass follows the
    * isolated calls; the tracing overhead is the traced pass minus it, an
    * upper bound, since the first full-size pass is the slower one. */
  private def traced(info: CorpusInfo): String = {
    val rec = Recorder.register(spark.sparkContext, s"${wl.name}-${args.seed}")
    val out = phase("traced_pass")(pass(info, rec, keep = true))
    val work = phase("layers")(
      out.trained.map(t => Layers.split(t, wl, rec, this.work.resolve("layer-snapshot"))))
    rec.finish()
    spark.sparkContext.removeSparkListener(rec)
    Pipeline.release(spark)
    val plain = phase("untraced_pass")(pass(info, Untraced, keep = false))
    val dropped = rec.droppedEvents
    val m = mutable.LinkedHashMap[String, (Double, String)]()
    def put(name: String, v: Double, unit: String): Unit = m(name) = (v, unit)

    def parseMetrics(prefix: String): Unit = {
      val c = rec.counters(prefix)
      put(s"$prefix.wall_s", c.wallS, "s")
      put(s"$prefix.tokens", if (rec.last(prefix).isDefined) info.tokens.toDouble else 0, "count")
      put(s"$prefix.stages", c.stages, "count")
      put(s"$prefix.tasks", c.tasks.toDouble, "count")
      put(s"$prefix.cpu_s", c.cpuS, "s")
      put(s"$prefix.shuffle_bytes", c.shuffleBytes.toDouble, "bytes")
      put(s"$prefix.core_util", c.coreUtil(cores), "share")
    }
    parseMetrics("corpus")
    parseMetrics("polylda.parse")

    val iters = wl.iterations.toDouble
    val tr = rec.counters("lda.trainer")
    val estep = rec.counters("lda.estep")
    val mstep = rec.counters("lda.mstep")
    val alphaS = rec.counters("lda.alpha").wallS
    val estepSh = rec.counters("lda.estep_shuffle")
    val mstepSh = rec.counters("lda.mstep_shuffle")
    val ckpt = rec.counters("lda.checkpoint")
    val iterS = tr.wallS / iters
    val phiUpdates = work.map(w => w.nnz * wl.topics * wl.sweeps.toLong).getOrElse(0L).toDouble
    def nsPerUpdate(c: Counters) = if (phiUpdates > 0) c.wallS * 1e9 / phiUpdates else 0.0
    def share(part: Double, whole: Double) = if (whole > 0) part / whole else 0.0
    put("lda.trainer.iter_s", iterS, "s")
    put("lda.trainer.stages_per_iter", tr.stages / iters, "count")
    put("lda.trainer.tasks_per_iter", tr.tasks / iters, "count")
    put("lda.trainer.jobs_per_iter", tr.jobs / iters, "count")
    put("lda.trainer.cpu_s_per_iter", tr.cpuS / iters, "s")
    put("lda.trainer.gc_s_per_iter", tr.gcS / iters, "s")
    put("lda.trainer.shuffle_bytes_per_iter", tr.shuffleBytes / iters, "bytes")
    put("lda.trainer.driver_s_per_iter", tr.driverS / iters, "s")
    put("lda.trainer.core_util", tr.coreUtil(cores), "share")
    put("lda.trainer.wait_share", tr.waitShare, "share")
    put("lda.trainer.empty_task_share", share(tr.emptyTasks.toDouble, tr.tasks.toDouble), "share")
    put("lda.trainer.failed_tasks", tr.failedTasks.toDouble, "count")
    put("lda.trainer.loop_overhead_s",
      if (work.isDefined) iterS - estep.wallS - mstep.wallS - alphaS else 0, "s")
    put("lda.estep.wall_s", estep.wallS, "s")
    put("lda.estep.tasks", estep.tasks.toDouble, "count")
    put("lda.estep.phi_updates", phiUpdates, "count")
    put("lda.estep.ns_per_phi_update", nsPerUpdate(estep), "ns")
    put("lda.estep.core_util", estep.coreUtil(cores), "share")
    put("lda.estep.share_of_iter", share(estep.wallS, iterS), "share")
    put("lda.mstep.wall_s", mstep.wallS, "s")
    put("lda.mstep.stages", mstep.stages, "count")
    put("lda.mstep.shuffle_bytes", mstep.shuffleBytes.toDouble, "bytes")
    put("lda.mstep.phi_rows", work.map(_.phiRows).getOrElse(0L).toDouble, "count")
    put("lda.mstep.driver_tail_s", rec.counters("lda.mstep.driver_tail").wallS, "s")
    put("lda.alpha.wall_ms", alphaS * 1e3, "ms")
    put("lda.estep_shuffle.wall_s", estepSh.wallS, "s")
    put("lda.estep_shuffle.stages", estepSh.stages, "count")
    put("lda.estep_shuffle.shuffle_bytes", estepSh.shuffleBytes.toDouble, "bytes")
    put("lda.estep_shuffle.ns_per_phi_update", nsPerUpdate(estepSh), "ns")
    put("lda.mstep_shuffle.wall_s", mstepSh.wallS, "s")
    put("lda.mstep_shuffle.stages", mstepSh.stages, "count")
    put("lda.mstep_shuffle.shuffle_bytes", mstepSh.shuffleBytes.toDouble, "bytes")
    put("lda.checkpoint.write_s", ckpt.wallS, "s")
    put("lda.checkpoint.bytes_per_iter", work.map(_.checkpointBytes).getOrElse(0L).toDouble, "bytes")
    put("lda.scale_path.fold_share",
      share(mstepSh.wallS + ckpt.wallS, estepSh.wallS + mstepSh.wallS + alphaS + ckpt.wallS), "share")
    val inf = rec.counters("lda.infer")
    put("lda.infer.wall_s", inf.wallS, "s")
    put("lda.infer.cpu_s", inf.cpuS, "s")
    put("lda.infer.core_util", inf.coreUtil(cores), "share")
    val disp = rec.counters("lda.display")
    put("lda.display.wall_s", disp.wallS, "s")
    put("lda.display.driver_s", disp.driverS, "s")
    val ptr = rec.counters("polylda.trainer")
    put("polylda.trainer.iter_s", ptr.wallS / iters, "s")
    put("polylda.trainer.stages_per_iter", ptr.stages / iters, "count")
    put("polylda.trainer.cpu_s_per_iter", ptr.cpuS / iters, "s")
    put("polylda.trainer.shuffle_bytes_per_iter", ptr.shuffleBytes / iters, "bytes")
    put("polylda.trainer.core_util", ptr.coreUtil(cores), "share")
    put("polylda.infer.wall_s", rec.counters("polylda.infer").wallS, "s")
    put("polylda.display.wall_s", rec.counters("polylda.display").wallS, "s")
    Seq("parse", "train", "infer", "inspect").foreach(op =>
      put(s"jvm.live_heap_mb.$op", out.heapMb.getOrElse(op, 0.0), "MB"))
    put("jvm.gc_s", out.gcS, "s")
    put("spark.dropped_events", dropped.toDouble, "count")
    put("trace.overhead_s", out.times.pipeline - plain.times.pipeline, "s")

    val base = if (wl.poly) None else Some(baselines(plain.times.train))
    put("ap_dense.scaling_eff", base.map(_._1).getOrElse(0.0), "share")
    put("mllib.iter_s", base.map(_._2).getOrElse(0.0), "s")
    put("mllib.heldout_log_perplexity", base.map(_._3).getOrElse(0.0), "nats/token")

    writeSpans(rec)
    println(Json.write(Json.obj("workload" -> wl.name, "seed" -> args.seed, "trace" -> 1,
      "untraced_pass_s" -> opTimes(plain.times), "traced_pass_s" -> opTimes(out.times),
      "phase_s" -> Json.obj(phases.toSeq: _*),
      "jobs_by_call_site" -> rec.jobsByCallSite.map { case (site, n, s) =>
        Json.obj("call_site" -> site, "jobs" -> n, "wall_s" -> s) })))
    val problems = setupProblems.toSeq ++ out.problems ++ plain.problems ++
      (if (dropped > 0) Seq(s"$dropped listener events dropped") else Nil) ++
      (if (out.digest != plain.digest) Seq("traced and untraced digests differ") else Nil)
    if (problems.nonEmpty) System.err.println(s"[ldabench] check failed: ${problems.mkString("; ")}")
    Json.result(problems.isEmpty, 2L * OpsPerPass, if (problems.isEmpty) 0 else 1,
      m.toSeq.map { case (n, (v, u)) => (n, v, u) })
  }

  /** (scaling efficiency of train at local[1] against local[nproc], MLlib
    * seconds per iteration, MLlib held-out log-perplexity). */
  private def baselines(trainN: Double): (Double, Double, Double) = {
    val (iterS, perplexity) = phase("mllib")(mllib())
    val train1 = phase("local1")(trainAtLocal1())
    (train1 / (cores * trainN), iterS, perplexity)
  }

  /** MLlib's online LDA on the same corpus: (seconds per iteration,
    * held-out log-perplexity). */
  private def mllib(): (Double, Double) = {
    val s = spark
    import s.implicits._
    val (parsed, train, held) = Pipeline.parseVanilla(spark, mainCorpus.toString)
    val dim = parsed.stats.numTerms.toInt + 1
    val features = (ds: org.apache.spark.sql.Dataset[Doc]) => ds.rdd
      .map(d => (d.docId, Vectors.sparse(dim, d.counts.toSeq.map { case (w, c) => (w, c.toDouble) })))
      .toDF("docId", "features")
    val trainDf = features(train).cache()
    val heldDf = features(held).cache()
    trainDf.count()
    heldDf.count()
    val lda = new LDA().setK(wl.topics).setMaxIter(wl.iterations).setOptimizer("online")
      .setSubsamplingRate(1.0).setSeed(args.seed)
    val t0 = System.nanoTime()
    val mllib = lda.fit(trainDf)
    val iterS = (System.nanoTime() - t0) / 1e9 / wl.iterations
    val perplexity = mllib.logPerplexity(heldDf)
    Pipeline.release(spark)
    (iterS, perplexity)
  }

  /** Seconds of the same `train` call in a fresh session on `local[1]`. */
  private def trainAtLocal1(): Double = {
    newSession(1)
    val (p, train1Docs, _) = Pipeline.parseVanilla(spark, mainCorpus.toString)
    val t1 = System.nanoTime()
    graft.lda.Trainer.train(train1Docs, p.stats.numTerms.toInt, wl.trainerConfig)
    (System.nanoTime() - t1) / 1e9
  }

  private def opTimes(t: OpTimes) = Json.obj("parse" -> t.parse, "train" -> t.train,
    "infer" -> t.infer, "inspect" -> t.inspect)

  private def writeSpans(rec: Recorder): Unit = {
    val lines = rec.allSpans.map(s => Json.write(Json.obj("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "run" -> s.run, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "wall_s" -> s.wallS)))
    Files.write(work.resolve("spans.jsonl"), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    Files.write(work.resolve("stages.jsonl"), (rec.stageLines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  private val OpsPerPass = 4
}
