package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.graftshim.shim

/**
 * Optimization-round measurement harness (guide §1): for each named bench
 * query, capture `.explain("formatted")` to a file and time the computation
 * against the noop sink (so the sink cost and the count()-prune ambiguity
 * are out of the number), with per-stage shuffle/task metrics recorded by a
 * listener. Jobs are labelled with the query name so the listener can
 * attribute stages.
 *
 * Usage: runMain graft.tools.PlanProfile <sfDir> <outDir> [q1,q2,...]
 * Writes <outDir>/<query>.txt (formatted plan) and prints per-query
 * noop-sink seconds + stage aggregate lines to stdout.
 */
object PlanProfile {

  /** `k1=v1,k2=v2` → (key, value) pairs. An entry ends only at a comma
    * followed by `key=` with the key starting with a letter, so a value may
    * hold commas (`spark.driver.extraJavaOptions=-Da=1,-Db=2` is one entry);
    * an entry without `key=` is an error, not dropped. */
  private[graft] def extraConf(s: String): Seq[(String, String)] =
    s.split(",(?=\\s*[A-Za-z][\\w.-]*\\s*=)").toSeq.filter(_.trim.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => (k.trim, v.trim)
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_EXTRA_CONF entry is not key=value: '$kv'")
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only: Option[Set[String]] = args.lift(2).map(_.split(',').toSet)
    val cpus = graft.GraftSession.cpus
    var builder = graft.GraftSession.builder("graft-planprofile", cpus)
      .master(s"local[$cpus]")
    // A/B experiment hook: SPARK_GRAFT_EXTRA_CONF="k1=v1,k2=v2" lets a
    // config candidate be profiled without editing the Bench contract
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach { s =>
      extraConf(s).foreach { case (k, v) => builder = builder.config(k, v) }
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    // per-stage metrics keyed by the job description current at submit time
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long, Long, Long, Long, Long)]()
    @volatile var currentLabel = ""
    val stageDump = sys.env.contains("SPARK_GRAFT_STAGE_DUMP")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        stages.add((currentLabel,
          m.executorRunTime,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          sc.stageInfo.numTasks.toLong,
          m.executorCpuTime / 1000000,
          m.jvmGCTime))
        if (stageDump) {
          val wall = (for {
            c <- sc.stageInfo.completionTime; s <- sc.stageInfo.submissionTime
          } yield c - s).getOrElse(-1L)
          println(f"[stage] ${sc.stageInfo.stageId}%5d tasks=${sc.stageInfo.numTasks}%4d wall=${wall}%6dms run=${m.executorRunTime}%7dms gc=${m.jvmGCTime}%6dms deser=${m.executorDeserializeTime}%6dms cpu=${m.executorCpuTime / 1000000}%7dms ${sc.stageInfo.name.take(80)}")
        }
      }
    })

    val names = graft.SparkEntry.benchQueries.filter(n => only.forall(_.contains(n)))
    // one warm pass at the smallest SF (same rationale as Bench);
    // overridable so a non-default data layout can warm from its own dir
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    names.foreach { n =>
      try graft.SparkEntry.queries(n)(spark, warmDir).count()
      catch { case e: Throwable => System.err.println(s"[profile] warm $n failed: $e") }
    }

    names.foreach { name =>
      System.gc(); Thread.sleep(1500)
      currentLabel = name
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"$name.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        // listener-bus events are asynchronous: deliver every stage event
        // posted so far before aggregating, so late events are neither
        // dropped nor attributed to the next label
        shim.drainListenerBus(spark, 10000)
        val mine = stages.toArray(Array.empty[(String, Long, Long, Long, Long, Long, Long)])
          .filter(_._1 == name)
        val runMs = mine.map(_._2).sum
        val shr = mine.map(_._3).sum
        val shw = mine.map(_._4).sum
        val tasks = mine.map(_._5).sum
        val cpuMs = mine.map(_._6).sum
        val gcMs = mine.map(_._7).sum
        println(f"[profile] $name%-32s noop=$sec%7.2fs stages=${mine.length}%4d tasks=$tasks%5d execRun=${runMs / 1000.0}%8.1fs cpu=${cpuMs / 1000.0}%7.1fs gc=${gcMs / 1000.0}%6.1fs shufR=${shr / 1e6}%9.2fMB shufW=${shw / 1e6}%9.2fMB")
      } catch {
        case e: Throwable =>
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"[profile] $name%-32s FAILED after $sec%.2fs: $e")
      }
      spark.sparkContext.setJobDescription(null)
    }
    spark.stop()
  }
}
