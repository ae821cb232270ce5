package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import graft.streaming.EventsStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * The watermark drop/evict boundary, proven with stragglers that arrive
 * BEYOND the horizon. Every other streaming test keeps late data inside
 * the watermark, so eviction was asserted only by implication. Here a
 * controlled two-batch replay (file added between processAllAvailable
 * calls) plants events past the boundary and the expected outputs apply
 * the SAME cutoff rule the engine defines:
 *   - watermark after a batch = max(event time seen) − delay;
 *   - a row arriving with ts below the current watermark is dropped;
 *   - append mode emits a window once the watermark passes its end.
 * The transformations under test are the exact ones the registry queries
 * run (EventsStream.hourlyAggregate / dedupWatermarkedAggregate).
 */
class StreamingLateDataSpec extends SparkSpec {

  private def ts(hhmm: String): Timestamp =
    Timestamp.valueOf(s"2024-03-01 $hhmm:00")

  /** Write one batch of events as a single parquet file inside `srcDir`
    * (staged elsewhere, then moved in — the file source must see a
    * complete file appear atomically). */
  private def addBatch(srcDir: Path, name: String,
      rows: Seq[(String, Long, String, Double, Timestamp)]): Unit = {
    import spark.implicits._
    val staging = TempDirs.create("late_stage_")
    rows.toDF("event_id", "user_id", "event_type", "value", "ts")
      .coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = Files.list(staging).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, srcDir.resolve(s"$name.parquet"))
  }

  private def runReplay(transform: DataFrame => DataFrame, outputMode: String,
      batch1: Seq[(String, Long, String, Double, Timestamp)],
      batch2: Seq[(String, Long, String, Double, Timestamp)]): Seq[String] = {
    import spark.implicits._
    val srcDir = TempDirs.create("late_src_")
    addBatch(srcDir, "b1", batch1)
    val schema = spark.read.parquet(srcDir.toString).schema
    val name = s"late_replay_${System.nanoTime()}"
    val sinkDir = TempDirs.create("late_sink_").toString
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
    val writer = transform(stream).writeStream.outputMode(outputMode)
    val q =
      if (outputMode == "append")
        writer.format("parquet").option("path", s"$sinkDir/out")
          .option("checkpointLocation", s"$sinkDir/ckpt").start()
      else writer.format("memory").queryName(name).start()
    q.processAllAvailable() // batch 1 → watermark advances
    addBatch(srcDir, "b2", batch2)
    q.processAllAvailable() // batch 2 arrives AGAINST the batch-1 watermark
    q.stop()
    val result =
      if (outputMode == "append") spark.read.parquet(s"$sinkDir/out")
      else spark.table(name)
    result.collect().map(_.mkString("|")).sorted.toSeq
  }

  test("streaming EWMA state carries across micro-batches (equals the batch fold)") {
    import spark.implicits._
    // two time-ordered batches for two users; the second batch's folds
    // must continue from batch-1 state, not restart
    val batch1 = Seq(
      ("1", 1L, "purchase", 4.0, ts("10:00")),
      ("2", 1L, "purchase", 8.0, ts("10:10")),
      ("3", 2L, "purchase", 100.0, ts("10:05")))
    val batch2 = Seq(
      ("4", 1L, "purchase", 8.0, ts("11:00")),
      ("5", 2L, "purchase", 0.0, ts("11:05")))

    val srcDir = TempDirs.create("ewma_src_")
    addBatch(srcDir, "b1", batch1.map(r => (r._1, r._2, r._3, r._4, r._5)))
    val schema = spark.read.parquet(srcDir.toString).schema
    val name = s"ewma_replay_${System.nanoTime()}"
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
    // the PRODUCTION transform (EventsStream.ewmaTransform), driven over a
    // controlled two-batch replay the fixed-dir ewmaStream can't stage
    val q = EventsStream.ewmaTransform(
        stream.filter($"event_type" === "purchase")
          .select($"user_id".cast("long").as("user_id"),
            unix_micros($"ts").as("tsUs"),
            $"event_id".cast("long").as("event_id"),
            $"value".cast("double").as("value"))
          .as[graft.streaming.EwmaEvent], alpha = 0.5)
      .writeStream.outputMode("update").format("memory").queryName(name).start()
    q.processAllAvailable()
    addBatch(srcDir, "b2", batch2)
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name)
      .select($"user_id", $"event_id", $"ewma")
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    // user 1: 4.0; 0.5*8+0.5*4 = 6.0; batch 2 continues: 0.5*8+0.5*6 = 7.0
    // user 2: 100.0; batch 2 continues: 0.5*0+0.5*100 = 50.0
    assert(got == Seq((1L, 1L, 4.0), (1L, 2L, 6.0), (1L, 4L, 7.0),
      (2L, 3L, 100.0), (2L, 5L, 50.0)), got.mkString(", "))
  }

  test("streaming z-score baseline spans the micro-batch boundary") {
    import spark.implicits._
    // 6 calm points in batch 1, the spike in batch 2: its baseline is the
    // carried buffer, which only works if GroupState survives the boundary
    val batch1 = (1 to 6).map(i =>
      (i.toString, 1L, "purchase", 10.0 + (i % 2), ts(f"10:0$i")))
    val batch2 = Seq(("7", 1L, "purchase", 1000.0, ts("10:10")))
    val srcDir = TempDirs.create("zs_src_")
    addBatch(srcDir, "b1", batch1)
    val schema = spark.read.parquet(srcDir.toString).schema
    val name = s"zs_replay_${System.nanoTime()}"
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
    val q = EventsStream.zscoreTransform(
        stream.filter($"event_type" === "purchase")
          .select($"user_id".cast("long").as("user_id"),
            unix_micros($"ts").as("tsUs"),
            $"event_id".cast("long").as("event_id"),
            $"value".cast("double").as("value"))
          .as[graft.streaming.EwmaEvent],
        lookback = 10, minPoints = 5, threshold = 3.0)
      .writeStream.outputMode("update").format("memory").queryName(name).start()
    q.processAllAvailable()
    addBatch(srcDir, "b2", batch2)
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name)
      .select($"event_id", $"z", $"is_anomaly")
      .as[(Long, Option[Double], Boolean)].collect().sortBy(_._1).toSeq
    assert(rows.take(5).forall(r => r._2.isEmpty && !r._3), "warm-up must be null")
    val spike = rows.last
    assert(spike._1 == 7L && spike._2.exists(_ > 100) && spike._3,
      s"cross-batch spike not flagged: $spike")
  }

  test("append windows: past-horizon stragglers drop, in-horizon late rows count") {
    val batch1 = Seq(
      ("e1", 1L, "view", 1.0, ts("10:05")),
      ("e2", 1L, "view", 1.0, ts("10:45")),
      ("e3", 2L, "purchase", 5.0, ts("11:10")),
      ("e4", 3L, "view", 1.0, ts("12:30"))) // max ts → watermark 11:30
    val batch2 = Seq(
      ("e5", 4L, "view", 1.0, ts("10:15")), // STRAGGLER: below 11:30 → dropped
      ("e6", 5L, "view", 1.0, ts("11:40")), // late but in-horizon → counted
      ("e7", 6L, "view", 1.0, ts("13:20"))) // advances watermark to 12:20

    val out = runReplay(EventsStream.hourlyAggregate, "append", batch1, batch2)

    // final watermark 12:20 → windows ending ≤ 12:20 finalized: [10:00)
    // without the straggler, [11:00) with the in-horizon late row; the
    // 12:00 and 13:00 windows never finalize (append semantics)
    assert(out == Seq(
      "2024-03-01 10:00|view|2|2.0",
      "2024-03-01 11:00|purchase|1|5.0",
      "2024-03-01 11:00|view|1|1.0").sorted, out.mkString("\n"))
  }

  test("watermarked dedup: duplicates and newcomers below the watermark drop") {
    val batch1 = Seq(
      ("A", 1L, "view", 10.0, ts("10:00")),
      ("B", 2L, "view", 5.0, ts("12:00"))) // max ts → watermark 11:00
    val batch2 = Seq(
      ("A", 1L, "view", 10.0, ts("10:00")), // dup BELOW watermark: dropped either way
      ("C", 3L, "view", 7.0, ts("12:00")),  // fresh, above watermark: kept
      ("C", 3L, "view", 7.0, ts("12:00")),  // in-batch duplicate: deduped
      ("D", 4L, "view", 9.0, ts("10:30"))) // NEW id but below watermark: dropped

    val out = runReplay(EventsStream.dedupWatermarkedAggregate(_, "1 hour"),
      "complete", batch1, batch2)

    // user 4 must be absent: its only event arrived beyond the horizon
    assert(out == Seq("1|1|10.0", "2|1|5.0", "3|1|7.0").sorted, out.mkString("\n"))
  }
}
