package ldabench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class RecorderSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("covered time is the union of the intervals, clipped to the window") {
    assert(Recorder.coveredMs(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0, 100) == 30)
    assert(Recorder.coveredMs(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 8, 35) == 17)
    assert(Recorder.coveredMs(Nil, 0, 100) == 0)
    assert(Recorder.coveredMs(Seq((50L, 60L)), 0, 10) == 0)
  }

  test("stages go to the span that ran them, children count toward parents") {
    val rec = Recorder.register(spark.sparkContext, "test")
    rec.span("outer") {
      spark.range(0, 1000, 1, 4).count()
      rec.span("inner") {
        spark.range(0, 1000, 1, 3).selectExpr("id % 7 as k").groupBy("k").count().collect()
      }
    }
    spark.range(10).count() // outside every span
    rec.finish()
    val outer = rec.counters("outer")
    val inner = rec.counters("inner")
    assert(inner.stages >= 1 && inner.shuffleBytes > 0)
    assert(outer.stages > inner.stages)
    assert(outer.jobs > inner.jobs)
    assert(outer.tasks >= inner.tasks + 4)
    assert(outer.wallS >= inner.wallS)
    assert(outer.failedTasks == 0)
    assert(rec.counters("absent") == Recorder.Zero)
    assert(rec.droppedEvents == 0)
    assert(rec.allSpans.map(_.name).toSet == Set("outer", "inner"))
    assert(rec.allSpans.find(_.name == "inner").get.parent == rec.last("outer").get.id)
    spark.sparkContext.removeSparkListener(rec)
  }

  test("counters are refused before the bus is drained") {
    val rec = Recorder.register(spark.sparkContext, "test2")
    rec.span("s")(spark.range(10).count())
    intercept[IllegalArgumentException](rec.counters("s"))
    rec.finish()
    spark.sparkContext.removeSparkListener(rec)
  }
}
