package graft

import java.io.{ByteArrayOutputStream, DataOutputStream, File}
import java.nio.file.Files

import graft.model.{Doc, PolyDoc}
import graft.sources.MrldaSequenceFile

/**
 * The reference's on-disk corpus wire format. The first fixture is built
 * BYTE BY BYTE here from the published format spec — SequenceFile header
 * per the Hadoop container format, value framing per the reference's
 * `Document.write` (Document.java:241-263) — independently of the
 * library's writer, so reader and writer can't share a common mistake.
 */
class MrldaSequenceFileSpec extends SparkSpec {

  private def tmpDir(name: String): String = {
    val d = TempDirs.create(s"mrlda_$name").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  /** Hand-built SequenceFile: version-6 header, uncompressed records,
    * one sync escape mid-stream. */
  private def handBuiltFixture(sync: Array[Byte]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)

    def writeClassName(s: String): Unit = {
      out.writeByte(s.length) // Hadoop vint: one byte for short strings
      out.write(s.getBytes("UTF-8"))
    }
    def record(docId: Int, value: Array[Byte]): Unit = {
      out.writeInt(4 + value.length) // record length = key + value bytes
      out.writeInt(4)                // key length (IntWritable)
      out.writeInt(docId)
      out.write(value)
    }
    def doc(entries: Seq[(Int, Int)], gamma: Seq[Double]): Array[Byte] = {
      val b = new ByteArrayOutputStream(); val o = new DataOutputStream(b)
      o.writeInt(entries.size)
      entries.foreach { case (id, c) => o.writeInt(id); o.writeInt(c) }
      o.writeInt(gamma.size)
      gamma.foreach(o.writeDouble)
      b.toByteArray
    }

    out.write("SEQ".getBytes("UTF-8")); out.writeByte(6)
    writeClassName("org.apache.hadoop.io.IntWritable")
    writeClassName("cc.mrlda.Document")
    out.writeBoolean(false) // no value compression
    out.writeBoolean(false) // no block compression
    out.writeInt(0)         // empty metadata
    out.write(sync)

    record(7, doc(Seq(3 -> 2, 11 -> 1), Seq(0.25, 0.5, 0.25)))
    record(8, doc(Seq.empty, Seq.empty)) // null content + null gamma
    out.writeInt(-1); out.write(sync)    // explicit sync escape
    record(9, doc(Seq(1 -> 4), Seq.empty))
    out.flush()
    bytes.toByteArray
  }

  test("reads a hand-built reference-layout fixture (format-spec bytes, not our writer)") {
    val sync = Array.tabulate[Byte](16)(i => (i * 7 + 3).toByte)
    val dir = tmpDir("fixture")
    Files.write(new File(dir, "part-00000").toPath, handBuiltFixture(sync))

    val docs = MrldaSequenceFile.readDocs(spark, dir).collect().sortBy(_.docId)
    assert(docs.map(_.docId).toSeq == Seq(7L, 8L, 9L))
    val d7 = docs(0)
    assert(d7.counts == Map(3 -> 2, 11 -> 1))
    assert(d7.numTokens == 3L)
    assert(d7.gamma.get.toSeq == Seq(0.25, 0.5, 0.25))
    val d8 = docs(1)
    assert(d8.counts.isEmpty && d8.numTokens == 0L && d8.gamma.isEmpty)
    val d9 = docs(2)
    assert(d9.counts == Map(1 -> 4) && d9.numTokens == 4L && d9.gamma.isEmpty)
  }

  test("write → read round-trips docs, including gamma and empty content") {
    import spark.implicits._
    val docs = Seq(
      Doc(1L, Map(1 -> 2, 5 -> 3), 5L, None),
      Doc(2L, Map.empty, 0L, None),
      Doc(3L, Map(2 -> 1), 1L, Some(Array(0.1, 0.9))))
    val dir = tmpDir("roundtrip")
    MrldaSequenceFile.writeDocs(docs.toDS().repartition(2), dir)

    val back = MrldaSequenceFile.readDocs(spark, dir).collect().sortBy(_.docId)
    assert(back.map(_.docId).toSeq == Seq(1L, 2L, 3L))
    assert(back(0).counts == Map(1 -> 2, 5 -> 3) && back(0).numTokens == 5L)
    assert(back(1).counts.isEmpty)
    assert(back(2).gamma.get.toSeq == Seq(0.1, 0.9))
  }

  test("byte-range splits at sync markers neither drop nor duplicate records") {
    import spark.implicits._
    // enough volume for many sync escapes at a tiny interval
    val docs = (1 to 2000).map(i => Doc(i.toLong, Map(i % 97 -> (i % 5 + 1)), (i % 5 + 1).toLong, None))
    val dir = tmpDir("splits")
    MrldaSequenceFile.writeDocs(docs.toDS().coalesce(1), dir, syncIntervalBytes = 200)

    val whole = MrldaSequenceFile.readDocs(spark, dir, splitBytes = Long.MaxValue)
      .collect().map(_.docId).sorted
    // several awkward split sizes, incl. ones landing mid-record/mid-sync
    for (split <- Seq(333L, 1024L, 4096L, 7777L)) {
      val pieces = MrldaSequenceFile.readDocs(spark, dir, splitBytes = split)
        .collect().map(_.docId).sorted
      assert(pieces.toSeq == whole.toSeq, s"splitBytes=$split")
    }
    assert(whole.length == 2000)
  }

  test("polylingual layout round-trips fixed slots and missing languages") {
    import spark.implicits._
    val docs = Seq(
      PolyDoc(1L, Map(0 -> Map(1 -> 2), 1 -> Map(3 -> 1)), Map(0 -> 2L, 1 -> 1L), 3L, None),
      // language 1 missing: writes an empty slot, reads back absent
      PolyDoc(2L, Map(0 -> Map(2 -> 5)), Map(0 -> 5L), 5L, Some(Array(0.5, 0.5))))
    val dir = tmpDir("poly")
    MrldaSequenceFile.writePolyDocs(docs.toDS(), dir, numLanguages = 2)

    val back = MrldaSequenceFile.readPolyDocs(spark, dir).collect().sortBy(_.docId)
    assert(back(0).counts == Map(0 -> Map(1 -> 2), 1 -> Map(3 -> 1)))
    assert(back(0).numTokens == Map(0 -> 2L, 1 -> 1L) && back(0).totalTokens == 3L)
    assert(back(1).counts == Map(0 -> Map(2 -> 5)))
    assert(!back(1).counts.contains(1))
    assert(back(1).gamma.get.toSeq == Seq(0.5, 0.5))
  }

  test("value codec bytes match the reference framing exactly") {
    // Document.write(Document.java:241-263) for {3:2, 11:1} + gamma[2]
    val expected = {
      val b = new ByteArrayOutputStream(); val o = new DataOutputStream(b)
      o.writeInt(2); o.writeInt(3); o.writeInt(2); o.writeInt(11); o.writeInt(1)
      o.writeInt(2); o.writeDouble(0.25); o.writeDouble(0.75)
      b.toByteArray
    }
    val actual = MrldaSequenceFile.encodeDoc(Map(3 -> 2, 11 -> 1), Some(Array(0.25, 0.75)))
    assert(actual.toSeq == expected.toSeq)
    // and the degenerate form: null content, null gamma = two zero ints
    assert(MrldaSequenceFile.encodeDoc(Map.empty, None).toSeq ==
      Seq[Byte](0, 0, 0, 0, 0, 0, 0, 0))
  }
}
