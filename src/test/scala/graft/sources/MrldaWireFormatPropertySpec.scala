package graft.sources

import graft.TempDirs

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.file.Files

import graft.SparkSpec
import graft.model.Doc

/**
 * Adversarial round-trip properties for the mrlda wire formats: seeded
 * random corpora with boundary ids/counts/gammas through the full
 * container (tiny sync interval + sub-file splits), and the Hadoop vint
 * codec at every size-class boundary.
 */
class MrldaWireFormatPropertySpec extends SparkSpec {

  test("vint codec round-trips every size-class boundary and random values") {
    val boundaries = Seq(0, 1, -1, -112, -113, 127, 128, 255, 256, 65535, 65536,
      -120, -121, -128, Int.MaxValue, Int.MinValue, Int.MaxValue - 1, Int.MinValue + 1)
    val rnd = new java.util.Random(31L)
    val randoms = Seq.fill(500)(rnd.nextInt())
    (boundaries ++ randoms).foreach { v =>
      val b = new ByteArrayOutputStream(); val o = new DataOutputStream(b)
      MrldaSequenceFile.writeVInt(o, v)
      val in = new DataInputStream(new ByteArrayInputStream(b.toByteArray))
      assert(MrldaSequenceFile.readVInt(in) == v, s"vint $v")
      assert(in.available() == 0, s"vint $v left trailing bytes")
    }
  }

  test("random corpus with boundary ids/counts/gammas survives container + splits") {
    import spark.implicits._
    val rnd = new java.util.Random(17L)
    def randomGamma(): Option[Array[Double]] = rnd.nextInt(3) match {
      case 0 => None
      case 1 => Some(Array.fill(rnd.nextInt(8) + 1)(rnd.nextGaussian()))
      case _ => Some(Array(Double.MinPositiveValue, -1e300, 1e-300, 0.0,
        math.Pi, -0.0))
    }
    def randomCounts(): Map[Int, Int] = {
      val n = rnd.nextInt(40)
      (0 until n).map { _ =>
        val id = rnd.nextInt(4) match {
          case 0 => rnd.nextInt(Int.MaxValue) + 1
          case 1 => Int.MaxValue
          case _ => rnd.nextInt(100000) + 1
        }
        id -> (rnd.nextInt(10000) + 1)
      }.toMap
    }
    // boundary doc ids included: IntWritable covers the full int range
    val ids = Seq(Int.MaxValue.toLong, 0L, 1L) ++ (2 to 400).map(_.toLong)
    val docs = ids.map { id =>
      val c = randomCounts()
      Doc(id, c, c.values.map(_.toLong).sum, randomGamma())
    }
    val dir = TempDirs.create("mrlda_prop").toString
    MrldaSequenceFile.writeDocs(docs.toDS().repartition(3), dir, syncIntervalBytes = 128)

    for (split <- Seq(Long.MaxValue, 700L, 4096L)) {
      val back = MrldaSequenceFile.readDocs(spark, dir, splitBytes = split)
        .collect().map(d => d.docId -> d).toMap
      assert(back.size == docs.size, s"split=$split")
      docs.foreach { d =>
        val r = back(d.docId)
        assert(r.counts == d.counts, s"split=$split doc=${d.docId}")
        assert(r.numTokens == d.numTokens, s"split=$split doc=${d.docId}")
        // bitwise double equality, -0.0 and subnormals included
        assert(r.gamma.map(_.toSeq.map(java.lang.Double.doubleToRawLongBits)) ==
          d.gamma.map(_.toSeq.map(java.lang.Double.doubleToRawLongBits)),
          s"split=$split doc=${d.docId}")
      }
    }
  }

  test("beta record codec round-trips extreme normalizers and values") {
    val rnd = new java.util.Random(23L)
    (0 until 200).foreach { i =>
      val topic = if (i == 0) Int.MaxValue else rnd.nextInt(1000) + 1
      val norm = rnd.nextInt(3) match {
        case 0 => Float.MinPositiveValue
        case 1 => -3.4e38f
        case _ => rnd.nextFloat()
      }
      val entries = (0 until rnd.nextInt(20)).map(_ =>
        rnd.nextInt(Int.MaxValue) + 1 -> rnd.nextGaussian()).toMap
      val (k, v) = MrldaModelFiles.encodeBetaRecord(topic, norm, entries)
      val (t2, n2, e2) = MrldaModelFiles.decodeBetaRecord(k, v)
      assert(t2 == topic && n2 == norm && e2 == entries, s"case $i")
    }
  }
}
