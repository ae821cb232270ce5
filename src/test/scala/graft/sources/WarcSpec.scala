package graft.sources

import graft.TempDirs

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPOutputStream

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** WARC framing: Content-Length-counted payloads (binary-safe), tolerant
  * line endings, multi-member gzip, and the distributed write→read
  * round-trip preserving every byte. */
class WarcSpec extends SparkSpec {
  import spark.implicits._

  private def parse(bytes: Array[Byte]): Seq[Warc.WarcRecord] =
    Warc.recordIterator(new DataInputStream(new ByteArrayInputStream(bytes))).toSeq

  test("payloads are counted, not scanned — embedded WARC headers survive") {
    val nasty = "binary\u0000payload with\r\n\r\nWARC/1.0\r\nfake header".getBytes(UTF_8)
    val bytes = Warc.recordBytes("<urn:uuid:1>", "https://x/1", "2026-01-01T00:00:00Z", nasty) ++
      Warc.recordBytes("<urn:uuid:2>", "https://x/2", "2026-01-01T00:00:00Z", Array.emptyByteArray)
    val recs = parse(bytes)
    assert(recs.map(_.recordId) == Seq("<urn:uuid:1>", "<urn:uuid:2>"))
    assert(recs.head.payload.sameElements(nasty))
    assert(recs(1).contentLength == 0L && recs(1).payload.isEmpty)
    assert(recs.forall(_.warcType == "response"))
  }

  test("LF-only line ends and a missing final terminator parse") {
    val rec = "WARC/1.0\nWARC-Type: resource\nWARC-Record-ID: <r1>\n" +
      "Content-Length: 5\n\nhello" // no trailing CRLFCRLF at all
    val recs = parse(rec.getBytes(UTF_8))
    assert(recs.size == 1)
    assert(recs.head.warcType == "resource")
    assert(new String(recs.head.payload, UTF_8) == "hello")
  }

  test("concatenated gzip members decode as one record stream") {
    val out = new ByteArrayOutputStream()
    Seq("alpha", "beta").zipWithIndex.foreach { case (p, i) =>
      val gz = new GZIPOutputStream(out)
      gz.write(Warc.recordBytes(s"<urn:uuid:$i>", s"https://x/$i",
        "2026-01-01T00:00:00Z", p.getBytes(UTF_8)))
      gz.finish()
    }
    val in = new DataInputStream(new java.util.zip.GZIPInputStream(
      new ByteArrayInputStream(out.toByteArray)))
    val recs = Warc.recordIterator(in).toSeq
    assert(recs.map(r => new String(r.payload, UTF_8)) == Seq("alpha", "beta"))
  }

  test("distributed round-trip preserves bytes in both layouts") {
    val docs = Seq((1L, "first doc", "web"), (2L, "second\ndoc", "books"),
      (3L, "", "web"), (4L, "accenté", "web"))
      .toDF("doc_id", "text", "source")
    for (gz <- Seq(true, false)) {
      val path = TempDirs.create("warc_rt").toString
      Warc.write(Warc.fromDocuments(docs.repartition(2, $"doc_id"),
        "doc_id", "text", "source"), path, gzipPerRecord = gz)
      val back = Warc.read(spark, path)
        .select(regexp_extract($"target_uri", "/([0-9]+)$", 1).cast("long").as("id"),
          decode($"payload", "UTF-8").as("text"), $"content_length")
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      assert(back.keySet == Set(1L, 2L, 3L, 4L))
      assert(back(2L)._1 == "second\ndoc")
      assert(back(3L) == ("", 0L))
      assert(back(4L) == ("accenté", "accenté".getBytes(UTF_8).length.toLong))
    }
  }
}
