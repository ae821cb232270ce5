package ldabench

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class CorporaSpec extends AnyFunSuite {

  private val shape = Shape(docs = 60, meanLens = Seq(20), vocabs = Seq(500), topics = 5)
  private val poly = Shape(docs = 60, meanLens = Seq(20, 10), vocabs = Seq(300, 200), topics = 5,
    nullEvery = 7)

  private def written(s: Shape, seed: Long): (Array[Byte], CorpusInfo) = {
    val f = Files.createTempDirectory("corpora").resolve("docs.txt")
    try {
      val info = Corpora.write(s, seed, f)
      (Files.readAllBytes(f), info)
    } finally {
      Files.deleteIfExists(f)
      Files.delete(f.getParent)
    }
  }

  private def lines(bytes: Array[Byte]) = new String(bytes, "UTF-8").split("\n").toSeq

  test("the same seed writes byte-identical files") {
    Seq(shape, poly).foreach { s =>
      val (a, ia) = written(s, 7L)
      val (b, ib) = written(s, 7L)
      assert(a.sameElements(b))
      assert(ia == ib)
    }
  }

  test("another seed writes another corpus") {
    assert(!written(shape, 7L)._1.sameElements(written(shape, 8L)._1))
  }

  test("lines are title TAB text, titles in generator order, lengths in 0.5-1.5x the mean") {
    val (bytes, info) = written(shape, 3L)
    val ls = lines(bytes)
    assert(ls.length == shape.docs)
    ls.zipWithIndex.foreach { case (l, i) =>
      val parts = l.split("\t", -1)
      assert(parts.length == 2)
      assert(parts(0) == Corpora.title(i))
      val n = parts(1).split(" ").length
      assert(n >= 10 && n <= 30, s"doc $i has $n tokens")
    }
    assert(ls.map(_.split("\t")(0)) == ls.map(_.split("\t")(0)).sorted)
    assert(info.tokens == ls.map(_.split("\t")(1).split(" ").length.toLong).sum)
    assert(info.heldoutDocs == (0 until shape.docs).count(Corpora.isHeldout))
  }

  test("bilingual lines leave every 7th second-language slot as the literal null") {
    val ls = lines(written(poly, 5L)._1)
    ls.zipWithIndex.foreach { case (l, i) =>
      val parts = l.split("\t", -1)
      assert(parts.length == 3)
      assert((parts(2) == "null") == (i % 7 == 6), s"doc $i: ${parts(2).take(20)}")
      assert(parts(1).split(" ").forall(_.startsWith("a")))
    }
  }
}
