package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.corpus.ParseCorpus
import graft.lda.Trainer
import graft.polylda.{PolyParseCorpus, PolyTrainer}
import org.scalatest.funsuite.AnyFunSuite

/** The paper pipeline keeps only the options its callers set: an option no
  * caller sets is one value, and belongs in a constant. */
class OptionSurfaceSpec extends AnyFunSuite {

  /** Each config, the file under src/main/scala/graft that defines it, and
    * its fields. */
  private val configs: Seq[(String, String, Product)] = Seq(
    ("Trainer.Config", "lda/Trainer.scala", Trainer.Config(numTopics = 1)),
    ("PolyTrainer.Config", "polylda/PolyTrainer.scala", PolyTrainer.Config(numTopics = 1)),
    ("ParseCorpus.Config", "corpus/ParseCorpus.scala", ParseCorpus.Config()),
    ("PolyParseCorpus.Config", "polylda/PolyParseCorpus.scala", PolyParseCorpus.Config(numLanguages = 1)))

  private def sources: Seq[Path] = Seq("src/main/scala", "ldabench/src/main/scala").flatMap { dir =>
    Files.walk(Paths.get(dir)).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
  }

  /** Whether a line outside comments assigns `field` by name (a named
    * argument or a copy), not declares it. */
  private def assigns(field: String)(line: String): Boolean = {
    val code = line.trim
    !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/*") &&
      s"""\\b$field\\s*=(?![=>])""".r.findAllMatchIn(line)
        .exists(m => !"""\b(val|var|def)\s+$""".r.findFirstIn(line.substring(0, m.start)).isDefined)
  }

  test("every trainer and parser option is set by a caller outside its own file (source gate)") {
    val files = sources.map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    val unset = configs.flatMap { case (config, definedIn, instance) =>
      instance.productElementNames.toSeq.map(f => (s"$config.$f", f)).filterNot { case (_, f) =>
        files.exists { case (file, text) =>
          file != Paths.get("src/main/scala/graft", definedIn) && text.linesIterator.exists(assigns(f))
        }
      }.map(_._1)
    }
    assert(unset.isEmpty,
      s"options no caller in src/main or ldabench sets; make each a constant: $unset")
  }

  test("every spark.graft. session key src/main reads is set by a caller (source gate)") {
    val files = sources.map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    val read = """(?:get|getOption)\s*\(\s*"(spark\.graft\.[^"]+)"""".r
    val keysRead = files.filter(_._1.startsWith("src/main"))
      .flatMap { case (_, text) => read.findAllMatchIn(text).map(_.group(1)) }.distinct
    val unset = keysRead.filterNot { key =>
      val set = ("""(?:set|config)\s*\(\s*"""" + java.util.regex.Pattern.quote(key) + "\"").r
      files.exists { case (_, text) => set.findFirstIn(text).nonEmpty }
    }
    assert(unset.isEmpty,
      s"session keys no caller in src/main or ldabench sets; make each a constant: $unset")
  }
}
