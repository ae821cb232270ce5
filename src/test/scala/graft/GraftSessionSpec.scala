package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The tuned session builder: configs land, extensions register, and it is
  * the only builder the library and its suites use. */
class GraftSessionSpec extends SparkSpec {

  private val MaxPartitionBytes = (256L * 1024 * 1024).toString

  test("the suites' session carries the tuned defaults and the SQL functions") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(spark.conf.get("spark.sql.files.maxPartitionBytes") == MaxPartitionBytes)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    // the functions come from the session's extensions, not from
    // GraftExtensions.register: a new session on the same context starts
    // from the extensions alone, whatever earlier suites registered
    val d = spark.newSession().sql("SELECT digamma(2.5) AS d").head().getDouble(0)
    assert(d == graft.functions.GammaFuncs.digamma(2.5))
  }

  test("local session carries the tuned defaults and the SQL functions") {
    // spark.sql.extensions is a static conf — getOrCreate would silently
    // ignore it on a pre-existing session, so start from a clean slate
    // (suites run sequentially in the forked test JVM; the next suite's
    // getOrCreate simply builds a fresh session)
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    val spark = GraftSession.local("graft-session-spec", cores = 2)
    try {
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
      assert(spark.conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "8")
      assert(spark.conf.get("spark.sql.files.maxPartitionBytes") == MaxPartitionBytes)
      assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
      // extensions installed at construction: graft SQL functions resolve
      val d = spark.sql("SELECT digamma(2.5) AS d").head().getDouble(0)
      assert(d == graft.functions.GammaFuncs.digamma(2.5))
      val n = spark.sql("SELECT nfc_normalize('ok') AS n").head().getString(0)
      assert(n == "ok")
      // the extensions add SQL functions only: no optimizer rule rides
      // every query of the session
      val rules = spark.sessionState.optimizer.extendedOperatorOptimizationRules
      assert(rules.isEmpty, rules.map(_.getClass.getName))
    } finally spark.stop()
  }

  test("no session builder outside GraftSession.scala (source gate)") {
    val builderCall = """SparkSession\s*\.\s*builder\b""".r
    val offenders = Seq("src/main/scala", "src/test/scala").flatMap { dir =>
      Files.walk(Paths.get(dir)).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filterNot(_.getFileName.toString == "GraftSession.scala")
        .flatMap { p =>
          new String(Files.readAllBytes(p), "UTF-8").linesIterator.zipWithIndex
            .collect { case (line, i) if builderCall.findFirstIn(line).nonEmpty => s"$p:${i + 1}" }
        }
    }
    assert(offenders.isEmpty,
      s"build sessions with GraftSession.local or GraftSession.builder: $offenders")
  }
}
