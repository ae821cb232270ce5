package graft.sources

import graft.TempDirs

import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** The snapshot commit protocol: versions are append-or-overwrite file
  * sets published by an atomic manifest create; every old version stays
  * readable; a lost race throws instead of corrupting; readers never see
  * unpublished data files. */
class SnapshotsSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir() = TempDirs.create("snapspec").toString

  test("commit/append/overwrite and time travel back to every version") {
    val dir = freshDir()
    assert(Snapshots.latestVersion(spark, dir).isEmpty)
    assert(Snapshots.commit(Seq(1, 2).toDF("x"), dir) == 0L)
    assert(Snapshots.commit(Seq(3).toDF("x"), dir) == 1L) // append
    assert(Snapshots.commit(Seq(9).toDF("x"), dir, append = false) == 2L)
    assert(Snapshots.commit(Seq(10).toDF("x"), dir) == 3L) // append onto overwrite
    def vals(v: Long) = Snapshots.readVersion(spark, dir, v)
      .as[Int].collect().sorted.toSeq
    assert(vals(0) == Seq(1, 2))
    assert(vals(1) == Seq(1, 2, 3))
    assert(vals(2) == Seq(9))     // overwrite dropped priors from THIS version
    assert(vals(3) == Seq(9, 10)) // but v1 history above remains intact
    assert(Snapshots.latestVersion(spark, dir).contains(3L))
    assert(Snapshots.readLatest(spark, dir).as[Int].collect().sorted.toSeq == Seq(9, 10))
  }

  test("unpublished data files are invisible to readers") {
    val dir = freshDir()
    Snapshots.commit(Seq(1).toDF("x"), dir)
    // simulate a crashed writer: data files land but no manifest publishes
    Seq(99).toDF("x").write.parquet(s"$dir/data/v000042-dead")
    assert(Snapshots.readLatest(spark, dir).as[Int].collect().toSeq == Seq(1))
    assert(Snapshots.latestVersion(spark, dir).contains(0L))
  }

  test("a manifest race loses loudly, winner's version unharmed") {
    val dir = freshDir()
    Snapshots.commit(Seq(1).toDF("x"), dir)
    // occupy version 1's manifest slot as a concurrent winner would
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val winner = new Path(dir, "_manifests/v000001.manifest")
    val out = fs.create(winner, false)
    val existing = Snapshots.readVersion(spark, dir, 0L).inputFiles.sorted
    out.write(existing.mkString("\n").getBytes("UTF-8")); out.close()
    // the loser read latest=0 before the winner published, so it expects
    // to publish version 1 — the manifest claim must fail loudly
    val e = intercept[IllegalStateException] {
      Snapshots.commit(Seq(2).toDF("x"), dir, expectedVersion = Some(1L))
    }
    assert(e.getMessage.contains("race"))
    assert(Snapshots.readVersion(spark, dir, 1L).as[Int].collect().toSeq == Seq(1))
  }

  test("compact rewrites small files into few, rows identical, history live") {
    val dir = freshDir()
    Snapshots.commit(spark.range(1000).toDF("x").repartition(16), dir)
    assert(Snapshots.readLatest(spark, dir).inputFiles.length == 16)
    val cv = Snapshots.compact(spark, dir, targetFileBytes = 1L << 30)
    assert(cv == 1L)
    val compacted = Snapshots.readVersion(spark, dir, cv)
    assert(compacted.inputFiles.length == 1)
    assert(compacted.as[Long].collect().sorted.toSeq == (0L until 1000L))
    // pre-compaction version still reads (readers mid-scan are unharmed)
    assert(Snapshots.readVersion(spark, dir, 0L).count() == 1000)
  }

  test("vacuum deletes only unreferenced files, retained window still reads") {
    val dir = freshDir()
    Snapshots.commit(spark.range(100).toDF("x").repartition(4), dir)  // v0
    Snapshots.commit(spark.range(100, 200).toDF("x"), dir)            // v1 append
    // everything v1 references (v0's files + its own) dies with the window
    val doomed = Snapshots.readVersion(spark, dir, 1L).inputFiles.length
    Snapshots.compact(spark, dir, targetFileBytes = 1L << 30)         // v2 rewrite
    val deleted = Snapshots.vacuum(spark, dir, retainVersions = 1)
    assert(deleted == doomed.toLong)
    assert(Snapshots.latestVersion(spark, dir).contains(2L))
    assert(Snapshots.readLatest(spark, dir).count() == 200)
    // time travel below the retention window is gone
    assertThrows[IllegalArgumentException](Snapshots.readVersion(spark, dir, 0L))
    // idempotent: nothing left to delete
    assert(Snapshots.vacuum(spark, dir, retainVersions = 1) == 0L)
  }

  test("readChanges surfaces appended rows only, empty when nothing changed") {
    val dir = freshDir()
    Snapshots.commit(Seq(1, 2).toDF("x"), dir)            // v0
    Snapshots.commit(Seq(3).toDF("x"), dir)               // v1
    Snapshots.commit(Seq(4).toDF("x"), dir)               // v2
    def changes(a: Long, b: Long) = Snapshots.readChanges(spark, dir, a, b)
    assert(changes(0, 2).as[Int].collect().sorted.toSeq == Seq(3, 4))
    assert(changes(1, 2).as[Int].collect().toSeq == Seq(4))
    assert(changes(2, 2).count() == 0) // same version: no changes
    // compaction rewrites everything: the feed reports the rewritten files
    // (a consumer crossing a rewrite should fall back to a full read)
    Snapshots.compact(spark, dir, targetFileBytes = 1L << 30) // v3
    assert(changes(2, 3).as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 4))
  }

  test("vacuum on a young or gappy table clamps to existing versions") {
    val dir = freshDir()
    Snapshots.commit(Seq(1).toDF("x"), dir)
    // one version, default retention 2: nothing to delete, no crash
    assert(Snapshots.vacuum(spark, dir) == 0L)
    Snapshots.commit(Seq(2).toDF("x"), dir)
    Snapshots.commit(Seq(3).toDF("x"), dir, append = false) // orphans v0/v1 files
    assert(Snapshots.vacuum(spark, dir, retainVersions = 1) >= 1L)
    // manifests below the cutoff are gone; a LARGER window now spans the
    // gap and must skip the missing versions instead of crashing
    assert(Snapshots.vacuum(spark, dir, retainVersions = 4) == 0L)
    assert(Snapshots.readLatest(spark, dir).as[Int].collect().toSeq == Seq(3))
  }

  test("empty versions and empty change windows read with the table schema") {
    val dir = freshDir()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "s"), dir)
    Snapshots.commit(Seq.empty[(Long, String)].toDF("id", "s"), dir, append = false)
    val empty = Snapshots.readLatest(spark, dir)
    assert(empty.schema.fieldNames.toSeq == Seq("id", "s"))
    assert(empty.select($"id").count() == 0) // column-referencing must work
    val none = Snapshots.readChanges(spark, dir, 0L, 0L)
    assert(none.select($"s").count() == 0)
  }

  test("stats pruning: range read opens only overlapping files, result exact") {
    val dir = freshDir()
    // range-clustered commit: 8 files with disjoint id ranges
    Snapshots.commit(spark.range(1000).toDF("id").repartitionByRange(8, $"id"),
      dir, statsCols = Seq("id"))
    val (kept, total) = Snapshots.filesInRange(spark, dir, 0L, "id",
      Some("100"), Some("200"))
    assert(total == 8)
    assert(kept.size <= 2, s"expected ~1-2 overlapping files, got ${kept.size}")
    val pruned = Snapshots.readVersionRange(spark, dir, 0L, "id",
      Some("100"), Some("200"))
    assert(pruned.as[Long].collect().sorted.toSeq == (100L to 200L))
    // open-ended bounds prune too
    val (keptHi, _) = Snapshots.filesInRange(spark, dir, 0L, "id", Some("900"), None)
    assert(keptHi.size <= 2)
    assert(Snapshots.readVersionRange(spark, dir, 0L, "id", Some("900"), None)
      .count() == 100)
  }

  test("stats carry forward on append; stat-less and all-null files are kept") {
    val dir = freshDir()
    Snapshots.commit(Seq(1L, 2L).toDF("id").coalesce(1), dir, statsCols = Seq("id")) // v0
    Snapshots.commit(Seq(100L, 200L).toDF("id").coalesce(1), dir) // v1: NO stats
    Snapshots.commit(Seq(Some(500L), None).toDF("id").coalesce(1),
      dir, statsCols = Seq("id")) // v2: stats present, includes a null
    val (kept, total) = Snapshots.filesInRange(spark, dir, 2L, "id",
      Some("450"), Some("600"))
    assert(total == 3)
    // v0's carried stats exclude it; v1 has no stats (kept); v2 overlaps
    assert(kept.size == 2)
    assert(Snapshots.readVersionRange(spark, dir, 2L, "id", Some("450"), Some("600"))
      .as[Long].collect().toSeq == Seq(500L))
    // an all-null file has no usable stats: conservatively kept, rows
    // removed by the residual filter
    val allNull = freshDir()
    Snapshots.commit(Seq[Option[Long]](None, None).toDF("id").coalesce(1),
      allNull, statsCols = Seq("id"))
    val (keptN, totalN) = Snapshots.filesInRange(spark, allNull, 0L, "id",
      Some("0"), Some("10"))
    assert(keptN.size == totalN)
    assert(Snapshots.readVersionRange(spark, allNull, 0L, "id",
      Some("0"), Some("10")).count() == 0)
  }

  test("string stats prune byte-wise and survive hostile extreme values") {
    val dir = freshDir()
    // a tab-and-newline-bearing minimum must round-trip the manifest
    Snapshots.commit(Seq("a\tx\nb", "mm", "zz").toDF("s").coalesce(1),
      dir, statsCols = Seq("s"))
    Snapshots.commit(Seq("😀emoji", "qq").toDF("s").coalesce(1), dir,
      statsCols = Seq("s")) // astral-plane max: byte order, not UTF-16 order
    val (kept, total) = Snapshots.filesInRange(spark, dir, 1L, "s",
      Some("y"), None) // only values >= "y": file 1's max "zz" qualifies;
    // file 2's byte-wise max is the emoji (> 'z' in UTF-8), so it stays too
    assert(total == 2 && kept.size == 2)
    val rows = Snapshots.readVersionRange(spark, dir, 1L, "s", Some("y"), None)
      .as[String].collect().sorted.toSeq
    assert(rows == Seq("zz", "😀emoji").sorted)
    val (keptLow, _) = Snapshots.filesInRange(spark, dir, 1L, "s", None, Some("b"))
    assert(keptLow.size == 1) // second file's min "qq" > "b": pruned
  }

  test("z-order + stats compose: a 2-D box prunes files on the curve column") {
    val dir = freshDir()
    val xs = for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y)
    val curved = graft.sources.ZOrder.withZValue(
      xs.toDF("x", "y"), "x", "y", bits = 6)
    // cluster by the curve, stat the curve: files now cover z ranges,
    // and a 2-D box query maps to a z interval that skips most files
    Snapshots.commit(curved.repartitionByRange(16, $"z"), dir,
      statsCols = Seq("z"))
    // the box x,y ∈ [0,15]² is exactly z ∈ [0, 255] on a 6-bit curve
    // (z < 256 zeroes every interleaved bit ≥ 8, i.e. both coords < 16)
    val (kept, total) = Snapshots.filesInRange(spark, dir, 0L, "z",
      Some("0"), Some("255"))
    assert(total == 16)
    // the box is 1/16 of the curve = 1 of 16 range-clustered files
    assert(kept.size <= 2, s"z-clustered box read should prune, kept ${kept.size}")
    val rows = Snapshots.readVersionRange(spark, dir, 0L, "z", Some("0"), Some("255"))
    assert(rows.count() == 256)
    assert(rows.filter($"x" > 15 || $"y" > 15).count() == 0)
  }

  test("compact can re-stat the rewritten files") {
    val dir = freshDir()
    Snapshots.commit(spark.range(100).toDF("id").repartition(4), dir,
      statsCols = Seq("id"))
    Snapshots.compact(spark, dir, targetFileBytes = 1L << 30, statsCols = Seq("id"))
    val (kept, total) = Snapshots.filesInRange(spark, dir, 1L, "id",
      Some("1000"), None) // outside the data range: everything prunes
    assert(total == 1 && kept.isEmpty)
    assert(Snapshots.readVersionRange(spark, dir, 1L, "id", Some("1000"), None)
      .count() == 0)
  }

  test("deleteWhere removes only provable matches; vacuum scrubs history") {
    val dir = freshDir()
    Snapshots.commit(Seq((1L, Some("x")), (2L, Some("y")), (3L, None))
      .toDF("id", "tag"), dir)
    val dv = Snapshots.deleteWhere(spark, dir, $"tag" === "x")
    assert(dv == 1L)
    // NULL-predicate row 3 survives: delete removes TRUE matches only
    assert(Snapshots.readLatest(spark, dir).select($"id").as[Long]
      .collect().sorted.toSeq == Seq(2L, 3L))
    // logical delete: v0 still holds the row until vacuum
    assert(Snapshots.readVersion(spark, dir, 0L).count() == 3)
    Snapshots.vacuum(spark, dir, retainVersions = 1)
    assertThrows[IllegalArgumentException](Snapshots.readVersion(spark, dir, 0L))
  }

  test("readAsOf resolves the version committed at or before a timestamp") {
    val dir = freshDir()
    Snapshots.commit(Seq(1).toDF("x"), dir)
    val t0 = Snapshots.commitTime(spark, dir, 0L).get
    Thread.sleep(20)
    Snapshots.commit(Seq(2).toDF("x"), dir)
    val t1 = Snapshots.commitTime(spark, dir, 1L).get
    assert(t0 <= t1)
    assert(Snapshots.readAsOf(spark, dir, t0).as[Int].collect().sorted.toSeq == Seq(1))
    assert(Snapshots.readAsOf(spark, dir, t1 + 1).as[Int].collect().sorted.toSeq
      == Seq(1, 2))
    // asking for a time before the first commit is an error, not v0
    assertThrows[IllegalArgumentException](Snapshots.readAsOf(spark, dir, t0 - 1000))
  }

  test("audited commit: failed audit publishes nothing and cleans staging") {
    val dir = freshDir()
    def audit(bad: Boolean): Option[org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame] =
      Some(staged => staged.agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
        .select(org.apache.spark.sql.functions.lit("rule_x").as("rule"),
          org.apache.spark.sql.functions.lit(!bad).as("pass")))
    assert(Snapshots.commit(Seq(1).toDF("x"), dir, audit = audit(bad = false)) == 0L)
    val e = intercept[Snapshots.AuditFailedException] {
      Snapshots.commit(Seq(2).toDF("x"), dir, audit = audit(bad = true))
    }
    assert(e.report.head.getAs[String]("rule") == "rule_x")
    // nothing published, staging gone: only v0's data dir remains
    assert(Snapshots.latestVersion(spark, dir).contains(0L))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new Path(dir, "data")).length == 1)
    // the table keeps accepting clean batches afterwards
    assert(Snapshots.commit(Seq(3).toDF("x"), dir, audit = audit(bad = false)) == 1L)
    assert(Snapshots.readLatest(spark, dir).as[Int].collect().sorted.toSeq == Seq(1, 3))
  }

  test("rewrites keep data skipping alive; NaN stats keep, never crash") {
    val dir = freshDir()
    Snapshots.commit(spark.range(1000).toDF("id")
      .selectExpr("id", "CAST(id AS DOUBLE) AS score")
      .repartitionByRange(4, $"id"), dir, statsCols = Seq("id"))
    // delete WITHOUT re-passing statsCols: the recorded set must survive
    Snapshots.deleteWhere(spark, dir, $"id" >= 900)
    val (kept, total) = Snapshots.filesInRange(spark, dir, 1L, "id",
      Some("0"), Some("10"))
    assert(total > 0 && kept.size < total,
      s"stats lost through deleteWhere: kept ${kept.size}/$total")
    // compact inherits the set the same way
    Snapshots.compact(spark, dir, targetFileBytes = 1L)
    val v = Snapshots.latestVersion(spark, dir).get
    val (k2, t2) = Snapshots.filesInRange(spark, dir, v, "id", Some("0"), Some("10"))
    assert(t2 > 1 && k2.size < t2, s"stats lost through compact: ${k2.size}/$t2")
    // NaN extremes: prune path must conservatively keep, not crash
    val nanDir = freshDir()
    Snapshots.commit(Seq(1.0, Double.NaN).toDF("x").coalesce(1), nanDir,
      statsCols = Seq("x"))
    val (kn, tn) = Snapshots.filesInRange(spark, nanDir, 0L, "x",
      Some("0.5"), Some("2.0"))
    assert(kn.size == tn)
    assert(Snapshots.readVersionRange(spark, nanDir, 0L, "x",
      Some("0.5"), Some("2.0")).count() == 1)
  }

  test("shallow clone: zero-copy v0, independent evolution, stats carried") {
    val src = freshDir(); val tgt = freshDir()
    Snapshots.commit(spark.range(100).toDF("id").repartitionByRange(4, $"id"),
      src, statsCols = Seq("id"))
    assert(Snapshots.cloneLatest(spark, src, tgt) == 0L)
    // clone reads the SOURCE's files — same rows, zero data under tgt
    assert(Snapshots.readLatest(spark, tgt).count() == 100)
    assert(Snapshots.readLatest(spark, tgt).inputFiles
      .forall(_.contains(src.replace("file:", ""))))
    // stats lines came along: pruning works on the clone immediately
    val (kept, total) = Snapshots.filesInRange(spark, tgt, 0L, "id",
      Some("0"), Some("10"))
    assert(total == 4 && kept.size <= 2)
    // the clone evolves independently of the source
    Snapshots.commit(spark.range(100, 150).toDF("id"), tgt)
    assert(Snapshots.readLatest(spark, tgt).count() == 150)
    assert(Snapshots.readLatest(spark, src).count() == 100)
    // clone's vacuum never touches shared (source-owned) files
    Snapshots.commit(spark.range(200, 210).toDF("id"), tgt, append = false)
    Snapshots.vacuum(spark, tgt, retainVersions = 1)
    assert(Snapshots.readLatest(spark, src).count() == 100)
    // cloning onto a live table refuses
    assertThrows[IllegalArgumentException](Snapshots.cloneLatest(spark, src, tgt))
  }

  test("schema is preserved and reads prune to the version's files only") {
    val dir = freshDir()
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "v")
    Snapshots.commit(df, dir)
    Snapshots.commit(Seq((3L, "c", 3.5)).toDF("id", "s", "v"), dir, append = false)
    val v0 = Snapshots.readVersion(spark, dir, 0L)
    assert(v0.schema.fieldNames.toSeq == Seq("id", "s", "v"))
    assert(v0.inputFiles.forall(_.contains("/data/v000000-")))
    assert(v0.count() == 2)
  }

  test("diffVersions: update = delete+insert, identical versions diff empty") {
    val dir = freshDir()
    Snapshots.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), dir)
    // v1: drop id=3, rewrite id=2, keep id=1
    Snapshots.commit(Seq((1L, "a"), (2L, "B")).toDF("id", "v"), dir, append = false)
    val diff = Snapshots.diffVersions(spark, dir, 0L, 1L)
      .collect().map(r => (r.getString(2), r.getLong(0), r.getString(1))).sorted
    assert(diff.toSeq == Seq(
      ("delete", 2L, "b"), ("delete", 3L, "c"), ("insert", 2L, "B")), diff.toSeq)
    // self-diff is empty
    assert(Snapshots.diffVersions(spark, dir, 1L, 1L).count() == 0)
  }

  test("incrementalCountSum: delta fold equals full recompute, empty delta ok") {
    val dir = freshDir()
    Snapshots.commit(Seq(("a", 1.0), ("b", 2.0), ("a", 3.0)).toDF("k", "x"), dir)
    Snapshots.commit(Seq(("b", 4.0), ("c", 5.0)).toDF("k", "x"), dir)
    // an empty append: the change feed between v1 and v2 has no rows
    Snapshots.commit(Seq.empty[(String, Double)].toDF("k", "x"), dir)
    Snapshots.commit(Seq(("a", 6.0)).toDF("k", "x"), dir)
    val got = Snapshots.incrementalCountSum(spark, dir, "k", "x")
      .orderBy($"key").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(("a", 3L, 10.0), ("b", 2L, 6.0), ("c", 1L, 5.0)), got.toSeq)
    // equals the full recompute over the latest version
    val full = Snapshots.readLatest(spark, dir).groupBy($"k")
      .agg(count(lit(1)).as("n"), sum($"x").as("t")).orderBy($"k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == full.toSeq)
  }
}
