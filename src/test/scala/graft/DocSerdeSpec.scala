package graft

import graft.model.{Doc, PolyDoc}

/**
 * Parquet serde round-trips for the document types, porting the edge cases
 * the reference pins in its largest test files (DocumentTest.java:120-239 and
 * polylda/DocumentTest.java): absent gamma, present gamma, empty content,
 * missing language slots.
 */
class DocSerdeSpec extends SparkSpec {
  import spark.implicits._

  private def roundTrip[T <: Product : org.apache.spark.sql.Encoder](rows: Seq[T]): Seq[T] = {
    val dir = TempDirs.create("graft_serde_").toString
    rows.toDS().write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).as[T].collect().toSeq
  }

  test("Doc round-trips: with/without gamma, empty counts") {
    val docs = Seq(
      Doc(1L, Map(1 -> 2, 5 -> 1), 3L, None),
      Doc(2L, Map(3 -> 7), 7L, Some(Array(0.25, 0.75))),
      Doc(3L, Map.empty, 0L, None),
      Doc(4L, Map.empty, 0L, Some(Array.empty[Double])))
    val back = roundTrip(docs).sortBy(_.docId)
    assert(back.map(_.docId) == Seq(1L, 2L, 3L, 4L))
    assert(back(0).counts == Map(1 -> 2, 5 -> 1) && back(0).gamma.isEmpty)
    assert(back(1).gamma.get.toSeq == Seq(0.25, 0.75))
    assert(back(2).counts.isEmpty && back(2).numTokens == 0L)
    assert(back(3).gamma.get.isEmpty)
  }

  test("PolyDoc round-trips: missing language slots, tied gamma") {
    val docs = Seq(
      PolyDoc(1L, Map(0 -> Map(1 -> 2), 1 -> Map(4 -> 1)), Map(0 -> 2L, 1 -> 1L), 3L, None),
      PolyDoc(2L, Map(0 -> Map(9 -> 3)), Map(0 -> 3L), 3L, Some(Array(1.5, 2.5))),
      PolyDoc(3L, Map.empty, Map.empty, 0L, None))
    val back = roundTrip(docs).sortBy(_.docId)
    assert(back(0).counts == Map(0 -> Map(1 -> 2), 1 -> Map(4 -> 1)))
    assert(back(0).numTokens == Map(0 -> 2L, 1 -> 1L))
    assert(back(1).counts.keySet == Set(0) && back(1).gamma.get.toSeq == Seq(1.5, 2.5))
    assert(back(2).counts.isEmpty && back(2).gamma.isEmpty)
  }

  test("exploded-doc aggregation recovers identical counts (encoder ↔ SQL view)") {
    val docs = Seq(Doc(1L, Map(1 -> 2, 2 -> 1), 3L, None), Doc(2L, Map(2 -> 4), 4L, None))
    val ds = docs.toDS()
    val back = ds.select($"docId", org.apache.spark.sql.functions.explode($"counts").as(Seq("termId", "cnt")))
      .groupBy($"docId")
      .agg(org.apache.spark.sql.functions.map_from_entries(
        org.apache.spark.sql.functions.array_sort(
          org.apache.spark.sql.functions.collect_list(
            org.apache.spark.sql.functions.struct($"termId", $"cnt")))).as("counts"))
      .orderBy($"docId")
      .select($"counts").as[Map[Int, Int]].collect()
    assert(back(0) == Map(1 -> 2, 2 -> 1) && back(1) == Map(2 -> 4))
  }
}
