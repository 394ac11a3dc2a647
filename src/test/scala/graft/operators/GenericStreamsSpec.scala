package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-checks for the generic streams that no other spec runs. Each test
  * is an identity between two queries whose DuckDB restatements in
  * `SparkEntry` state the same answer (or one a plain batch query states),
  * so a replay that drops, duplicates or mis-scopes rows fails here, not
  * only in the oracle gate.
  */
class GenericStreamsSpec extends SparkSpec {

  private def assertSame(name: String, got: DataFrame,
      expected: DataFrame): Unit = {
    assert(got.columns.toSeq == expected.columns.toSeq, s"$name: columns")
    val g = got.collect().map(_.toString).sorted.toSeq
    val e = expected.collect().map(_.toString).sorted.toSeq
    assert(g.nonEmpty, s"$name returned nothing")
    assert(g == e, s"$name differs from its restatement")
  }

  private def events = RelationalQueries.eventsTable(spark, sfDir)
  private def day1 = events.filter(dayofmonth(col("ts")) === 1)

  test("st16: the streaming quarantine lands and rejects what s4 does") {
    assertSame("st16",
      IngestParityQueries.st16StreamingQuarantine(spark, sfDir),
      IngestParityQueries.s4QuarantineIngest(spark, sfDir))
  }

  test("st8: the dedup state holds exactly the keys st10 emits") {
    assertSame("st8",
      IngestParityQueries.st8StateReader(spark, sfDir)
        .withColumnRenamed("n_state_keys", "n_unique_users"),
      IngestParityQueries.st10DedupWithinWatermark(spark, sfDir))
  }

  test("st15: the snapshot head is st11's repaired day without sum_uid") {
    assertSame("st15",
      IngestParityQueries.st15StreamingSnapshots(spark, sfDir),
      IngestParityQueries.st11StreamingBackfill(spark, sfDir).drop("sum_uid"))
  }

  test("st6: the outer join's matched rows are st3's inner-join pairs") {
    // sf0.001 has no day-01 purchase within 30 minutes of a view, so both
    // sides would be empty there; the sf0.01 fixture beside it has two
    val sf = s"${new java.io.File(sfDir).getParent}/sf0.01"
    assertSame("st6",
      IngestParityQueries.st6StreamOuterJoin(spark, sf)
        .filter(col("n_matched") > 0)
        .select(col("user_id"), col("n_matched").as("n_pairs"),
          col("sum_p_id")),
      IngestParityQueries.st3StreamJoin(spark, sf)
        .select("user_id", "n_pairs", "sum_p_id"))
  }

  test("st4, st9, st14: each equals its batch restatement over events") {
    assertSame("st4", IngestParityQueries.st4StreamDedup(spark, sfDir),
      events.filter(dayofmonth(col("ts")) < 10)
        .select("user_id", "event_type").distinct().groupBy("event_type")
        .agg(count(lit(1)).as("n_unique_users"),
          sum(col("user_id")).as("sum_user_ids")))
    assertSame("st9", IngestParityQueries.st9TransformWithState(spark, sfDir),
      day1.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum(col("user_id")).as("sum_uid")))
    assertSame("st14", IngestParityQueries.st14StreamStaticJoin(spark, sfDir),
      day1.filter(col("user_id") % 3 =!= 1)
        .groupBy(pmod(col("user_id"), lit(5)).as("segment"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("event_id")).as("sum_eid"),
          sum(col("value").cast("decimal(30,6)")).cast("double").as("sum_value"),
          countDistinct(col("user_id")).as("n_users")))
  }
}
