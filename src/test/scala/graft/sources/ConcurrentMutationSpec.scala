package graft.sources

import graft.SparkSpec
import graft.core._
import graft.operators.{Overlap, VectorQueries}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Regression guard for the u8 session-conf race (round 21): three mutation
  * chains run concurrently on ONE SparkSession, each replacing some
  * partitions of a tree and leaving the rest. The old implementation
  * toggled the session-wide `spark.sql.sources.partitionOverwriteMode` with
  * a set/restore pattern; under Overlap one chain's `finally` restored
  * "static" while another chain's write was committing, and that write
  * silently wiped every partition it did not touch. The landing and
  * serving writes now go through the staged swap ([[PartitionSwap]]) and
  * the index's through [[SnapshotLog]]; neither requests an overwrite mode
  * at all. This spec hammers the exact three store shapes u8
  * uses, many times, asserting no count drift and no lost partition — the
  * race was intermittent, so one green run proves nothing; N concurrent
  * rounds make a silent static-overwrite regression overwhelmingly likely
  * to trip.
  *
  * Iteration count: default keeps `sbt test` fast; set
  * GRAFT_CONCURRENCY_ITERS=100 (env — sbt forks the test JVM, which
  * inherits env but not -D flags) for the full certification run.
  */
class ConcurrentMutationSpec extends SparkSpec {

  private val iters =
    sys.env.get("GRAFT_CONCURRENCY_ITERS").map(_.toInt).getOrElse(25)

  val schema = StructType(Seq(
    StructField("event_ts", TimestampType),
    StructField("device_id", StringType),
    StructField("bytes", LongType)))

  private def row(hour: Int, dev: String, bytes: Long) = Row(
    java.sql.Timestamp.valueOf(f"2023-06-27 $hour%02d:05:00"), dev, bytes)

  private def frame(rows: Seq[Row]) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  test(s"u8-shaped concurrent mutation chains hold counts across $iters rounds") {
    import spark.implicits._
    val landingDir = Files.createTempDirectory("graft-conc-landing")
    val servingDir = s"file:${Files.createTempDirectory("graft-conc-serve")}"
    val indexDir = s"file:${Files.createTempDirectory("graft-conc-index")}"
    def indexHead() = SnapshotLog.read(spark, indexDir,
      SnapshotLog.latestVersion(spark, indexDir).get)
    val cfg = IngestConfig(sourceBase = "unused",
      landingPath = s"file:$landingDir", schema = schema,
      partitionField = "event_ts", clusterField = "device_id")

    (1 to iters).foreach { i =>
      // store 1: hour-partitioned landing — build (3 partitions), delete
      // one key (partial rewrite of 2 partitions, hour 12 untouched)
      val chainLanding = () => {
        LandingTable.overwritePartitions(frame(Seq(
          row(10, "a", 1), row(10, "b", 2), row(11, "a", 3),
          row(12, "d", 4))), cfg)
        val nb = LandingTable.read(spark, cfg).count()
        MutationOps.deleteByKey(spark, cfg, Seq("a").toDF("k"), "device_id")
        (nb, LandingTable.read(spark, cfg).count())
      }
      // store 2: key-bucket serving table — upsert then bucket-pruned delete
      val chainServing = () => {
        val batch = Seq((1L, i.toLong, 10.0), (2L, i.toLong, 20.0),
          (3L, i.toLong, 30.0), (4L, i.toLong, 40.0))
          .toDF("user_id", "ts", "value")
        MutationOps.upsertLatest(spark, servingDir, batch,
          keys = Seq("user_id"), orderCols = Seq("ts"), nBuckets = 4)
        val nb = spark.read.parquet(servingDir).count()
        MutationOps.deleteFromBucketTable(spark, servingDir,
          Seq(4L).toDF("user_id"), "user_id", nBuckets = 4)
        (nb, spark.read.parquet(servingDir).count())
      }
      // store 3: a SnapshotLog index — full build (3 bins, a replace-all
      // version), then a delete that rewrites ONLY bin 0; bins 1 and 2
      // must survive
      val chainIndex = () => {
        val v = SnapshotLog.commit(spark, indexDir,
          Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 2L))
            .toDF("vec_id", "centroid_id"),
          carried = Nil, partitionBy = Some("centroid_id"))
        val nb = SnapshotLog.read(spark, indexDir, v).count()
        VectorQueries.deleteBins(spark, indexDir, Seq(2L).toDF("vec_id"),
          "centroid_id")
        (nb, indexHead().count())
      }
      val (l, s, x) = Overlap.par3(chainLanding, chainServing, chainIndex)
      assert(l == ((4L, 2L)), s"round $i landing drift: $l")
      // serving: round 1 inserts 4 then deletes user 4 → 3 survivors; every
      // later round re-upserts 4 keys over the 3 survivors (4 live before
      // the recount... nb is read after upsert: 4 keys live) then deletes 4
      assert(s == ((4L, 3L)), s"round $i serving drift: $s")
      assert(x == ((4L, 3L)), s"round $i index drift: $x")
      // the untouched bins must still be live
      val bins = indexHead()
        .select(col("centroid_id").cast("long")).distinct()
        .as[Long].collect().toSet
      assert(bins == Set(0L, 1L, 2L), s"round $i lost partitions: $bins")
    }
  }
}
