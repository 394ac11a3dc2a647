package graft.sources

import graft.SparkSpec
import java.nio.file.Files

/** File-level min/max skipping (FileStatsManifest): the manifest must
  * actually skip files on a range-laid-out table, and must NEVER lose rows —
  * including rows in files written after the manifest (staleness fallback).
  */
class FileStatsManifestSpec extends SparkSpec {

  test("pruned read opens only range-intersecting files, same result") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-manifest").toString
    // 100 ids in 10 disjoint-range files of 10 ids each
    (0L until 100L).toDF("id").withColumn("v", $"id" * 2)
      .repartitionByRange(10, $"id")
      .write.mode("overwrite").parquet(s"file:$dir")
    FileStatsManifest.write(spark, s"file:$dir", Seq("id"))

    val (df, nSel, nTot) = FileStatsManifest.prunedRead(spark, s"file:$dir", "id", 25, 44)
    assert(nTot == 10, s"expected 10 data files, saw $nTot")
    // range sampling makes file boundaries approximate, but a 20-id window
    // can never intersect most of 10 disjoint-range files
    assert(nSel < nTot / 2, s"range [25,44] selected $nSel of $nTot files")
    val got = df.select("id", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (25L to 44L).map(i => (i, i * 2)).toSet)
  }

  test("files newer than the manifest are scanned unconditionally (stale-safe)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-manifest2").toString
    (0L until 50L).toDF("id").withColumn("v", $"id")
      .repartitionByRange(5, $"id")
      .write.mode("overwrite").parquet(s"file:$dir")
    FileStatsManifest.write(spark, s"file:$dir", Seq("id"))
    // post-manifest ingest: ids 100..109 land in a file the manifest ignores
    (100L until 110L).toDF("id").withColumn("v", $"id")
      .coalesce(1).write.mode("append").parquet(s"file:$dir")

    val (df, nSel, nTot) = FileStatsManifest.prunedRead(spark, s"file:$dir", "id", 100, 200)
    assert(nTot == 6, s"5 known + 1 unknown file, saw $nTot")
    val got = df.select("id").collect().map(_.getLong(0)).toSet
    assert(got == (100L until 110L).toSet,
      s"rows in the unmanifested file must survive pruning: $got")
    assert(nSel >= 1)

    // incremental update scans ONLY the one new file, after which pruning
    // on the new range needs exactly one file
    val (scanned, total) = FileStatsManifest.update(spark, s"file:$dir", Seq("id"))
    assert(scanned == 1 && total == 6, s"($scanned, $total)")
    val (df2, nSel2, nTot2) = FileStatsManifest.prunedRead(spark, s"file:$dir", "id", 100, 200)
    assert(nSel2 == 1 && nTot2 == 6, s"($nSel2, $nTot2)")
    assert(df2.select("id").collect().map(_.getLong(0)).toSet == (100L until 110L).toSet)

    // idempotent: nothing new => nothing scanned, manifest unchanged
    val (scanned2, _) = FileStatsManifest.update(spark, s"file:$dir", Seq("id"))
    assert(scanned2 == 0, s"re-update scanned $scanned2 files")
  }

  test("update drops manifest rows for deleted files and rescans rewrites") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-manifest3").toString
    (0L until 40L).toDF("id").withColumn("v", $"id")
      .repartitionByRange(4, $"id")
      .write.mode("overwrite").parquet(s"file:$dir")
    FileStatsManifest.write(spark, s"file:$dir", Seq("id"))
    // the glob names the manifest's part files: a read of the hidden
    // `_manifest` directory itself logs Spark's "All paths were ignored"
    assert(spark.read.parquet(s"file:$dir/_manifest/*.parquet").count() == 4)

    // compaction-style rewrite: all four data files replaced by two new
    // ones IN PLACE (a root-level overwrite would also delete the manifest,
    // which no real compaction does — it rewrites data files only)
    new java.io.File(dir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .foreach(f => assert(f.delete()))
    (0L until 40L).toDF("id").withColumn("v", $"id")
      .repartitionByRange(2, $"id")
      .write.mode("append").parquet(s"file:$dir")
    val (scanned, total) = FileStatsManifest.update(spark, s"file:$dir", Seq("id"))
    assert(scanned == 2 && total == 2, s"($scanned, $total)")
    // the stale entries are gone: manifest rows == live files, and pruning
    // over the rewritten layout still returns exact results
    val m = spark.read.parquet(s"file:$dir/_manifest/*.parquet")
    assert(m.count() == 2, "manifest must drop rows for deleted files")
    val (df, _, nTot) = FileStatsManifest.prunedRead(spark, s"file:$dir", "id", 5, 7)
    assert(nTot == 2)
    assert(df.select("id").collect().map(_.getLong(0)).toSet == Set(5L, 6L, 7L))
  }
}
