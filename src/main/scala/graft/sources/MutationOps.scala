package graft.sources

import graft.core.{IngestConfig, PartitionCodec, PartitionHour}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Row-level mutations over the hour-partitioned landing table — the
  * operations a training-data corpus needs beyond append/replace ingest:
  * upserts of corrected records and key takedowns (content removal /
  * right-to-erasure), both expressed as PARTITION-SCOPED rewrites so cost is
  * proportional to partitions touched, never to table size.
  *
  * The reference's only mutation is whole-partition truncate-and-load
  * (`/root/reference/bigquery_interaction.py:19-20`); these operators close
  * the gap to BigQuery's DML (`MERGE` / `DELETE`) which the reference's users
  * get for free from the warehouse, re-expressed as Spark jobs over the same
  * parquet layout.
  *
  * Scale contract (100 TB / ~10^5 partitions):
  *  - [[mergeByKey]] never reads an untouched partition: the touched set is
  *    derived from the updates' own partition field (driver-side list,
  *    bounded by partitions-touched), the current-state scan carries a
  *    partition-column predicate that prunes directories before any file
  *    opens, and the rewrite goes through the same staged swap as ingest
  *    ([[PartitionSwap]]) — old-or-new per partition, untouched partitions
  *    physically untouched.
  *  - [[deleteByKey]] cannot know partitions a priori, so it runs a PROBE
  *    pass first: a column-pruned scan of (key, partition cols) — parquet
  *    reads just the key column, with the key set broadcast into the scan as
  *    a semi-join — then rewrites only partitions that actually contain a
  *    doomed key. A partition whose rows are all deleted is named to the
  *    swap, which removes it in the same commit.
  */
object MutationOps {

  /** Partition-tuple predicate for a driver-side list of touched partitions.
    * Partition columns come back from discovery as inferred ints; compare
    * through an int cast so `month=06` on disk matches `6` here. A
    * deterministic predicate over partition columns only ⇒ Catalyst prunes
    * at planning, no file of an untouched partition is ever listed.
    */
  private[sources] def partitionPredicate(touched: Seq[Seq[Int]]): Column =
    touched.map { tuple =>
      LandingTable.PartitionCols.zip(tuple).map { case (c, v) =>
        col(c).cast("int") === lit(v)
      }.reduce(_ && _)
    }.reduce(_ || _)

  /** Distinct (year, month, day, hour) tuples present in a frame that
    * already carries the derived partition columns.
    */
  private def touchedPartitions(withCols: DataFrame): Seq[Seq[Int]] =
    withCols.select(LandingTable.PartitionCols.map(c => col(c).cast("int")): _*)
      .distinct().collect().toSeq
      .map(r => LandingTable.PartitionCols.indices.map(r.getInt))

  /** Upsert `updates` (schema = `cfg.schema`) into the landing table, keyed
    * by `keyCols` WITHIN each hour partition: in every partition the updates
    * map to, rows matching an update key are replaced and unmatched update
    * keys are inserted; every other partition is untouched. The partition of
    * a row is determined by its own `cfg.partitionField` value (immutable
    * event time), so a key's partition never changes — the standard
    * time-series merge contract. Returns the touched (y,m,d,h) tuples.
    */
  def mergeByKey(spark: SparkSession, cfg: IngestConfig, updates: DataFrame,
      keyCols: Seq[String]): Seq[Seq[Int]] = {
    val upd = LandingTable.withPartitionColumns(updates, cfg.partitionField)
    val touched = touchedPartitions(upd)
    if (touched.isEmpty) return Nil
    val dataCols = cfg.schema.fieldNames.toSeq
    val survivors = LandingTable.read(spark, cfg)
      .filter(partitionPredicate(touched))
      .join(updates.select(keyCols.map(col): _*), keyCols, "left_anti")
      .select(dataCols.map(col): _*)
    // merged frame holds exactly the touched partitions' rows => the staged
    // swap replaces exactly those directories, old-or-new per partition
    LandingTable.overwritePartitions(
      survivors.unionByName(updates.select(dataCols.map(col): _*)), cfg)
    touched
  }

  /** Delete every row whose `keyCol` appears in `keys` (a one-column frame;
    * assumed small relative to the table — a takedown list). Two passes:
    * probe for affected partitions (column-pruned scan + broadcast semi
    * join), then rewrite only those in one staged swap. Returns (touched,
    * dropped) partition tuple lists, `dropped` ⊆ `touched` being partitions
    * left empty and removed by that swap.
    */
  def deleteByKey(spark: SparkSession, cfg: IngestConfig, keys: DataFrame,
      keyCol: String): (Seq[Seq[Int]], Seq[Seq[Int]]) = {
    val keyList = keys.select(col(keys.columns.head).as(keyCol)).distinct()
    val touched = touchedPartitions(
      LandingTable.read(spark, cfg)
        .join(broadcast(keyList), Seq(keyCol), "left_semi"))
    if (touched.isEmpty) return (Nil, Nil)

    val kept = LandingTable.read(spark, cfg)
      .filter(partitionPredicate(touched))
      .join(broadcast(keyList), Seq(keyCol), "left_anti")
      .select(cfg.schema.fieldNames.map(col): _*)
    val emptied = PartitionSwap.overwrite(LandingTable.clustered(kept, cfg),
      cfg.landingPath, LandingTable.PartitionCols, touched.map {
        case Seq(y, m, d, h) => PartitionCodec.toHivePath(PartitionHour(y, m, d, h))
      })
    (touched, emptied.map(PartitionCodec.fromHivePath)
      .map(p => Seq(p.year, p.month, p.day, p.hour)))
  }

  /** CDC between two snapshots of a keyed table: classify every key as
    * `insert` (new only), `delete` (old only), `update` (both, any compared
    * column differs, null-safe) or `unchanged`. This is the diff a
    * training-data refresh publishes downstream — "which documents changed
    * since the last corpus cut" — without any change log, just the two
    * states.
    *
    * Scale shape: one full outer shuffle join on the key columns — both
    * sides pruned to key + compared columns BEFORE the shuffle, so the
    * bytes moved are the comparison footprint, not whole rows. No driver
    * materialization; the result streams.
    *
    * Precondition: `keys` must uniquely identify a row in BOTH snapshots
    * (it is a keyed-table diff). A duplicated key would make the full outer
    * join emit one row per old×new pairing and misclassify them as
    * update/unchanged; this method does not scan-validate uniqueness (that
    * would double the cost) — callers own the contract, and the gate's u4
    * query pins it for the events key.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String],
      compare: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    // internal marker/rename prefix chosen to be collision-proof against
    // caller schemas (no user column starts with "__graft_diff")
    val oldPresent = "__graft_diff_old_present"
    val newPresent = "__graft_diff_new_present"
    def newSide(c: String) = s"__graft_diff_new_$c"
    require(!(keys ++ compare).exists(_.startsWith("__graft_diff")),
      "snapshotDiff: column names starting with __graft_diff are reserved")
    val o = oldDf.select((keys ++ compare).map(col): _*)
      .withColumn(oldPresent, lit(1))
    val n0 = newDf.select((keys ++ compare).map(col): _*)
      .withColumn(newPresent, lit(1))
    val n = compare.foldLeft(n0)((d, c) => d.withColumnRenamed(c, newSide(c)))
    val changed = compare
      .map(c => !(col(c) <=> col(newSide(c))))
      .reduceOption(_ || _).getOrElse(lit(false))
    o.join(n, keys, "full_outer")
      .withColumn("change_type",
        when(col(oldPresent).isNull, "insert")
          .when(col(newPresent).isNull, "delete")
          .when(changed, "update")
          .otherwise("unchanged"))
      .select((keys.map(col) :+ col("change_type")): _*)
  }

  /** Build a type-2 slowly-changing dimension from a change stream: one
    * version row per (key, distinct consecutive attribute state), carrying
    * `[effective_from, effective_to)` validity and `is_current`. Consecutive
    * records whose tracked attributes are unchanged (null-safe) are
    * compressed into the open version — the standard SCD2 contract.
    *
    * Ordering within a key is `(tsCol, tiebreak)`; `tiebreak` must make the
    * ordering total (a unique record id) or version numbering is undefined.
    *
    * Scale shape: one shuffle on the key columns, then two window passes
    * that share the same partitioning (the change-compression filter and
    * the validity/lead pass) — no second exchange, sorts are spillable, and
    * key cardinality (users/entities) drives parallelism, so there are no
    * giant window partitions at corpus scale.
    */
  def scd2(changes: DataFrame, keys: Seq[String], attrs: Seq[String],
      tsCol: String, tiebreak: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // same reserved-prefix contract as snapshotDiff: the working columns
    // below would silently clobber a caller column of the same name
    require(!(keys ++ attrs ++ Seq(tsCol, tiebreak)).exists(_.startsWith("__scd2")),
      "scd2: column names starting with __scd2 are reserved")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc, col(tiebreak).asc)
    val attrChanged = attrs
      .map(a => !(col(a) <=> lag(col(a), 1).over(w)))
      .reduce(_ || _)
    val compressed = changes
      .withColumn("__scd2_rn", row_number().over(w))
      .withColumn("__scd2_keep", col("__scd2_rn") === 1 || attrChanged)
      .filter(col("__scd2_keep"))
      .drop("__scd2_rn", "__scd2_keep")
    compressed
      .withColumn("version", row_number().over(w))
      .withColumn("effective_from", col(tsCol))
      .withColumn("effective_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("effective_to").isNull)
      .select((keys.map(col) ++ Seq(col("version")) ++ attrs.map(col) ++
        Seq(col("effective_from"), col("effective_to"), col("is_current"))): _*)
  }

  /** INCREMENTAL SCD2 merge: apply a change batch to an existing [[scd2]]
    * dimension without re-reading the unaffected keys' history. Affected
    * keys (those present in `changes`) have their version history re-derived
    * from (their existing version rows ∪ the new records) — an existing
    * version row IS the key's compressed change point, so replaying it
    * through [[scd2]] reproduces the full history, closes the open version
    * when a new record supersedes it, compresses a no-attr-change record
    * into the open version, and even handles late records that land between
    * existing versions. Every other key's rows pass through untouched.
    *
    * The result is IDENTICAL to rebuilding from the full change stream
    * (the gate's u6 oracle states exactly that), at the cost of the change
    * batch + affected keys' versions, not the corpus.
    *
    * `tiebreak` must be numeric: existing version rows re-enter the ordering
    * with a synthesized tiebreak (`version - Long.MaxValue`) that preserves
    * their relative order and sorts them below any caller tiebreak at equal
    * timestamps.
    */
  def scd2Merge(existing: DataFrame, changes: DataFrame, keys: Seq[String],
      attrs: Seq[String], tsCol: String, tiebreak: String): DataFrame = {
    val affectedKeys = changes.select(keys.map(col): _*).distinct()
    val untouched = existing.join(affectedKeys, keys, "left_anti")
    val asChanges = existing.join(affectedKeys, keys, "left_semi")
      .select(keys.map(col) ++ attrs.map(col) ++ Seq(
        col("effective_from").as(tsCol),
        (col("version").cast("long") - lit(Long.MaxValue)).as(tiebreak)): _*)
    val merged = scd2(
      asChanges.unionByName(
        changes.select(keys.map(col) ++ attrs.map(col) ++
          Seq(col(tsCol), col(tiebreak).cast("long")): _*)),
      keys, attrs, tsCol, tiebreak)
    untouched.unionByName(merged)
  }

  /** Conditional last-writer-wins upsert into a key-bucket-partitioned table
    * (the [[scd2WriteTable]] layout): for every key in `batch`, the stored
    * row is replaced only if the incoming row orders AFTER it on `orderCols`
    * (compared lexicographically, descending) — the CDC-apply primitive a
    * change stream needs. The ordering comparison is what makes the final
    * table state independent of how the change log is split into batches
    * and of the order batches arrive: applying {newer} then {older} leaves
    * the newer row in place, so final state = arg-max over ALL changes seen,
    * exactly the semantics a replayed/out-of-order CDC feed requires.
    * `orderCols` must totally order each key's changes (e.g. (ts, change_id))
    * or the winner would be nondeterministic.
    *
    * Scale shape: cost is proportional to the BATCH, never the table. The
    * touched-bucket list is derived from the batch's own keys (driver list,
    * ≤ nBuckets ints); the current-state read carries a bucket partition
    * predicate (directories pruned before any file opens); the merge is one
    * union + per-key arg-max window over only those buckets' rows; one
    * staged swap replaces exactly those bucket directories, old-or-new each.
    * Untouched buckets keep their files physically intact (pinned in
    * `MutationOpsSpec`). Returns the touched bucket ids.
    */
  def upsertLatest(spark: SparkSession, tablePath: String, batch: DataFrame,
      keys: Seq[String], orderCols: Seq[String], nBuckets: Int): Seq[Int] = {
    import org.apache.spark.sql.expressions.Window
    val dataCols = batch.columns.toSeq
    val touched = batch
      .select(pmod(hash(keys.map(col): _*), lit(nBuckets)).as("bucket"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    if (touched.isEmpty) return Nil
    val hasTable = {
      // Hadoop FS, not java.io.File: the table may live on hdfs:/s3a:;
      // a local-only probe would silently report "no table" there and
      // truncate existing state into just the batch
      import org.apache.hadoop.fs.Path
      val root = new Path(tablePath)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.exists(root) && fs.listStatus(root)
        .exists(_.getPath.getName.startsWith("bucket="))
    }
    val existing =
      if (!hasTable) spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), batch.schema)
      else spark.read.option("basePath", tablePath).parquet(tablePath)
        .filter(col("bucket").cast("int").isin(touched: _*))
        .select(dataCols.map(col): _*)
    // __graft_src breaks exact orderCols ties deterministically in favor of
    // the INCOMING row — without it, an existing row and a batch row tying
    // on every orderCol with different payloads would leave the winner to
    // shuffle nondeterminism. (Callers should still make orderCols a total
    // order; the tiebreak makes the degenerate case reproducible, not
    // correct-by-magic: batch-vs-batch ties within one call still need a
    // real tiebreak column.)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(c => col(c).desc) :+ col("__graft_src").desc: _*)
    val merged = existing.withColumn("__graft_src", lit(0))
      .unionByName(batch.select(dataCols.map(col): _*).withColumn("__graft_src", lit(1)))
      .withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1).drop("__graft_rn", "__graft_src")
    PartitionSwap.overwrite(bucketed(merged, keys, nBuckets), tablePath, Seq("bucket"))
    touched
  }

  /** Key takedown against a key-bucket-partitioned table (the
    * [[scd2WriteTable]]/[[upsertLatest]] layout): rows whose key is in
    * `doomed` are removed by rewriting ONLY the buckets those keys hash
    * into; a bucket left empty is removed by the same staged swap (the
    * [[deleteByKey]] emptied-partition rule). Returns (touched, emptied)
    * bucket ids. Cost ∝ buckets touched, never table size.
    */
  def deleteFromBucketTable(spark: SparkSession, tablePath: String,
      doomed: DataFrame, keyCol: String, nBuckets: Int): (Seq[Int], Seq[Int]) = {
    val keys = doomed.select(col(doomed.columns.head).as(keyCol)).distinct()
    val touched = keys
      .select(pmod(hash(col(keyCol)), lit(nBuckets)).as("bucket"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    if (touched.isEmpty) return (Nil, Nil)
    val scoped = spark.read.option("basePath", tablePath).parquet(tablePath)
      .filter(col("bucket").cast("int").isin(touched: _*))
    val dataCols = scoped.columns.filterNot(_ == "bucket").toSeq
    val kept = scoped.join(broadcast(keys), Seq(keyCol), "left_anti")
      .select(dataCols.map(col): _*)
    val emptied = PartitionSwap.overwrite(bucketed(kept, Seq(keyCol), nBuckets),
      tablePath, Seq("bucket"), touched.map(b => s"bucket=$b"))
    (touched, emptied.map(_.stripPrefix("bucket=").toInt).sorted)
  }

  /** `df` with its key-hash `bucket` column, one task per bucket ⇒ one file
    * per bucket directory.
    */
  private def bucketed(df: DataFrame, keys: Seq[String], nBuckets: Int): DataFrame =
    df.withColumn("bucket", pmod(hash(keys.map(col): _*), lit(nBuckets)))
      .repartition(col("bucket"))

  /** Key-bucket-partitioned physical form of the SCD2 dimension, the layout
    * [[scd2MergeTable]] needs to make merges partition-scoped on disk: a
    * dimension has no time axis to partition by (a key's versions must stay
    * together), so the partition key is a stable hash bucket of the business
    * key. One task per bucket ⇒ one file per bucket directory.
    */
  def scd2WriteTable(dim: DataFrame, dimPath: String, keys: Seq[String],
      nBuckets: Int): Unit =
    bucketed(dim, keys, nBuckets)
      .write.mode("overwrite").partitionBy("bucket").parquet(dimPath)

  /** [[scd2Merge]] against a [[scd2WriteTable]]-layout dimension on disk,
    * touching only the buckets the change batch's keys hash into: the read
    * carries a bucket-list partition predicate (directory-pruned before any
    * file opens), and one staged swap replaces exactly those bucket
    * directories, old-or-new each — untouched buckets keep their files
    * physically intact (the u1/u2 discipline, pinned in `MutationOpsSpec`).
    * Returns the touched bucket ids.
    */
  def scd2MergeTable(spark: SparkSession, dimPath: String, changes: DataFrame,
      keys: Seq[String], attrs: Seq[String], tsCol: String, tiebreak: String,
      nBuckets: Int): Seq[Int] = {
    val touched = changes
      .select(pmod(hash(keys.map(col): _*), lit(nBuckets)).as("bucket"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    if (touched.isEmpty) return Nil
    val affectedDim = spark.read.option("basePath", dimPath).parquet(dimPath)
      .filter(col("bucket").cast("int").isin(touched: _*))
      .drop("bucket")
    val merged = scd2Merge(affectedDim, changes, keys, attrs, tsCol, tiebreak)
    PartitionSwap.overwrite(bucketed(merged, keys, nBuckets), dimPath, Seq("bucket"))
    touched
  }
}
