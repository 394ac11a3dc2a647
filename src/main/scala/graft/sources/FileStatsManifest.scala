package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level min/max statistics manifest — data skipping WITHIN a
  * partition, one level below directory pruning.
  *
  * Hive-style partition pruning stops at the directory: a selective
  * predicate on a NON-partition column (a user id, a document hash range, a
  * quality score) still scans every file of every matching partition. The
  * cluster-sort the landing table already applies
  * ([[LandingTable.overwritePartitions]] sorts within partitions by the
  * cluster field, mirroring BigQuery `CLUSTER BY`,
  * `/root/reference/bq_create_table_ddl.sql:9`) makes per-FILE ranges on
  * that field narrow and disjoint — this manifest materializes those ranges
  * so a reader can drop whole files before opening a single footer.
  *
  * This is the moral core of Iceberg/Delta file skipping rebuilt on plain
  * parquet with zero table-format dependency:
  *  - [[write]] runs one column-pruned scan over the tree (per-file min/max
  *    via `_metadata.file_path` + partial aggregation; the shuffle carries
  *    one row per FILE, not per record) and stores the manifest as parquet
  *    under `_manifest/` — a leading-underscore path, invisible to readers.
  *  - [[prunedRead]] loads the manifest (O(files) driver work, the same
  *    order as the file listing any scan already does), keeps files whose
  *    [min,max] intersects the wanted range, and hands Spark ONLY those
  *    paths. The residual filter stays on the scan, so correctness never
  *    depends on manifest freshness for files it does list; a file missing
  *    from the manifest after a new ingest is handled by `strict=false`
  *    fallback semantics below.
  *
  * Staleness contract: the manifest names the files it covered. If the live
  * tree has files the manifest does not know (ingest since the last
  * [[write]]), skipping by manifest alone would silently drop their rows —
  * so [[prunedRead]] re-lists the tree and includes every unknown file
  * unconditionally. Skipping degrades to a full scan in the worst case;
  * results are always exact.
  */
object FileStatsManifest {

  val ManifestDirName = "_manifest"

  /** One manifest row per data file: path, row count, per-column min/max.
    * `paths` narrows the scan to specific files (incremental update); empty
    * means the whole tree.
    */
  def collect(spark: SparkSession, root: String, statCols: Seq[String],
      paths: Seq[String] = Seq.empty): DataFrame = {
    val src =
      if (paths.isEmpty) spark.read.option("basePath", root).parquet(root)
      else spark.read.option("basePath", root).parquet(paths: _*)
    src.groupBy(col("_metadata.file_path").as("file"))
      .agg(count(lit(1)).as("n_rows"),
        statCols.flatMap(c =>
          Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))): _*)
  }

  /** Build and persist the manifest for `root` (single parquet file — the
    * manifest has one row per data file; a 100 TB tree with 10^6 files is a
    * ~10^6-row manifest, driver-trivial).
    */
  def write(spark: SparkSession, root: String, statCols: Seq[String]): Unit =
    collect(spark, root, statCols).coalesce(1)
      .write.mode("overwrite").parquet(s"${root.stripSuffix("/")}/$ManifestDirName")

  /** Incremental manifest maintenance: scan ONLY files the manifest does
    * not know, drop entries for files that no longer exist (compaction /
    * partition overwrite), keep every still-valid row untouched. The
    * keep/drop set is computed as a distributed semi/anti join — manifest
    * rows never collect to the driver (a 10^8-file manifest is multi-GB);
    * only the NEW files' paths do, and those are O(files since last update)
    * by construction. The new generation is staged and swapped in by
    * [[PartitionSwap]]'s set-aside/rename/rollback, because the merged
    * frame lazily reads the old one. Cost is O(new files' bytes) + one
    * manifest-sized join, never a full-tree rescan — after an hourly
    * ingest at 100 TB the update reads one hour, not the table. Returns
    * (filesScanned, filesTotal). Requires an existing manifest ([[write]]
    * bootstraps).
    */
  def update(spark: SparkSession, root: String, statCols: Seq[String]): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val old = readManifest(spark, root)
    val live = liveFiles(spark, root)
    import spark.implicits._
    // `_metadata.file_path` is URI-form (`file:///…`), FileSystem listings
    // `file:/…` — join on the scheme-free path
    def normed(c: org.apache.spark.sql.Column) =
      regexp_replace(c, "^[A-Za-z0-9+.-]+:/+", "/")
    val liveDf = live.toDF("live_path")
      .withColumn("norm", normed(col("live_path")))
    val oldN = old.withColumn("norm", normed(col("file")))
    // rows for files still on disk survive untouched; deleted files' rows
    // drop out of the semi join — the manifest never leaves the executors
    val kept = oldN
      .join(liveDf.select("norm"), Seq("norm"), "left_semi")
      .select(old.columns.map(col): _*)
    // only the NEW file paths come to the driver (they must: the scan needs
    // a path list) — O(files since last update), never O(manifest)
    val newFiles = liveDf
      .join(oldN.select("norm"), Seq("norm"), "left_anti")
      .select("live_path").as[String].collect().toSeq
    val merged =
      if (newFiles.isEmpty) kept
      else kept.unionByName(
        collect(spark, root, statCols, newFiles).select(old.columns.map(col): _*))
    // stage-then-swap: `merged` still lazily READS the old manifest, so
    // the new generation is written in full before the old one is set
    // aside
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    PartitionSwap.swap(fs, rootP, ManifestDirName) { staging =>
      merged.coalesce(1).write.mode("overwrite")
        .parquet(new Path(staging, ManifestDirName).toString)
    }
    (newFiles.length, live.length)
  }

  /** The manifest's rows: its `part-*.parquet` files, listed and read
    * typed from one footer ([[SnapshotLog.readFiles]]). A read of the
    * `_manifest` directory itself would log Spark's hidden-path warning
    * and infer the schema in a job.
    */
  private def readManifest(spark: SparkSession, root: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(s"${root.stripSuffix("/")}/$ManifestDirName")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    SnapshotLog.readFiles(spark, fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .map(_.toString))
  }

  /** All current data-file paths under `root` (what a scan would read). */
  private def liveFiles(spark: SparkSession, root: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = Seq.newBuilder[String]
    val it = fs.listFiles(rootPath, true)
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      val rel = st.getPath.toUri.getPath.stripPrefix(rootPath.toUri.getPath)
      val hidden = rel.split("/").exists(s => s.startsWith("_") || s.startsWith("."))
      if (st.isFile && !hidden && !name.startsWith("_") && !name.startsWith("."))
        out += st.getPath.toString
    }
    out.result()
  }

  /** Read `root` keeping only files whose manifest [min,max] range on
    * `statCol` can contain a value in [lo, hi], plus every live file the
    * manifest does not cover (staleness fallback). The range predicate is
    * ALSO applied to the scan, so the manifest only ever removes work, never
    * changes results. Returns (frame, filesSelected, filesTotal).
    */
  def prunedRead(spark: SparkSession, root: String, statCol: String,
      lo: Long, hi: Long): (DataFrame, Int, Int) =
    prunedReadBox(spark, root, Seq((statCol, lo, hi)))

  /** Multi-dimensional generalization of [[prunedRead]]: keep files whose
    * manifest [min,max] interval intersects the wanted range on EVERY
    * `(col, lo, hi)` in `box` — the file survives only if its stats
    * hyper-rectangle intersects the query box. With a 1-D sort layout the
    * non-sort dimensions have full-width file ranges and prune nothing; a
    * space-filling-curve layout ([[graft.functions.HilbertIndex]]) makes
    * every dimension's per-file range narrow, so box intersection drops
    * most files. Same staleness fallback and residual-filter contract as
    * [[prunedRead]]: unknown files are always read, the full predicate
    * stays on the scan, pruning only ever removes work.
    */
  def prunedReadBox(spark: SparkSession, root: String,
      box: Seq[(String, Long, Long)]): (DataFrame, Int, Int) = {
    require(box.nonEmpty, "prunedReadBox needs at least one (col, lo, hi)")
    // `_metadata.file_path` is URI-form (`file:///…`), FileSystem listings
    // are `file:/…` — compare on the scheme-free path, read by the original
    def norm(p: String): String = new org.apache.hadoop.fs.Path(p).toUri.getPath
    val statCols = box.flatMap { case (c, _, _) =>
      Seq(col(s"min_$c").cast("long"), col(s"max_$c").cast("long")) }
    val manifest = readManifest(spark, root)
      .select(col("file") +: statCols: _*)
      .collect()
    val known = manifest.map(r => norm(r.getString(0))).toSet
    val selected = manifest
      .filter { r =>
        box.indices.forall { i =>
          val (mnI, mxI) = (1 + 2 * i, 2 + 2 * i)
          val (_, lo, hi) = box(i)
          // NULL min/max on a column means every value in the file is NULL
          // there (parquet stats semantics for all-null pages), and NULL
          // never satisfies BETWEEN — the file cannot contribute a row
          !(r.isNullAt(mnI) || r.isNullAt(mxI)) &&
            r.getLong(mxI) >= lo && r.getLong(mnI) <= hi
        }
      }
      .map(_.getString(0))
    val unknown = liveFiles(spark, root).filterNot(p => known(norm(p)))
    val paths = (selected ++ unknown).distinct
    val pred = box.map { case (c, lo, hi) => col(c).between(lo, hi) }
      .reduce(_ && _)
    val df =
      if (paths.isEmpty)
        spark.read.option("basePath", root).parquet(root).filter(pred).limit(0)
      else
        spark.read.option("basePath", root).parquet(paths: _*).filter(pred)
    (df, paths.length, known.size + unknown.length)
  }
}
