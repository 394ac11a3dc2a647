package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal snapshot-versioned table (time travel) over plain parquet — the
  * lakehouse commit model (Iceberg/Delta's core idea) with zero table-format
  * dependencies: data files are IMMUTABLE once written, and a version is
  * nothing but a manifest listing the files that constitute it. A commit
  * writes only its NEW files (into its own `data/commit-v{N}-{attempt}/`
  * directory)
  * and a new manifest that carries forward every surviving file from the
  * parent version by reference. Readers of version N resolve its manifest
  * and scan exactly those files — a later commit can never disturb them,
  * which is the reproducibility contract a training run needs ("the corpus
  * as of snapshot N", stable forever).
  *
  * The reference has no versioning story (BigQuery truncate-and-load
  * destroys history); this closes that gap the Spark-first way.
  *
  * Exactly-once under replay: a commit may carry a `commitKey` (e.g. a
  * Structured Streaming batchId). The key is recorded in the manifest
  * header; committing a key that some live version already recorded is a
  * NO-OP returning that version — so an at-least-once source (foreachBatch
  * replay after a crash) cannot double-apply a batch. Every attempt stages
  * its data under a UNIQUE `commit-v{N}-{attempt}` directory that the
  * manifest references directly, so no two writers ever touch the same data
  * dir and the commit path never deletes data — a concurrent writer
  * that loses the manifest race (the per-version slot lock is created
  * exclusively, so the loser fails loudly before it can rename; plain
  * exists-then-rename would silently overwrite on POSIX rename semantics)
  * or a TORN attempt (data written, manifest rename missed)
  * leaves only an orphan directory no manifest references. Orphans are
  * reclaimed by [[vacuumOrphans]], which re-lists every published manifest
  * and only deletes unreferenced dirs older than a caller-given age (so an
  * in-flight attempt of a live concurrent writer is never swept).
  *
  * Scale notes: a manifest is one line per file — O(file count), written
  * once per commit, never rewritten; copy-on-write means an update's cost
  * is proportional to the files it REPLACES, never table size (the u1/u2
  * discipline lifted from partition granularity to file granularity).
  * Partition/stats-based skipping composes via [[FileStatsManifest]] over
  * the same file list; time-travel reads prune with it exactly like head
  * reads. Manifest publication is atomic via the tmp-then-rename the
  * staged-commit sink uses, so a concurrent reader sees the old version or
  * the new one, never a torn file list. All directory listing and renames
  * go through the Hadoop FileSystem of the table's path, so the log works
  * unchanged on hdfs:/s3a:-style URIs, not just file:.
  */
object SnapshotLog {

  /** Manifest header line carrying the idempotency key of the commit that
    * produced the version; data lines are absolute file paths.
    */
  private val KeyHeader = "#commitKey="

  /** Path level marking a SIDECAR file — a small typed artifact committed
    * ATOMICALLY with the data it describes (e.g. the trained codebook a
    * re-indexed generation's codes were encoded under). Sidecars ride the
    * same manifest (so carry-forward, retention, and vacuum treat them as
    * first-class members of the version), but [[read]] excludes them (their
    * schema differs from the data's) and [[compact]] always carries them by
    * reference (a rewrite mixing sidecar and data schemas would corrupt
    * both). The `=name` suffix addresses one sidecar among several.
    */
  private val SidecarSeg = "/_sidecar="

  private def isSidecar(line: String): Boolean = line.contains(SidecarSeg)

  /** The data-file subset of a manifest file list — what a scan of the
    * version's DATA should read. Maintenance operators that rewrite bins
    * selected from the manifest must scan this subset while carrying the
    * sidecar lines forward untouched (they describe the whole generation,
    * not any one bin).
    */
  def dataFiles(mf: Seq[String]): Seq[String] = mf.filterNot(isSidecar)

  /** A slot lock older than this with no published manifest is a crashed
    * attempt and may be broken by the next committer. Must comfortably
    * exceed the longest plausible write-manifest-to-publish window (the
    * manifest write is tiny — seconds, not minutes).
    */
  private val DefaultLockStaleMs = 10 * 60 * 1000L

  private def fsFor(spark: SparkSession, tablePath: String): (FileSystem, Path) = {
    val root = new Path(tablePath)
    (root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  private def logDir(root: Path) = new Path(root, "_graft_log")

  private def versionFile(root: Path, v: Int) =
    new Path(logDir(root), f"v$v%05d.manifest")

  /** A published manifest's name: `%05d` pads to five digits, and a
    * version past 99,999 simply has more, so the match takes five or more.
    */
  private val ManifestName = raw"v(\d{5,})\.manifest".r

  private def listVersions(fs: FileSystem, root: Path): Seq[Int] = {
    val dir = logDir(root)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq.map(_.getPath.getName).collect {
      case ManifestName(v) => v.toInt
    }
  }

  def latestVersion(spark: SparkSession, tablePath: String): Option[Int] = {
    val (fs, root) = fsFor(spark, tablePath)
    val vs = listVersions(fs, root)
    if (vs.isEmpty) None else Some(vs.max)
  }

  private def readLines(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  /** Files constituting `version`, as absolute paths (header lines
    * stripped).
    */
  def manifest(spark: SparkSession, tablePath: String, version: Int): Seq[String] = {
    val (fs, root) = fsFor(spark, tablePath)
    val f = versionFile(root, version)
    require(fs.exists(f), s"snapshot v$version does not exist at $tablePath")
    readLines(fs, f).filter(l => l.nonEmpty && !l.startsWith("#"))
  }

  /** All commit keys a version's manifest records: its own (first header
    * line when the commit was keyed) plus any CARRIED keys — a compaction
    * commit carries forward the keys of every version it supersedes, so
    * retention can drop old manifests without reopening their replay
    * window (see [[compact]]).
    */
  private def keysOf(fs: FileSystem, root: Path, v: Int): Seq[String] =
    readLines(fs, versionFile(root, v))
      .takeWhile(_.startsWith("#"))
      .collect { case l if l.startsWith(KeyHeader) => l.stripPrefix(KeyHeader) }

  /** The live version (if any) whose manifest records `key` (own or
    * carried), scanning newest-first: replays in practice re-deliver the
    * most recent batch, so the common hit is the head manifest.
    */
  private def versionOfKey(fs: FileSystem, root: Path, key: String): Option[Int] =
    listVersions(fs, root).sorted(Ordering.Int.reverse)
      .find(v => keysOf(fs, root, v).contains(key))

  /** Commit a new snapshot: `newData` becomes immutable parquet files under
    * this attempt's own unique directory; the manifest = `carried`
    * (surviving parent files, by reference) ++ the new files. Returns the
    * new version number.
    *
    * `commitKey`, when given, makes the commit IDEMPOTENT: if a live version
    * already records the key, nothing is written and that version is
    * returned (at-least-once replay safety). The data dir name embeds a
    * per-attempt token, so a torn earlier attempt (or a concurrent writer
    * racing for the same version) can never collide with this one — the
    * commit path creates, never deletes. The manifest rename is the single
    * commit point; a loser of the rename race fails loudly with its orphan
    * dir left for [[vacuumOrphans]].
    */
  def commit(spark: SparkSession, tablePath: String, newData: DataFrame,
      carried: Seq[String], commitKey: Option[String] = None,
      lockStaleMs: Long = DefaultLockStaleMs,
      partitionBy: Option[String] = None,
      carriedKeys: Seq[String] = Nil,
      sidecars: Seq[(String, DataFrame)] = Nil): Int = {
    val (fs, root) = fsFor(spark, tablePath)
    commitKey.flatMap(versionOfKey(fs, root, _)) match {
      case Some(v) => v // replayed batch: already live, nothing to do
      case None =>
        val v = listVersions(fs, root).foldLeft(0)(math.max) + 1
        val attempt = java.util.UUID.randomUUID().toString.take(8)
        val dataDir = new Path(root, f"data/commit-v$v%05d-$attempt")
        // Optional partition-keyed layout: the key is DUPLICATED into a
        // `_<col>=value` directory level (the original column stays in the
        // file data, unlike a plain partitionBy which would strip it), so
        // the MANIFEST PATH carries each file's key — a later commit can
        // split carried vs replaced files on the key with pure string
        // matching over the manifest, never a data scan. This is what lets
        // a copy-on-write consumer (st18's touched-bin state) rewrite only
        // the partitions a batch touches while carrying the rest by
        // reference, at O(manifest) decision cost.
        partitionBy match {
          case Some(c) =>
            // a column literally named "sidecar" would write data under
            // `_sidecar=value/` — the sidecar path level — and every data
            // file of the version would silently vanish from read()/
            // dataFiles(); fail loudly instead of returning empty scans
            require(c != "sidecar",
              "partition column 'sidecar' collides with the sidecar " +
                "manifest path level; rename the column")
            newData.withColumn(s"_$c", newData(c))
              .write.mode("error").partitionBy(s"_$c").parquet(dataDir.toString)
          case None =>
            newData.write.mode("error").parquet(dataDir.toString)
        }
        // sidecars land INSIDE this attempt's data dir under their own
        // `_sidecar=name` level, so the recursive listing below folds them
        // into the same manifest — one rename publishes data + sidecars
        // together (the geometry a generation's codes were encoded under
        // can never be published separately from the codes themselves)
        sidecars.foreach { case (name, df) =>
          require(!name.contains("/") && !name.contains("="),
            s"sidecar name must be a plain token: $name")
          df.write.mode("error")
            .parquet(new Path(dataDir, s"_sidecar=$name").toString)
        }
        def listParquet(dir: Path): Seq[String] = {
          val (files, dirs) = fs.listStatus(dir).toSeq.partition(_.isFile)
          files.filter(st => st.getPath.getName.startsWith("part-") &&
            st.getPath.getName.endsWith(".parquet"))
            .map(_.getPath.toString) ++
            dirs.flatMap(d => listParquet(d.getPath))
        }
        val fresh = listParquet(dataDir)
        // own key first, then carried keys (a compaction carries forward
        // every key of the versions it supersedes, so dropping those
        // versions later can never reopen a batch's replay window)
        val header = (commitKey.toSeq ++ carriedKeys).distinct
          .map(KeyHeader + _)
        val lines = header ++ (carried ++ fresh).sorted
        fs.mkdirs(logDir(root))
        // Exclusive slot claim BEFORE the publish rename. POSIX rename(2)
        // (local FS, and any FileSystem delegating to it) silently
        // OVERWRITES an existing destination, so exists-check-then-rename
        // is a TOCTOU hole: two racers for v could both pass the check and
        // the loser would replace the winner's published manifest. The lock
        // file is created exclusively (O_EXCL via the JDK on file:, the
        // FileSystem's own no-overwrite create elsewhere — atomic on HDFS
        // by contract), so only ONE attempt per version ever renames; the
        // loser fails loudly here. A claim whose owner crashed before
        // publishing (lock present, no manifest, older than lockStaleMs)
        // is broken and re-claimed so the slot cannot wedge forever.
        val lock = new Path(logDir(root), f"v$v%05d.lock")
        if (!atomicClaim(fs, lock)) {
          // Stale-lock break must itself be race-free: delete-then-create
          // would let breaker B delete breaker A's freshly re-created lock
          // and BOTH would publish — the very overwrite hazard the lock
          // exists to stop. Instead the stale lock is RENAMED to an
          // attempt-unique tombstone: rename is atomic, so of N concurrent
          // breakers exactly one wins it; everyone then funnels back
          // through the exclusive create, which again admits exactly one.
          val mayReclaim =
            try {
              !fs.exists(versionFile(root, v)) &&
              fs.getFileStatus(lock).getModificationTime <
                System.currentTimeMillis() - lockStaleMs &&
              fs.rename(lock, new Path(logDir(root), f".v$v%05d-$attempt.lock-broken"))
            } catch {
              // lock vanished between our failed claim and the stat — a
              // concurrent breaker already renamed it away; the slot may
              // be free again, so fall through to one more claim attempt
              // (the exclusive create stays the single arbiter).
              case _: java.io.FileNotFoundException => true
            }
          val reclaimed = mayReclaim && atomicClaim(fs, lock)
          if (!reclaimed)
            throw new IllegalStateException(
              s"concurrent commit of v$v at $tablePath (slot lock held)")
        }
        val tmp = new Path(logDir(root), s".v$v-$attempt.tmp")
        val out = fs.create(tmp, true)
        try out.write(lines.mkString("\n").getBytes("UTF-8")) finally out.close()
        val target = versionFile(root, v)
        require(!fs.exists(target), s"concurrent commit of v$v at $tablePath")
        require(fs.rename(tmp, target), s"manifest publish failed for v$v")
        v
    }
  }

  /** Atomically create `lock` exclusively; true iff this caller created it.
    * On file: the JDK's createNewFile gives true O_EXCL atomicity; on other
    * schemes the FileSystem's no-overwrite create is used (atomic on HDFS
    * per its contract; object-store semantics vary — conditional-put stores
    * map it to if-none-match).
    */
  private def atomicClaim(fs: FileSystem, lock: Path): Boolean =
    if ("file" == fs.getUri.getScheme) {
      val f = new java.io.File(lock.toUri.getPath)
      f.getParentFile.mkdirs()
      f.createNewFile()
    } else {
      try { fs.create(lock, false).close(); true }
      catch { case _: java.io.IOException => false }
    }

  /** Delete data directories no published manifest references — the torn
    * attempts and rename-race losers the commit path deliberately leaves
    * behind. Only dirs whose modification time is older than
    * `olderThanMillis` are swept, so the staged dir of a concurrent writer
    * that has not yet published is never deleted (pick an age comfortably
    * above the longest plausible write-to-publish window, e.g. hours).
    * Returns the deleted directory paths.
    */
  def vacuumOrphans(spark: SparkSession, tablePath: String,
      olderThanMillis: Long): Seq[String] = {
    val (fs, root) = fsFor(spark, tablePath)
    val dataRoot = new Path(root, "data")
    if (!fs.exists(dataRoot)) return Seq.empty
    // every COMMIT DIR any live version references. The commit dir is the
    // path level directly under data/ — NOT a file's immediate parent:
    // partition-keyed commits nest `_col=value` dirs inside the commit
    // dir, and keying on the immediate parent would classify every live
    // partitioned commit dir as unreferenced and sweep it.
    def commitDirOf(f: String): Option[String] = {
      var p = new Path(f).getParent
      while (p != null && p.getParent != null &&
        p.getParent.getName != dataRoot.getName) p = p.getParent
      Option(p).map(_.getName)
    }
    val referencedDirs = listVersions(fs, root)
      .flatMap(v => readLines(fs, versionFile(root, v)))
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .flatMap(commitDirOf)
      .toSet
    val cutoff = System.currentTimeMillis() - olderThanMillis
    // Age-gate on the NEWEST FILE inside the dir, not the directory entry:
    // object stores synthesize zero/meaningless mtimes for "directories",
    // so a live writer's in-flight staged dir could look ancient and get
    // swept mid-write. File mtimes are real everywhere. A dir with NO
    // files falls back to the directory entry's own mtime: a truly torn
    // attempt (crash right after mkdir) would otherwise never age out — a
    // slow permanent leak. The object-store zero-mtime caveat is harmless
    // for that fallback (an empty dir holds no data to lose), and a live
    // local writer's freshly created dir has a fresh mtime so stays under
    // the age gate.
    // plain listStatus recursion, not fs.listFiles(_, true): the located-
    // status fast path assumes file: URIs on local-delegating schemes
    def newestFileMtime(dir: Path): Option[Long] = {
      val (files, dirs) = fs.listStatus(dir).toSeq.partition(_.isFile)
      (files.map(_.getModificationTime) ++
        dirs.flatMap(d => newestFileMtime(d.getPath))).maxOption
    }
    fs.listStatus(dataRoot).toSeq
      .filter(st => st.isDirectory &&
        !referencedDirs.contains(st.getPath.getName) &&
        newestFileMtime(st.getPath).getOrElse(st.getModificationTime) < cutoff)
      .map { st => fs.delete(st.getPath, true); st.getPath.toString }
  }

  /** Scan exactly the DATA files of `version` — immune to any later commit.
    * Sidecar files (different schema by design) are excluded; read them
    * with [[readSidecar]].
    */
  def read(spark: SparkSession, tablePath: String, version: Int): DataFrame =
    readFiles(spark, manifest(spark, tablePath, version).filterNot(isSidecar))

  /** `spark.read.parquet(files: _*)` over a manifest's file list, typed
    * from one footer on the driver ([[ParquetFooterSchema]]) instead of an
    * inference job. An empty list keeps Spark's own zero-path error.
    */
  def readFiles(spark: SparkSession, files: Seq[String]): DataFrame =
    if (files.isEmpty) spark.read.parquet()
    else spark.read.schema(ParquetFooterSchema.of(spark, files)).parquet(files: _*)

  /** Read one named sidecar of `version` — the typed artifact committed
    * atomically with the data (see [[SidecarSeg]]). A version that never
    * committed the sidecar is a contract violation, not an empty frame:
    * serving geometry must come FROM the generation, so a missing sidecar
    * fails loudly instead of letting a caller silently re-derive it from
    * a corpus that may have drifted since the generation was built.
    */
  def readSidecar(spark: SparkSession, tablePath: String, version: Int,
      name: String): DataFrame = {
    val files = manifest(spark, tablePath, version)
      .filter(_.contains(s"$SidecarSeg$name/"))
    require(files.nonEmpty,
      s"version $version of $tablePath carries no sidecar '$name'")
    readFiles(spark, files)
  }

  /** Distinct commit keys recorded across ALL live version manifests (own
    * keys plus keys carried forward by compactions). This — not the head
    * version NUMBER — is the stable "how many keyed commits landed" count:
    * maintenance commits ([[compact]]) advance the version counter and
    * [[retainVersions]] drops old manifests, but neither creates nor loses
    * a key, so `commitKeys(...).size` is invariant under maintenance while
    * `latestVersion` is not (the st20/st22 `n_commits` contract).
    */
  def commitKeys(spark: SparkSession, tablePath: String): Seq[String] = {
    val (fs, root) = fsFor(spark, tablePath)
    listVersions(fs, root).flatMap(keysOf(fs, root, _)).distinct
  }

  /** The commit keys ONE version's manifest records (own + carried) — how
    * a reader identifies WHICH logical state a version serves (e.g. "does
    * the head already include the gen-2 re-index?"), as opposed to
    * [[commitKeys]]'s table-wide replay ledger. O(one manifest header).
    */
  def versionKeys(spark: SparkSession, tablePath: String,
      version: Int): Seq[String] = {
    val (fs, root) = fsFor(spark, tablePath)
    keysOf(fs, root, version)
  }

  /** COMPACT the head version's small files (e23's per-bin rewrite,
    * lifted to any SnapshotLog table): group the live files by partition
    * segment (`_col=value` manifest-path level when `partitionCol` is set;
    * the whole table otherwise), rewrite every group holding more than
    * `maxFilesPerPartition` files into one file per group, and carry every
    * other group's files BY REFERENCE — their physical identity is
    * untouched, so readers of partitions a recurring stream never revisits
    * keep their page cache and etag validity. The result is a NEW version
    * (history stays intact; pair with [[retainVersions]] to reclaim the
    * replaced small files). No-op returning None when nothing exceeds the
    * threshold.
    *
    * Scale shape: the decision is pure string matching over the manifest
    * (O(files), no data scan); the rewrite reads and writes only the
    * over-threshold groups' rows — cost ∝ compacted partitions, never
    * table size (the copy-on-write discipline, applied to maintenance).
    */
  def compact(spark: SparkSession, tablePath: String,
      partitionCol: Option[String] = None,
      maxFilesPerPartition: Int = 1): Option[Int] = {
    val head = latestVersion(spark, tablePath).getOrElse(return None)
    // sidecars are never compaction candidates: their schema differs from
    // the data's (a mixed rewrite would corrupt both) and they are tiny by
    // contract — always carried by reference, physical identity untouched
    val (sidecarMf, mf) = manifest(spark, tablePath, head).partition(isSidecar)
    val seg: String => String = partitionCol match {
      case Some(c) =>
        val re = (s"/_${java.util.regex.Pattern.quote(c)}=([^/]+)/").r
        f => re.findFirstMatchIn(f).map(_.group(1)).getOrElse("")
      case None => _ => ""
    }
    val grouped = mf.groupBy(seg)
    val (rewrite, carry) = grouped.partition(_._2.size > maxFilesPerPartition)
    if (rewrite.isEmpty) return None
    val rows = readFiles(spark, rewrite.values.flatten.toSeq)
    // one output file per group: hash-repartition on the partition key
    // puts each value's rows in one task (collisions only co-locate
    // values, never split one); unpartitioned tables coalesce to one file
    val compacted = partitionCol match {
      case Some(c) => rows.repartition(org.apache.spark.sql.functions.col(c))
      case None => rows.coalesce(1)
    }
    // carry EVERY live version's commit keys forward: the compacted
    // version supersedes them all, so when retention later drops their
    // manifests a replayed batch still finds its key here and no-ops —
    // maintenance must never reopen an exactly-once window
    val (fs, root) = fsFor(spark, tablePath)
    val allKeys = listVersions(fs, root).flatMap(keysOf(fs, root, _)).distinct
    Some(commit(spark, tablePath,
      compacted, carry.values.flatten.toSeq ++ sidecarMf,
      partitionBy = partitionCol, carriedKeys = allKeys))
  }

  /** Version RETENTION (c4's horizon sweep at manifest granularity): drop
    * every version manifest older than the newest `keep`, then reclaim at
    * FILE granularity — every data file no surviving manifest references
    * (the small files a later [[compact]] replaced, torn-attempt leftovers,
    * stale _SUCCESS markers) is deleted once older than `olderThanMillis`,
    * and directories that become empty are removed. File granularity
    * matters because a commit dir routinely holds carried files next to
    * replaced ones — a dir-level vacuum ([[vacuumOrphans]]' torn-attempt
    * sweep) would keep every replaced file alive for as long as ONE
    * sibling stays referenced. Exactly-once survives retention BY
    * CONSTRUCTION: a manifest is only dropped when every commit key it
    * records is also recorded by a SURVIVING manifest — normally because
    * a later [[compact]] carried the keys forward. Without a compaction,
    * keyed manifests are retained regardless of the horizon (retention
    * must never reopen a batch's replay window); compaction is the
    * key-consolidation mechanism. `olderThanMillis` has NO default
    * ([[vacuumOrphans]]' rule): pass a value comfortably above the
    * longest plausible in-flight write so a concurrent committer's
    * staged-but-unpublished files are never swept — 0 is only safe on a
    * provably quiescent table. Returns (dropped versions, deleted paths).
    */
  def retainVersions(spark: SparkSession, tablePath: String, keep: Int,
      olderThanMillis: Long): (Seq[Int], Seq[String]) = {
    require(keep >= 1, "must keep at least the head version")
    val (fs, root) = fsFor(spark, tablePath)
    val all = listVersions(fs, root).sorted
    val keptKeys = all.takeRight(keep).flatMap(keysOf(fs, root, _)).toSet
    val dropped = all.dropRight(keep)
      .filter(v => keysOf(fs, root, v).forall(keptKeys))
    dropped.foreach { v =>
      fs.delete(versionFile(root, v), false)
      fs.delete(new Path(logDir(root), f"v$v%05d.lock"), false)
    }
    val live: Set[String] = listVersions(fs, root)
      .flatMap(v => readLines(fs, versionFile(root, v)))
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSet
    val dataRoot = new Path(root, "data")
    if (!fs.exists(dataRoot)) return (dropped, Seq.empty)
    val cutoff = System.currentTimeMillis() - olderThanMillis
    val deleted = scala.collection.mutable.Buffer.empty[String]
    // depth-first: delete unreferenced aged files, then any dir emptied by
    // the sweep; a dir keeping one live (or too-young) file keeps itself.
    // An ALREADY-empty dir is only removed when its own mtime is older
    // than the cutoff (the vacuumOrphans empty-dir rule): a concurrent
    // committer that has just mkdir'd its staged commit dir but not yet
    // landed a file must never have the dir deleted mid-write — the
    // "staged-but-unpublished is never swept" guard applies to dirs too.
    // A dir the sweep ITSELF emptied held only aged unreferenced files, so
    // it is provably not an in-flight stage and is removed regardless of
    // its entry mtime (which child deletion just refreshed).
    def sweep(dir: Path): (Boolean, Boolean) = { // (isEmpty, sweptAny)
      var empty = true
      var swept = false
      fs.listStatus(dir).foreach { st =>
        if (st.isDirectory) {
          val entryAged = st.getModificationTime < cutoff
          val (subEmpty, subSwept) = sweep(st.getPath)
          if (subEmpty && (subSwept || entryAged)) {
            fs.delete(st.getPath, false)
            deleted += st.getPath.toString
            // Only FILE deletions qualify a parent for the "the sweep
            // itself emptied it" removal. Removing an already-empty AGED
            // subdir must not mark the parent swept: a FRESH parent that
            // merely contained an old empty subdir is indistinguishable
            // from an in-flight staged commit dir, and the staged-dir
            // guard above must keep protecting it.
            if (subSwept) swept = true
          } else empty = false
        } else if (!live.contains(st.getPath.toString) &&
            st.getModificationTime < cutoff) {
          fs.delete(st.getPath, false)
          deleted += st.getPath.toString
          swept = true
        } else empty = false
      }
      (empty, swept)
    }
    sweep(dataRoot)
    (dropped, deleted.toSeq)
  }
}
