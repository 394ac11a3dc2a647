package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import scala.util.control.NonFatal

/** The one commit primitive for a hive-partitioned parquet tree: replace
  * the partitions a write produces, old-or-new per partition, and leave
  * every other partition physically untouched. This is the reference's
  * single commit rule — one `table$YYYYMMDDHH` decorator loaded with
  * `WRITE_TRUNCATE`, atomically and idempotently
  * (`bigquery_interaction.py:18-20`, SURVEY §3.1) — stated once for every
  * tree a plain parquet reader must discover and graft overwrites: the
  * landing table (`year/month/day/hour`), key-bucket tables (`bucket`) and
  * x4's pack map (`split`). Persisted vector indexes are not such trees:
  * they are [[SnapshotLog]] tables, whose readers pin one manifest.
  *
  * Why not Spark's dynamic partition overwrite: a BigQuery decorator load
  * is job-atomic, while dynamic overwrite exposes a commit window as long as
  * the data write (old files deleted, new files moved in one by one) during
  * which a concurrent reader can observe a TORN partition — part old, part
  * new, indistinguishable from valid data. Staging shrinks the window to
  * two renames, and what remains is benign: a reader sees the old set, the
  * new set, or a clean transient absence/error it can retry — never a
  * silent mix. (Full reader-transparent atomicity needs a table format with
  * a commit pointer, which [[SnapshotLog]] is for the tables that do not
  * need discovery by other readers.)
  */
object PartitionSwap {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.commit")

  /** Stage-and-swap commit of `df` (which carries `partitionCols`) into the
    * tree at `root`: the whole data write happens under `.staging-<uuid>`
    * (leading dot ⇒ invisible to partition discovery and any
    * hidden-file-filtering reader), then each staged partition directory
    * replaces its live counterpart via `rename(live, trash)` +
    * `rename(staged, live)` — pure metadata ops on HDFS-like filesystems.
    *
    * `rewritten` names partitions (paths relative to `root`, e.g.
    * `bucket=3`) the caller rewrote. A named partition the staged output
    * does not contain was emptied by the rewrite: it moves to trash in the
    * same commit, under the same rollback. Returns those removed
    * partitions.
    *
    * Failure contract: trash is the recovery copy, deleted ONLY after every
    * swap succeeded. If any swap fails (or the pool times out), every
    * partition whose old content moved aside but whose new content did not
    * land is renamed back from trash before the error propagates — the tree
    * returns to its pre-commit state. If even that restore rename fails,
    * the trash directory is KEPT and its path logged, so the displaced data
    * is never destroyed. A hard crash between the two renames likewise
    * preserves both copies (old in `.trash-<uuid>`, new in staging);
    * re-running the write converges because the sink is idempotent.
    *
    * Reader contract during the two-rename window: a concurrent reader may
    * observe a clean transient ABSENCE of the partition (empty listing → 0
    * rows, or a file-not-found error) but never a torn mix of generations;
    * readers racing a commit should treat a 0-file read of a partition they
    * expect to exist as retryable, exactly like a read error. A staged
    * write reads every source row before any live directory moves, so a
    * rewrite may read the very partitions it replaces.
    */
  def overwrite(df: DataFrame, root: String, partitionCols: Seq[String],
      rewritten: Seq[String] = Nil): Seq[String] = {
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    swap(fs, rootP, partitionCols.map(c => s"$c=*").mkString("/"), rewritten) {
      staging => df.write.mode("overwrite")
        .partitionBy(partitionCols: _*)
        .parquet(staging.toString)
    }
  }

  /** The commit under [[overwrite]], for any directories matching
    * `partGlob` below `root`: `stage` writes the new generation under the
    * staging directory it is handed, then every staged match is swapped in
    * and every `rewritten` path it lacks is moved to trash, with the
    * rollback above. Returns the removed paths.
    */
  private[sources] def swap(fs: FileSystem, root: Path, partGlob: String,
      rewritten: Seq[String] = Nil)(stage: Path => Unit): Seq[String] = {
    val token = java.util.UUID.randomUUID().toString
    val staging = new Path(root, s".staging-$token")
    val trash = new Path(root, s".trash-$token")
    stage(staging)

    val removed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    var committed = false
    try {
      // every staged partition dir, deepest level only (year=*/.../hour=*);
      // swaps are independent per partition, so run them on a bounded pool —
      // an hourly backfill writing hundreds of partitions would otherwise
      // serialize hundreds of metadata round-trips on the driver
      val staged = fs.globStatus(new Path(staging, partGlob)).toSeq.map { st =>
        st.getPath.toUri.getPath.stripPrefix(staging.toUri.getPath)
          .stripPrefix("/") -> Option(st.getPath)
      }
      val emptied = rewritten.distinct.filterNot(staged.map(_._1).toSet)
      val moves = staged ++ emptied.map(_ -> None)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, math.max(1, moves.size)))
      try {
        val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        moves.foreach { case (rel, fresh) =>
          pool.execute { () =>
            try {
              val live = new Path(root, rel)
              if (fresh.isDefined) fs.mkdirs(live.getParent)
              if (fs.exists(live)) {
                val aside = new Path(trash, rel)
                fs.mkdirs(aside.getParent)
                if (!fs.rename(live, aside))
                  throw new java.io.IOException(
                    s"commit: rename $live -> $aside failed")
                if (fresh.isEmpty) removed.add(rel)
              }
              fresh.foreach { st =>
                if (!fs.rename(st, live))
                  throw new java.io.IOException(
                    s"commit: rename $st -> $live failed")
              }
              // fatal errors too: the committing thread rethrows the first failure
            } catch { case t: Throwable => failures.add(t) }
          }
        }
        pool.shutdown()
        if (!pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS))
          throw new java.io.IOException(
            "commit: partition swap pool timed out after 1 hour")
        if (!failures.isEmpty) throw failures.peek()
        committed = true
      } finally pool.shutdownNow()
    } finally {
      fs.delete(staging, true)
      if (committed) {
        fs.delete(trash, true)
      } else {
        // roll back: put displaced live content back wherever the new
        // generation did not land; delete trash only if fully restored
        if (restoreFromTrash(fs, root, trash, partGlob)) fs.delete(trash, true)
        else log.error(s"commit: rollback incomplete; displaced partition " +
          s"content preserved at $trash — restore manually or re-ingest")
      }
    }
    removed.toArray(Array.empty[String]).toSeq.sorted
  }

  /** Best-effort rollback of a failed staged commit: for every partition
    * directory under `trash`, if its live counterpart is absent (the swap
    * displaced old content but never landed new content, or removed an
    * emptied partition), rename it back. A live dir that exists means the
    * new generation committed there — the trash copy is superseded. Every
    * entry is tried, even after one fails. Returns true iff every entry was
    * either restored or superseded (⇒ trash is safe to delete).
    */
  private[sources] def restoreFromTrash(fs: FileSystem, root: Path,
      trash: Path, partGlob: String): Boolean = {
    if (!fs.exists(trash)) return true
    val entries = Option(fs.globStatus(new Path(trash, partGlob)))
      .map(_.toSeq).getOrElse(Seq.empty)
    entries.map { st =>
      try {
        val rel = st.getPath.toUri.getPath.stripPrefix(
          trash.toUri.getPath).stripPrefix("/")
        val live = new Path(root, rel)
        fs.exists(live) || fs.rename(st.getPath, live)
      } catch { case NonFatal(_) => false }
    }.forall(identity)
  }
}
