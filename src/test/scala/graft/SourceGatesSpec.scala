package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Text gates over `src/main` for the session and commit rules: a conf is
  * set only on a child session a query owns, never on the caller's, child
  * sessions come from one builder, and partitions are replaced through one
  * staged swap. Comment lines are skipped, so the scaladoc may still name
  * what the code must not do.
  */
class SourceGatesSpec extends AnyFunSuite {

  private val root = java.nio.file.Paths.get("src/main/scala/graft")

  /** (path relative to `root`, 1-based line number, line) of every code
    * line under `root`.
    */
  private lazy val codeLines: Seq[(String, Int, String)] = {
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    files.flatMap { f =>
      val rel = root.relativize(f).toString
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if !isComment(line) => (rel, i + 1, line)
      }
    }
  }

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
  }

  private val DefRe = """^\s*(?:private(?:\[\w+\])?\s+)?def\s+(\w+)""".r.unanchored

  /** The `def` a code line sits in: the last one opened above it. */
  private def enclosingDef(file: String, lineNo: Int): String =
    codeLines.filter { case (f, n, _) => f == file && n <= lineNo }
      .reverseIterator.collectFirst { case (_, _, DefRe(name)) => name }
      .getOrElse("<none>")

  test("a conf is set only in the defs that own a child session") {
    // every `.conf.set(` under operators, sources and streaming, whatever
    // the session's name (`spark`, `bs`, `batch.sparkSession`, ...): the
    // only sessions a def there may configure are the children it builds
    // or is handed by the builder
    val sites = codeLines.collect {
      case (f, n, line) if Seq("operators/", "sources/", "streaming/")
          .exists(f.startsWith) && line.contains(".conf.set(") =>
        (f, enclosingDef(f, n))
    }
    val owners = Set(
      ("operators/MicroBatchJob.scala", "streamSession"),
      ("operators/RelationalQueries.scala", "q38BloomJoin"),
      ("operators/IngestParityQueries.scala", "st9TransformWithState"))
    assert(sites.nonEmpty && sites.forall(owners), sites.mkString("\n"))
  }

  test("child sessions come only from MicroBatchJob.streamSession and q38BloomJoin") {
    val sites = codeLines.collect {
      case (f, n, line) if line.contains("newSession()") =>
        (f, enclosingDef(f, n))
    }
    assert(sites.toSet == Set(
      ("operators/MicroBatchJob.scala", "streamSession"),
      ("operators/RelationalQueries.scala", "q38BloomJoin")),
      sites.mkString("\n"))
    assert(sites.size == 2, sites.mkString("\n"))
  }

  test("partitions are replaced only through PartitionSwap") {
    // no write requests Spark's dynamic overwrite, and no directory moves
    // outside the two commit primitives: the staged partition swap and the
    // snapshot log
    val modes = codeLines.filter(_._3.contains("partitionOverwriteMode"))
    assert(modes.isEmpty, modes.mkString("\n"))
    val renames = codeLines.collect {
      case (f, _, line) if Seq("operators/", "sources/").exists(f.startsWith) &&
          line.contains(".rename(") => f
    }.toSet
    assert(renames == Set("sources/PartitionSwap.scala", "sources/SnapshotLog.scala"),
      renames.mkString("\n"))
  }

  test("PartitionSwap serves only the trees a plain parquet reader discovers") {
    // landing, the bucket tables, x4's pack map and the file-stats
    // manifest; every persisted index is a SnapshotLog table
    val callers = codeLines.collect {
      case (f, _, line) if line.contains("PartitionSwap.") &&
          f != "sources/PartitionSwap.scala" => f
    }.toSet
    assert(callers == Set("sources/LandingTable.scala",
      "sources/MutationOps.scala", "operators/CorpusPipeline.scala",
      "sources/FileStatsManifest.scala"), callers.mkString("\n"))
  }

  test("VectorQueries discovers no partitions and writes no partitioned tree") {
    // an index is read as manifest files with a known schema, and written
    // through SnapshotLog.commit's partitionBy, never a writer's
    val text = codeLines.collect {
      case (f, _, line) if f == "operators/VectorQueries.scala" => line
    }.mkString("\n")
    val basePath = """option\(\s*"basePath"""".r.findAllIn(text).toSeq
    assert(basePath.isEmpty, s"${basePath.size} basePath reads")
    val call = """\s*\.\w+\([^()]*\)"""
    val writes = Seq(
      raw"\.write\b(?:$call)*\s*\.partitionBy\(",
      raw"\.partitionBy\([^()]*\)(?:$call)*\s*\.(?:parquet|save)\(")
      .flatMap(_.r.findAllIn(text))
    assert(writes.isEmpty, writes.mkString("\n"))
  }

  test("withStreamSession appears nowhere") {
    val all = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(f => new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        .contains("withStreamSession"))
      .toSeq
    assert(all.isEmpty, all.mkString("\n"))
  }
}
