package graft.vintage

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guards for the engine's one data-file writer and one file
  * reader. Every vintage data file is written by
  * `org.apache.spark.sql.graftshim.VintageWrite` (fluent writes plan it
  * through `VintageTable.writeFiles`), and every internal read of a
  * file set plans [[connector.VintageNativeScan]], which serves file
  * keys, row positions and deletion vectors itself. A second writer
  * (`df.write.parquet` into the table) or a read through the file
  * source's `_metadata` columns would bring back the paths these
  * replaced, so both fail here. The table property that picks
  * copy-on-write or deletion vectors is read by the fluent row-level
  * planner alone, so the choice cannot fork again. Every session is
  * built by `graft.GraftSession`, so session configs cannot drift
  * apart again. Identity values have one allocator, the writer, and
  * their mark one update, in `VintageTable.commitOp`. One fold builds
  * snapshot state, for log replay and the commit handoff alike. Reads `src/main` (and `src/test` for the session
  * builder); comment lines are ignored.
  */
class SourceGuardSpec extends AnyFunSuite {

  private val root = new File("src/main")

  /** (path under `dir`, source with comment lines blanked). */
  private def load(dir: File): Seq[(String, String)] =
    Files.walk(dir.toPath).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java"))
      .map { p =>
        val code = Files.readAllLines(p).asScala.map { l =>
          val t = l.trim
          if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) "" else l
        }.mkString("\n")
        dir.toPath.relativize(p).toString -> code
      }.toSeq

  private lazy val sources = load(root)

  /** "file:line" of every match of `pattern`. */
  private def sites(pattern: String, in: Seq[(String, String)] = sources): Seq[String] =
    in.flatMap { case (file, code) =>
      pattern.r.findAllMatchIn(code).map(m =>
        s"$file:${code.substring(0, m.start).count(_ == '\n') + 1}")
    }

  test("sources are found") {
    assert(sources.exists(_._1.endsWith("VintageTable.scala")),
      s"no sources under ${root.getAbsolutePath}")
  }

  test("the DataFrame parquet writer writes no table data file") {
    // per file, the sites allowed: the deletion-vector sidecar writer,
    // and writers of files that belong to no table (query results
    // written by Verify, media test-data metadata)
    val allowed = Map(
      "scala/graft/vintage/DeletionVectors.scala" -> 1,
      "scala/graft/Verify.scala" -> 1,
      "scala/graft/sources/MediaSource.scala" -> 2)
    val found = sites("""\.write\s*\.\s*(parquet|mode)\s*\(""")
    val byFile = found.groupBy(s => s.substring(0, s.lastIndexOf(':')))
    val extra = byFile.filter { case (f, ss) => ss.size > allowed.getOrElse(f, 0) }
    assert(extra.isEmpty, s"writer sites beyond the allowed ones: ${extra.values.flatten}")
  }

  test("one site chooses between copy-on-write and deletion vectors") {
    // the fluent row-level planner: every other caller runs its plan
    val found = sites("""DeletionVectors\s*\.\s*enabled\s*\(""")
    assert(found.size == 1 && found.head.startsWith("scala/graft/vintage/VintageTable.scala:"),
      s"DeletionVectors.enabled( sites: $found")
  }

  test("one SparkSession builder: GraftSession") {
    val builder = """SparkSession\s*\.\s*builder\s*\("""
    val found = sites(builder)
    assert(found.size == 1 && found.head.startsWith("scala/graft/GraftSession.scala:"),
      s"src/main session builder sites: $found")
    val inTests = sites(builder, load(new File("src/test")))
    assert(inTests.isEmpty, s"src/test session builder sites: $inTests")
  }

  test("one identity allocator and one mark update") {
    // the table writer allocates every identity value; commitOp records
    // the mark, and one fluent helper re-runs a write on the typed race
    val advance = sites("""IdentityColumns\s*\.\s*advance\s*\(""")
    assert(advance.size == 1 && advance.head.startsWith("scala/graft/vintage/VintageTable.scala:"),
      s"IdentityColumns.advance( sites: $advance")
    val allocators = sites("monotonically_increasing_id",
      sources.filter(_._1.startsWith("scala/graft/vintage/")))
    assert(allocators.isEmpty, s"identity allocation outside the writer: $allocators")
    val retries = sites("""case\s+\w+\s*:\s*(VintageTable\s*\.\s*)?IdentityConflictException""")
    assert(retries.size == 1 && retries.head.startsWith("scala/graft/vintage/VintageTable.scala:"),
      s"identity retry sites: $retries")
  }

  test("one snapshot fold: replay and the commit handoff share it") {
    // the match that applies a log RemoveFile to the snapshot's file map
    val found = sites("""case\s+(\w+)\s*:\s*RemoveFile\s*=>[^\n]*(\n[^\n]*)?\.\s*remove\s*\(\s*\1\s*\.\s*path""")
    assert(found.size == 1 && found.head.startsWith("scala/graft/vintage/VintageLog.scala:"),
      s"snapshot fold sites: $found")
  }

  test("no read uses the file source's _metadata columns") {
    val found = sites("""_metadata\s*\.\s*(file_path|row_index)""")
    assert(found.isEmpty, s"_metadata reads: $found")
  }
}
