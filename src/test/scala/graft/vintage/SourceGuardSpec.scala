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
  * replaced, so both fail here. Reads `src/main` only; comment lines
  * are ignored.
  */
class SourceGuardSpec extends AnyFunSuite {

  private val root = new File("src/main")

  /** (path under src/main, source with comment lines blanked). */
  private lazy val sources: Seq[(String, String)] =
    Files.walk(root.toPath).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java"))
      .map { p =>
        val code = Files.readAllLines(p).asScala.map { l =>
          val t = l.trim
          if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) "" else l
        }.mkString("\n")
        root.toPath.relativize(p).toString -> code
      }.toSeq

  /** "file:line" of every match of `pattern`. */
  private def sites(pattern: String): Seq[String] =
    sources.flatMap { case (file, code) =>
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
    // written by the verify and run-one tools, media test-data metadata)
    val allowed = Map(
      "scala/graft/vintage/DeletionVectors.scala" -> 1,
      "scala/graft/Verify.scala" -> 1,
      "scala/graft/tools/RunOne.scala" -> 1,
      "scala/graft/sources/MediaSource.scala" -> 2)
    val found = sites("""\.write\s*\.\s*(parquet|mode)\s*\(""")
    val byFile = found.groupBy(s => s.substring(0, s.lastIndexOf(':')))
    val extra = byFile.filter { case (f, ss) => ss.size > allowed.getOrElse(f, 0) }
    assert(extra.isEmpty, s"writer sites beyond the allowed ones: ${extra.values.flatten}")
  }

  test("no read uses the file source's _metadata columns") {
    val found = sites("""_metadata\s*\.\s*(file_path|row_index)""")
    assert(found.isEmpty, s"_metadata reads: $found")
  }
}
