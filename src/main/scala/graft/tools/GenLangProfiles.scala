package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.GraftSession

/** Regenerate `graft/lang_profiles.dat` from `graft/lang_samples.dat`
  * through the engine's own gram/bucket pipeline
  * ([[graft.operators.LangProfiles.renderProfiles]]). Run after
  * editing the samples; commit both files. LangProfilesSpec fails the
  * build if they drift.
  *
  * Usage: `runMain graft.tools.GenLangProfiles [outPath]`
  * (default `src/main/resources/graft/lang_profiles.dat`).
  */
object GenLangProfiles {
  def main(args: Array[String]): Unit = {
    val out = Paths.get(args.headOption
      .getOrElse("src/main/resources/graft/lang_profiles.dat"))
    val spark = GraftSession("graft-gen-lang-profiles", sys.env.get("GRAFT_GEN_MASTER"))
    try {
      val content = graft.operators.LangProfiles.renderProfiles(spark)
      Files.createDirectories(out.getParent)
      Files.write(out, content.getBytes(StandardCharsets.UTF_8))
      println(s"wrote ${out.toAbsolutePath} (${content.linesIterator.size} lines)")
    } finally spark.stop()
  }
}
