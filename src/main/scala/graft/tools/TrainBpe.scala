package graft.tools

import graft.{GraftSession, Tables}
import graft.operators.Bpe

/** Dev/ops CLI: train a BPE merge table over a documents dir and print
  * it as Scala + SQL VALUES literals, ready to freeze into a gated
  * query. Usage: runMain graft.tools.TrainBpe <sfDir> [numMerges]
  */
object TrainBpe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val n = if (args.length > 1) args(1).toInt else 128
    val spark = GraftSession("graft-train-bpe")
    val merges = Bpe.train(Tables.documents(spark, sfDir), "text", n)
    println("== scala ==")
    println(merges.map { case (a, b) => s"""("$a", "$b")""" }.mkString(", "))
    println("== sql ==")
    println(merges.zipWithIndex.map { case ((a, b), i) =>
      s"($i, '$a', '$b')"
    }.mkString(", "))
    spark.stop()
  }
}
