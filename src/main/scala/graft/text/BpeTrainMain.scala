package graft.text

import graft.GraftSession

/** Dev/ops entry: train a BPE merge list off a documents table and
  * print it as Scala literals — how the frozen vocabulary artifact in
  * `TextQueries.t26` was produced (trained once on sf0.01, then fixed;
  * a tokenizer vocabulary is a versioned artifact at encode time, so
  * the encode query embeds it as literals in both the Spark plan and
  * the DuckDB oracle).
  *
  * usage: graft.text.BpeTrainMain <sfDir> <nMerges>
  */
object BpeTrainMain {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val k = if (args.length > 1) args(1).toInt else 64
    val spark = GraftSession.mainSession(
      GraftSession.mainCores("graft.text.BpeTrainMain"), "WARN")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val merges = BpeTrainer.train(spark, docs, "text", k)
    println("MERGES_BEGIN")
    merges.foreach(m => println(s"""    ("${m.left}", "${m.right}"),"""))
    println("MERGES_END")
    spark.stop()
  }
}
