package graft.queries

import graft.GraftSession
import org.apache.spark.sql.functions._

/** Dev main: hub-regime diagnostics for the wedge family (round-12
  * verdict ask #2). Builds g06/g15's shared sparsified co-supply graph
  * for one dataset dir and prints the quantities that decide which
  * 100-TB branch the wedge queries take:
  *
  *   - edges / whether the g06 closure broadcasts or shuffles
  *     (edges vs spark.graft.graph.broadcastEdgeCap)
  *   - the symmetric degree distribution (max, top-10) and the number
  *     of GRID-SALTED nodes — deg(w) > √wedgeBudget ⇒ p(w) > 1 —
  *     i.e. whether g15's hub decomposition actually fires
  *   - Σdeg² (total wedges) and the implied partition count
  *
  * usage: graft.queries.WedgeStats <sfDir> [wedgeBudget]
  */
object WedgeStats {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: WedgeStats <sfDir> [wedgeBudget]")
    val dir = args(0)
    val budget = if (args.length > 1) args(1).toLong else 4000000L
    val sqrtB = math.max(1L, math.sqrt(budget.toDouble).toLong)
    val spark = GraftSession.mainSession(GraftSession.mainCores("graft.queries.WedgeStats"), "ERROR")

    val und = GraphQueries.coSupplyEdges(spark, dir)
    val nEdges = und.count()
    val sym = und.select(col("u").as("a"), col("v").as("b"))
      .union(und.select(col("v").as("a"), col("u").as("b")))
    val deg = sym.groupBy(col("a").as("w")).agg(count(lit(1)).as("dw"))
      .localCheckpoint()
    val stats = deg.agg(
      count(lit(1)).as("nodes"),
      max(col("dw")).as("max_deg"),
      sum(col("dw") * col("dw")).as("total_wedges"),
      sum(when(col("dw") > sqrtB, 1L).otherwise(0L)).as("salted_nodes"),
      max(expr(s"CAST((dw + $sqrtB - 1) DIV $sqrtB AS BIGINT)")).as("max_p"))
      .head()
    val top = deg.orderBy(col("dw").desc).limit(10)
      .collect().map(r => s"${r.getLong(0)}:${r.getLong(1)}").mkString(",")
    val nParts = math.max(spark.sparkContext.defaultParallelism.toLong,
      math.min(4096L, 2L * stats.getLong(2) / budget + 1L))
    println(
      s"""WEDGE_STATS {"dir":"$dir","edges":$nEdges,""" +
        s""""nodes":${stats.getLong(0)},"max_deg":${stats.getLong(1)},""" +
        s""""total_wedges":${stats.getLong(2)},""" +
        s""""salted_nodes":${stats.getLong(3)},"max_p":${stats.getLong(4)},""" +
        s""""sqrt_budget":$sqrtB,"n_parts":$nParts,""" +
        s""""top_degrees":"$top"}""")
    spark.stop()
  }
}
