package graft

/** `graft.Tool plan` emits the rows the committed plan watchlist is made of. */
class ToolSpec extends SparkSpec {

  test("Tool plan's stdout parses as watchlist rows with exchange and broadcast counts") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Tool.plan(spark, Seq("q5_region_revenue"), "/root/testdata/sf0.001"))
    val lines = out.toString("UTF-8").linesIterator.toSeq
    assert(lines.nonEmpty && lines.forall(_.split("\t").length == 3),
      s"not all stdout lines are TSV rows:\n${lines.mkString("\n")}")
    val rows = PlanGuardSpec.parseWatchlist(lines)
    assert(rows.keySet == Set("q5_region_revenue"))
    val q5 = rows("q5_region_revenue")
    assert(q5.contains(Tool.ExchangesKey) && q5.contains(Tool.BcastsKey), q5)
    assert(q5.get("lineitem.parquet").contains(1), q5)
  }
}
