package graft

/** QUERIES.md generator: one row per registered driver query — name,
  * verification tier (DuckDB-oracle hash vs rows-only), and the
  * registry doc string. Generated (like PLANS.md) so the catalog can
  * never drift from the actual registry the driver runs.
  *
  * Usage: Catalog [outFile]
  */
object Catalog {

  /** The full text of QUERIES.md for the current registry. */
  def render(): String = {
    val defs = queries.Registry.all.toSeq.sortBy(_._1)
    val nOracle = defs.count(_._2.hasOracle)
    val header =
      s"""# QUERIES — driver query catalog (generated by `graft.Catalog`)
         |
         |${defs.size} registered queries: $nOracle hash-verified against the
         |DuckDB oracle, ${defs.size - nOracle} rows-only by documented design
         |(approximate paths — ANN top-k and sketch summaries — whose
         |guarantees are pinned instead by hash-verified gates: the
         |ann_recall_* queries and ApproxSpec's error bounds). The column
         |of truth is `graft.queries.Registry.all` — this file is
         |generated from it, never hand-edited.
         |
         || query | check | doc |
         ||---|---|---|""".stripMargin
    val rows = defs.map { case (name, d) =>
      val tier =
        if (d.oracle.isDefined) "oracle-hash"
        else if (d.oracleGen.isDefined) "oracle-hash (generated)"
        else "rows-only"
      val doc = d.doc.replace("|", "\\|").replace("\n", " ")
      s"| $name | $tier | $doc |"
    }
    (header +: rows).mkString("", "\n", "\n")
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("QUERIES.md")
    val text = render()
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      text.getBytes("UTF-8"))
    System.err.println(
      s"[catalog] wrote ${queries.Registry.all.size} rows to $out")
  }
}
