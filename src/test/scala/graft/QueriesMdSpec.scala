package graft

import org.scalatest.funsuite.AnyFunSuite

/** QUERIES.md is generated from the driver's registry: the committed
  * file must be exactly what [[Catalog.render]] produces, so a change
  * to a query's doc string or tier, or a deleted query, shows here
  * until the file is regenerated (`scripts/run.sh graft.Catalog`).
  */
class QueriesMdSpec extends AnyFunSuite {

  test("QUERIES.md is byte-identical to what graft.Catalog renders") {
    val file = java.nio.file.Paths.get("QUERIES.md")
    assert(java.nio.file.Files.isRegularFile(file),
      s"run from the repo root: $file missing")
    val committed = new String(java.nio.file.Files.readAllBytes(file), "UTF-8")
    val rendered = Catalog.render()
    assert(rendered == committed,
      "QUERIES.md is stale: regenerate it with graft.Catalog " +
        s"(first differing line: ${
          rendered.linesIterator.zip(committed.linesIterator)
            .indexWhere { case (a, b) => a != b } + 1})")
  }
}
