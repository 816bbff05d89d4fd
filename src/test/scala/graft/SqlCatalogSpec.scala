package graft

/** The published SQL-function catalog must match the live registry:
  * every graft-registered function in the function table and the
  * reverse, the committed markdown byte-identical to a fresh render. */
class SqlCatalogSpec extends SparkSpec {

  /** All graft-implemented functions in the session registry. */
  private def registered: Seq[String] =
    spark.catalog.listFunctions().collect()
      .filter(f => f.className != null && f.className.startsWith("graft."))
      .map(_.name).toSeq

  test("every registered graft function has a catalog description") {
    val undocumented = registered.filterNot(SqlFunctions.table.map(_.name).contains)
    assert(undocumented.isEmpty,
      s"functions missing from SqlFunctions.table: $undocumented")
  }

  test("no stale catalog entries for unregistered functions") {
    val stale = SqlFunctions.table.map(_.name).filterNot(registered.contains)
    assert(stale.isEmpty, s"table entries for unregistered functions: $stale")
  }

  test("docs/SQL_FUNCTIONS.md is in sync with the registry") {
    val committed = java.nio.file.Files.readString(
      java.nio.file.Paths.get("docs/SQL_FUNCTIONS.md"))
    assert(committed == SqlCatalog.render,
      "docs/SQL_FUNCTIONS.md drifted — run `sbt \"runMain graft.SqlCatalog\"`")
  }
}
