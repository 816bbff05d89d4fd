package graft

/** Generator for docs/SQL_FUNCTIONS.md — the SQL-callable operator
  * catalog, rendered from the one function table
  * ([[SqlFunctions.table]]) that also registers every function, so a
  * registered function without a signature and description cannot be
  * written. SqlCatalogSpec diffs a fresh render against the committed
  * file. */
object SqlCatalog {

  /** The markdown table, generated. */
  def render: String = {
    val rows = SqlFunctions.table.sortBy(_.name).map { fn =>
      s"| `${fn.name}` | `${fn.signature.replace("|", "\\|")}` | ${fn.doc} | `${fn.implementation}` |"
    }
    ("""# SQL-callable operator catalog
      |
      |Generated by `graft.SqlCatalog` from the function table
      |`graft.SqlFunctions.table`, which also registers every function;
      |`SqlCatalogSpec` fails the build when this file drifts from it.
      |Regenerate with: `sbt "runMain graft.SqlCatalog"`. A `const`
      |argument must be a foldable constant.
      |
      || function | signature | description | implementation |
      ||---|---|---|---|
      |""".stripMargin + rows.mkString("\n") + "\n")
  }

  def main(args: Array[String]): Unit = {
    val out = java.nio.file.Paths.get(
      if (args.nonEmpty) args(0) else "docs/SQL_FUNCTIONS.md")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out, render)
    println(s"[sql-catalog] wrote $out")
  }
}
