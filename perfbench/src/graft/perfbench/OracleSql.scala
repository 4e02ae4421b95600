package graft.perfbench

/** Writes `SparkEntry.oracleSql` as the JSON object `graft.Verify` writes
  * beside its results: entry name -> DuckDB SQL.
  * {{{
  *   OracleSql <out.json>
  * }}}
  */
object OracleSql {
  def write(path: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Report.str(k)}: ${Report.str(v)}" }.mkString("{", ",\n", "}"))

  def main(args: Array[String]): Unit = write(args(0))
}
