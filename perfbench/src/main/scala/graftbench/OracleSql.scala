package graftbench

/** Writes `graft.SparkEntry.oracleSql` for the named ops as a JSON object,
  * for `perfbench/oracle.py` to run in DuckDB.
  *
  *   OracleSql <outFile> <op,op,...>
  */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val Array(outFile, names) = args
    val sql = graft.SparkEntry.oracleSql
    val wanted = names.split(",").toSeq
    val missing = wanted.filterNot(sql.contains)
    require(missing.isEmpty, s"no oracle SQL for: ${missing.mkString(",")}")
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      wanted.map(k => s"${q(k)}: ${q(sql(k))}").mkString("{\n", ",\n", "\n}\n"))
  }
}
