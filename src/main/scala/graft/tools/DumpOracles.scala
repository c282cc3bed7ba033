package graft.tools

/** Writes every registered query's oracle SQL to one JSON object,
  * `{"<query name>": "<DuckDB SQL>", ...}`, for iterating on the DuckDB
  * replay without a full Verify run. One oracle:
  * `jq -r '.<name>' <out.json>`.
  * Usage: runMain graft.tools.DumpOracles <out.json>
  */
object DumpOracles {
  def main(args: Array[String]): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)),
      graft.Verify.jsonObject(graft.SparkEntry.oracleSql))
}
