package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper

/** Dump `SparkEntry.oracleSql` as JSON WITHOUT running any Spark query —
  * the fast half of the verify recipe, for iterating on oracle SQL cost
  * (`tools/oracle_check.py` + ORACLE_COST.json) against an existing
  * Verify output directory: edit an oracle, `runMain graft.OracleDump
  * out/oracle_sql.json`, re-run the DuckDB compare. A full `graft.Verify`
  * is only needed when the SPARK side of a query changes. */
object OracleDump {

  /** `m` as one JSON object, keys sorted, written to `path` in UTF-8. */
  def writeJson(path: String, m: Map[String, String]): Unit =
    JsonMapper.builder().build()
      .writeValue(new java.io.File(path), new java.util.TreeMap[String, String](m.asJava))

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: OracleDump <out.json>")
    writeJson(args(0), SparkEntry.oracleSql)
    println(s"wrote ${SparkEntry.oracleSql.size} oracles to ${args(0)}")
  }
}
