package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import org.scalatest.funsuite.AnyFunSuite

/** The driver contract as written to disk: one oracle per gated key. */
class OracleDumpSpec extends AnyFunSuite {

  test("the oracle dump parses back to SparkEntry.oracleSql, keyed by " +
    "exactly the gated queries") {
    val out = Files.createTempFile("graft-oracles", ".json")
    OracleDump.main(Array(out.toString))
    val back = JsonMapper.builder().build()
      .readValue(out.toFile, classOf[java.util.Map[String, String]]).asScala.toMap
    assert(back === SparkEntry.oracleSql)
    assert(back.keySet === SparkEntry.queries.keySet)
  }
}
