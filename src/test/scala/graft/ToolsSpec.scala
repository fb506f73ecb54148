package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The single oracle_sql.json writer and the session-free `oracle-names`
  * command the sf100 sweep pins its query set to. */
class ToolsSpec extends AnyFunSuite {

  test("oracle JSON parses back unchanged through every escape; keys sorted") {
    val nasty = "q\"uote \\back\nnl\rcr\ttab\u0001ctl"
    val oracles = Map(
      "zeta" -> "SELECT 1",
      nasty -> nasty,
      "alpha" -> s"SELECT '$nasty' AS s\nFROM t\tORDER BY 1")
    val dir = Files.createTempDirectory("oracle_json")
    try {
      Tools.writeOracleJson(dir.toString, oracles)
      val node = new ObjectMapper().readTree(
        Files.readString(dir.resolve("oracle_sql.json")))
      assert(node.fieldNames().asScala.toSeq === oracles.keys.toSeq.sorted)
      oracles.foreach { case (k, v) => assert(node.get(k).asText() === v) }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile): Unit
  }

  test("oracle-names prints exactly the sorted registered oracle names") {
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(out)(Tools.main(Array("oracle-names")))
    assert(out.toString("UTF-8").split("\n").toSeq ===
      SparkEntry.oracleSql.keys.toSeq.sorted)
  }
}
