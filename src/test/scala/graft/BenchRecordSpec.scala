package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The bench record's two JSON lines: both must parse for any `sfDir`,
  * and the full record keeps its key order for the parsers that read it.
  */
class BenchRecordSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  test("bench record: an sfDir with quotes and backslashes parses and round-trips") {
    val sfDir = "C:\\data\\\"sf0.1\"\\"
    val anchor = mapper.readTree("""{"queries":{"q01":0.09},"engine":"duckdb"}""")
    val (headline, line) = Bench.records(
      full = Seq(("q01", 0.2344, 3L), ("q05", 1.5, 7L)),
      sfDir = sfDir, filtered = Some(2), repeat = 3,
      anchorTimes = Map("q01" -> 0.09), canaryOpen = 0.05,
      canarySeries = Seq(0.04, 0.06), canaryEvery = 20, redoSegments = 0,
      floorBase = 0.04, extraSamples = Seq("q05" -> 2), anchor = Some(anchor))
    val full = mapper.readTree(line)
    val head = mapper.readTree(headline)
    assert(full.get("sf").asText == sfDir)
    assert(head.get("sf").asText == sfDir)
    assert(full.fieldNames.asScala.toSeq == Seq("metric", "value", "unit",
      "failed", "filtered", "repeat", "anchor_geomean", "anchor_n", "queries",
      "sf", "canary", "floor_normalized", "jobs", "extra_samples",
      "duckdb_anchor"))
    assert(head.fieldNames.asScala.toSeq == Seq("metric", "value", "unit",
      "failed", "filtered", "repeat", "anchor_geomean", "anchor_n",
      "n_queries", "queries", "sf", "canary", "floor_normalized"))
    assert(full.get("value").asDouble == 1.734 && full.get("failed").asInt == 0)
    assert(full.get("queries").get("q01").asDouble == 0.234)
    assert(full.get("jobs").get("q05").asLong == 7L)
    assert(full.get("floor_normalized").get("value").asDouble == 1.334)
    assert(full.get("canary").get("series").size == 2)
    assert(full.get("duckdb_anchor") == anchor)
    // optional keys absent; a query that threw forces the totals to -1
    val (_, bare) = Bench.records(Seq(("q01", -1.0, 0L)), sfDir, None, 1,
      Map.empty, 0.05, Seq.empty, 20, 0, 0.04, Seq.empty, None)
    val b = mapper.readTree(bare)
    assert(b.fieldNames.asScala.toSeq == Seq("metric", "value", "unit",
      "failed", "queries", "sf", "canary", "floor_normalized", "jobs"))
    assert(b.get("value").asDouble == -1.0 && b.get("failed").asInt == 1)
    assert(b.get("canary").get("series").isArray)
  }
}
