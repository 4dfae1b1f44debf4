package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.Bench.Exec
import org.scalatest.funsuite.AnyFunSuite

/** The bench's summary arithmetic and JSON, pinned standalone (no
  * session): `Bench.report` turns each row's executions into the figures
  * the artifacts carry.
  */
class BenchReportSpec extends AnyFunSuite {

  private def ok(wall: Double) = Some(Exec(wall, wall * 2, 1L, 2L))

  private val rows = Seq(
    "q01_scan" -> Seq(ok(0.5), ok(0.25), ok(0.375)),
    "d130_check_agg" -> Seq(None, ok(2.0), ok(1.5)),
    "d124_stream_windows" -> Seq(ok(4.0), ok(3.0), None),
    "d90_broken" -> Seq(None, None, None))

  private def parse(json: String): JsonNode = new ObjectMapper().readTree(json)

  private def summary = parse(Bench.report(rows, 8, "/data/sf0.1").summary)

  private def field(node: JsonNode, map: String): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    node.get(map).properties.asScala.map(e => e.getKey -> e.getValue.asDouble).toMap
  }

  test("value is the sum of per-row min walls") {
    val s = summary
    assert(field(s, "queries") == Map("q01_scan" -> 0.25,
      "d130_check_agg" -> 1.5, "d124_stream_windows" -> 3.0, "d90_broken" -> -1.0))
    assert(s.get("value").asDouble == field(s, "queries").values.sum)
    assert(s.get("n").asInt == 4 && s.get("cpus").asInt == 8)
  }

  test("a row with no successful execution reads -1.0") {
    assert(field(summary, "queries")("d90_broken") == -1.0)
    assert(field(summary, "cold")("d90_broken") == -1.0)
  }

  test("cold is the first execution, and -1.0 when that execution failed") {
    val s = summary
    assert(field(s, "cold") == Map("q01_scan" -> 0.5,
      "d130_check_agg" -> -1.0, "d124_stream_windows" -> 4.0, "d90_broken" -> -1.0))
    assert(s.get("cold_total").asDouble == field(s, "cold").values.sum)
  }

  test("the _check_/_stream_ family splits add up to value") {
    val s = summary
    assert(s.get("verification_sec").asDouble == 1.5)
    assert(s.get("streaming_sec").asDouble == 3.0)
    assert(s.get("operators_sec").asDouble == 0.25 - 1.0)
    val parts = Seq("operators_sec", "streaming_sec", "verification_sec")
      .map(s.get(_).asDouble).sum
    assert(math.abs(parts - s.get("value").asDouble) < 1e-9)
  }

  test("every artifact parses as JSON under a comma-decimal default Locale") {
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      val r = Bench.report(rows.map { case (k, es) =>
        k -> es.map(_.map(e => e.copy(wallSec = e.wallSec + 1.0 / 3)))
      }, 32, "/data/sf0.1")
      val full = parse(r.full)
      assert(full.get("rep_times").get("q01_scan").get(0).asDouble == 0.833)
      assert(full.get("rep_own_cpu_sec").get("d130_check_agg").size == 2)
      assert(full.get("rep_gc_ms").get("d90_broken").size == 0)
      assert(full.get("cold_total").isNumber)
      assert(parse(r.summary).get("rep_times") == null)
      val short = parse(r.short)
      assert(short.get("summary").asText == "bench_summary_c32.json")
      assert(short.get("full").asText == "bench_out_c32.json")
      assert(short.get("slowest").get("d124_stream_windows").asDouble == 3.333)
    } finally java.util.Locale.setDefault(prev)
  }
}
