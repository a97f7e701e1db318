package kbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

class ReportSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  private def entries(root: JsonNode, key: String): Seq[(String, String)] =
    root.get(key).elements().asScala.toSeq.map(e => e.get("name").asText -> e.get("unit").asText)

  test("BENCHMARK.json lists the metrics the harness prints, with their units") {
    val root = mapper.readTree(Files.readString(Paths.get("..", "BENCHMARK.json")))
    assert(entries(root, "end_to_end") == Metrics.endToEnd)
    assert(entries(root, "per_layer") == Metrics.perLayer)
    val workloads = root.get("workloads").elements().asScala.map(_.get("name").asText).toSet
    assert(workloads.subsetOf(Workload.names.toSet))
  }

  test("the result line carries exactly the metrics of its mode") {
    for (trace <- Seq(false, true)) {
      val r = new Report("perf_join", trace)
      r.attempted = 12
      val json = mapper.readTree(r.resultLine)
      assert(json.fieldNames().asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"))
      assert(json.get("correct").asBoolean && json.get("attempted").asLong == 12)
      val names = json.get("metrics").fieldNames().asScala.toSeq
      val want = if (trace) Metrics.perLayer else Metrics.endToEnd
      assert(names == want.map(_._1))
      want.foreach { case (n, u) => assert(json.get("metrics").get(n).get("unit").asText == u) }
    }
  }

  test("a failed check makes the run incorrect even when every line passed") {
    val r = new Report("write_mix", false)
    r.attempted = 5
    r.failures = Seq("restart check: w0a differs")
    val json = mapper.readTree(r.resultLine)
    assert(!json.get("correct").asBoolean && json.get("failed").asLong == 1)
  }
}
