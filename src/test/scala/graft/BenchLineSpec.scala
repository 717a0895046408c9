package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver records BENCH_r0x.json by scraping a ~2 KB tail of the
  * build log. This spec simulates that scrape against a realistic stdout
  * epilogue — the full per-query line (which outgrew the window in
  * rounds 1-4 and left the artifact "parsed": null), the short summary
  * line, and sbt's trailing chatter — and asserts the summary line
  * arrives complete and structurally parseable.
  */
class BenchLineSpec extends AnyFunSuite {

  // a realistic tick map (PipelineBench emits ~8 scalar metrics)
  private val tick =
    ""","tick":{"full_build_sec":31.4621,"incr_tick_sec":22.7133,""" +
      """"full_files":212,"incr_files":9,"full_bytes":104857600,""" +
      """"incr_bytes":5242880,"buckets_total":64,"buckets_rewritten":3}"""

  // the r4-shaped full line: 91 queries ≈ 3.2 KB, reliably bigger than
  // the scrape window
  private val fullLine = {
    val qs = (1 to 91).map(i => f""""q$i%02d_some_operator_name":${i * 0.1234}%.4f""")
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":90.5997,"unit":"sec","reps":3,"queries":$qs$tick,"sf":"/root/testdata/sf0.1"}"""
  }

  private def balancedJson(s: String): Boolean = {
    var depth = 0
    var inStr = false
    var esc = false
    s.foreach { c =>
      if (esc) esc = false
      else if (inStr) { if (c == '\\') esc = true else if (c == '"') inStr = false }
      else c match {
        case '"' => inStr = true
        case '{' => depth += 1
        case '}' => depth -= 1; if (depth < 0) return false
        case _ => ()
      }
    }
    depth == 0 && !inStr
  }

  private val canary =
    ""","canary":{"pre":1.8421,"post":2.1034,"band":[2.24,2.5],""" +
      """"pre_attempts":1},"drift":false,"total_normalized":90.5997"""

  test("summary line survives a 2,000-char log tail with sbt epilogue") {
    val summary =
      Bench.summaryLine(90.5997, 3, tick, 91, "/root/testdata/sf0.1", canary,
        failed = 2)
    assert(summary.length <= 1000, s"summary is ${summary.length} chars")
    val log = Seq(
      "[info] running (fork) graft.Bench",
      s"[info] $fullLine",
      s"[info] $summary",
      "[success] Total time: 712 s (11:52), completed Aug 13, 2026, 5:00:00 AM"
    ).mkString("\n")
    val tail = log.takeRight(2000)
    // the summary line must be present IN FULL inside the tail window
    assert(tail.contains(summary), "summary line truncated by the tail scrape")
    // and the full line must indeed be the thing that cannot fit — the
    // motivating failure mode stays representative
    assert(!tail.contains(fullLine))
    // a scraper that takes the last {...} line gets valid JSON with the
    // fields the driver records
    val lastJson = tail.split("\n").reverse
      .map(_.dropWhile(_ != '{')).find(_.startsWith("{")).get
    assert(balancedJson(lastJson))
    assert(lastJson.contains("\"metric\":\"total\""))
    assert(lastJson.contains("\"value\":90.5997"))
    assert(lastJson.contains("\"tick\":{"))
    assert(lastJson.contains("\"canary\":{\"pre\":1.8421,\"post\":2.1034"))
    // the drift adjudication fields must survive the scrape too
    assert(lastJson.contains("\"drift\":false"))
    assert(lastJson.contains("\"total_normalized\":90.5997"))
    assert(lastJson.contains("\"queries_file\":\"target/bench.json\""))
    // the failure count must survive too: a total missing failed
    // queries is not comparable to one without
    assert(lastJson.contains("\"failed\":2"))
  }

  test("oversized tick degrades to a tick-free summary, never an unparseable tail") {
    val hugeTick = ""","tick":{""" +
      (1 to 100).map(i => s""""metric_$i":$i.0""").mkString(",") + "}"
    val summary =
      Bench.summaryLine(1.0, 3, hugeTick, 91, "/root/testdata/sf0.1", canary)
    assert(summary.length <= 1000)
    assert(balancedJson(summary))
    assert(!summary.contains("tick"))
    assert(summary.contains("\"failed\":0"))
    // the drift measurement must survive even the degraded form
    assert(summary.contains("\"canary\":{"))
  }
}
