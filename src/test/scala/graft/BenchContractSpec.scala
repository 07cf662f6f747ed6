package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's output is read by tools; this pins the contract —
  * parseable output, per-query timing/status/runs, honest error capture,
  * and a last-line headline that fits a 2,000-character capture window.
  */
class BenchContractSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("bench JSON carries timings, reps, status and errors per query") {
    val json = Bench.run(spark, "/root/testdata/sf0.001",
      only = Some(Set("q1_agg", "storage_info")), reps = 2)
    // must be machine-parseable as-is (the driver json.loads it)
    assert(json.startsWith("{") && json.endsWith("}"))
    for (field <- Seq("\"metric\":\"total\"", "\"reps\":2", "\"agg\":\"min\"",
        "\"errors\":0", "\"q1_agg\":", "\"storage_info\":", "\"runs\":",
        "\"gc_sec\":", "\"status\":", "\"first_value\":", "\"zone_built\":"))
      assert(json.contains(field), s"missing $field in $json")
    // zone_built is a per-query boolean map (warm/cold decomposition flag)
    val zbRe = """"zone_built":\{[^}]*"storage_info":(true|false)""".r
    assert(zbRe.findFirstIn(json).isDefined,
      s"zone_built must carry a boolean per query: $json")
    // first_value sums FIRST reps (memo builds included) and can only be
    // >= the best-of total
    val num = """"(value|first_value)":([0-9.eE+-]+)""".r
    val vals = num.findAllMatchIn(json).map(m => m.group(1) -> m.group(2).toDouble).toMap
    assert(vals("first_value") >= vals("value") - 1e-9,
      s"first_value must dominate best-of value: $json")
    // each query ran `reps` times and every rep is recorded
    val runsRe = """"q1_agg":\[([0-9.eE,-]+)\]""".r
    val reps = runsRe.findFirstMatchIn(json).map(_.group(1).split(",").length)
    assert(reps.contains(2), s"expected 2 recorded runs: $json")
    // stdout's last line is the compact headline: readers keep 2,000
    // characters of it, so per-query seconds ride along only when they fit
    val head = Bench.headline(json)
    assert(head.length <= Bench.HeadlineMaxChars && !head.contains("\n"), head)
    for (field <- Seq("\"metric\":\"total\"", "\"value\":", "\"first_value\":",
        "\"errors\":0", "\"reps\":2", "\"n\":2", "\"commit\":", "\"queries\":{\"q1_agg\":"))
      assert(head.contains(field), s"missing $field in $head")
    val bare = Bench.headline(json, maxChars = 0)
    assert(!bare.contains("\"queries\"") && bare.contains("\"n\":2"), bare)
  }

  test("a throwing query is recorded as an error, not silently zero-benched") {
    // a query name that exists but a data dir that doesn't: the query
    // must surface in status as an error and count in `errors`
    val json = Bench.run(spark, "/nonexistent-dir",
      only = Some(Set("q1_agg")), reps = 1)
    assert(json.contains("\"errors\":1"), json.take(300))
    assert(!json.contains("\"q1_agg\":\"ok\""),
      "status must not be ok for a failed query")
  }
}
