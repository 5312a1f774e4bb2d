package graft

import org.scalatest.funsuite.AnyFunSuite

/** The round-over-round move detector, fed the ACTUAL committed bench
  * artifacts — not synthetic fixtures. Round 8's detector was dead code:
  * its regex expected `"queries":\{` in BENCH_r*.json, but the driver's
  * file carries the line inside the `tail` JSON string with escaped
  * quotes (`\"queries\":{`) plus a space-separated `"queries": {` parsed
  * block — zero matches, `moved` permanently empty, and five >1.5×
  * movers sailed through unflagged. These tests pin the fix against the
  * real bytes so a future driver format change fails loudly. */
class BenchSpec extends AnyFunSuite {

  // every fixture history line carries this host's shape, as Bench
  // stamps it; only such lines are comparable
  private val host = Bench.hostTag
  private val escapedHost = host.replace("\"", "\\\"")

  private def read(name: String): String =
    java.nio.file.Files.readString(java.nio.file.Paths.get(s"/root/repo/$name"))

  test("parses the driver's escaped BENCH_r*.json tail (round-8 dead spot)") {
    val r7 = Bench.parseQueryTimes(read("BENCH_r07.json"))
    assert(r7.nonEmpty, "BENCH_r07.json must yield query times")
    // Known values from the committed round-7 tail.
    assert(math.abs(r7("q_distinct_sketch") - 0.78) < 1e-9)
    assert(math.abs(r7("q_heavy_hitters") - 1.61) < 1e-9)
  }

  test("parses a full-precision bench_out line (BENCH_OUT_r08.json)") {
    val full = Bench.parseQueryTimes(read("bench_fixtures/BENCH_OUT_r08.json"))
    assert(full.size >= 100, s"expected the full 130-query map, got ${full.size}")
    // ADVICE r8: the driver's truncated block carries only ~49 of 130
    // entries; the detector must still compare queries absent from it.
    val truncated = Bench.parseQueryTimes(read("BENCH_r08.json"))
    val onlyInFull = full.keySet -- truncated.keySet
    assert(onlyInFull.nonEmpty,
      "full-precision source must cover queries the truncated tail drops")
    assert(onlyInFull.contains("q_decontam") || onlyInFull.nonEmpty)
  }

  test("flags the known round-8 movers against round-7 times") {
    val r7 = Bench.parseQueryTimes(read("BENCH_r07.json"))
    val r8 = Bench.parseQueryTimes(read("bench_fixtures/BENCH_OUT_r08.json"))
    val moved = Bench.movers(r7, r8).toMap
    // q_distinct_sketch 0.78 -> 2.57 s: the 3.3x mover the dead detector
    // missed (VERDICT r8 What's-wrong #1).
    assert(moved.contains("q_distinct_sketch"))
    assert(moved("q_distinct_sketch") > 3.0 && moved("q_distinct_sketch") < 3.6)
    // And the three genuine >1.5x movers ADVICE r8 found omitted.
    assert(moved.contains("q_dedup_representatives"))
    assert(moved.contains("q_dedup_savings"))
    assert(moved.contains("q_cap_per_source"))
    // A 1.47x shift is NOT a mover at the 1.5x threshold.
    assert(!moved.contains("q_span_repeated"))
  }

  test("movers flags shifts either way and ignores zero/missing times") {
    val prev = Map("a" -> 1.0, "b" -> 2.0, "c" -> 0.0, "d" -> 1.0)
    val cur = Seq("a" -> 1.6, "b" -> 1.2, "c" -> 5.0, "e" -> 9.0)
    val m = Bench.movers(prev, cur).toMap
    assert(m.keySet == Set("a", "b")) // a: 1.6x up; b: 1.67x down
    assert(math.abs(m("a") - 1.6) < 1e-9)
  }

  test("prevTimes prefers full-precision history and gates on sf dir") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bench_").toString
    def write(name: String, txt: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/$name"), txt)
    // Truncated round file (escaped-tail shape) + a full history line.
    write("BENCH_r03.json",
      raw"""{"n":3,"tail":"\"queries\":{\"q_x\":2.00},$escapedHost,\"sf\":\"/data/sf0.1\""}""")
    write("BENCH_HISTORY.jsonl",
      s"""{"queries":{"q_x":1.00,"q_y":0.50},$host,"sf":"/data/sf0.1"}""" + "\n" +
      s"""{"queries":{"q_x":9.99},$host,"sf":"/data/sf0.01"}""" + "\n")
    val (src, times) = Bench.prevTimes("/data/sf0.1", dir)
    assert(src == "BENCH_HISTORY.jsonl")
    assert(times == Map("q_x" -> 1.0, "q_y" -> 0.5)) // NOT the sf0.01 line
    // With no matching-sf source at all: empty result, no crash.
    val (src2, times2) = Bench.prevTimes("/data/sf9", dir)
    assert(src2 == "" && times2.isEmpty)
    // History absent -> falls back to the (de-escaped) round file.
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$dir/BENCH_HISTORY.jsonl"))
    val (src3, times3) = Bench.prevTimes("/data/sf0.1", dir)
    assert(src3 == "BENCH_r03.json" && times3 == Map("q_x" -> 2.0))
  }

  test("prevAnchorMed takes the BEST matching-sf anchor; None before it exists") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bench_").toString
    // no history file at all
    assert(Bench.prevAnchorMed("/data/sf0.1", dir).isEmpty)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/BENCH_HISTORY.jsonl"),
      // pre-anchor line (no anchor_med), then anchored lines at two
      // sfs — the matching-sf MINIMUM (best-observed host) must win,
      // NOT the latest (which may have run under load)
      s"""{"queries":{"q_x":1.0},$host,"sf":"/data/sf0.1"}""" + "\n" +
      s"""{"anchor_med":0.42,$host,"sf":"/data/sf0.1"}""" + "\n" +
      s"""{"anchor_med":9.90,$host,"sf":"/data/sf0.01"}""" + "\n" +
      s"""{"anchor_med":0.57,$host,"sf":"/data/sf0.1"}""" + "\n")
    assert(Bench.prevAnchorMed("/data/sf0.1", dir).contains(0.42))
    assert(Bench.prevAnchorMed("/data/sf0.01", dir).contains(9.90))
    assert(Bench.prevAnchorMed("/data/sf9", dir).isEmpty)
    // Outlier guard (ADVICE r16): a single anomalously FAST anchor
    // (>20% below the median of history) must NOT become the permanent
    // denominator — 0.10 is discarded, the best PLAUSIBLE anchor wins.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/BENCH_HISTORY.jsonl"),
      s"""{"anchor_med":0.10,$host,"sf":"/data/sf0.1"}""" + "\n",
      java.nio.file.StandardOpenOption.APPEND)
    assert(Bench.prevAnchorMed("/data/sf0.1", dir).contains(0.42))
  }

  test("history from another host shape or with no host block is skipped") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bench_").toString
    val hist = java.nio.file.Paths.get(s"$dir/BENCH_HISTORY.jsonl")
    val other = """"host":{"cpus":9999,"heap_mb":1}"""
    val comparable =
      s"""{"queries":{"q_x":1.00},"anchor_med":0.40,$host,"sf":"/data/sf0.1"}"""
    val foreign = Seq(
      s"""{"queries":{"q_x":7.00},"anchor_med":0.20,$other,"sf":"/data/sf0.1"}""",
      """{"queries":{"q_x":8.00},"anchor_med":0.30,"sf":"/data/sf0.1"}""")
    java.nio.file.Files.writeString(hist,
      (comparable +: foreign).mkString("", "\n", "\n"))
    // the later, faster foreign lines are neither the baseline nor the
    // drift denominator
    assert(Bench.prevTimes("/data/sf0.1", dir) ==
      ("BENCH_HISTORY.jsonl" -> Map("q_x" -> 1.0)))
    assert(Bench.prevAnchorMed("/data/sf0.1", dir).contains(0.40))
    java.nio.file.Files.writeString(hist, foreign.mkString("", "\n", "\n"))
    assert(Bench.prevTimes("/data/sf0.1", dir) == ("" -> Map.empty))
    assert(Bench.prevAnchorMed("/data/sf0.1", dir).isEmpty)
    // the other host's own runs still find their line
    assert(Bench.prevTimes("/data/sf0.1", dir, other)._2 == Map("q_x" -> 7.0))
  }
}
