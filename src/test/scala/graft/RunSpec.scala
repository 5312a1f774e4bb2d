package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Run
import graft.tools.Run.Trigger

/** The tool harness `graft.tools.Run`: its listener, steady-state rate,
  * percentile and JSON escaper, its scenario lookup, and a tiny run of
  * the two scenarios that have no spec of their own (`crawl-arrival`,
  * `curation`), so a broken tool fails here instead of on its next
  * manual run. */
class RunSpec extends AnyFunSuite with SparkTestSupport {

  private val mapper = new ObjectMapper()
  private def parse(json: String): JsonNode = mapper.readTree(json)

  test("the listener counts a known plan, and each record counts only its own work") {
    def known(): JsonNode = parse(Run.measure(spark, "known-plan", Nil) {
      spark.range(0, 1000, 1, 4).repartition(3).count()
      Map.empty
    }).get("counters")
    val first = known()
    val second = known()
    // 4 map tasks writing the repartition, 3 reading it
    assert(first.get("tasks").asLong >= 7, first)
    assert(first.get("shuffle_write_bytes").asLong > 0, first)
    assert(first.get("shuffle_read_bytes").asLong > 0, first)
    Seq("jobs", "stages", "tasks").foreach { k =>
      assert(second.get(k).asLong == first.get(k).asLong, s"$k: $first vs $second")
    }
  }

  test("steady-state rate runs from the first steady trigger to the last trigger's end") {
    // a warm-up trigger, then three 1 s triggers 2 s apart: 300 rows in
    // 5 s of wall clock. Summing batch durations (3 s) would say 100/s.
    val ts = Seq(Trigger(0L, 9000L, 999L), Trigger(10000L, 1000L, 100L),
      Trigger(12000L, 1000L, 100L), Trigger(14000L, 1000L, 100L))
    val r = Run.steadyRate(ts)
    assert(r("triggers") == 3)
    assert(r("rows") == 300L)
    assert(r("wall_s") == 5.0)
    assert(r("rows_per_s") == 60.0)
    assert(Run.steadyRate(ts.take(1))("rows_per_s").asInstanceOf[Double].isNaN)
  }

  test("percentile is nearest-rank on known sets") {
    val ten = (1 to 10).map(_.toDouble)
    assert(Seq(0.0, 0.1, 0.5, 0.9, 0.95, 1.0).map(Run.percentile(ten, _)) ==
      Seq(1.0, 1.0, 5.0, 9.0, 10.0, 10.0))
    // 0.07 * 100 is 7.000000000000001 in floating point: still rank 7
    assert(Run.percentile((1 to 100).map(_.toDouble), 0.07) == 7.0)
    assert(Run.percentile(Seq(3.0, 1.0, 2.0), 0.5) == 2.0)
    assert(Run.percentile(Seq(42.0), 0.99) == 42.0)
    assert(Run.percentile(Nil, 0.5).isNaN)
  }

  test("the escaper's output for every control character parses back with Jackson") {
    val all = (0 until 0x20).map(_.toChar).mkString + "\"\\/ é "
    all.foreach { c =>
      assert(mapper.readValue(Run.jstr(c.toString), classOf[String]) ==
        c.toString, f"char 0x${c.toInt}%02x")
    }
    assert(mapper.readValue(Run.jstr(all), classOf[String]) == all)
    val rec = parse(Run.json(Map(all -> Seq(all, 1.5, Double.NaN, 7L, true))))
    val arr = rec.get(all)
    assert(arr.get(0).asText == all && arr.get(1).asDouble == 1.5)
    assert(arr.get(2).isNull && arr.get(3).asLong == 7L && arr.get(4).asBoolean)
  }

  test("an unknown scenario fails, and the error lists the valid names") {
    val e = intercept[IllegalArgumentException](
      Run.main(Array("no-such-scenario")))
    assert(Run.scenarios.size == 9)
    Run.scenarios.keys.foreach(n => assert(e.getMessage.contains(n), n))
    Seq("statestore", "upsert-lookup", "curation-paired", "warc-arrival")
      .foreach(n => intercept[IllegalArgumentException](Run.scenario(n)))
  }

  test("crawl-arrival at 3 waves of 4 docs: one record, exact against its batch twin") {
    val rec = parse(Run.run(spark, "crawl-arrival", Seq("3", "4")))
    assert(rec.get("scenario").asText == "crawl-arrival")
    assert(rec.get("host").get("cpus").asInt > 0)
    assert(rec.get("counters").get("jobs").asLong > 0)
    val m = rec.get("metrics")
    assert(m.get("exact_vs_batch").asBoolean)
    assert(m.get("delivered").asLong == 24) // trickle + drain, once each
    assert(m.get("planted_dups").asLong == 8)
    assert(m.get("rejected_planted").asLong >= 7)
    assert(m.get("drain").get("triggers").asLong >= 1)
    assert(m.get("trickle").get("split").get("trigger.jobs").get("n").asInt == 3)
    assert(m.get("invariants").get("checks").asInt >= 1)
  }

  test("curation with two tiny triggers: one record, each stage narrows the last") {
    val m = parse(Run.run(spark, "curation", Seq("20", "40", "1")))
      .get("metrics")
    assert(m.get("rounds").asInt == 1)
    assert(m.get("cold_a_s").size == 1 && m.get("cold_b_s").size == 1)
    Seq("a" -> 20L, "b" -> 40L).foreach { case (arm, rows) =>
      val c = m.get(arm)
      val (cur, near, span) = (c.get("curated").asLong,
        c.get("near_admitted").asLong, c.get("span_admitted").asLong)
      assert(cur > 0 && cur <= rows && near <= cur && span <= near, s"$arm: $c")
    }
  }
}
