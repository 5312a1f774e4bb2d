package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Run
import graft.tools.Run.Trigger

/** The tool harness `graft.tools.Run`: its listener, steady-state rate,
  * percentile and JSON escaper, its scenario lookup, and a tiny run of
  * the three scenarios that have no spec of their own (`crawl-arrival`,
  * `curation`, `soak`), so a broken tool fails here instead of on its
  * next manual run. */
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

  test("steady-state rate counts triggers 3..n, idle time included") {
    // a warm-up trigger, the trigger that carries what piled up during
    // it, then two 1 s triggers 2 s apart: 200 rows that arrived over
    // the 4 s from the second trigger's start to the last one's. Summing
    // batch durations (2 s) would say 100/s.
    val ts = Seq(Trigger(0L, 9000L, 999L), Trigger(10000L, 1000L, 100L),
      Trigger(12000L, 1000L, 100L), Trigger(14000L, 1000L, 100L))
    val r = Run.steadyRate(ts)
    assert(r("triggers") == 2)
    assert(r("rows") == 200L)
    assert(r("wall_s") == 4.0)
    assert(r("rows_per_s") == 50.0)
    Seq(1, 2).foreach(n => assert(
      Run.steadyRate(ts.take(n))("rows_per_s").asInstanceOf[Double].isNaN))
  }

  /** Triggers of a rate source producing `rate` rows/s: trigger k reads
    * what arrived since the start of trigger k-1 (the first reads
    * nothing). */
  private def rateSource(rate: Long, starts: Seq[Long],
      durations: Seq[Long]): Seq[Trigger] = starts.indices.map { k =>
    Trigger(starts(k), durations(k),
      if (k == 0) 0L else rate * (starts(k) - starts(k - 1)) / 1000)
  }

  test("steady-state rate of a pipeline that keeps up with a slow first trigger is the source rate") {
    // a 2,000 rows/s source whose first trigger runs 9 s, so trigger 2
    // carries 18,000 piled-up rows; counting it said 9,167 rows/s.
    // Triggers 3..6 then run every 0.5 s for 0.4 s each: 4,000 rows that
    // arrived over 2 s and were processed in 1.9 s.
    val ts = rateSource(2000L, Seq(0L, 9000L, 9500L, 10000L, 10500L, 11000L),
      Seq(9000L, 400L, 400L, 400L, 400L, 400L))
    val r = Run.steadyRate(ts)
    assert(r("triggers") == 4)
    assert(r("rows") == 4000L)
    assert(r("rows_per_s") == 2000.0)
  }

  test("steady-state rate of a pipeline that falls behind its source is the pipeline's rate") {
    // a 2,000 rows/s source into a pipeline that handles 1,000 rows/s:
    // every trigger runs twice as long as the one before, so the 28,000
    // rows of triggers 3..5 took 28 s to process. Their arrival window
    // alone (14 s) would give back the source rate.
    val ts = rateSource(2000L, Seq(0L, 1000L, 3000L, 7000L, 15000L),
      Seq(1000L, 2000L, 4000L, 8000L, 16000L))
    val r = Run.steadyRate(ts)
    assert(r("rows") == 28000L)
    assert(r("rows_per_s") == 1000.0)
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
    val jobs = m.get("trickle").get("split").get("trigger.jobs")
    assert(jobs.get("n").asInt == 3)
    // trickle triggers take the admission's driver form: 5 jobs per
    // trigger on a 4-cpu host, where the job form runs 8, so a trickle
    // routed there fails here
    assert(jobs.get("p50").asDouble <= 5, jobs)
    assert(m.get("invariants").get("checks").asInt >= 1)
  }

  test("soak at 40 triggers of 8 rows: exact, and the registry's live runs within the bound") {
    // folds, reshards, GC and merges interleaved through both stores
    val m = parse(Run.run(spark, "soak", Seq("40", "8"))).get("metrics")
    assert(m.get("exact").asBoolean)
    assert(m.get("registry_rows").asLong == 320, m)
    assert(m.get("upsert_keys").asLong == 320, m)
    val last = m.get("last")
    assert(last.get("live_dirs").asInt <= last.get("live_dirs_bound").asInt, last)
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
