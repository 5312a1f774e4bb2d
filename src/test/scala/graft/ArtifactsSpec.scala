package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Artifacts

/** The artifact catalog's contract: a key builds once per JVM into ONE
  * new top-level directory under `java.io.tmpdir`, its seconds are
  * recorded under the full key, and a query that only reads an artifact
  * another query built adds neither a directory nor a build (the
  * listing diff a harness attributes build cost by). Fixture tables
  * share `Pq`'s per-session memo with the artifacts' reads. */
class ArtifactsSpec extends AnyFunSuite with SparkTestSupport {

  private val tmp = new File(System.getProperty("java.io.tmpdir"))

  // Spark's own per-session `artifacts-<uuid>` directory appears with
  // the session's first job, whichever suite runs it
  private def tmpDirs(): Set[String] =
    Option(tmp.listFiles()).getOrElse(Array.empty[File])
      .filter(_.isDirectory).map(_.getName)
      .filterNot(_.startsWith("artifacts-")).toSet

  private def keysNamed(name: String): Set[String] =
    Artifacts.buildSeconds.keySet.filter(_.startsWith(name + ":"))

  test("path builds once per key, each key in its own top-level tmp dir") {
    val before = tmpDirs()
    var builds = 0
    val a = Artifacts.path("spec_path:/sf/a") { d =>
      builds += 1
      Files.writeString(Paths.get(d, "part"), "a")
    }
    assert(Artifacts.path("spec_path:/sf/a")(_ => builds += 1) == a)
    assert(builds == 1)
    assert(new File(a).getParentFile.getCanonicalPath == tmp.getCanonicalPath)
    assert(tmpDirs() -- before == Set(new File(a).getName))
    // same name, another sf dir: its own directory and its own seconds
    val b = Artifacts.path("spec_path:/sf/b")(_ => builds += 1)
    assert(builds == 2 && b != a)
    assert(tmpDirs() -- before == Set(a, b).map(new File(_).getName))
    assert(keysNamed("spec_path") == Set("spec_path:/sf/a", "spec_path:/sf/b"))
  }

  test("frame returns its build's rows and builds once across frame and path") {
    val before = tmpDirs()
    var builds = 0
    def build = { builds += 1; spark.range(0, 10).toDF("id") }
    val first = Artifacts.frame(spark, "spec_frame:/sf/a")(build)
    val again = Artifacts.frame(spark, "spec_frame:/sf/a")(build)
    val dir = Artifacts.path("spec_frame:/sf/a")(_ => builds += 1)
    assert(builds == 1)
    assert(first.collect().map(_.getLong(0)).sorted.toSeq == (0L until 10L))
    assert(again.count() == 10L)
    assert(tmpDirs() -- before == Set(new File(dir).getName))
    assert(keysNamed("spec_frame") == Set("spec_frame:/sf/a"))
  }

  test("a query reading an artifact another query built adds no dir or build") {
    val dir = "/root/testdata/sf0.001"
    val queries = SparkEntry.queries
    queries("q_dedup_minhash_pairs")(spark, dir).collect()
    graft.tools.Run.release(spark)
    assert(Artifacts.buildSeconds.contains(s"minhash_pairs:$dir"))
    val before = tmpDirs()
    val keys = Artifacts.buildSeconds.keySet
    queries("q_dedup_minhash")(spark, dir).collect()
    graft.tools.Run.release(spark)
    assert(tmpDirs() -- before == Set.empty[String])
    assert(Artifacts.buildSeconds.keySet == keys)
  }

  test("a fixture table memoizes in Pq apart from the raw read of its file") {
    val dir = "/root/testdata/sf0.001"
    val path = s"$dir/events.parquet"
    val table = Tables(spark, dir, "events")
    val raw = graft.sources.Pq.read(spark, path)
    assert(Tables(spark, dir, "events") eq table)
    assert(graft.sources.Pq.read(spark, path) eq raw)
    assert(!(raw eq table))
    assert(table.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    graft.sources.Pq.invalidate(path)
    assert(!(Tables(spark, dir, "events") eq table))
    assert(!(graft.sources.Pq.read(spark, path) eq raw))
  }

  test("every directory the catalog built is deleted at JVM exit") {
    Artifacts.path("spec_exit:/sf/a") { d =>
      Files.writeString(Paths.get(d, "part"), "a")
    }
    Artifacts.frame(spark, "spec_exit_frame:/sf/a")(spark.range(3).toDF("id"))
    // every built key, whichever spec built it: path returns its
    // directory without building again
    val dirs = Artifacts.buildSeconds.keySet.toSeq.map(k =>
      Artifacts.path(k)(_ => fail(s"$k built again")))
    assert(dirs.size >= 2)
    val kept = dirs.filterNot(
      org.apache.spark.sql.graftshim.ShutdownShim.deletedAtExit)
    assert(kept.isEmpty, s"not registered for deletion at exit: $kept")
  }
}
