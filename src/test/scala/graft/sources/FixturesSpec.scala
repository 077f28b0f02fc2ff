package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Build-once fixtures are keyed by what the source holds, not by its
  * path string: a source rewritten in place gets a freshly built
  * fixture, an unchanged one is served without a build, a failed build
  * is redone, and a rebuild sweeps only its own dead generations. */
class FixturesSpec extends SparkSpec {

  /** Writes the spec's events up to `userCap` as `sf`'s events table. */
  private def writeEvents(sf: String, userCap: Long): Unit =
    t.events.filter(col("user_id") <= userCap)
      .write.mode("overwrite").parquet(s"$sf/events.parquet")

  /** A fresh source dir; it and the fixtures built from it are deleted
    * after the last test (`SparkSpec.tempDir`). */
  private def source(): String = {
    val sf = tempDir("graft_fixtures_src")
    writeEvents(sf, 10L)
    sf
  }

  private var builds = 0

  /** A fixture of `sf` whose build counts itself, requires an empty dir,
    * writes one file, and throws when `fail`. */
  private def once(sf: String, fail: Boolean = false): String =
    Fixtures.once(spark, "fixtures_spec_v1", sf) { dir =>
      builds += 1
      val part = Paths.get(dir, "part")
      assert(!Files.exists(part), "the build started over an earlier build's files")
      Files.createDirectories(part.getParent)
      Files.writeString(part, sf)
      if (fail) throw new IllegalStateException("build failed")
    }

  test("a source rewritten in place rebuilds the fixture from the new data") {
    val sf = source()
    val before = Layout.materializeDayPartitioned(Tables(spark, sf), sf)
    writeEvents(sf, 20L) // regenerated in place, same path
    val after = Layout.materializeDayPartitioned(Tables(spark, sf), sf)
    def ids(dir: String) = spark.read.parquet(dir).select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(after != before, "a rewritten source reused the stale fixture dir")
    assert(ids(after) == ids(s"$sf/events.parquet"),
      "the rebuilt fixture must hold the regenerated events")
  }

  test("an unchanged source returns the same dir without building again") {
    val sf = source()
    builds = 0
    val dir = once(sf)
    assert(once(sf) == dir && builds == 1, s"$builds builds")
  }

  test("a build that throws leaves no marker, and the next call rebuilds") {
    val sf = source()
    builds = 0
    intercept[IllegalStateException](once(sf, fail = true))
    val dir = once(sf)
    assert(builds == 2 && once(sf) == dir && builds == 2, s"$builds builds")
  }

  test("a rebuild sweeps its dead generation and leaves other sources' fixtures") {
    val (a, b) = (source(), source())
    val (a1, b1) = (once(a), once(b))
    writeEvents(a, 20L)
    val a2 = once(a)
    assert(a2 != a1)
    assert(!Files.exists(Paths.get(a1)), "the dead generation was not swept")
    builds = 0
    assert(once(b) == b1 && builds == 0, "another source's fixture was swept")
  }
}
