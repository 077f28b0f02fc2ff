package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Build-once artifacts derived from a source directory: capture
  * archives, indexes, snapshot seeds, frame rings and layouts that the
  * catalog queries read instead of recomputing. Each lives in
  * `<java.io.tmpdir>/graft_<name>_<tag>`, where `name` carries the
  * artifact's layout version and build parameters and `tag` identifies
  * the source by what it holds, not only by its path: a directory
  * rewritten in place gets a new tag, so it never serves an artifact
  * built from its previous contents. A deployment names its own artifact
  * directories; these are the test-side stand-ins for them.
  */
object Fixtures {

  /** Written last, inside the fixture dir: a sibling marker could outlive
    * a deleted dir and skip its build forever. The leading underscore
    * keeps it out of parquet reads and the ebml source listing. Not
    * `_SUCCESS`: Spark's committer writes that into the root of a
    * partitioned write, so it would mark a half-built fixture done. */
  private val Marker = "_FIXTURE_BUILT"

  private def tmpDir: Path = new Path(System.getProperty("java.io.tmpdir"))

  /** Tags are unsigned base 36 (at most 13 characters for 64 bits), and
    * the generation part keeps the fingerprint's high 48 bits (at most 10):
    * a plan prints a scan's location cut to 100 characters, and a
    * fixture's subdirectory name (`postings`, `vectors_raw`) must still
    * show in it under a short `java.io.tmpdir`. */
  private def base36(v: Long): String = java.lang.Long.toUnsignedString(v, 36)

  /** Which source directory: a 64-bit half of MD5 over the UTF-8 path
    * bytes. An Int hashCode carries only 32 bits, and two paths that
    * collide would share a generation prefix, so one source's sweep
    * could delete the other's live fixtures. */
  private[graft] def pathTag(sfDir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8"))
    base36(java.nio.ByteBuffer.wrap(md, 0, 8).getLong)
  }

  /** `<pathTag>_<generation>`: the path part says which source, the
    * [[ParquetSchemas.fingerprint]] of everything under `sfDir` (names,
    * lengths and modification times; no data read) says which generation
    * of it. */
  private[graft] def tag(spark: SparkSession, sfDir: String): String = {
    val p = new Path(sfDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    s"${pathTag(sfDir)}_${base36(ParquetSchemas.fingerprint(fs, p) >>> 16)}"
  }

  /** The directory of fixture `name` at source tag `tag`. */
  private[graft] def dir(name: String, tag: String): Path =
    new Path(tmpDir, s"graft_${name}_$tag")

  /** Deletes the dead generations of fixture `name` for `sfDir`: every
    * `graft_<name>_<pathTag>_*` except `live`. Fixtures of other source
    * paths are not touched. */
  private[graft] def sweep(fs: FileSystem, name: String, sfDir: String,
      live: Path): Unit = {
    val gen = s"graft_${name}_${pathTag(sfDir)}_"
    fs.listStatus(tmpDir).map(_.getPath)
      .filter(p => p.getName.startsWith(gen) && p.getName != live.getName)
      .foreach(fs.delete(_, true))
  }

  /** The directory of fixture `name` for `sfDir`'s current contents,
    * running `build(dir)` first unless a completed build is there. A
    * build that throws leaves no marker, so the next call starts over
    * from an empty dir. */
  def once(spark: SparkSession, name: String, sfDir: String)(
      build: String => Unit): String = {
    val out = dir(name, tag(spark, sfDir))
    val fs = out.getFileSystem(spark.sessionState.newHadoopConf())
    val marker = new Path(out, Marker)
    if (!fs.exists(marker)) {
      fs.delete(out, true)
      build(out.toString)
      fs.create(marker, true).close()
      sweep(fs, name, sfDir, out)
    }
    out.toString
  }
}
