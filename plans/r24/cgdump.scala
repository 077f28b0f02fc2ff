import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.debug.codegenString
spark.conf.set("spark.sql.adaptive.enabled", "false")
val sf = sys.env("SF"); val out = sys.env("OUT"); val work = sys.env("WORK")
def norm(s: String) = s.replace(sf, "<sf0.001>").replace(work, "<work>")
def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
  df.write.format("noop").mode("overwrite").save()
  val w = new java.io.PrintWriter(s"$out/$name.txt")
  w.println(norm(df.queryExecution.executedPlan.toString))
  w.println(norm(codegenString(df.queryExecution.executedPlan)))
  w.close()
}
Seq("mm_nal_census", "mm_elements", "mm_codec_dispatch").foreach { q =>
  dump(q, graft.SparkEntry.queries(q)(spark, sf))
}
// ConsumerApp.fragmentRecords' split + tag projection over one payload file
val payloadDir = s"$work/in"
new java.io.File(payloadDir).mkdirs()
val payload = graft.ebml.Ebml.concat((0 until 10).map(i =>
  graft.ebml.EbmlFunctions.buildFragment(i, 1704066600000L + i, 7, 100 + i, "{}")): _*)
java.nio.file.Files.write(java.nio.file.Paths.get(s"$payloadDir/p00.mkv"), payload)
val tags = spark.read.format("binaryFile").load(payloadDir).select(col("content").as("blob"))
  .select(explode(graft.ebml.EbmlFunctions.splitFragments(col("blob"))).as("fr"))
  .select(col("fr.position").as("position"), graft.ebml.EbmlFunctions.parseTags(col("fr.fragment")).as("tg"))
  .select(
    col("tg.fragment_number").cast("long").as("fragment_number"),
    col("tg.user_id").cast("long").as("producer_id"),
    timestamp_millis(col("tg.producer_ts").cast("long")).as("producer_time"),
    col("tg.millis_behind").cast("long").as("millis_behind"),
    col("tg.continuation_token").as("token"),
    col("position"))
dump("consumer_tags", tags)
println("CGDUMP DONE")
System.exit(0)
