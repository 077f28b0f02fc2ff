package graft.tools

import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for declared queries to files, one per
  * query — the committed plan evidence for optimization rounds
  * (`plans/r<N>/<query>_{before,after}.txt`). The session comes from
  * `graft.core.GraftSession.builder`, as [[graft.Bench]]'s does, so the
  * dumped plan is the plan the bench times.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]
  * With no or a blank query list, dumps every query; unknown names fail.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = Paths.get(args(1))
    val suffix = args(2)
    val names = graft.SparkEntry.select(args.lift(3))
    val spark = graft.core.GraftSession.builder("graft-plandump").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // capture the plans of eagerly-checkpointed SUB-STAGES too: the
    // fixpoint families' final plans read ExistingRDDs, so the stage
    // plans (band cascade, per-round iteration, index probe) are the
    // only artifact that can show an algorithm change there (round-20
    // verdict item 5)
    spark.conf.set("spark.graft.plandump.captureStages", "true")
    Files.createDirectories(outDir)
    var failures = 0
    names.foreach { name =>
      StagePlans.drain(spark) // discard stages recorded by a previous failure
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), txt)
        // building df ran the eager sub-stages; their recorded plans
        // belong to this query
        val stages = StagePlans.drain(spark)
        if (stages.nonEmpty) {
          val body = stages.map { case (tag, plan) =>
            s"== Stage: $tag ==\n$plan" }.mkString("\n")
          Files.writeString(
            outDir.resolve(s"${name}_stages_$suffix.txt"), body)
        }
        println(s"[plandump] $name ok (${txt.length} chars, " +
          s"${stages.length} stages)")
      } catch { case e: Throwable =>
        failures += 1
        println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
    // a scripted dump must not silently commit an incomplete evidence
    // set (round-20 advice)
    if (failures > 0)
      System.err.println(s"[plandump] $failures queries failed to dump")
    if (StagePlans.dropped > 0)
      System.err.println(s"[plandump] ${StagePlans.dropped} stage plans " +
        s"dropped: a query recorded more than ${StagePlans.Capacity}")
    if (failures > 0 || StagePlans.dropped > 0) System.exit(1)
  }
}
