package graft.tools

import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for declared queries to files, one per
  * query — the committed plan evidence for optimization rounds
  * (`plans/r<N>/<query>_{before,after}.txt`). It runs in
  * [[graft.SparkEntry.runTool]], as [[graft.Bench]] does, so the dumped
  * plan is the plan the bench times.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]
  * With no or a blank query list, dumps every query; unknown names fail.
  * Exits 1 if a query failed or a stage plan was dropped.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = Paths.get(args(1))
    val suffix = args(2)
    Files.createDirectories(outDir)
    val failed = graft.SparkEntry.runTool("graft-plandump", "plandump",
        args.lift(3)) { run =>
      // capture the plans of eagerly-checkpointed SUB-STAGES too: the
      // fixpoint families' final plans read ExistingRDDs, so the stage
      // plans (band cascade, per-round iteration, index probe) are the
      // only artifact that can show an algorithm change there (round-20
      // verdict item 5)
      run.spark.conf.set("spark.graft.plandump.captureStages", "true")
      run.each { name =>
        StagePlans.drain(run.spark) // discard stages recorded by a previous failure
        val df = graft.SparkEntry.queries(name)(run.spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), txt)
        // building df ran the eager sub-stages; their recorded plans
        // belong to this query
        val stages = StagePlans.drain(run.spark)
        if (stages.nonEmpty) {
          val body = stages.map { case (tag, plan) =>
            s"== Stage: $tag ==\n$plan" }.mkString("\n")
          Files.writeString(
            outDir.resolve(s"${name}_stages_$suffix.txt"), body)
        }
        println(s"[plandump] $name ok (${txt.length} chars, " +
          s"${stages.length} stages)")
      }
    }
    // a scripted dump must not silently commit an incomplete evidence
    // set (round-20 advice)
    if (failed.nonEmpty)
      System.err.println(s"[plandump] ${failed.length} queries failed to dump")
    if (StagePlans.dropped > 0)
      System.err.println(s"[plandump] ${StagePlans.dropped} stage plans " +
        s"dropped: a query recorded more than ${StagePlans.Capacity}")
    if (failed.nonEmpty || StagePlans.dropped > 0) System.exit(1)
  }
}
