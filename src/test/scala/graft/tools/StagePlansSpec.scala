package graft.tools

import graft.SparkSpec

/** The stage-plan capture queue is keyed by session and bounded. */
class StagePlansSpec extends SparkSpec {

  private def capturing() = {
    val s = spark.newSession()
    s.conf.set("spark.graft.plandump.captureStages", "true")
    s
  }

  test("two sessions capturing at once each drain only their own records") {
    val (a, b) = (capturing(), capturing())
    val n = 20
    val threads = Seq(a -> "a", b -> "b").map { case (s, tag) =>
      new Thread(() => (1 to n).foreach(i => StagePlans.record(s.range(i).toDF(), s"$tag/$i")))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(StagePlans.drain(a).map(_._1) == (1 to n).map(i => s"a/$i"))
    assert(StagePlans.drain(b).map(_._1) == (1 to n).map(i => s"b/$i"))
    assert(StagePlans.drain(a).isEmpty && StagePlans.drain(b).isEmpty)
  }

  test("a full queue drops its oldest records and counts them") {
    val s = capturing()
    val before = StagePlans.dropped
    val extra = 3
    (1 to StagePlans.Capacity + extra).foreach(i => StagePlans.record(s.range(1).toDF(), s"r$i"))
    assert(StagePlans.dropped - before == extra)
    val tags = StagePlans.drain(s).map(_._1)
    assert(tags == (extra + 1 to StagePlans.Capacity + extra).map(i => s"r$i"))
  }
}
