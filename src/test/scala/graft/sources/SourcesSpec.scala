package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** C14/C15 — source/sink round-trips with explicit schemas and partitioned
  * writes (the frame-persistence analog, parser.py:483-486). */
class SourcesSpec extends SparkSpec {

  private def tmp(): String = tempDir("graft-sources")

  test("csv round-trip with explicit schema") {
    val dir = tmp() + "/csv"
    val src = t.orders.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    src.write.option("header", "true").csv(dir)
    val back = spark.read
      .schema("o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double")
      .option("header", "true").csv(dir)
    assert(back.count() == src.count())
    assert(back.agg(sum("o_orderkey")).head().getLong(0) ==
      src.agg(sum("o_orderkey")).head().getLong(0))
  }

  test("json round-trip preserves values") {
    val dir = tmp() + "/json"
    val src = t.customer
    src.write.json(dir)
    val back = spark.read
      .schema("c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string")
      .json(dir)
    assert(back.count() == src.count())
  }

  test("events loader normalizes every ts encoding to epoch-long nanoseconds") {
    import org.apache.spark.sql.types.LongType
    // branch 1 — the current driver encoding (parquet TIMESTAMP micros,
    // read as a timestamp type): normalized to unix_micros × 1000
    val viaTables = Tables(spark, sfDir).events
    assert(viaTables.schema("ts").dataType == LongType,
      "loader must present ts as epoch-long ns")
    // decimal sums: epoch-ns values overflow a long sum past ~5k rows
    def dsum(df: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.Column) =
      df.agg(sum(c.cast("decimal(38,0)"))).head().getDecimal(0)
    val rawSum = dsum(spark.read.parquet(s"$sfDir/events.parquet"),
      unix_micros(col("ts").cast("timestamp")) * lit(1000L))
    assert(dsum(viaTables, col("ts")) == rawSum,
      "normalized ns diverge from unix_micros×1000 of the raw encoding")
    // branch 2 — a long-ns layout (the round-1–7 nanosAsLong shape)
    // passes through untouched
    val dir = tmp() + "/enc_long"
    val slice = viaTables.filter(col("event_id") < 1000L)
    slice.write.parquet(s"$dir/events.parquet")
    val back = Tables(spark, dir).events
    assert(back.schema("ts").dataType == LongType)
    assert(dsum(back, col("ts")) == dsum(slice, col("ts")),
      "long-ns passthrough changed values")
    // branch 3 — an unsupported encoding fails loudly at load
    val bad = tmp() + "/enc_bad"
    slice.withColumn("ts", col("ts").cast("string"))
      .write.parquet(s"$bad/events.parquet")
    intercept[IllegalStateException] { Tables(spark, bad).events }
    // branch 4 — TIMESTAMP_NTZ: exact under a UTC session, and a LOUD
    // failure under any other session zone (the NTZ→instant cast would
    // silently shift every ts by the zone offset otherwise)
    val ntzDir = tmp() + "/enc_ntz"
    // integer div: `/` is double division and loses precision on
    // epoch-ns longs (the ns values here are µs-aligned, so div is exact)
    slice.withColumn("ts",
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      .write.parquet(s"$ntzDir/events.parquet")
    val backNtz = Tables(spark, ntzDir).events
    assert(backNtz.schema("ts").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(dsum(backNtz, col("ts")) == dsum(slice, col("ts")),
      "NTZ branch changed values under the UTC session")
    val shifted = spark.newSession()
    shifted.conf.set("spark.sql.session.timeZone", "America/New_York")
    val e = intercept[IllegalArgumentException] {
      Tables(shifted, ntzDir).events
    }
    assert(e.getMessage.contains("timeZone"),
      s"non-UTC session must fail loudly on NTZ events: ${e.getMessage}")
  }

  test("ts normalization does not block pushdown on other event columns") {
    val df = Tables(spark, sfDir).events
      .filter(col("event_type") === "click").select("event_id", "ts")
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("events.parquet"))
      .getOrElse(fail("no events scan in plan"))
    assert(scan.contains("PushedFilters") && scan.contains("event_type"),
      s"event_type filter did not reach the scan:\n$scan")
  }

  test("a table's schema resolves once per file identity and settings; data and pushdown stay live") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.types.{BinaryType, StringType}
    // `body`'s value and the Spark jobs started while it runs; a marked
    // sentinel job flushes the listener bus, which delivers events in order
    def jobsDuring[T](body: => T): (T, Int) = {
      val sc = spark.sparkContext
      val jobs = new AtomicInteger
      val flushed = new CountDownLatch(1)
      val listener = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit =
          if (Option(js.properties).exists(_.getProperty("graft.sentinel") == "1"))
            flushed.countDown()
          else { jobs.incrementAndGet(); () }
      }
      sc.addSparkListener(listener)
      try {
        val value = body
        sc.setLocalProperty("graft.sentinel", "1")
        try sc.parallelize(Seq(1), 1).count()
        finally sc.setLocalProperty("graft.sentinel", null)
        assert(flushed.await(60, TimeUnit.SECONDS), "listener bus did not drain")
        (value, jobs.get)
      } finally sc.removeSparkListener(listener)
    }
    val dir = tmp()
    def write(rows: Long, extra: Boolean): Unit =
      spark.range(rows).selectExpr(Seq("id AS event_id", "id * 1000 AS ts",
          "cast(id % 3 AS string) AS event_type") ++
          (if (extra) Seq("id * 2 AS extra") else Nil): _*)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    write(100L, extra = false)
    assert(jobsDuring(Tables(spark, dir).events)._2 >= 1, "the first build infers")
    assert(jobsDuring(Tables(spark, dir).events)._2 == 0,
      "a second build over the same files started a Spark job")
    // the data is never cached: a rewrite with an extra column shows the
    // column and the new rows on the next build
    write(50L, extra = true)
    val rewritten = Tables(spark, dir).events
    assert(rewritten.columns.contains("extra"), rewritten.columns.mkString(","))
    assert(rewritten.count() == 50L)
    assert(jobsDuring(Tables(spark, dir).events)._2 == 0)
    // the parquet type settings are part of the key: each session sees an
    // unannotated binary column as its own settings map it, in either
    // order. Written without Spark, whose footer schema would override
    // the settings.
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val ext = tmp()
    val docs = MessageTypeParser.parseMessageType(
      "message doc { required int64 doc_id; optional binary body; }")
    val writer = ExampleParquetWriter.builder(
      new org.apache.hadoop.fs.Path(s"$ext/documents.parquet/part-0.parquet"))
      .withType(docs).build()
    try {
      val g = new SimpleGroupFactory(docs)
      (1L to 3L).foreach(i => writer.write(g.newGroup().append("doc_id", i).append("body", s"b$i")))
    } finally writer.close()
    val asString = spark.newSession()
    asString.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(Tables(spark, ext).documents.schema("body").dataType == BinaryType)
    assert(Tables(asString, ext).documents.schema("body").dataType == StringType)
    assert(Tables(spark, ext).documents.schema("body").dataType == BinaryType)
    assert(Tables(asString, ext).documents.schema("body").dataType == StringType)
    // a build from the resolved schema still prunes and pushes down
    val (df, planJobs) = jobsDuring(
      Tables(spark, dir).events.filter(col("event_type") === "1").select("event_id"))
    assert(planJobs == 0)
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("events.parquet"))
      .getOrElse(fail("no events scan in plan"))
    assert(scan.contains("ReadSchema: struct<event_id:bigint,event_type:string>"), scan)
    assert(scan.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,1)]"), scan)
    assert(df.count() == 17L)
  }

  test("catalog queries run identically from csv, json, and orc table sources") {
    import graft.operators._
    val dir = tmp()
    for (fmt <- Seq("csv", "json", "orc")) {
      TableFormats.exportTables(t, s"$dir/$fmt", fmt)
      val t2 = TableFormats.loadTables(spark, s"$dir/$fmt", fmt)
      // timestamps (lineitem), long-nanos events, and float arrays all
      // survive the text round-trip byte-for-byte
      assert(Analytics.q1PricingSummary(t2).collect().toSeq ==
        Analytics.q1PricingSummary(t).collect().toSeq, s"$fmt q1")
      assert(EventOps.rateTumbling(t2).collect().toSeq ==
        EventOps.rateTumbling(t).collect().toSeq, s"$fmt rate_tumbling")
      assert(Similarity.annBruteTopK(t2).collect().toSeq ==
        Similarity.annBruteTopK(t).collect().toSeq, s"$fmt ann_brute")
      assert(TextOps.fingerprint(t2).collect().toSeq ==
        TextOps.fingerprint(t).collect().toSeq, s"$fmt fingerprint")
    }
  }

  test("z-order layout bounds every z-column's per-file span; a single-sort does not (H12)") {
    val dir = tmp()
    val ev = t.events.select(col("event_id"), col("user_id"), col("ts"))
    Layout.writeZOrdered(ev, s"$dir/z", Seq("user_id", "ts"), nFiles = 16)
    // the comparison layout: range-sorted on ts alone (the naive
    // time-series archive layout)
    ev.repartitionByRange(16, col("ts")).sortWithinPartitions("ts")
      .write.parquet(s"$dir/s")
    def avgSpan(path: String, c: String): Double = {
      val df = spark.read.parquet(path)
      val Array(glo, ghi) = df
        .agg(min(col(c).cast("double")), max(col(c).cast("double")))
        .head().toSeq.map(_.asInstanceOf[Double]).toArray
      val perFile = df.groupBy(input_file_name().as("f"))
        .agg(min(col(c).cast("double")).as("lo"), max(col(c).cast("double")).as("hi"))
        .collect()
      assert(perFile.length > 8, s"expected many files, got ${perFile.length}")
      perFile.map(r => (r.getDouble(2) - r.getDouble(1)) / (ghi - glo))
        .sum / perFile.length
    }
    // z-order: BOTH dimensions tight per file (≈ nFiles^(-1/2) = 0.25
    // in expectation); ts-sort: ts tight but user_id spans ~everything
    assert(avgSpan(s"$dir/z", "user_id") < 0.5, "z user_id span")
    assert(avgSpan(s"$dir/z", "ts") < 0.5, "z ts span")
    assert(avgSpan(s"$dir/s", "user_id") > 0.8, "ts-sorted user_id span")
    assert(avgSpan(s"$dir/s", "ts") < 0.5, "ts-sorted ts span")
    // lossless: same row multiset back
    val back = spark.read.parquet(s"$dir/z")
    assert(back.count() == ev.count())
    assert(back.agg(sum("event_id")).head().getLong(0) ==
      ev.agg(sum("event_id")).head().getLong(0))
    // the point-lookup proxy: one user's rows live in FEW z files but
    // in ~every ts-sorted file
    val u = ev.select(min("user_id")).head().getLong(0)
    def filesTouched(path: String): Long = spark.read.parquet(path)
      .filter(col("user_id") === u)
      .select(input_file_name()).distinct().count()
    assert(filesTouched(s"$dir/z") <= 8,
      s"z layout touched ${filesTouched(s"$dir/z")} files for one user")
    assert(filesTouched(s"$dir/s") >= 12,
      "the ts-sorted layout should scatter a user across most files")
  }

  test("retention evicts the oldest partitions like the frame queue (parser.py:475-481)") {
    val dir = tmp() + "/frames"
    // three appends of time-bucketed "frames"; keep the newest 2 buckets
    for (b <- 1 to 3) {
      val batch = t.events.limit(10)
        .withColumn("bucket", lit(f"$b%05d"))
      val evicted = Retention.writeWithRetention(batch, dir, "bucket", keepNewest = 2)
      if (b <= 2) assert(evicted.isEmpty)
      else assert(evicted == Seq("00001"), s"append $b evicted $evicted")
    }
    val left = spark.read.parquet(dir)
      .select(col("bucket").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(left == Seq(2L, 3L))
    // a window below one bucket would empty the store: rejected before
    // any delete, and before the consumer's query starts
    for (keep <- Seq(0, -1)) {
      intercept[IllegalArgumentException](Retention.evictOldPartitions(
        t.events.limit(1), dir, "bucket", keepNewest = keep))
      intercept[IllegalArgumentException](graft.streaming.ConsumerApp.start(
        spark, tmp(), tmp(), tmp(), keepNewest = keep))
    }
    assert(spark.read.parquet(dir).select("bucket").distinct().count() == 2L)
    assert(spark.streams.active.isEmpty)
  }

  test("partitioned parquet write prunes partitions on read") {
    val dir = tmp() + "/part"
    t.events.withColumn("etype", col("event_type"))
      .write.partitionBy("etype").parquet(dir)
    val one = spark.read.parquet(dir).filter(col("etype") === "click")
    assert(one.count() == t.events.filter(col("event_type") === "click").count())
    // partition pruning must reach the scan
    val plan = one.queryExecution.executedPlan.toString
    assert(Files.list(java.nio.file.Paths.get(dir)).toArray.map(_.toString)
      .exists(_.contains("etype=click")))
  }

  private def writeFragmentFiles(dir: String): Unit = {
    import graft.ebml.EbmlFunctions
    // file A: one fragment; file B: two back-to-back fragments (the
    // continuous GetMedia capture shape the splitter must separate)
    val f1 = EbmlFunctions.buildFragment(1L, 1000L, 10L, 100L, "t1")
    val f2 = EbmlFunctions.buildFragment(2L, 2000L, 11L, 200L, "t2")
    val f3 = EbmlFunctions.buildFragment(3L, 3000L, 12L, 300L, "t3")
    Files.write(java.nio.file.Paths.get(dir, "a.mkv"), f1)
    Files.write(java.nio.file.Paths.get(dir, "b.mkv"),
      graft.ebml.Ebml.concat(f2, f3))
  }

  test("ebml DataSourceV2 reads a fragment directory with tag parsing") {
    val dir = tmp() + "/frags"
    Files.createDirectories(java.nio.file.Paths.get(dir))
    writeFragmentFiles(dir)
    val df = spark.read.format("ebml").load(dir)
    val rows = df.select("fragment_number", "producer_ts", "user_id",
        "position", "frag_len", "path")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(rows.map(_._2).toSeq == Seq(1000L, 2000L, 3000L))
    assert(rows.map(_._3).toSeq == Seq(10L, 11L, 12L))
    // positions: single-fragment file starts at 0; in the packed file the
    // second fragment starts where the first ends
    val inB = rows.filter(_._6.endsWith("b.mkv")).sortBy(_._4)
    assert(inB.head._4 == 0L && inB(1)._4 == inB.head._5,
      s"split positions wrong: $inB")
    // the blob column round-trips: re-parsing it yields the same tags
    val reparsed = spark.read.format("ebml").load(dir)
      .select(col("fragment_number"),
        graft.ebml.EbmlFunctions.parseTags(col("blob")).getField("user_id")
          .cast("long").as("uid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(reparsed.map(_._2).toSeq == Seq(10L, 11L, 12L))
  }

  test("ebml source prunes columns down to the scan") {
    val dir = tmp() + "/frags_prune"
    Files.createDirectories(java.nio.file.Paths.get(dir))
    writeFragmentFiles(dir)
    val narrow = spark.read.format("ebml").load(dir).select("path", "frag_len")
    val scan = narrow.queryExecution.executedPlan.collectLeaves().head.toString
    // the v2 scan's ReadSchema is the pruned schema: no tag, element, or
    // blob fields — which the reader uses to SKIP the tag walk, the
    // element walk, and the media-byte copy entirely
    assert(scan.contains("ReadSchema: struct<path:string,frag_len:bigint>"),
      s"pruned schema not pushed to scan: $scan")
    assert(!scan.contains("blob"), s"blob survived pruning: $scan")
    assert(narrow.count() == 3L)
  }

  test("ebml source pushdown skips whole payload files before any byte walk") {
    val dir = tmp() + "/frags_push"
    Files.createDirectories(java.nio.file.Paths.get(dir))
    import graft.ebml.EbmlFunctions
    // four payload files, one fragment each, disjoint tag ranges
    val frags = (1 to 4).map(i =>
      EbmlFunctions.buildFragment(i.toLong, i * 1000L, 10L + i, 100L, s"t$i"))
    frags.zipWithIndex.foreach { case (f, i) =>
      Files.write(java.nio.file.Paths.get(dir, s"p${i + 1}.mkv"), f)
    }
    // the capture manifest: per-file fragment_number / producer_ts ranges
    Files.write(java.nio.file.Paths.get(dir, "_MANIFEST"),
      (1 to 4).map(i => s"p$i.mkv,$i,$i,${i * 1000},${i * 1000}")
        .mkString("\n").getBytes("UTF-8"))
    def opened(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      EbmlFileSkip.filesOpened.set(0L)
      val n = df.count()
      (n, EbmlFileSkip.filesOpened.get())
    }
    val all = spark.read.format("ebml").load(dir)
    assert(opened(all) == ((4L, 4L)), "unfiltered read must open every file")
    // manifest-range skip: equality on fragment_number → one file
    val byFrag = all.filter(col("fragment_number") === 2L)
    assert(opened(byFrag) == ((1L, 1L)),
      "fragment_number filter should open exactly the covering file")
    // manifest-range skip on producer_ts: >= 3000 → two files
    assert(opened(all.filter(col("producer_ts") >= 3000L)) == ((2L, 2L)))
    // path skip needs no manifest
    assert(opened(all.filter(col("path").endsWith("p3.mkv"))) == ((1L, 1L)))
    // position skip via listing length: offsets can never reach 10 KB here
    assert(opened(all.filter(col("position") > 10000L)) == ((0L, 0L)))
    // the skip is visible in the plan, and the residual filter still
    // applies (values, not just counts, are correct)
    val scan = byFrag.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters: ["), s"no pushdown in scan: $scan")
    assert(byFrag.select("fragment_number", "producer_ts").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 2000L)))
    // a manifest-less directory still answers tag filters (no skip)
    Files.delete(java.nio.file.Paths.get(dir, "_MANIFEST"))
    assert(opened(all.filter(col("fragment_number") === 2L)) == ((1L, 4L)),
      "without a manifest every file must be kept, result unchanged")
  }

  test("ebml source bin-packs many files into bounded input partitions") {
    val dir = tmp() + "/frags_pack"
    Files.createDirectories(java.nio.file.Paths.get(dir))
    val frag = graft.ebml.EbmlFunctions.buildFragment(9L, 9000L, 9L, 9L, "x")
    (0 until 40).foreach(i =>
      Files.write(java.nio.file.Paths.get(dir, f"f$i%02d.mkv"), frag))
    // cap partitions at ~4 fragments of bytes each: 40 files must fold
    // into ~10 tasks, not 40 — the archive-prefix scale behavior
    val df = spark.read.format("ebml")
      .option("maxPartitionBytes", (frag.length * 4).toString).load(dir)
    assert(df.count() == 40L)
    assert(df.rdd.getNumPartitions <= 12,
      s"expected bin-packed partitions, got ${df.rdd.getNumPartitions}")
  }

  test("ebml source without an option splits by the session's file-split conf (round 21)") {
    val dir = tmp() + "/frags_conf_split"
    Files.createDirectories(java.nio.file.Paths.get(dir))
    val frag = graft.ebml.EbmlFunctions.buildFragment(9L, 9000L, 9L, 9L, "x")
    (0 until 40).foreach(i =>
      Files.write(java.nio.file.Paths.get(dir, f"f$i%02d.mkv"), frag))
    // no option ⇒ Spark's FilePartition formula applies: the
    // minPartitionNum (= defaultParallelism) floor must fan a
    // smaller-than-one-split archive across the cores instead of
    // walking every payload in one task (the round-20 mm_source shape:
    // a 63 MB/1,000-file archive read as ONE task under the old fixed
    // 128 MB default)
    val df = spark.read.format("ebml").load(dir)
    assert(df.count() == 40L)
    val parts = df.rdd.getNumPartitions
    val par = spark.sparkContext.defaultParallelism
    assert(parts > 1, s"conf-driven split produced a single task for 40 files")
    assert(parts <= 40, s"more partitions than files: $parts")
    assert(parts >= math.min(par, 40) / 2,
      s"expected ~defaultParallelism($par) tasks, got $parts")
  }

  test("ebml source plans each session's scan with that session's split settings") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val dir = tmp() + "/frags_two_sessions"
    Files.createDirectories(java.nio.file.Paths.get(dir))
    val frag = graft.ebml.EbmlFunctions.buildFragment(9L, 9000L, 9L, 9L, "x")
    (0 until 40).foreach(i =>
      Files.write(java.nio.file.Paths.get(dir, f"f$i%02d.mkv"), frag))
    // each file is charged its length plus the open cost: two files per
    // split in `fine`, all forty in one split in `coarse`
    val charged = frag.length + 1000L
    def session(maxBytes: Long, minPartitions: Int): SparkSession = {
      val s = spark.newSession()
      s.conf.set("spark.sql.files.openCostInBytes", "1000")
      s.conf.set("spark.sql.files.maxPartitionBytes", maxBytes.toString)
      s.conf.set("spark.sql.files.minPartitionNum", minPartitions.toString)
      s
    }
    val fine = session(2 * charged, 4)
    val coarse = session(1L << 30, 1)
    val fineDf = fine.read.format("ebml").load(dir)
    val coarseDf = coarse.read.format("ebml").load(dir)
    assert(fineDf.rdd.getNumPartitions == 20)
    assert(coarseDf.rdd.getNumPartitions == 1)
    assert(fineDf.count() == 40L && coarseDf.count() == 40L)
    // a table keeps the settings of the session that resolved it, even
    // when its scan is built while another session is active
    try {
      SparkSession.setActiveSession(fine)
      val table = new EbmlDataSource().getTable(EbmlTable.Schema, Array.empty,
        Map("path" -> dir).asJava)
      SparkSession.setActiveSession(coarse)
      val parts = table.asInstanceOf[EbmlTable].newScanBuilder(CaseInsensitiveStringMap.empty)
        .build().toBatch.planInputPartitions()
      assert(parts.length == 20, s"planned with the active session's settings: ${parts.length}")
    } finally SparkSession.setActiveSession(spark)
  }

  test("dpp join: the fact scan carries an injected dynamicpruning filter and reads ONLY qualifying day dirs (H17)") {
    import org.apache.spark.sql.functions._
    val df = graft.sources.Layout.dppJoinQuery(t, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty, "fixture produced no Tuesday days")
    val days = rows.map(_.getLong(0)).toSet
    assert(days.forall(_ % 7 == 2), s"non-qualifying day in $days")
    // the injected runtime filter is visible on the fact scan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no dynamicpruning subquery in the fact scan:\n$plan")
    // and the scan ACTUALLY read fewer files than the table holds —
    // runtime evidence of the pruning, not just the plan annotation
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def kids(n: SparkPlan): Seq[SparkPlan] = n match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children
    }
    def walk(n: SparkPlan): Seq[SparkPlan] = n +: kids(n).flatMap(walk)
    val factScan = walk(df.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec
        if s.output.exists(_.name == "value_c") => s }
    assert(factScan.nonEmpty, "fact scan not found")
    val scanned = factScan.head.metrics("numFiles").value
    val dir = graft.sources.Layout.materializeDayPartitioned(t, sfDir)
    val total = spark.read.parquet(dir)
      .select(input_file_name()).distinct().count()
    val allDays = spark.read.parquet(dir).select("day").distinct().count()
    assert(allDays > days.size, "fixture must have non-qualifying days")
    assert(scanned > 0 && scanned < total,
      s"DPP read $scanned of $total files — no runtime pruning")
  }
}
