package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The generated-class cache holds the catalog's working set: a query run
  * a second time compiles nothing (GraftSession.CodegenCacheEntries). */
class CodegenReuseSpec extends SparkSpec {

  // the media and as-of queries of the benchmark's media_batch workload
  private val media = Seq("mm_source", "mm_elements", "mm_split_stream", "mm_roundtrip",
    "mm_nal_census", "mm_hevc_gop_census", "mm_codec_dispatch", "mm_keyframe_index",
    "mm_frame_sample", "mkv_to_mp4_transmux", "mp4_to_mkv_transmux", "asof_custom_plan",
    "asof_next_marker", "frame_ring_state", "resume_from_token", "lag_monitor")

  test("a second pass over the media queries compiles no generated class") {
    def pass(): Unit = media.foreach { n =>
      SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
    }
    pass()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    pass()
    val again = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
    assert(again == 0L, s"the second pass compiled $again generated classes")
  }
}
