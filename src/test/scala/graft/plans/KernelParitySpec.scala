package graft.plans

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Interpreted and generated evaluation agree for every function in the
  * [[Kernels]] table. Each kernel runs over `range(64)` on inputs built by
  * the repo's own writers (encoders, vector and text expressions), once
  * with whole-stage codegen and `CODEGEN_ONLY` projections and once with
  * both off (`NO_CODEGEN`, so `KernelCall.eval`): the rows must be equal,
  * or both runs must fail with the same root exception class, and the
  * input must not throw. A kernel that takes bytes also runs on three
  * truncations of every binary argument, and must return a value or null
  * for each: the front door is an untrusted stream. A new table row
  * without an input case here fails the spec. */
class KernelParitySpec extends SparkSpec {

  private def f(name: String, args: Column*): Column = call_function(name, args: _*)

  private val id = col("id")
  private def ids(name: String): Column = f(name, id, id + 1)
  /** An 8-dim vector per row, entries in [-1.25, 1.25]. */
  private def vec(seed: Int): Column =
    transform(sequence(lit(0), lit(7)),
      i => ((id * (seed + 3) + i * 7) % 11 - 5).cast("double") / 4.0)
  private val text = concat(lit("the quick brown fox "), id.cast("string"),
    lit(" jumps over the lazy dog the quick "), (id % 7).cast("string"), lit(" café"))
  private val toks = split(text, " ")
  private val sortedLongs = array_sort(array_distinct(
    transform(sequence(lit(0), lit(9)), i => (id + i * i) % 13)))
  private val mins = array_repeat(lit(-2.0), 8)
  private val scales = array_repeat(lit(3.0), 8)
  private val bloom = {
    val b = new Array[Byte](32)
    (0L until 32L).foreach(h => BloomKernel.set(b, graft.functions.Hashing.mix64(h), 3))
    lit(b)
  }
  private def fragment = graft.ebml.EbmlFunctions.encodeFragmentTrack(
    id, id * 1000, id % 5, id * 7, lit("V_MPEG4/ISO/AVC"),
    ids("graft_avcc_encode"), ids("graft_h264_encode_slices"))
  private def clip(seed: Int) = f("bmff_encode_clip",
    id + seed, id * 1000, id % 5, id * 7, text)

  /** Argument columns per kernel; `cut` truncates a binary argument. */
  private val inputs: Map[String, (Column => Column) => Seq[Column]] = Map(
    "graft_dot" -> (_ => Seq(vec(1), vec(2))),
    "graft_norm2" -> (_ => Seq(vec(1))),
    "graft_intersect_size" -> (_ => Seq(array_sort(array_distinct(toks)),
      array_sort(array_distinct(split(lit("the lazy brown cat 3 5"), " "))))),
    "graft_intersect_long_size" -> (_ => Seq(sortedLongs,
      array_sort(array_distinct(transform(sequence(lit(0), lit(6)), i => (id * 2 + i) % 13))))),
    "graft_sorted_contains" -> (_ => Seq(sortedLongs, id % 13)),
    "graft_vec_scale" -> (_ => Seq(vec(1), id.cast("double") / 8)),
    "graft_vec_sub" -> (_ => Seq(vec(1), vec(2))),
    "graft_pq_adc" -> (_ => Seq(vec(1),
      array((id % 4).cast("int"), (id % 3).cast("int")))),
    "graft_pq_assign" -> (_ => Seq(vec(1), concat(vec(2), vec(3), vec(4), vec(5)), lit(2))),
    "graft_sq8_encode" -> (_ => Seq(vec(1), mins, scales)),
    "graft_sq8_dequant" -> (_ => Seq(f("graft_sq8_encode", vec(1), mins, scales), mins, scales)),
    "graft_fingerprint" -> (_ => Seq(text)),
    "graft_hash_str" -> (_ => Seq(text)),
    "graft_minhash_bands" -> (_ => Seq(toks)),
    "graft_oph_bands" -> (_ => Seq(f("graft_ngram3", text))),
    "graft_ngram3" -> (_ => Seq(text)),
    "graft_word_ngrams" -> (_ => Seq(toks, lit(3))),
    "graft_simhash" -> (_ => Seq(toks)),
    "graft_mix64" -> (_ => Seq(id)),
    "graft_lsh_buckets" -> (_ => Seq(vec(1), lit(4), lit(6))),
    "graft_lsh_probes" -> (_ => Seq(vec(1), lit(4), lit(6))),
    "graft_rep_stats" -> (_ => Seq(toks, lit(4))),
    "graft_nfc" -> (_ => Seq(text)),
    "graft_unigram_segment" -> (_ => Seq(
      element_at(array(lit("abcab"), lit("cab"), lit("ba"), lit("xa")), (id % 4 + 1).cast("int")),
      array(lit("a"), lit("ab"), lit("b"), lit("bc"), lit("c")),
      array(lit(5L), lit(3L), lit(4L), lit(1L), lit(2L)), lit(15L))),
    "graft_bmp_encode" -> (_ => Seq(f("graft_mix64", id))),
    "graft_bmp_features" -> (cut => Seq(cut(f("graft_bmp_encode", id * 31)))),
    "graft_bmp_resize2x" -> (cut => Seq(cut(f("graft_bmp_encode", id * 31)))),
    "graft_bmp_flip" -> (cut => Seq(cut(f("graft_bmp_encode", id * 31)))),
    "graft_bmp_patches" -> (cut => Seq(cut(f("graft_bmp_encode", id * 31)), lit(4))),
    "graft_h264_encode" -> (_ => Seq(id, id + 1)),
    "graft_h264_encode_slices" -> (_ => Seq(id, id + 1)),
    "graft_nal_units" -> (cut => Seq(cut(ids("graft_h264_encode")))),
    "graft_nal_format" -> (cut => Seq(cut(ids("graft_h264_encode")))),
    "graft_nal_stats" -> (cut => Seq(cut(ids("graft_h264_encode")))),
    "graft_sps_dims" -> (cut => Seq(cut(ids("graft_h264_encode")))),
    "graft_hevc_encode" -> (_ => Seq(id, id + 1)),
    "graft_hevc_encode_slices" -> (_ => Seq(id, id + 1)),
    "graft_hevc_stats" -> (cut => Seq(cut(ids("graft_hevc_encode")))),
    "graft_hevc_sps" -> (cut => Seq(cut(ids("graft_hevc_encode")))),
    "graft_h264_gop_encode" -> (_ => Seq(id, id + 1)),
    "graft_gop_census" -> (cut => Seq(cut(ids("graft_h264_gop_encode")))),
    "graft_hevc_gop_encode" -> (_ => Seq(id, id + 1)),
    "graft_hevc_gop_census" -> (cut => Seq(cut(ids("graft_hevc_gop_encode")))),
    "graft_h264_sei_encode" -> (_ => Seq(id, id + 1)),
    "graft_hevc_sei_encode" -> (_ => Seq(id, id + 1)),
    "graft_sei_census" -> (cut => Seq(cut(ids("graft_h264_sei_encode")))),
    "graft_hevc_sei_census" -> (cut => Seq(cut(ids("graft_hevc_sei_encode")))),
    "graft_avcc_encode" -> (_ => Seq(id, id + 1)),
    "graft_avcc_sps" -> (cut => Seq(cut(ids("graft_avcc_encode")))),
    "graft_hvcc_encode" -> (_ => Seq(id, id + 1)),
    "graft_hvcc_sps" -> (cut => Seq(cut(ids("graft_hvcc_encode")))),
    "graft_avcc_to_annexb" -> (cut => Seq(cut(ids("graft_h264_encode_slices")),
      cut(ids("graft_avcc_encode")))),
    "graft_hvcc_to_annexb" -> (cut => Seq(cut(ids("graft_hevc_encode_slices")),
      cut(ids("graft_hvcc_encode")))),
    "graft_aac_asc_encode" -> (_ => Seq(id, id + 1)),
    "graft_aac_asc" -> (cut => Seq(cut(ids("graft_aac_asc_encode")))),
    "graft_asc_to_adts" -> (cut => Seq(cut(ids("graft_aac_asc_encode")),
      cut(f("graft_wav_encode", id, lit(false))))),
    "graft_adts_parse" -> (cut => Seq(cut(f("graft_asc_to_adts",
      ids("graft_aac_asc_encode"), f("graft_wav_encode", id, lit(false)))))),
    "graft_wav_encode" -> (_ => Seq(id, id % 3 === 0)),
    "graft_wav_gain" -> (cut => Seq(cut(f("graft_wav_encode", id, lit(false))), lit(1250))),
    "graft_wav_features" -> (cut => Seq(cut(f("graft_wav_encode", id, lit(false))))),
    "graft_bloom_contains" -> (cut => Seq(cut(bloom), f("graft_mix64", id % 48), lit(3))),
    "ebml_tags" -> (cut => Seq(cut(fragment))),
    "ebml_crc_valid" -> (cut => Seq(cut(fragment))),
    "ebml_elements" -> (cut => Seq(cut(fragment))),
    "ebml_split_fragments" -> (cut => Seq(cut(f("ebml_concat", array(fragment, fragment))))),
    "ebml_first_block" -> (cut => Seq(cut(fragment))),
    "ebml_concat" -> (_ => Seq(array(fragment, f("graft_h264_encode", id, id)))),
    "ebml_encode_fragment" -> (_ => Seq(id, id * 1000, id % 5, id * 7, text)),
    "ebml_encode_fragment_frame" -> (cut => Seq(id, id * 1000, id % 5, id * 7,
      cut(f("graft_wav_encode", id, lit(true))))),
    "ebml_encode_fragment_track" -> (cut => Seq(id, id * 1000, id % 5, id * 7,
      lit("A_AAC"), cut(ids("graft_aac_asc_encode")), cut(f("graft_wav_encode", id, lit(true))))),
    "ebml_track_info" -> (cut => Seq(cut(fragment))),
    "bmff_encode_clip" -> (_ => Seq(id, id * 1000, id % 5, id * 7, text)),
    "bmff_boxes" -> (cut => Seq(cut(clip(0)))),
    "bmff_clip" -> (cut => Seq(cut(clip(0)))),
    "bmff_clip_payload" -> (cut => Seq(cut(clip(0)))),
    "bmff_split_clips" -> (cut => Seq(cut(concat(clip(0), clip(9))))))

  /** Whole bytes, then three truncations: drop the last byte, keep the
    * first half, keep the first 8 bytes. */
  private val cuts: Seq[Column => Column] = Seq(
    b => b,
    b => b.substr(lit(1), length(b) - 1),
    b => b.substr(lit(1), (length(b) / 2).cast("int")),
    b => b.substr(lit(1), lit(8)))

  private def rootCause(t: Throwable): Throwable =
    if (t.getCause == null || t.getCause == t) t else rootCause(t.getCause)

  /** Rows as plain values: byte arrays compare by content at any depth. */
  private def plain(v: Any): Any = v match {
    case r: Row => r.toSeq.map(plain)
    case b: Array[Byte] => b.toSeq
    case s: scala.collection.Seq[_] => s.map(plain)
    case m: scala.collection.Map[_, _] => m.map { case (a, b) => plain(a) -> plain(b) }
    case o => o
  }

  private def run(call: Column, codegen: Boolean): Either[String, Seq[Any]] = {
    val conf = Seq(
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"))
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try Right(spark.range(64).select(id, call).collect().toSeq.map(plain))
    catch { case e: Exception => Left(rootCause(e).getClass.getName) }
    finally conf.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("every kernel in the table has an input case, and no other") {
    assert(inputs.keySet == Kernels.all.map(_.name).toSet)
  }

  for (k <- Kernels.all) test(s"${k.name}: interpreted and generated evaluation agree") {
    val binary = k.target.getParameterTypes.contains(classOf[Array[Byte]])
    for ((cut, i) <- (if (binary) cuts else cuts.take(1)).zipWithIndex) {
      val call = f(k.name, inputs(k.name)(cut): _*)
      val generated = run(call, codegen = true)
      val interpreted = run(call, codegen = false)
      assert(generated == interpreted, s"truncation $i")
      assert(generated.isRight,
        s"${if (i == 0) "valid input" else s"truncation $i"} throws: $generated")
    }
  }
}
