package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

import graft.bmff.BmffExpressions
import graft.ebml.EbmlExpressions

/** Every graft scalar function, one [[Kernel]] row each: a [[KernelCall]]
  * of a static method. Adding a function is one static method plus one
  * row here; [[graft.GraftExtensions]] installs the table, and
  * `KernelParitySpec` fails until the new row has an input case.
  *
  * Arguments are null-strict: a null argument makes the result null
  * without calling the kernel. Rows marked `nullOnBadInput` also return
  * null for inputs the kernel cannot parse; the others never return null
  * for non-null arguments. */
object Kernels {

  private def of(o: AnyRef): String = o.getClass.getName.stripSuffix("$")
  private val Vec = of(VectorKernels)
  private val Sketch = of(SketchKernels)
  private val Img = of(ImageKernels)
  private val Nal = of(NalKernels)
  private val Hevc = of(HevcKernels)
  private val Cp = of(CodecPrivateKernels)
  private val Gop = of(GopKernels)
  private val Sei = of(SeiKernels)
  private val HevcGop = of(HevcGopKernels)
  private val Audio = of(AudioKernels)
  private val Ebml = of(graft.ebml.EbmlKernels)
  private val Bmff = of(graft.bmff.BmffKernels)

  private val Doubles = ArrayType(DoubleType)
  private val DoublesOut = ArrayType(DoubleType, containsNull = false)
  private val LongsOut = ArrayType(LongType, containsNull = false)
  private val IntsOut = ArrayType(IntegerType, containsNull = false)
  private val Ids = Seq(LongType, LongType)

  val all: Seq[Kernel] = Seq(
    // ---- vectors and sorted sets ----
    Kernel("graft_dot", Vec, "dot", DoubleType,
      "_FUNC_(a, b) - dot product of two array<double> over the shorter length"),
    Kernel("graft_norm2", Vec, "norm2", DoubleType,
      "_FUNC_(a) - squared L2 norm of an array<double>"),
    Kernel("graft_intersect_size", Vec, "intersectSize", LongType,
      "_FUNC_(a, b) - common elements of two SORTED distinct string arrays"),
    Kernel("graft_intersect_long_size", Vec, "intersectLongSize", LongType,
      "_FUNC_(a, b) - common elements of two SORTED distinct long arrays"),
    Kernel("graft_sorted_contains", Vec, "sortedContains", BooleanType,
      "_FUNC_(sorted, v) - binary-search membership of v in a SORTED long array",
      inputTypes = Seq(ArrayType(LongType), LongType)),
    Kernel("graft_vec_scale", Vec, "scale", DoublesOut,
      "_FUNC_(a, s) - a times the scalar s",
      inputTypes = Seq(Doubles, DoubleType)),
    Kernel("graft_vec_sub", Vec, "sub", DoublesOut,
      "_FUNC_(a, b) - element-wise a - b over the shorter length",
      inputTypes = Seq(Doubles, Doubles)),
    Kernel("graft_pq_adc", Vec, "pqAdc", DoubleType,
      "_FUNC_(table, codes) - PQ asymmetric distance; fails naming itself on a malformed shape",
      inputTypes = Seq(Doubles, ArrayType(IntegerType))),
    Kernel("graft_pq_assign", of(PqAssignKernel), "assign", IntsOut,
      "_FUNC_(v, codebook, m) - nearest PQ cell per subspace, ties to the lowest id",
      inputTypes = Seq(Doubles, Doubles), intParams = Seq(IntParam("m", min = 1))),
    Kernel("graft_sq8_encode", of(Sq8Kernel), "encode", IntsOut,
      "_FUNC_(v, mins, scales) - uint8 codes round((v - mins) / scales * 255)"),
    Kernel("graft_sq8_dequant", of(Sq8Kernel), "dequant", DoublesOut,
      "_FUNC_(codes, mins, scales) - mins + codes / 255 * scales"),

    // ---- text sketches ----
    Kernel("graft_fingerprint", Sketch, "fingerprint", LongType,
      "_FUNC_(text) - rolling polynomial fingerprint mod 1e9+7"),
    Kernel("graft_hash_str", Sketch, "hashStr", LongType,
      "_FUNC_(s) - the 64-bit token hash behind every graft sketch"),
    Kernel("graft_minhash_bands", Sketch, "minhashBands", LongsOut,
      "_FUNC_(tokens) - MinHash band signatures, 4 bands x 10 rows"),
    Kernel("graft_oph_bands", Sketch, "ophBands", LongsOut,
      "_FUNC_(hashes) - one-permutation MinHash bands, 8 bands x 8 bins"),
    Kernel("graft_ngram3", of(Ngram3Kernel), "hashes", LongsOut,
      "_FUNC_(text) - sorted distinct character 3-gram hashes"),
    Kernel("graft_word_ngrams", of(WordNgramKernel), "hashes", LongsOut,
      "_FUNC_(tokens[, n]) - sorted distinct word n-gram hashes (n defaults to 3)",
      intParams = Seq(IntParam("n", min = 1, default = Some(3)))),
    Kernel("graft_simhash", Sketch, "simhashSig", LongType,
      "_FUNC_(tokens) - 64-bit SimHash of the token set"),
    Kernel("graft_mix64", of(graft.functions.Hashing), "mix64", LongType,
      "_FUNC_(x) - splitmix64 finalizer of a long",
      inputTypes = Seq(LongType)),
    Kernel("graft_lsh_buckets", of(LshKernel), "buckets", LongsOut,
      "_FUNC_(v, tables, bits) - hyperplane-LSH bucket per table, table id in the high 32 bits",
      intParams = Seq(IntParam("tables", min = 1), IntParam("bits", min = 1, max = 32))),
    Kernel("graft_lsh_probes", of(LshKernel), "probes", LongsOut,
      "_FUNC_(v, tables, bits) - each table's bucket plus every 1-bit flip",
      intParams = Seq(IntParam("tables", min = 1), IntParam("bits", min = 1, max = 32))),
    Kernel("graft_rep_stats", of(RepStatsKernel), "stats", LongsOut,
      "_FUNC_(tokens[, block_n]) - the 7 Gopher repetition counters (block_n defaults to 8)",
      intParams = Seq(IntParam("block_n", min = 1, default = Some(8)))),
    Kernel("graft_nfc", of(NfcKernel), "nfc", StringType,
      "_FUNC_(s) - Unicode NFC normalization"),
    Kernel("graft_unigram_segment", of(UnigramKernels), "segment", ArrayType(StringType),
      "_FUNC_(word, pieces, counts, total) - Viterbi pieces; null when unsegmentable",
      nullOnBadInput = true),

    // ---- images (BMP) ----
    Kernel("graft_bmp_encode", Img, "bmpEncode", BinaryType,
      "_FUNC_(bits) - 9x8 gray BMP whose dHash is bits",
      inputTypes = Seq(LongType)),
    Kernel("graft_bmp_features", Img, "bmpFeatures", BmpFeatures.featureType,
      "_FUNC_(frame) - struct(width, height, mean_milli, dhash); null on non-BMP bytes",
      nullOnBadInput = true),
    Kernel("graft_bmp_resize2x", Img, "bmpResize2x", BinaryType,
      "_FUNC_(frame) - exact-integer 2x box downsample; null on unparseable bytes",
      nullOnBadInput = true),
    Kernel("graft_bmp_flip", Img, "bmpFlipH", BinaryType,
      "_FUNC_(frame) - horizontal mirror; null on unparseable bytes",
      nullOnBadInput = true),
    Kernel("graft_bmp_patches", Img, "bmpPatches", BmpPatches.patchArrayType,
      "_FUNC_(frame, p) - p x p tile stats; null on unparseable bytes or p <= 0",
      nullOnBadInput = true, intParams = Seq(IntParam("p"))),

    // ---- H.264 / HEVC elementary streams ----
    Kernel("graft_h264_encode", Nal, "h264Encode", BinaryType,
      "_FUNC_(event_id, user_id) - the synthetic H.264 elementary stream",
      inputTypes = Ids),
    Kernel("graft_h264_encode_slices", Nal, "h264EncodeSlices", BinaryType,
      "_FUNC_(event_id, user_id) - the slices-only H.264 stream (SPS/PPS out of band)",
      inputTypes = Ids),
    Kernel("graft_nal_units", Nal, "nalUnits", NalUnits.unitArrayType,
      "_FUNC_(blob) - array of (nal_type, ref_idc, rbsp_len); null on unparseable bytes",
      nullOnBadInput = true),
    Kernel("graft_nal_format", Nal, "nalFormat", StringType,
      "_FUNC_(blob) - 'annexb' or 'avcc'; null on unparseable bytes",
      nullOnBadInput = true),
    Kernel("graft_nal_stats", Nal, "nalStats", NalStats.statsType,
      "_FUNC_(blob) - struct(format, n_nals, n_idr, slice_rbsp_bytes); null on unparseable bytes",
      nullOnBadInput = true),
    Kernel("graft_sps_dims", Nal, "spsDims", SpsDims.dimsType,
      "_FUNC_(blob) - first SPS as struct(profile_idc, level_idc, width, height); null when none parses",
      nullOnBadInput = true),
    Kernel("graft_hevc_encode", Hevc, "hevcEncode", BinaryType,
      "_FUNC_(event_id, user_id) - the synthetic H.265 elementary stream",
      inputTypes = Ids),
    Kernel("graft_hevc_encode_slices", Hevc, "hevcEncodeSlices", BinaryType,
      "_FUNC_(event_id, user_id) - the slices-only HEVC stream (parameter sets out of band)",
      inputTypes = Ids),
    Kernel("graft_hevc_stats", Hevc, "hevcStats", HevcStats.statsType,
      "_FUNC_(blob) - struct(format, n_nals, n_irap, slice_rbsp_bytes); null on unparseable bytes",
      nullOnBadInput = true),
    Kernel("graft_hevc_sps", Hevc, "hevcSpsDims", SpsDims.dimsType,
      "_FUNC_(blob) - first SPS as struct(profile_idc, level_idc, width, height); null when none parses",
      nullOnBadInput = true),
    Kernel("graft_h264_gop_encode", Gop, "h264GopEncode", BinaryType,
      "_FUNC_(event_id, user_id) - the H.264 GOP-ladder stream",
      inputTypes = Ids),
    Kernel("graft_gop_census", Gop, "gopCensus", GopCensus.censusType,
      "_FUNC_(blob) - struct(n_slices, n_i, n_p, n_b, max_frame_num); null on unparseable or out-of-subset streams",
      nullOnBadInput = true),
    Kernel("graft_hevc_gop_encode", HevcGop, "hevcGopEncode", BinaryType,
      "_FUNC_(event_id, user_id) - the HEVC GOP-ladder stream",
      inputTypes = Ids),
    Kernel("graft_hevc_gop_census", HevcGop, "hevcGopCensus", HevcGopCensus.censusType,
      "_FUNC_(blob) - struct(n_slices, n_i, n_p, n_b, max_poc_lsb); null on unparseable or out-of-subset streams",
      nullOnBadInput = true),
    Kernel("graft_h264_sei_encode", Sei, "h264SeiEncode", BinaryType,
      "_FUNC_(event_id, user_id) - the H.264 stream with an SEI NAL",
      inputTypes = Ids),
    Kernel("graft_hevc_sei_encode", Sei, "hevcSeiEncode", BinaryType,
      "_FUNC_(event_id, user_id) - the HEVC stream with a prefix SEI NAL",
      inputTypes = Ids),
    Kernel("graft_sei_census", Sei, "h264SeiCensus", SeiCensus.censusType,
      "_FUNC_(blob) - H.264 SEI message census; null on unparseable bytes",
      nullOnBadInput = true),
    Kernel("graft_hevc_sei_census", Sei, "hevcSeiCensus", SeiCensus.censusType,
      "_FUNC_(blob) - HEVC prefix/suffix SEI message census; null on unparseable bytes",
      nullOnBadInput = true),

    // ---- out-of-band codec configuration ----
    Kernel("graft_avcc_encode", Cp, "avccEncode", BinaryType,
      "_FUNC_(event_id, user_id) - the avcC CodecPrivate blob",
      inputTypes = Ids),
    Kernel("graft_avcc_sps", Cp, "avccSpsDims", SpsDims.dimsType,
      "_FUNC_(avcc) - first out-of-band SPS as struct(profile_idc, level_idc, width, height); null on malformed blobs",
      nullOnBadInput = true),
    Kernel("graft_hvcc_encode", Cp, "hvccEncode", BinaryType,
      "_FUNC_(event_id, user_id) - the hvcC HEVCDecoderConfigurationRecord",
      inputTypes = Ids),
    Kernel("graft_hvcc_sps", Cp, "hvccSpsDims", SpsDims.dimsType,
      "_FUNC_(hvcc) - first out-of-band SPS as struct(profile_idc, level_idc, width, height); null on malformed blobs",
      nullOnBadInput = true),
    Kernel("graft_avcc_to_annexb", Cp, "avccToAnnexb", BinaryType,
      "_FUNC_(stream, avcc) - h264_mp4toannexb: parameter sets in band; null when either input is malformed",
      nullOnBadInput = true),
    Kernel("graft_hvcc_to_annexb", Cp, "hvccToAnnexb", BinaryType,
      "_FUNC_(stream, hvcc) - hevc_mp4toannexb: parameter sets in band; null when either input is malformed",
      nullOnBadInput = true),
    Kernel("graft_aac_asc_encode", Cp, "aacAscEncode", BinaryType,
      "_FUNC_(event_id, user_id) - the AAC AudioSpecificConfig blob",
      inputTypes = Ids),
    Kernel("graft_aac_asc", Cp, "aacAsc", AacAsc.ascType,
      "_FUNC_(asc) - struct(object_type, sample_rate, channels); null on malformed blobs",
      nullOnBadInput = true),
    Kernel("graft_asc_to_adts", Cp, "ascToAdts", BinaryType,
      "_FUNC_(asc, frame) - 7-byte ADTS header plus frame; null on out-of-range configs",
      nullOnBadInput = true),
    Kernel("graft_adts_parse", Cp, "adtsParse", AdtsParse.adtsType,
      "_FUNC_(bytes) - ADTS header struct; null on malformed frames",
      nullOnBadInput = true),

    // ---- audio (WAV) ----
    Kernel("graft_wav_encode", Audio, "wavEncode", BinaryType,
      "_FUNC_(seed, silent) - one 64-sample PCM16 mono WAV frame",
      inputTypes = Seq(LongType, BooleanType)),
    Kernel("graft_wav_gain", Audio, "wavGain", BinaryType,
      "_FUNC_(frame, gain_milli) - exact-integer gain with int16 clipping; null on unparseable bytes",
      nullOnBadInput = true, intParams = Seq(IntParam("gain_milli"))),
    Kernel("graft_wav_features", Audio, "wavFeatures", WavFeatures.featureType,
      "_FUNC_(frame) - PCM16 signal statistics; null on non-WAV bytes",
      nullOnBadInput = true),

    // ---- Bloom probe ----
    Kernel("graft_bloom_contains", of(BloomKernel), "contains", BooleanType,
      "_FUNC_(bloom, hash, k) - membership probe; k must match graft_bloom_agg's",
      inputTypes = Seq(BinaryType, LongType), intParams = Seq(IntParam("k", min = 1, max = 16))),

    // ---- Matroska / EBML ----
    Kernel("ebml_tags", Ebml, "tagsRow", EbmlExpressions.tagsType,
      "_FUNC_(blob) - the 9-string AWS fragment tag struct"),
    Kernel("ebml_crc_valid", of(graft.ebml.Ebml), "crcValid", BooleanType,
      "_FUNC_(blob) - false iff some master's CRC-32 mismatches; true when none are present"),
    Kernel("ebml_elements", Ebml, "elementsArray",
      ArrayType(EbmlExpressions.elementType, containsNull = false),
      "_FUNC_(blob) - array of (name, size, position) element heads"),
    Kernel("ebml_split_fragments", Ebml, "splitArray",
      ArrayType(EbmlExpressions.sliceType, containsNull = false),
      "_FUNC_(stream) - array of (position, fragment) slices"),
    Kernel("ebml_first_block", Ebml, "firstBlock", BinaryType,
      "_FUNC_(blob) - first SimpleBlock frame payload; null when the fragment has no blocks",
      nullOnBadInput = true),
    Kernel("ebml_concat", Ebml, "concatAll", BinaryType,
      "_FUNC_(blobs) - one stream of concatenated fragments"),
    Kernel("ebml_encode_fragment", Ebml, "encode", BinaryType,
      "_FUNC_(event_id, ts_ms, user_id, value_cents, props) - MKV fragment with props in the SimpleBlock"),
    Kernel("ebml_encode_fragment_frame", Ebml, "encodeFrame", BinaryType,
      "_FUNC_(event_id, ts_ms, user_id, value_cents, frame) - MKV fragment with a binary frame"),
    Kernel("ebml_encode_fragment_track", Ebml, "encodeTrack", BinaryType,
      "_FUNC_(event_id, ts_ms, user_id, value_cents, codec_id, codec_private, frame) - MKV fragment with a Tracks element"),
    Kernel("ebml_track_info", Ebml, "trackInfo", EbmlExpressions.trackInfoType,
      "_FUNC_(blob) - first TrackEntry's (codec_id, codec_private); null when there is none",
      nullOnBadInput = true),

    // ---- MP4 / BMFF ----
    Kernel("bmff_encode_clip", Bmff, "encodeClip", BinaryType,
      "_FUNC_(event_id, ts_ms, user_id, value_cents, props) - fMP4 clip blob"),
    Kernel("bmff_boxes", Bmff, "boxesArray",
      ArrayType(BmffExpressions.boxType, containsNull = false),
      "_FUNC_(blob) - array of (typ, position, size, depth) box heads; null on unparseable bytes",
      nullOnBadInput = true),
    Kernel("bmff_clip", Bmff, "clipRow", BmffExpressions.clipType,
      "_FUNC_(clip) - the typed clip struct; null on unparseable bytes",
      nullOnBadInput = true),
    Kernel("bmff_clip_payload", Bmff, "clipPayload", BinaryType,
      "_FUNC_(clip) - the mdat payload bytes; null on unparseable bytes",
      nullOnBadInput = true),
    Kernel("bmff_split_clips", Bmff, "splitArray",
      ArrayType(BmffExpressions.sliceType, containsNull = false),
      "_FUNC_(stream) - array of (position, clip) slices at ftyp boundaries; null on unparseable bytes",
      nullOnBadInput = true))

  private val byName: Map[String, Kernel] = all.map(k => k.name -> k).toMap
  require(byName.size == all.size, "duplicate kernel name")

  def apply(name: String): Kernel =
    byName.getOrElse(name, throw new NoSuchElementException(s"no graft kernel $name"))

  /** A column calling kernel `name` without the session's function
    * registry (the EBML and BMFF Column helpers). */
  def call(name: String, args: Column*): Column =
    Bridge.column(KernelCall(apply(name), args.map(Bridge.expression)))
}

/** Every graft SQL function: the kernel table plus the three aggregates,
  * which [[graft.GraftExtensions]] injects into each session built with
  * `spark.sql.extensions=graft.GraftExtensions`
  * (`graft.core.GraftSession.builder` sets it); no other path registers
  * them. The aggregates are bare AggregateFunctions: the analyzer wraps
  * them in an AggregateExpression at resolution. */
object VectorFunctions {

  private def agg(name: String, cls: Class[_],
      build: Seq[Expression] => Expression) =
    (name, new ExpressionInfo(cls.getName, name), build)

  val builders: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] =
    Kernels.all.map(k => (k.name, k.info, k.build _)) ++ Seq(
      agg("graft_vec_sum", classOf[VectorSum], exprs => VectorSum(exprs.head)),
      agg("graft_topk_freq", classOf[TopKFreq], exprs => TopKFreq(exprs.head,
        IntLitArg.of("graft_topk_freq(term, capacity)", "capacity", exprs(1)))),
      agg("graft_bloom_agg", classOf[BloomAgg], exprs => BloomAgg(exprs.head,
        IntLitArg.of("graft_bloom_agg(hash, m_bits, k)", "m_bits", exprs(1)),
        IntLitArg.of("graft_bloom_agg(hash, m_bits, k)", "k", exprs(2)))))
}
