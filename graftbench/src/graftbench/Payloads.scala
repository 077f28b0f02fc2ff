package graftbench

import graft.ebml.{Ebml, EbmlFunctions}

/** Seeded GetMedia payload files: back-to-back MKV fragments built with
  * the repo's own writer ([[EbmlFunctions.buildFragmentFrame]]).
  *
  * File `j` carries fragments `j*F .. j*F+F-1`. With probability
  * `replayShare` it first re-sends the previous file's last fragment,
  * byte for byte — the reconnect replay the consumer must drop. Producer
  * time advances `spacingMs` per fragment, so a long run spans more
  * retention buckets than the consumer keeps. Frames are drawn from a
  * pool of seeded random buffers; the consumer never stores frame bytes,
  * it only splits and walks them. */
final class Payloads(seed: Long, fragsPerFile: Int, frameBytes: Int,
    replayShare: Double, spacingMs: Long) {
  val producerT0Ms = 1700000000000L
  private val pool = Array.tabulate(64) { i =>
    val b = new Array[Byte](frameBytes)
    new java.util.Random(seed * 1000003L + i).nextBytes(b)
    b
  }

  def producerMs(fragment: Long): Long = producerT0Ms + fragment * spacingMs

  def fragment(n: Long): Array[Byte] =
    EbmlFunctions.buildFragmentFrame(n, producerMs(n), n % 16, n,
      pool((java.lang.Long.hashCode(n * 0x9e3779b97f4a7c15L) & 0x7fffffff) % pool.length))

  def replays(j: Int): Boolean =
    j > 0 && new java.util.Random(seed * 31L + j).nextDouble() < replayShare

  /** Fresh fragment numbers of file `j` (replays excluded). */
  def fresh(j: Int): Range.Inclusive =
    (j.toLong * fragsPerFile).toInt to ((j + 1).toLong * fragsPerFile - 1).toInt

  def file(j: Int): Array[Byte] = {
    val parts = (if (replays(j)) Seq(fresh(j).start - 1L) else Nil) ++
      fresh(j).map(_.toLong)
    Ebml.concat(parts.map(fragment): _*)
  }
}

/** Single-thread MB/s of the binary kernels, from timed direct calls to
  * each layer's public functions: `graft.ebml` over payload files and
  * their fragments, `graft.bmff` over clips from [[graft.bmff.Bmff.buildClip]],
  * and the `graft.plans` codec kernels over their own encoders' output. */
object Kernels {
  import graft.bmff.Bmff
  import graft.plans.{GopKernels, HevcKernels, NalKernels}

  /** Loops `f` over `inputs` for at least `minNs` after one warm-up
    * round, returning MB/s of input consumed. */
  private def rate(inputs: IndexedSeq[Array[Byte]], minNs: Long)(f: Array[Byte] => Any): Double = {
    var sink = 0
    def round(): Long = {
      var bytes = 0L
      var i = 0
      while (i < inputs.length) {
        if (f(inputs(i)) != null) sink += 1
        bytes += inputs(i).length
        i += 1
      }
      bytes
    }
    val w0 = System.nanoTime()
    while (System.nanoTime() - w0 < minNs / 2) round()
    val t0 = System.nanoTime()
    var bytes = 0L
    while (System.nanoTime() - t0 < minNs) bytes += round()
    val mbs = bytes / 1048576.0 / ((System.nanoTime() - t0) / 1e9)
    if (sink < 0) println(sink) // keep the results observable
    mbs
  }

  /** `files` are payloads of back-to-back fragments; their fragments
    * feed the per-fragment kernels. */
  def measure(files: IndexedSeq[Array[Byte]], tracer: Tracer,
      minNs: Long = 300000000L): Map[String, Double] = {
    val frags = files.flatMap(f => Ebml.splitFragments(f).map(_._2))
    val clips = (0 until 256).map(i => Bmff.buildClip(i, 1000L * i, i % 16, i,
      java.util.Arrays.copyOf(frags(i % frags.length), 512)))
    val h264 = (0 until 256).map(i => NalKernels.h264Encode(i, i % 16))
    val hevc = (0 until 256).map(i => HevcKernels.hevcEncode(i, i % 16))
    val gop = (0 until 256).map(i => GopKernels.h264GopEncode(i, i % 16))
    def k(name: String, in: IndexedSeq[Array[Byte]])(f: Array[Byte] => Any) =
      name -> tracer.span(name)(rate(in, minNs)(f))
    Map(
      k("ebml.split_mb_s", files)(Ebml.splitFragments),
      k("ebml.tags_mb_s", frags)(Ebml.tags),
      k("ebml.elements_mb_s", frags)(Ebml.elements(_: Array[Byte])),
      k("ebml.crc_mb_s", frags)(b => if (Ebml.crcValid(b)) b else null),
      k("bmff.boxes_mb_s", clips)(Bmff.boxes),
      k("plans.nal_mb_s", h264)(NalKernels.nalStats),
      k("plans.hevc_mb_s", hevc)(HevcKernels.hevcStats),
      k("plans.gop_mb_s", gop)(GopKernels.gopCensus))
  }
}
