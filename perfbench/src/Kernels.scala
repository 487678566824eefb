package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import graft.functions.{CodecImpl, TextImpl, VectorKernels}

/** The `functions` layer timed outside Spark: nanoseconds per call of
  * each native kernel, on inputs derived from the run's (seeded)
  * documents and embeddings. Each kernel cycles over its inputs for a
  * fixed time after a warm-up, so the JIT has compiled it.
  */
object Kernels {

  private val WarmupNs = 100L * 1000 * 1000
  private val MeasureNs = 250L * 1000 * 1000

  /** Folded into the result so no call can be eliminated as dead. */
  @volatile var sink = 0L

  private def nsPerCall[A](inputs: IndexedSeq[A])(f: A => Long): Double = {
    def loop(budgetNs: Long): (Long, Long) = {
      var calls = 0L
      var acc = 0L
      val t0 = System.nanoTime
      var t = t0
      while (t - t0 < budgetNs) {
        var i = 0
        while (i < inputs.length) { acc += f(inputs(i)); i += 1 }
        calls += inputs.length
        t = System.nanoTime
      }
      sink += acc
      (calls, t - t0)
    }
    loop(WarmupNs)
    val (calls, ns) = loop(MeasureNs)
    ns.toDouble / calls
  }

  private def h(b: Array[Byte]): Long = if (b == null) 0L else b.length.toLong + b(0)

  /** ns per call of every kernel, keyed `functions.<kernel>_ns`. */
  def run(texts: IndexedSeq[String], vectors: IndexedSeq[Array[Float]]): Seq[(String, Double)] = {
    val bytes = texts.map(_.getBytes(UTF_8).take(4096))
    val key = Array.tabulate[Byte](16)(i => (i * 7 + 3).toByte)
    val aesKey = Array.tabulate[Byte](32)(i => (i * 11 + 5).toByte)
    val iv = Array.tabulate[Byte](16)(i => (i * 5 + 1).toByte)
    val tlv = bytes.map(b => CodecImpl.tlvEncode(Seq(1 -> b.take(64), 2 -> b.drop(64).take(512), 3 -> b.take(8))))
    val bz2 = bytes.map(CodecImpl.bz2Compress)
    val xtea = bytes.map(b => CodecImpl.xteaEncrypt(b.take(256), key))
    val aes = bytes.map(b => CodecImpl.aesFrameEncode(b.take(1024), aesKey, iv))
    val dns = texts.map { t =>
      val labels = t.split("[^A-Za-z0-9]+").filter(_.nonEmpty).take(4).map(_.take(20))
      CodecImpl.dnsNameEncode((labels :+ "example" :+ "com").mkString("."))
    }
    val tokens = texts.map(_.split("\\s+").toSeq)
    val vecs = vectors.map(v => UnsafeArrayData.fromPrimitiveArray(v): org.apache.spark.sql.catalyst.util.ArrayData)
    val pairs = vecs.indices.map(i => (vecs(i), vecs((i + 1) % vecs.size)))
    Seq(
      "functions.tlv_decode_ns" -> nsPerCall(tlv)(b => CodecImpl.tlvDecode(b).size.toLong),
      "functions.bz2_decompress_ns" -> nsPerCall(bz2)(b => h(CodecImpl.bz2Decompress(b, 1 << 16))),
      "functions.xtea_decrypt_ns" -> nsPerCall(xtea)(b => h(CodecImpl.xteaDecrypt(b, key))),
      "functions.aes_frame_decode_ns" -> nsPerCall(aes)(b => h(CodecImpl.aesFrameDecode(b, aesKey, iv, 1 << 16))),
      "functions.dns_name_decode_ns" -> nsPerCall(dns)(b => CodecImpl.dnsNameDecode(b, 0).length.toLong),
      "functions.simhash64_ns" -> nsPerCall(tokens)(t => TextImpl.simhash64(t)),
      "functions.rolling_fingerprint_ns" -> nsPerCall(texts)(t => TextImpl.rollingFingerprint(t)),
      "functions.lang_id_ns" -> nsPerCall(texts)(t => TextImpl.langId(t).length.toLong),
      "functions.bpe_encode_ns" -> nsPerCall(texts)(t => TextImpl.bpeEncode(t).length.toLong),
      "functions.dot_f32_ns" -> nsPerCall(pairs)(p => VectorKernels.dot(p._1, p._2).toLong))
  }
}
