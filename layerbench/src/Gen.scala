package layerbench

import java.nio.{ByteBuffer, ByteOrder}

import graft.core.{RiverField, RiverSchema, RiverType}

/** Seeded ephys-like samples: `Channels` int16 channels, each a sum of two
  * sines plus noise, packed little-endian as river packs INT16 fields.
  * Sample `i` of a stream is `table(i % period)`; `period` covers every
  * sample a run persists, so stored data never repeats. Sines advance by
  * rotation and the noise is a sum of four xorshift uniforms, so a table
  * of 10^5 samples takes milliseconds to build. */
final class Ephys(seed: Long, val period: Int) {
  import Ephys._
  private val rnd = new scala.util.Random(seed)
  private val amp = Array.fill(Channels)(2000 + rnd.nextInt(6000))
  private val w1 = Array.fill(Channels)(2 * math.Pi * (0.5 + rnd.nextDouble() * 40) / SampleRateHz)
  private val w2 = Array.fill(Channels)(2 * math.Pi * (100 + rnd.nextDouble() * 300) / SampleRateHz)
  private val ph = Array.fill(Channels)(rnd.nextDouble() * 2 * math.Pi)

  /** values(i * Channels + c) = channel c of sample i. */
  val values: Array[Short] = new Array[Short](period * Channels)
  (0 until Channels).foreach(c => fill(values, period, c, amp(c), w1(c), w2(c), ph(c), seed * 1315423911L + c))

  /** Packed payloads, one per table row (built once, shared by writers). */
  val payloads: Array[Array[Byte]] = Array.tabulate(period) { i =>
    val b = ByteBuffer.allocate(SampleBytes).order(ByteOrder.LITTLE_ENDIAN)
    var c = 0
    while (c < Channels) { b.putShort(values(i * Channels + c)); c += 1 }
    b.array()
  }

  def value(sample: Long, c: Int): Short = values((sample % period).toInt * Channels + c)
  def payload(sample: Long): Array[Byte] = payloads((sample % period).toInt)

  /** Per-row checksum term, mirrored by [[checksumSql]] over Parquet. */
  def rowHash(sample: Long): Long = {
    var h = sample * IndexWeight
    var c = 0
    while (c < Channels) { h += value(sample, c).toLong * Weights(c); c += 1 }
    java.lang.Math.floorMod(h, Modulus)
  }

  /** Sum of [[rowHash]] over samples `0 until n`. */
  def checksum(n: Long): Long = {
    var s = 0L; var i = 0L
    while (i < n) { s += rowHash(i); i += 1 }
    s
  }
}

object Ephys {
  /** Channel `c` of every sample: two sines advanced by rotation plus the
    * sum of four xorshift uniforms as noise. */
  private def fill(v: Array[Short], period: Int, c: Int, amp: Int, w1: Double, w2: Double,
      ph: Double, seed: Long): Unit = {
    var x = seed | 1L
    var s1 = math.sin(ph); var c1 = math.cos(ph)
    var s2 = 0.0; var c2 = 1.0
    val cw1 = math.cos(w1); val sw1 = math.sin(w1)
    val cw2 = math.cos(w2); val sw2 = math.sin(w2)
    var i = 0
    while (i < period) {
      var u = 0.0; var k = 0
      while (k < 4) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        u += (x >>> 11) * (1.0 / (1L << 53)); k += 1
      }
      val y = amp * (s1 + 0.3 * s2) + 520 * (u - 2)
      v(i * Channels + c) = math.max(-32768.0, math.min(32767.0, math.rint(y))).toShort
      val t1 = s1 * cw1 + c1 * sw1; c1 = c1 * cw1 - s1 * sw1; s1 = t1
      val t2 = s2 * cw2 + c2 * sw2; c2 = c2 * cw2 - s2 * sw2; s2 = t2
      i += 1
    }
  }

  val Channels = 64
  val SampleBytes: Int = Channels * 2
  val SampleRateHz = 10000.0
  val Modulus = 2147483647L
  val IndexWeight = 1000003L
  val Weights: Array[Long] = Array.tabulate(Channels)(c => 7919L * (c + 1) + 13)

  def col(c: Int): String = f"ch$c%02d"

  val schema: RiverSchema =
    RiverSchema((0 until Channels).map(c => RiverField(col(c), RiverType.Int16)))

  val ZfpLossless: String =
    s"""{"name":"ZFP_LOSSLESS","params":{"num_cols":"$Channels","data_type":"int16"}}"""

  /** Spark SQL for the sum of [[Ephys.rowHash]] over a table of samples. */
  val checksumSql: String = {
    val terms = (0 until Channels)
      .map(c => s"cast(${col(c)} as bigint) * ${Weights(c)}").mkString(" + ")
    s"sum(pmod(sample_index * $IndexWeight + $terms, $Modulus))"
  }
}

/** Seeded clustered embeddings with a `source` key that is independent
  * of the cluster, so key-scoped search must cross clusters. */
final class Embeddings(seed: Long, val dim: Int, clusters: Int, val sources: Int) {
  private val rnd = new scala.util.Random(seed)
  private val centers = Array.fill(clusters)(Array.fill(dim)(rnd.nextGaussian().toFloat))

  def draw(r: scala.util.Random): Array[Float] = {
    val c = centers(r.nextInt(clusters))
    Array.tabulate(dim)(i => c(i) + 0.35f * r.nextGaussian().toFloat)
  }

  /** `n` vectors with ids `0 until n` and their source keys. */
  def corpus(n: Int): (Array[Array[Float]], Array[String]) = {
    val r = new scala.util.Random(seed * 31 + 1)
    (Array.fill(n)(draw(r)), Array.fill(n)(s"src${r.nextInt(sources)}"))
  }
}

object Embeddings {
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    d / math.sqrt(na * nb)
  }
}
