package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Order statistics and the order-independent multiset hash the output
  * checks compare with. */
object Stats {

  /** Percentile `p` in [0, 100] by linear interpolation between the two
    * closest ranks (the "inclusive" definition: p0 is the minimum, p100 the
    * maximum). NaN for an empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p >= 0 && p <= 100, s"percentile out of range: $p")
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = p / 100.0 * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** CPU seconds this JVM has used, all threads. Unlike wall time it does
    * not grow when the hypervisor lends this machine's CPUs to other guests
    * (steal time). */
  def processCpuS: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  private val md5 = ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))
  private def digest(s: String): Array[Byte] =
    md5.get.digest(s.getBytes(StandardCharsets.UTF_8))
  private val hex = "0123456789abcdef".toCharArray

  def md5Hex(s: String): String = {
    val d = digest(s)
    val out = new Array[Char](32)
    d.indices.foreach { i =>
      out(2 * i) = hex((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hex(d(i) & 0xf)
    }
    new String(out)
  }

  /** Hash of one line: the first 8 bytes of its MD5 as a long. */
  def lineHash(s: String): Long =
    java.nio.ByteBuffer.wrap(digest(s), 0, 8).getLong

  /** Order-independent hash of a multiset: (count, wrapping sum of the
    * element hashes). Equal multisets give equal values whatever the order
    * in which their elements are added. */
  final class MultisetHash {
    private var n = 0L
    private var sum = 0L
    def add(h: Long): Unit = { n += 1; sum += h }
    def addLine(s: String): Unit = add(lineHash(s))
    def count: Long = n
    def value: String = f"$n%d:$sum%016x"
  }
}
