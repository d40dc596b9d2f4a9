package perfbench

/**
 * The seeded URL universe both CDX workloads draw from: `nHosts` hosts
 * whose sizes (URL counts) follow a Zipf law, so a few hosts own most URLs
 * and host-prefix ranges span from one block to many. Every URL, and every
 * capture of it, is a pure function of (seed, host, index), so expected
 * answers are recomputed instead of stored.
 *
 * Keys are plain lower-case ASCII already in SURT form
 * (`tld,siteN-tag)/dK/pJ.html`), so byte order and `String` order agree and
 * canonicalization cannot merge two generated URLs.
 */
final class KeySpace(val seed: Long, val nHosts: Int, nUrls: Int,
                     zipfS: Double) extends Serializable {

  private val weights: Array[Double] =
    Array.tabulate(nHosts)(h => 1.0 / math.pow(h + 1, zipfS))
  private val cumulative: Array[Double] = weights.scanLeft(0.0)(_ + _).tail

  /** URLs per host. */
  val hostSize: Array[Int] = {
    val total = cumulative.last
    weights.map(w => math.max(1, (nUrls * w / total).toInt))
  }
  /** Global index of each host's first URL; hostStart(nHosts) = URL count. */
  val hostStart: Array[Int] = hostSize.scanLeft(0)(_ + _)
  def urlCount: Int = hostStart(nHosts)

  def mix(a: Long, b: Long, c: Long = 0L): Long =
    KeySpace.splitmix(KeySpace.splitmix(KeySpace.splitmix(seed ^ a) ^ b) ^ c)

  def mod(a: Long, b: Long, c: Long, m: Int): Int =
    java.lang.Math.floorMod(mix(a, b, c), m.toLong).toInt

  private val tlds = Array("com", "org", "net", "edu", "info")
  def tld(h: Int): String = tlds(mod(h, 1, 0, tlds.length))
  def tag(h: Int): String =
    java.lang.Long.toString(mix(h, 2) & 0xffffffL, 36)
  def hostName(h: Int): String = s"site$h-${tag(h)}.${tld(h)}"
  /** SURT host prefix: every key of host `h` starts with it. */
  def hostKey(h: Int): String = s"${tld(h)},site$h-${tag(h)})"
  def path(h: Int, j: Int): String = s"/d${mod(h, j, 3, 10)}/p$j.html"
  def urlkey(h: Int, j: Int): String = hostKey(h) + path(h, j)
  def url(h: Int, j: Int): String = s"http://${hostName(h)}${path(h, j)}"

  /** Host of a global URL index. */
  def hostOf(u: Int): Int = {
    val i = java.util.Arrays.binarySearch(hostStart, u)
    if (i >= 0) i else -i - 2
  }

  /** A host drawn with Zipf popularity (large hosts are also popular). */
  def popularHost(rnd: java.util.Random): Int = {
    val x = rnd.nextDouble() * cumulative.last
    val i = java.util.Arrays.binarySearch(cumulative, x)
    math.min(nHosts - 1, if (i >= 0) i else -i - 1)
  }

  /** 14-digit timestamp `day` days after 2024-01-01 plus `sec` seconds. */
  def timestamp14(day: Int, sec: Int): String = {
    val t = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
      .plusDays(day).plusSeconds(sec)
    f"${t.getYear}%04d${t.getMonthValue}%02d${t.getDayOfMonth}%02d" +
      f"${t.getHour}%02d${t.getMinute}%02d${t.getSecond}%02d"
  }

  /** A 32-character base32 payload digest. */
  def digest(a: Long, b: Long): String = {
    val alphabet = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"
    val sb = new StringBuilder(32)
    (0 until 32).foreach(i => sb += alphabet(mod(a, b, 100 + i, 32)))
    sb.toString
  }
}

object KeySpace {
  def splitmix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
}
