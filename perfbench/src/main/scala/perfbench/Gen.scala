package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import graft.flow.{FlowMessage, FlowSchema}
import graft.sources.ProtoCodec

/** Address families of the generated records. A key is a dense index into
  * one corpus-wide address table: `[0, 250)` is the mocker's
  * 2001:db8:0:1::/120 block, then the heavy-tailed IPv4 block (10.0.0.0/8)
  * and the heavy-tailed IPv6 block (2001:db8:0:2::/64). */
final class AddressSpace(val heavyV4: Int, val heavyV6: Int) {
  val mocker = 250
  val size: Int = mocker + heavyV4 + heavyV6
  def isV4(key: Int): Boolean = key >= mocker && key < mocker + heavyV4
  private def v4Num(key: Int): Long = 0x0A000000L + (key - mocker)

  /** Wire bytes: IPv4 packed left-aligned little-endian (the reference's
    * FixedString(16) convention), IPv6 as 16 network-order bytes. */
  def bytes(key: Int): Array[Byte] = {
    val b = new Array[Byte](16)
    if (isV4(key)) {
      val n = v4Num(key)
      b(0) = (n & 0xFF).toByte; b(1) = ((n >>> 8) & 0xFF).toByte
      b(2) = ((n >>> 16) & 0xFF).toByte; b(3) = ((n >>> 24) & 0xFF).toByte
    } else {
      val g = groups(key)
      var i = 0
      while (i < 8) { b(2 * i) = (g(i) >>> 8).toByte; b(2 * i + 1) = g(i).toByte; i += 1 }
    }
    b
  }

  private def groups(key: Int): Array[Int] =
    if (key < mocker) Array(0x2001, 0xdb8, 0, 1, 0, 0, 0, key)
    else {
      val id = key - mocker - heavyV4
      Array(0x2001, 0xdb8, 0, 2, 0, 0, id >>> 16, id & 0xFFFF)
    }

  /** Dashboard text of an address, written independently of the program's
    * codec: dotted quad for IPv4, RFC 5952 for IPv6. */
  def text(key: Int): String =
    if (isV4(key)) {
      val n = v4Num(key)
      s"${(n >>> 24) & 0xFF}.${(n >>> 16) & 0xFF}.${(n >>> 8) & 0xFF}.${n & 0xFF}"
    } else AddressSpace.rfc5952(groups(key))
}

object AddressSpace {
  def rfc5952(g: Array[Int]): String = {
    var best = -1; var bestLen = 0; var i = 0
    while (i < 8) {
      if (g(i) == 0) {
        var j = i
        while (j < 8 && g(j) == 0) j += 1
        if (j - i > bestLen) { best = i; bestLen = j - i }
        i = j
      } else i += 1
    }
    if (bestLen < 2) best = -1
    val sb = new StringBuilder
    i = 0
    while (i < 8) {
      if (i == best) {
        sb.append("::")
        i += bestLen
      } else {
        if (sb.nonEmpty && sb.last != ':') sb.append(':')
        sb.append(Integer.toHexString(g(i)))
        i += 1
      }
    }
    if (sb.isEmpty) "::" else sb.toString
  }
}

/** Columnar store of every generated record, kept so the benchmark can
  * compute each panel's expected answer itself. Records are appended file
  * by file; `fileEnd(k)` is the record count after the first k+1 files. */
final class Corpus(val addrs: AddressSpace) {
  private var n = 0
  private var cap = 1 << 16
  var time = new Array[Long](cap); var bytes = new Array[Long](cap)
  var packets = new Array[Long](cap); var rate = new Array[Long](cap)
  var src = new Array[Int](cap); var dst = new Array[Int](cap)
  var sport = new Array[Int](cap); var dport = new Array[Int](cap)
  var sas = new Array[Int](cap); var das = new Array[Int](cap)
  var v4 = new Array[Boolean](cap)
  val fileEnd = mutable.ArrayBuffer[Int]()
  def size: Int = n

  private def grow(): Unit = {
    cap *= 2
    time = java.util.Arrays.copyOf(time, cap); bytes = java.util.Arrays.copyOf(bytes, cap)
    packets = java.util.Arrays.copyOf(packets, cap); rate = java.util.Arrays.copyOf(rate, cap)
    src = java.util.Arrays.copyOf(src, cap); dst = java.util.Arrays.copyOf(dst, cap)
    sport = java.util.Arrays.copyOf(sport, cap); dport = java.util.Arrays.copyOf(dport, cap)
    sas = java.util.Arrays.copyOf(sas, cap); das = java.util.Arrays.copyOf(das, cap)
    v4 = java.util.Arrays.copyOf(v4, cap)
  }

  def add(t: Long, b: Long, p: Long, sr: Long, s: Int, d: Int, sp: Int, dp: Int,
      sa: Int, da: Int, isV4: Boolean): Unit = {
    if (n == cap) grow()
    time(n) = t; bytes(n) = b; packets(n) = p; rate(n) = sr; src(n) = s; dst(n) = d
    sport(n) = sp; dport(n) = dp; sas(n) = sa; das(n) = da; v4(n) = isV4
    n += 1
  }

  def endFile(): Unit = synchronized { fileEnd += n }
  def files: Int = synchronized { fileEnd.size }
  def recordsInFiles(k: Int): Int = synchronized { if (k <= 0) 0 else fileEnd(k - 1) }

  def message(i: Int): FlowMessage = FlowMessage(
    flowType = FlowSchema.FlowType.SFlow5, timeReceived = time(i), sequenceNum = i.toLong,
    samplingRate = rate(i), samplerAddress = new Array[Byte](16),
    timeFlowStart = time(i), timeFlowEnd = time(i), bytes = bytes(i), packets = packets(i),
    srcAddr = addrs.bytes(src(i)), dstAddr = addrs.bytes(dst(i)),
    etype = if (v4(i)) FlowSchema.EtypeIPv4 else FlowSchema.EtypeIPv6,
    proto = 6, srcPort = sport(i), dstPort = dport(i), srcAS = sas(i), dstAS = das(i))

  /** Encode records [from, until) with the program's wire framing and write
    * them as one payload file. Returns the payload size in bytes. */
  def writePayload(path: Path, from: Int, until: Int): Long = {
    val out = new java.io.BufferedOutputStream(Files.newOutputStream(path), 1 << 20)
    var size = 0L
    try {
      var i = from
      while (i < until) {
        val b = ProtoCodec.encodeDelimited(message(i))
        out.write(b, 0, b.length)
        size += b.length
        i += 1
      }
    } finally out.close()
    size
  }
}

/** Zipf(s) sampler over ranks [0, n) by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val c = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += 1.0 / math.pow(i + 1.0, s); c(i) = acc; i += 1 }
    i = 0
    while (i < n) { c(i) /= acc; i += 1 }
    c
  }
  def sample(r: java.util.SplittableRandom): Int = {
    val u = r.nextDouble()
    var lo = 0; var hi = n - 1
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) < u) lo = mid + 1 else hi = mid }
    lo
  }
}

/** Record shapes. `mocker` mirrors the reference's mocker (3 AS, 250
  * addresses, uniform ports/bytes); `heavy` is the heavy-tailed history
  * shape (Zipf addresses over about 1 M keys, half IPv4 and half IPv6, 64
  * AS, Zipf ports, mixed sampling rates). */
sealed trait Shape {
  def addrs: AddressSpace
  def record(c: Corpus, r: java.util.SplittableRandom, t: Long): Unit
}

object Shape {
  final class Mocker extends Shape {
    val addrs = new AddressSpace(0, 0)
    def record(c: Corpus, r: java.util.SplittableRandom, t: Long): Unit =
      c.add(t, r.nextInt(1500), r.nextInt(100), 1L, r.nextInt(250), r.nextInt(250),
        r.nextInt(65536), r.nextInt(65536), 65000 + r.nextInt(3), 65000 + r.nextInt(3), isV4 = false)
  }

  final class Heavy(perFamily: Int) extends Shape {
    val addrs = new AddressSpace(perFamily, perFamily)
    private val addrZipf = new Zipf(perFamily, 1.1)
    private val portZipf = new Zipf(65536, 1.2)
    private val asZipf = new Zipf(64, 1.0)
    private val rates = Array(1L, 1L, 10L, 100L)
    def record(c: Corpus, r: java.util.SplittableRandom, t: Long): Unit = {
      val isV4 = r.nextBoolean()
      val base = addrs.mocker + (if (isV4) 0 else perFamily)
      c.add(t, 40 + r.nextInt(1460), 1 + r.nextInt(99), rates(r.nextInt(rates.length)),
        base + addrZipf.sample(r), base + addrZipf.sample(r),
        portZipf.sample(r), portZipf.sample(r),
        64000 + asZipf.sample(r), 64000 + asZipf.sample(r), isV4)
    }
  }
}

/** Expected panel answers computed from the generated records, never
  * through the program's panels. `rawLimit`/`rollLimit` are record-count
  * prefixes (what the raw and the rollup table had committed when the
  * panels ran); `[from, until)` is the dashboard range in epoch seconds,
  * aligned to the 300 s rollup slot; the tables hold `copies` copies of
  * every record. */
object Expected {
  val Panels: Seq[String] = Seq("m_instant_traffic_interval", "m_instant_traffic_30s",
    "m_instant_traffic_1m_interval", "m_instant_traffic_1m", "m_top_src_ip",
    "m_top_dst_ip", "m_top_src_port", "m_top_dst_port", "m_rollup_read")

  def panels(c: Corpus, rawLimit: Int, rollLimit: Int, from: Long, until: Long,
      interval: Long, copies: Int = 1): Map[String, Seq[Seq[Any]]] = {
    val m1 = mutable.LongMap[Long](); val s30 = mutable.LongMap[Long]()
    val iv = mutable.LongMap[Long]()
    val addrN = c.addrs.size
    val srcCnt = new Array[Long](addrN); val srcSum = new Array[Long](addrN)
    val dstCnt = new Array[Long](addrN); val dstSum = new Array[Long](addrN)
    val spCnt = new Array[Long](65536); val spSum = new Array[Long](65536)
    val dpCnt = new Array[Long](65536); val dpSum = new Array[Long](65536)
    val roll = mutable.LongMap[Array[Long]]()
    var i = 0
    val limit = math.max(rawLimit, rollLimit)
    while (i < limit) {
      val t = c.time(i)
      if (t >= from && t < until) {
        if (i < rawLimit) {
          val v = c.bytes(i) * c.rate(i) * copies
          m1.update(t / 60 * 60, m1.getOrElse(t / 60 * 60, 0L) + v)
          s30.update(t / 30 * 30, s30.getOrElse(t / 30 * 30, 0L) + v)
          iv.update(t / interval * interval, iv.getOrElse(t / interval * interval, 0L) + v)
          srcCnt(c.src(i)) += copies; srcSum(c.src(i)) += v
          dstCnt(c.dst(i)) += copies; dstSum(c.dst(i)) += v
          spCnt(c.sport(i)) += copies; spSum(c.sport(i)) += v
          dpCnt(c.dport(i)) += copies; dpSum(c.dport(i)) += v
        }
        if (i < rollLimit) {
          val k = c.sas(i).toLong * 1000000L + c.das(i)
          val a = roll.getOrElseUpdate(k, new Array[Long](3))
          a(0) += c.bytes(i) * copies; a(1) += c.packets(i) * copies; a(2) += copies
        }
      }
      i += 1
    }
    def series(m: mutable.LongMap[Long]): Seq[Long] = m.keys.toSeq.sorted
    val w = interval.toDouble
    Map(
      "m_instant_traffic_1m" -> series(m1).map(b => Seq[Any](b, m1(b), b * 1000)),
      "m_instant_traffic_30s" -> series(s30).map(b => Seq[Any](b, s30(b) * 8, (s30(b) * 8).toDouble / 30.0)),
      "m_instant_traffic_interval" -> series(iv).map(b => Seq[Any](b, iv(b) * 8, (iv(b) * 8).toDouble / w)),
      "m_instant_traffic_1m_interval" -> series(iv).map(b => Seq[Any](b, iv(b), b * 1000)),
      "m_top_src_ip" -> topAddr(c.addrs, srcCnt, srcSum),
      "m_top_dst_ip" -> topAddr(c.addrs, dstCnt, dstSum),
      "m_top_src_port" -> topPort(spCnt, spSum),
      "m_top_dst_port" -> topPort(dpCnt, dpSum),
      "m_rollup_read" -> roll.keys.toSeq.sorted.map { k =>
        val a = roll(k)
        Seq[Any]((k / 1000000L).toInt, (k % 1000000L).toInt, a(0), a(1), a(2))
      })
  }

  /** Top 10 by sum desc, then key text asc; only keys at or above the
    * 10th-largest sum are rendered. */
  private def top10(cnt: Array[Long], sum: Array[Long], text: Int => Any,
      ord: Ordering[Any]): Seq[Seq[Any]] = {
    val present = (0 until cnt.length).filter(cnt(_) > 0)
    if (present.isEmpty) return Nil
    val sums = present.map(sum(_)).sorted(Ordering[Long].reverse)
    val cut = sums(math.min(9, sums.length - 1))
    present.filter(sum(_) >= cut)
      .map(k => (text(k), cnt(k), sum(k)))
      .sortWith { (a, b) => if (a._3 != b._3) a._3 > b._3 else ord.lt(a._1, b._1) }
      .take(10).map { case (t, n, s) => Seq[Any](t, n, s) }
  }

  private val strOrd: Ordering[Any] = Ordering.by[Any, String](_.asInstanceOf[String])
  private val intOrd: Ordering[Any] = Ordering.by[Any, Int](_.asInstanceOf[Int])
  private def topAddr(a: AddressSpace, cnt: Array[Long], sum: Array[Long]) =
    top10(cnt, sum, k => a.text(k), strOrd)
  private def topPort(cnt: Array[Long], sum: Array[Long]) = top10(cnt, sum, k => k, intOrd)
}
