package graft.sources

import graft.flow.FlowMessage

/** Hand-rolled proto3 wire codec for `FlowMessage`, implementing the public
  * protobuf wire format (varints, tag = field<<3 | wireType, wire types 0 =
  * varint and 2 = length-delimited) plus the varint-length-delimited stream
  * framing the reference's Kafka payloads use ("written with their lengths",
  * `/root/reference/README.md:104`; producer framing
  * `/root/reference/mocker/mocker.go:95-102`).
  *
  * Field numbers follow the reference wire schema
  * (`/root/reference/pb-ext/flow.proto:16-64`): Type=1, TimeReceived=2,
  * SamplingRate=3, SequenceNum=4, TimeFlowEnd=5, SrcAddr=6, DstAddr=7,
  * Bytes=9, Packets=10, SamplerAddress=11, SrcAS=14, DstAS=15, Proto=20,
  * SrcPort=21, DstPort=22, Etype=30, TimeFlowStart=38. Unknown fields are
  * skipped on decode (forward-extensible, the reference's consumer behavior
  * with its richer production schema — SURVEY.md §1.1).
  *
  * There's no spark-protobuf or Kafka connector jar in this environment; on
  * a full cluster deployment `from_protobuf`/`to_protobuf` with a descriptor
  * file replace this codec, and this module remains the framing layer +
  * offline reference implementation. Used from Spark via byte-array UDFs —
  * decode happens in the scan/ingest stage, never post-shuffle.
  */
object ProtoCodec {

  // ------------------------------------------------------------- primitives

  private def writeVarint(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7FL) != 0L) {
      out.write(((v & 0x7F) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
  }

  final class Reader(buf: Array[Byte], var pos: Int, val end: Int) {
    def hasRemaining: Boolean = pos < end
    def readVarint(): Long = {
      var shift = 0
      var result = 0L
      while (shift < 64) {
        if (pos >= end) throw new IllegalArgumentException("truncated varint")
        val b = buf(pos); pos += 1
        result |= (b & 0x7FL) << shift
        if ((b & 0x80) == 0) return result
        shift += 7
      }
      throw new IllegalArgumentException("malformed varint")
    }
    def readBytes(): Array[Byte] = {
      // validate the 64-bit length BEFORE narrowing: a crafted length of
      // 2^32+5 truncates to 5 via .toInt and mis-frames the stream
      // silently; bounds compare in Long so pos+len cannot overflow int
      val lenL = readVarint()
      if (lenL < 0L || lenL > Int.MaxValue || pos.toLong + lenL > end)
        throw new IllegalArgumentException(s"truncated length-delimited field ($lenL bytes at $pos, end $end)")
      val len = lenL.toInt
      val out = java.util.Arrays.copyOfRange(buf, pos, pos + len)
      pos += len
      out
    }
    private def advance(n: Int): Unit = {
      if (pos + n > end) throw new IllegalArgumentException("truncated fixed-width field")
      pos += n
    }
    /** Little-endian fixed32 (wire type 5). */
    def readFixed32(): Int = {
      if (pos + 4 > end) throw new IllegalArgumentException("truncated fixed32")
      val v = (buf(pos) & 0xFF) | ((buf(pos + 1) & 0xFF) << 8) |
        ((buf(pos + 2) & 0xFF) << 16) | ((buf(pos + 3) & 0xFF) << 24)
      pos += 4; v
    }
    /** Little-endian fixed64 (wire type 1). */
    def readFixed64(): Long = {
      if (pos + 8 > end) throw new IllegalArgumentException("truncated fixed64")
      var v = 0L
      var i = 7
      while (i >= 0) { v = (v << 8) | (buf(pos + i) & 0xFFL); i -= 1 }
      pos += 8; v
    }
    def skip(wireType: Int): Unit = wireType match {
      case 0 => readVarint()
      case 1 => advance(8)
      case 2 =>
        // `pos += readVarint()` would capture pos BEFORE the varint read
        // advances it (Scala evaluates the lhs of += first) — read then
        // add. 64-bit validation before narrowing, Long bounds compare.
        val lenL = readVarint()
        if (lenL < 0L || lenL > Int.MaxValue || pos.toLong + lenL > end)
          throw new IllegalArgumentException("truncated skipped field")
        pos += lenL.toInt
      case 5 => advance(4)
      case other => throw new IllegalArgumentException(s"unsupported wire type $other")
    }
  }

  // ----------------------------------------------------------------- encode

  /** Encode one message (bare, no framing). proto3 default-value elision:
    * zero-valued scalars and EMPTY bytes are not written — but bytes with
    * all-zero CONTENT are content, not default, and are encoded (strict
    * wire parity: an explicit `::`/`0.0.0.0` address round-trips
    * bit-for-bit). `elideZeroAddrs = true` opts back into treating all-zero
    * address bytes as unset — the mocker-fixture convention (the reference
    * mocker never populates an address with zeros, SURVEY.md FIXTURES §1),
    * kept only for byte-identical fixture reproduction. */
  def encode(m: FlowMessage, elideZeroAddrs: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(96)
    def varintField(field: Int, v: Long): Unit = if (v != 0L) {
      writeVarint(out, (field.toLong << 3) | 0L)
      writeVarint(out, v)
    }
    def bytesField(field: Int, b: Array[Byte]): Unit =
      if (b != null && b.nonEmpty && (!elideZeroAddrs || b.exists(_ != 0))) {
        writeVarint(out, (field.toLong << 3) | 2L)
        writeVarint(out, b.length.toLong)
        out.write(b, 0, b.length)
      }
    varintField(1, m.flowType.toLong)
    varintField(2, m.timeReceived)
    varintField(3, m.samplingRate)
    varintField(4, m.sequenceNum)
    varintField(5, m.timeFlowEnd)
    bytesField(6, m.srcAddr)
    bytesField(7, m.dstAddr)
    varintField(9, m.bytes)
    varintField(10, m.packets)
    bytesField(11, m.samplerAddress)
    varintField(14, m.srcAS.toLong)
    varintField(15, m.dstAS.toLong)
    varintField(20, m.proto.toLong)
    varintField(21, m.srcPort.toLong)
    varintField(22, m.dstPort.toLong)
    varintField(30, m.etype.toLong)
    varintField(38, m.timeFlowStart)
    out.toByteArray
  }

  /** Frame a message with its varint length prefix (the reference's Kafka
    * payload framing, `mocker.go:95-102`). */
  def encodeDelimited(m: FlowMessage): Array[Byte] = {
    val body = encode(m)
    val out = new java.io.ByteArrayOutputStream(body.length + 5)
    writeVarint(out, body.length.toLong)
    out.write(body, 0, body.length)
    out.toByteArray
  }

  // ----------------------------------------------------------------- decode

  private def pad16(b: Array[Byte]): Array[Byte] = {
    // fail loudly on oversized address fields: copyOf would silently DROP
    // the tail and fabricate a plausible 16-byte address from corrupt wire
    if (b.length > 16)
      throw new IllegalArgumentException(s"address field ${b.length} bytes, max 16")
    if (b.length == 16) b else java.util.Arrays.copyOf(b, 16)
  }

  /** Decode one bare message. Unknown fields are skipped. Absent address
    * fields decode to null — the Go consumer sees a nil slice there and
    * substitutes the `0.0.0.0` default at render time
    * (`/root/reference/inserter/inserter.go:135-140`); keeping the
    * distinction lets [[graft.streaming.FlowStreams.jdbcFlushProjection]]
    * reproduce that exactly via coalesce. */
  def decode(buf: Array[Byte], start: Int = 0, endOpt: Int = -1): FlowMessage = {
    val end = if (endOpt < 0) buf.length else endOpt
    val r = new Reader(buf, start, end)
    var flowType = 0; var timeReceived = 0L; var sequenceNum = 0L; var samplingRate = 0L
    var samplerAddress: Array[Byte] = null
    var timeFlowStart = 0L; var timeFlowEnd = 0L; var bytes = 0L; var packets = 0L
    var srcAddr: Array[Byte] = null; var dstAddr: Array[Byte] = null
    var etype = 0; var proto = 0; var srcPort = 0; var dstPort = 0
    var srcAS = 0; var dstAS = 0
    while (r.hasRemaining) {
      val tag = r.readVarint()
      val field = (tag >>> 3).toInt
      val wire = (tag & 7L).toInt
      (field, wire) match {
        case (1, 0) => flowType = r.readVarint().toInt
        case (2, 0) => timeReceived = r.readVarint()
        case (3, 0) => samplingRate = r.readVarint()
        case (4, 0) => sequenceNum = r.readVarint()
        case (5, 0) => timeFlowEnd = r.readVarint()
        case (6, 2) => srcAddr = pad16(r.readBytes())
        case (7, 2) => dstAddr = pad16(r.readBytes())
        case (9, 0) => bytes = r.readVarint()
        case (10, 0) => packets = r.readVarint()
        case (11, 2) => samplerAddress = pad16(r.readBytes())
        case (14, 0) => srcAS = r.readVarint().toInt
        case (15, 0) => dstAS = r.readVarint().toInt
        case (20, 0) => proto = r.readVarint().toInt
        case (21, 0) => srcPort = r.readVarint().toInt
        case (22, 0) => dstPort = r.readVarint().toInt
        case (30, 0) => etype = r.readVarint().toInt
        case (38, 0) => timeFlowStart = r.readVarint()
        case (_, w) => r.skip(w)
      }
    }
    FlowMessage(flowType, timeReceived, sequenceNum, samplingRate, samplerAddress,
      timeFlowStart, timeFlowEnd, bytes, packets, srcAddr, dstAddr,
      etype, proto, srcPort, dstPort, srcAS, dstAS)
  }

  // ---------------------------------------------------- extended schema

  /** Encode one EXTENDED message: the base fields plus the production
    * enrichment fields 100-103 (`/root/reference/pb-ext/flow.pb.go:140-143`
    * — SrcCountry=100, DstCountry=101 as UTF-8 strings, SrcASDB=102,
    * DstASDB=103 as varints). proto3 elision: empty strings / zero ints
    * are not written, so an unenriched ext record is byte-identical to its
    * base encoding. */
  def encodeExt(m: graft.flow.FlowEnrich.FlowMessageExt): Array[Byte] = {
    val base = encode(graft.flow.FlowMessage(m.flowType, m.timeReceived,
      m.sequenceNum, m.samplingRate, m.samplerAddress, m.timeFlowStart,
      m.timeFlowEnd, m.bytes, m.packets, m.srcAddr, m.dstAddr, m.etype,
      m.proto, m.srcPort, m.dstPort, m.srcAS, m.dstAS))
    val out = new java.io.ByteArrayOutputStream(base.length + 24)
    out.write(base, 0, base.length)
    def strField(field: Int, s: String): Unit = if (s != null && s.nonEmpty) {
      val b = s.getBytes("UTF-8")
      writeVarint(out, (field.toLong << 3) | 2L)
      writeVarint(out, b.length.toLong)
      out.write(b, 0, b.length)
    }
    def varintField(field: Int, v: Long): Unit = if (v != 0L) {
      writeVarint(out, (field.toLong << 3) | 0L)
      writeVarint(out, v)
    }
    strField(100, m.srcCountry)
    strField(101, m.dstCountry)
    varintField(102, m.srcASDB.toLong)
    varintField(103, m.dstASDB.toLong)
    out.toByteArray
  }

  /** Decode one message INCLUDING fields 100-103. The base [[decode]]
    * skips them (forward-extensible light consumer); this is the
    * enrichment-aware consumer of the same wire bytes. */
  def decodeExt(buf: Array[Byte], start: Int = 0, endOpt: Int = -1): graft.flow.FlowEnrich.FlowMessageExt = {
    val end = if (endOpt < 0) buf.length else endOpt
    // base pass for the 17 light fields, second cursor for the ext fields —
    // wire order of unknown-to-base fields is irrelevant to either pass
    val base = decode(buf, start, end)
    var srcCountry = ""; var dstCountry = ""; var srcASDB = 0; var dstASDB = 0
    val r = new Reader(buf, start, end)
    while (r.hasRemaining) {
      val tag = r.readVarint()
      val field = (tag >>> 3).toInt
      val wire = (tag & 7L).toInt
      (field, wire) match {
        case (100, 2) => srcCountry = new String(r.readBytes(), "UTF-8")
        case (101, 2) => dstCountry = new String(r.readBytes(), "UTF-8")
        case (102, 0) => srcASDB = r.readVarint().toInt
        case (103, 0) => dstASDB = r.readVarint().toInt
        case (_, w) => r.skip(w)
      }
    }
    graft.flow.FlowEnrich.FlowMessageExt.from(base, srcCountry, dstCountry, srcASDB, dstASDB)
  }

  // ------------------------------------------------- full production schema

  /** Encode one message with the FULL production field set
    * (`/root/reference/pb-ext/flow.pb.go:57-147`): base 17 light fields via
    * [[encode]], then fields 12-64 and 100-103. proto3 default elision
    * throughout — a rich record whose extra groups are all at defaults is
    * byte-identical to its base encoding. */
  def encodeRich(m: graft.flow.FlowRich.FlowMessageRich): Array[Byte] = {
    val base = encode(m.base)
    val out = new java.io.ByteArrayOutputStream(base.length + 96)
    out.write(base, 0, base.length)
    def varintField(field: Int, v: Long): Unit = if (v != 0L) {
      writeVarint(out, (field.toLong << 3) | 0L)
      writeVarint(out, v)
    }
    def boolField(field: Int, v: Boolean): Unit = varintField(field, if (v) 1L else 0L)
    def bytesField(field: Int, b: Array[Byte]): Unit = if (b != null && b.nonEmpty) {
      writeVarint(out, (field.toLong << 3) | 2L)
      writeVarint(out, b.length.toLong)
      out.write(b, 0, b.length)
    }
    def strField(field: Int, s: String): Unit =
      if (s != null && s.nonEmpty) bytesField(field, s.getBytes("UTF-8"))
    // uint32 fields ride Int bit-preserving: mask to the unsigned value so
    // e.g. 0xFFFFFFFF encodes as 5 varint bytes, not 10 sign-extended ones
    def u(v: Int): Long = v.toLong & 0xFFFFFFFFL
    val r = m.routing
    bytesField(12, r.nextHop); varintField(13, u(r.nextHopAS))
    varintField(16, u(r.srcNet)); varintField(17, u(r.dstNet))
    varintField(18, u(r.inIf)); varintField(19, u(r.outIf))
    varintField(39, u(r.ingressVrfId)); varintField(40, u(r.egressVrfId))
    varintField(41, u(r.biFlowDirection)); varintField(42, u(r.flowDirection))
    val l2 = m.l2
    varintField(27, l2.srcMac); varintField(28, l2.dstMac)
    varintField(29, u(l2.vlanId))
    varintField(33, u(l2.srcVlan)); varintField(34, u(l2.dstVlan))
    val ip = m.ip
    varintField(23, u(ip.ipTos)); varintField(24, u(ip.forwardingStatus))
    varintField(25, u(ip.ipTtl)); varintField(26, u(ip.tcpFlags))
    varintField(31, u(ip.icmpType)); varintField(32, u(ip.icmpCode))
    varintField(35, u(ip.fragmentId)); varintField(36, u(ip.fragmentOffset))
    varintField(37, u(ip.ipv6FlowLabel))
    val e = m.encap
    boolField(43, e.hasEncap)
    bytesField(44, e.srcAddrEncap); bytesField(45, e.dstAddrEncap)
    varintField(46, u(e.protoEncap)); varintField(47, u(e.etypeEncap))
    varintField(48, u(e.ipTosEncap)); varintField(49, u(e.ipTtlEncap))
    varintField(50, u(e.ipv6FlowLabelEncap)); varintField(51, u(e.fragmentIdEncap))
    varintField(52, u(e.fragmentOffsetEncap))
    val mp = m.mpls
    boolField(53, mp.hasMpls); varintField(54, u(mp.mplsCount))
    varintField(55, u(mp.mpls1Ttl)); varintField(56, u(mp.mpls1Label))
    varintField(57, u(mp.mpls2Ttl)); varintField(58, u(mp.mpls2Label))
    varintField(59, u(mp.mpls3Ttl)); varintField(60, u(mp.mpls3Label))
    varintField(61, u(mp.mplsLastTtl)); varintField(62, u(mp.mplsLastLabel))
    boolField(63, m.ppp.hasPpp); varintField(64, u(m.ppp.pppAddressControl))
    strField(100, m.geo.srcCountry); strField(101, m.geo.dstCountry)
    varintField(102, u(m.geo.srcAsdb)); varintField(103, u(m.geo.dstAsdb))
    out.toByteArray
  }

  /** Decode one message with the FULL production field set. Base fields
    * come from [[decode]] (untouched); a second cursor collects fields
    * 12-64 / 100-103 — wire order is irrelevant to either pass. Addresses
    * here (NextHop, encap addresses) keep their wire length: they are
    * routing/tunnel detail, not the 16-byte-normalized render path. */
  def decodeRich(buf: Array[Byte], start: Int = 0, endOpt: Int = -1): graft.flow.FlowRich.FlowMessageRich = {
    import graft.flow.FlowRich._
    val end = if (endOpt < 0) buf.length else endOpt
    val base = decode(buf, start, end)
    var nextHop: Array[Byte] = null; var nextHopAS = 0; var srcNet = 0; var dstNet = 0
    var inIf = 0; var outIf = 0; var ingressVrf = 0; var egressVrf = 0
    var biDir = 0; var dir = 0
    var srcMac = 0L; var dstMac = 0L; var srcVlan = 0; var dstVlan = 0; var vlanId = 0
    var ipTos = 0; var fwdStatus = 0; var ipTtl = 0; var tcpFlags = 0
    var icmpType = 0; var icmpCode = 0; var v6Label = 0; var fragId = 0; var fragOff = 0
    var hasEncap = false; var srcAddrEncap: Array[Byte] = null; var dstAddrEncap: Array[Byte] = null
    var protoEncap = 0; var etypeEncap = 0; var ipTosEncap = 0; var ipTtlEncap = 0
    var v6LabelEncap = 0; var fragIdEncap = 0; var fragOffEncap = 0
    var hasMpls = false; var mplsCount = 0
    var m1t = 0; var m1l = 0; var m2t = 0; var m2l = 0; var m3t = 0; var m3l = 0
    var mlt = 0; var mll = 0
    var hasPpp = false; var pppAc = 0
    var srcCountry = ""; var dstCountry = ""; var srcAsdb = 0; var dstAsdb = 0
    val r = new Reader(buf, start, end)
    while (r.hasRemaining) {
      val tag = r.readVarint()
      val field = (tag >>> 3).toInt
      val wire = (tag & 7L).toInt
      (field, wire) match {
        case (12, 2) => nextHop = r.readBytes()
        case (13, 0) => nextHopAS = r.readVarint().toInt
        case (16, 0) => srcNet = r.readVarint().toInt
        case (17, 0) => dstNet = r.readVarint().toInt
        case (18, 0) => inIf = r.readVarint().toInt
        case (19, 0) => outIf = r.readVarint().toInt
        case (23, 0) => ipTos = r.readVarint().toInt
        case (24, 0) => fwdStatus = r.readVarint().toInt
        case (25, 0) => ipTtl = r.readVarint().toInt
        case (26, 0) => tcpFlags = r.readVarint().toInt
        case (27, 0) => srcMac = r.readVarint()
        case (28, 0) => dstMac = r.readVarint()
        case (29, 0) => vlanId = r.readVarint().toInt
        case (31, 0) => icmpType = r.readVarint().toInt
        case (32, 0) => icmpCode = r.readVarint().toInt
        case (33, 0) => srcVlan = r.readVarint().toInt
        case (34, 0) => dstVlan = r.readVarint().toInt
        case (35, 0) => fragId = r.readVarint().toInt
        case (36, 0) => fragOff = r.readVarint().toInt
        case (37, 0) => v6Label = r.readVarint().toInt
        case (39, 0) => ingressVrf = r.readVarint().toInt
        case (40, 0) => egressVrf = r.readVarint().toInt
        case (41, 0) => biDir = r.readVarint().toInt
        case (42, 0) => dir = r.readVarint().toInt
        case (43, 0) => hasEncap = r.readVarint() != 0L
        case (44, 2) => srcAddrEncap = r.readBytes()
        case (45, 2) => dstAddrEncap = r.readBytes()
        case (46, 0) => protoEncap = r.readVarint().toInt
        case (47, 0) => etypeEncap = r.readVarint().toInt
        case (48, 0) => ipTosEncap = r.readVarint().toInt
        case (49, 0) => ipTtlEncap = r.readVarint().toInt
        case (50, 0) => v6LabelEncap = r.readVarint().toInt
        case (51, 0) => fragIdEncap = r.readVarint().toInt
        case (52, 0) => fragOffEncap = r.readVarint().toInt
        case (53, 0) => hasMpls = r.readVarint() != 0L
        case (54, 0) => mplsCount = r.readVarint().toInt
        case (55, 0) => m1t = r.readVarint().toInt
        case (56, 0) => m1l = r.readVarint().toInt
        case (57, 0) => m2t = r.readVarint().toInt
        case (58, 0) => m2l = r.readVarint().toInt
        case (59, 0) => m3t = r.readVarint().toInt
        case (60, 0) => m3l = r.readVarint().toInt
        case (61, 0) => mlt = r.readVarint().toInt
        case (62, 0) => mll = r.readVarint().toInt
        case (63, 0) => hasPpp = r.readVarint() != 0L
        case (64, 0) => pppAc = r.readVarint().toInt
        case (100, 2) => srcCountry = new String(r.readBytes(), "UTF-8")
        case (101, 2) => dstCountry = new String(r.readBytes(), "UTF-8")
        case (102, 0) => srcAsdb = r.readVarint().toInt
        case (103, 0) => dstAsdb = r.readVarint().toInt
        case (_, w) => r.skip(w)
      }
    }
    FlowMessageRich(base,
      RoutingInfo(nextHop, nextHopAS, srcNet, dstNet, inIf, outIf,
        ingressVrf, egressVrf, biDir, dir),
      L2Info(srcMac, dstMac, srcVlan, dstVlan, vlanId),
      IpInfo(ipTos, fwdStatus, ipTtl, tcpFlags, icmpType, icmpCode,
        v6Label, fragId, fragOff),
      EncapInfo(hasEncap, srcAddrEncap, dstAddrEncap, protoEncap, etypeEncap,
        ipTosEncap, ipTtlEncap, v6LabelEncap, fragIdEncap, fragOffEncap),
      MplsInfo(hasMpls, mplsCount, m1t, m1l, m2t, m2l, m3t, m3l, mlt, mll),
      PppInfo(hasPpp, pppAc),
      GeoInfo(srcCountry, dstCountry, srcAsdb, dstAsdb))
  }

  /** Decode a varint-length-delimited stream of messages (one Kafka payload
    * may carry several framed records). Throws on truncated frames. */
  def decodeDelimitedStream(buf: Array[Byte]): Seq[FlowMessage] = {
    // null = a Kafka tombstone record: malformed input, not a crash —
    // IllegalArgumentException so the lenient dead-letter path drops it
    if (buf == null) throw new IllegalArgumentException("null payload")
    val r = new Reader(buf, 0, buf.length)
    val out = scala.collection.mutable.ArrayBuffer.empty[FlowMessage]
    while (r.hasRemaining) {
      val lenL = r.readVarint()
      if (lenL < 0L || lenL > Int.MaxValue || r.pos.toLong + lenL > buf.length)
        throw new IllegalArgumentException(s"truncated frame ($lenL bytes at ${r.pos})")
      val len = lenL.toInt
      out += decode(buf, r.pos, r.pos + len)
      r.pos += len
    }
    out.toSeq
  }

  // ------------------------------------------------------------ Spark bridge

  /** Wire → typed flow records: the S3 decode stage. Works on batch or
    * streaming DataFrames alike (a Kafka source's `value` column is exactly
    * this shape); decode runs in the scan stage, pre-shuffle.
    *
    * Strict by default: a malformed/truncated payload fails the task (and
    * with it the micro-batch) rather than decoding into fabricated
    * records. `lenient = true` is the dead-letter posture for an untrusted
    * topic at scale: malformed payloads are DROPPED whole (a frame
    * boundary can't be trusted past the first error) and the stream keeps
    * flowing; pair it with a monitoring counter on input-vs-output rows. */
  def fromWire(df: org.apache.spark.sql.DataFrame, bytesCol: String,
      lenient: Boolean = false): org.apache.spark.sql.Dataset[FlowMessage] = {
    import df.sparkSession.implicits._
    val payloads = df.select(bytesCol).as[Array[Byte]]
    if (lenient)
      payloads.flatMap { b =>
        try decodeDelimitedStream(b)
        catch { case _: IllegalArgumentException | _: ArrayIndexOutOfBoundsException => Nil }
      }
    else payloads.flatMap(decodeDelimitedStream(_))
  }

  /** S1/S2 stand-in with a real on-disk source (no Kafka connector jar in
    * this environment): stream a directory of binary files, each file one
    * producer payload of varint-framed protobuf records — the exact bytes a
    * Kafka `value` would carry (`mocker.go:95-106`). New files appear as new
    * micro-batch input, so the MV cascade downstream is identical to the
    * Kafka deployment; swapping in `readStream.format("kafka")` changes
    * only this one method.
    *
    * Decode-parallelism caveat (r17 verdict #1): the binaryFile source
    * packs whole files into scan partitions of up to
    * `spark.sql.files.maxPartitionBytes` (default 128 MB), and the
    * protobuf decode runs one task per PARTITION, not per file — a
    * micro-batch of many small files can decode on a handful of tasks
    * while the rest of the machine idles. For a CPU-bound ingest, set
    * maxPartitionBytes near the wire-file size (one decode task per
    * file); a real Kafka source doesn't have this problem — its
    * parallelism is topic partitions.
    *
    * Each batch's files are stat'ed on the driver when the batch's
    * relation is built: a graft session lists any number of paths there
    * (`GraftSession.builder`), so a batch of more than 32 files runs no
    * separate listing job on the task slots the batch itself needs. */
  def binaryFileStream(spark: org.apache.spark.sql.SparkSession, dir: String,
      options: Map[String, String] = Map.empty): org.apache.spark.sql.Dataset[FlowMessage] = {
    import org.apache.spark.sql.types._
    // the binaryFile source's fixed schema (streaming sources require it
    // explicitly). Source-side options (e.g. maxFilesPerTrigger, which
    // Spark silently IGNORES if set on the sink) go here.
    val schema = StructType(Seq(
      StructField("path", StringType),
      StructField("modificationTime", TimestampType),
      StructField("length", LongType),
      StructField("content", BinaryType)))
    fromWire(spark.readStream.format("binaryFile").schema(schema)
      .options(options).load(dir), "content")
  }
}
