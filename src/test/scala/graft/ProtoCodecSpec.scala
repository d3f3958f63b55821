package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.flow.{FlowGen, FlowMessage}
import graft.sources.ProtoCodec
import graft.streaming.FlowStreams

class ProtoCodecSpec extends SparkTestBase {
  import spark.implicits._

  /** Strict parity: only null/EMPTY is "absent" (decodes to null); all-zero
    * content round-trips bit-for-bit, padded to 16 bytes like any short
    * address. */
  private def addrStrict(b: Array[Byte]): Seq[Byte] =
    if (b == null || b.isEmpty) Nil
    else java.util.Arrays.copyOf(b, 16).toSeq

  private def assertSame(a: FlowMessage, b: FlowMessage): Unit = {
    assert(a.copy(srcAddr = null, dstAddr = null, samplerAddress = null)
      === b.copy(srcAddr = null, dstAddr = null, samplerAddress = null))
    assert(addrStrict(a.srcAddr) === addrStrict(b.srcAddr))
    assert(addrStrict(a.dstAddr) === addrStrict(b.dstAddr))
    assert(addrStrict(a.samplerAddress) === addrStrict(b.samplerAddress))
  }

  test("encode/decode round-trip over generated records") {
    FlowGen.flows(spark, 200, seed = 11).collect().foreach { m =>
      assertSame(ProtoCodec.decode(ProtoCodec.encode(m)), m)
    }
  }

  test("property: random extreme field values round-trip (seeded fuzz)") {
    val rnd = new scala.util.Random(4242)
    def rndLong(): Long = rnd.nextInt(4) match {
      case 0 => rnd.nextLong().abs
      case 1 => rnd.nextInt(300).toLong
      case 2 => Long.MaxValue - rnd.nextInt(2)
      case _ => 0L
    }
    def rndAddr(): Array[Byte] = rnd.nextInt(4) match {
      case 0 => null
      case 1 => Array.fill(16)(rnd.nextInt(256).toByte)
      case 2 => Array.fill(4)(rnd.nextInt(256).toByte) // short v4 → padded
      case _ => new Array[Byte](16) // all-zero CONTENT — must round-trip exactly
    }
    (1 to 500).foreach { _ =>
      val m = FlowMessage(
        flowType = rnd.nextInt(5), timeReceived = rndLong(), sequenceNum = rndLong(),
        samplingRate = rndLong(), samplerAddress = rndAddr(),
        timeFlowStart = rndLong(), timeFlowEnd = rndLong(),
        bytes = rndLong(), packets = rndLong(),
        srcAddr = rndAddr(), dstAddr = rndAddr(),
        etype = rnd.nextInt(0x10000), proto = rnd.nextInt(256),
        srcPort = rnd.nextInt(0x10000), dstPort = rnd.nextInt(0x10000),
        srcAS = rnd.nextInt(Int.MaxValue), dstAS = rnd.nextInt(Int.MaxValue))
      val addrNormed = m.copy(
        srcAddr = if (m.srcAddr != null && m.srcAddr.length == 4)
          java.util.Arrays.copyOf(m.srcAddr, 16) else m.srcAddr,
        dstAddr = if (m.dstAddr != null && m.dstAddr.length == 4)
          java.util.Arrays.copyOf(m.dstAddr, 16) else m.dstAddr,
        samplerAddress = if (m.samplerAddress != null && m.samplerAddress.length == 4)
          java.util.Arrays.copyOf(m.samplerAddress, 16) else m.samplerAddress)
      assertSame(ProtoCodec.decode(ProtoCodec.encode(m)), addrNormed)
    }
  }

  test("explicit all-zero address round-trips bit-exact; elision is opt-in") {
    val m = FlowGen.flows(spark, 1, seed = 19).head()
      .copy(srcAddr = new Array[Byte](16), dstAddr = null)
    // strict default: the zero address is content and comes back as 16 zero
    // bytes; the truly-absent address comes back null
    val strict = ProtoCodec.decode(ProtoCodec.encode(m))
    assert(strict.srcAddr != null && strict.srcAddr.toSeq === Seq.fill(16)(0: Byte))
    assert(strict.dstAddr == null)
    // fixture-parity mode: all-zero elided like the mocker's unset fields
    val elided = ProtoCodec.decode(ProtoCodec.encode(m, elideZeroAddrs = true))
    assert(elided.srcAddr == null && elided.dstAddr == null)
    assert(ProtoCodec.encode(m, elideZeroAddrs = true).length < ProtoCodec.encode(m).length)
  }

  test("varint boundaries survive the round trip") {
    val extremes = Seq(0L, 1L, 127L, 128L, 300L, 0xFFFFFFFFL, Long.MaxValue)
    extremes.foreach { v =>
      val m = FlowGen.flows(spark, 1, seed = 1).head().copy(bytes = v, timeReceived = v)
      assertSame(ProtoCodec.decode(ProtoCodec.encode(m)), m)
    }
  }

  test("length-delimited framing packs and unpacks multiple records") {
    val msgs = FlowGen.flows(spark, 50, seed = 12).collect().toSeq
    val wire = msgs.flatMap(m => ProtoCodec.encodeDelimited(m)).toArray
    val back = ProtoCodec.decodeDelimitedStream(wire)
    assert(back.size === 50)
    msgs.zip(back).foreach { case (a, b) => assertSame(a, b) }
  }

  test("unknown fields are skipped (forward-extensible schema)") {
    val m = FlowGen.flows(spark, 1, seed = 13).head()
    val base = ProtoCodec.encode(m)
    // append unknown single-byte-tag fields: 12 (varint) and 13 (bytes) are
    // not part of our decoded subset
    val out = new java.io.ByteArrayOutputStream()
    out.write(base, 0, base.length)
    out.write((12 << 3) | 0); out.write(42)      // field 12, varint
    out.write(Array[Byte]((13 << 3 | 2).toByte, 3, 1, 2, 3), 0, 5) // field 13, 3 bytes
    assertSame(ProtoCodec.decode(out.toByteArray), m)
  }

  test("truncated payloads fail loudly; lenient mode drops them and keeps the stream") {
    val msgs = FlowGen.flows(spark, 6, seed = 18).collect().toSeq
    val good = msgs.flatMap(ProtoCodec.encodeDelimited).toArray
    // cut mid-record: strict decode must throw, never zero-pad
    val truncated = java.util.Arrays.copyOf(good, good.length - 3)
    intercept[IllegalArgumentException](ProtoCodec.decodeDelimitedStream(truncated))
    // frame length larger than the remaining buffer
    val lied = good.clone(); lied(0) = 127 // first frame claims 127 bytes
    intercept[IllegalArgumentException](ProtoCodec.decodeDelimitedStream(lied))
    // truncation inside a skipped fixed-width field (wire types 1 and 5;
    // fields 12/13 are outside the decoded subset, single-byte tags)
    val fixedCut = Array[Byte]((12 << 3 | 1).toByte, 1, 2) // fixed64 tag, 2 of 8 bytes
    intercept[IllegalArgumentException](ProtoCodec.decode(fixedCut))
    val fixed32Cut = Array[Byte]((13 << 3 | 5).toByte, 1) // fixed32 tag, 1 of 4 bytes
    intercept[IllegalArgumentException](ProtoCodec.decode(fixed32Cut))

    // lenient wire ingest: corrupt payloads dropped whole, good ones survive
    import spark.implicits._
    val goodPayloads = msgs.grouped(2).map(_.flatMap(ProtoCodec.encodeDelimited).toArray).toSeq
    val mixed = goodPayloads :+ truncated
    val decoded = ProtoCodec.fromWire(mixed.toDF("value"), "value", lenient = true).collect()
    assert(decoded.length === 6)
    assert(decoded.map(_.sequenceNum).sorted.toSeq === msgs.map(_.sequenceNum).sorted)
    // strict default: the same mixed input fails the job
    intercept[org.apache.spark.SparkException] {
      ProtoCodec.fromWire(mixed.toDF("value"), "value").collect()
    }

    // r7 review regressions: a null payload (Kafka tombstone) must be a
    // dead-letter in lenient mode, not an NPE that kills the micro-batch
    val withNull: Seq[Array[Byte]] = goodPayloads :+ null
    val viaLenient = ProtoCodec.fromWire(withNull.toDF("value"), "value", lenient = true).collect()
    assert(viaLenient.length === 6)
    // a 64-bit frame length whose LOW 32 bits are small must fail loudly,
    // not truncate to a plausible length and mis-frame the stream. The
    // trailing bytes are a VALID 6-byte message (fields 1-3 varint), so a
    // .toInt-truncating decoder would decode it cleanly and return — only
    // the 64-bit length validation makes this throw (the first version of
    // this guard used undecodable filler, which threw either way)
    val out = new java.io.ByteArrayOutputStream()
    var v = 0x100000006L // 2^32 + 6
    while ((v & ~0x7FL) != 0) { out.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
    out.write(Array[Byte](0x08, 0x01, 0x10, 0x02, 0x18, 0x03))
    intercept[IllegalArgumentException](ProtoCodec.decodeDelimitedStream(out.toByteArray))
  }

  test("binary-file source streams framed payload files through the MV cascade") {
    val srcDir = java.nio.file.Files.createTempDirectory("proto_files")
    val out = java.nio.file.Files.createTempDirectory("proto_files_out").toString
    val cp = java.nio.file.Files.createTempDirectory("proto_files_cp").toString
    val msgs = FlowGen.flows(spark, 90, seed = 15).collect().toSeq
    // three payload files of 30 framed records each (one file = one Kafka
    // payload's bytes)
    msgs.grouped(30).zipWithIndex.foreach { case (g, i) =>
      java.nio.file.Files.write(srcDir.resolve(f"payload_$i%03d.bin"),
        g.flatMap(ProtoCodec.encodeDelimited).toArray)
    }
    val q = FlowStreams.startRawMVManaged(
      ProtoCodec.binaryFileStream(spark, srcDir.toString).toDF(), out, cp)
    q.processAllAvailable()
    q.stop()
    val written = FlowStreams.readRawManaged(spark, out)
    assert(written.count() === 90)
    assert(written.agg(org.apache.spark.sql.functions.sum("bytes")).head().getLong(0)
      === msgs.map(_.bytes).sum)
  }

  test("checkpoint recovery: restart resumes exactly-once, no duplicates or loss") {
    val srcDir = java.nio.file.Files.createTempDirectory("proto_restart")
    val out = java.nio.file.Files.createTempDirectory("proto_restart_out").toString
    val cp = java.nio.file.Files.createTempDirectory("proto_restart_cp").toString
    def writePayload(name: String, msgs: Seq[FlowMessage]): Unit =
      java.nio.file.Files.write(srcDir.resolve(name),
        msgs.flatMap(ProtoCodec.encodeDelimited).toArray)
    val b1 = FlowGen.flows(spark, 40, seed = 16).collect().toSeq
    val b2 = FlowGen.flows(spark, 60, seed = 17).collect().toSeq

    writePayload("a.bin", b1)
    val q1 = FlowStreams.startRawMVManaged(
      ProtoCodec.binaryFileStream(spark, srcDir.toString).toDF(), out, cp)
    q1.processAllAvailable(); q1.stop()
    // new files arrive while the query is down; a fresh query on the SAME
    // checkpoint must pick up exactly the unprocessed remainder
    writePayload("b.bin", b2)
    val q2 = FlowStreams.startRawMVManaged(
      ProtoCodec.binaryFileStream(spark, srcDir.toString).toDF(), out, cp)
    q2.processAllAvailable(); q2.stop()

    val written = FlowStreams.readRawManaged(spark, out)
    assert(written.count() === 100)
    assert(written.agg(org.apache.spark.sql.functions.sum("bytes")).head().getLong(0)
      === (b1 ++ b2).map(_.bytes).sum)
  }

  test("wire stream -> decode -> raw MV end-to-end (S1-S3+S9 cascade)") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Array[Byte]]
    val decoded = ProtoCodec.fromWire(src.toDF().withColumnRenamed("value", "payload"), "payload")
    val out = java.nio.file.Files.createTempDirectory("proto_e2e").toString
    val cp = java.nio.file.Files.createTempDirectory("proto_cp").toString
    val q = FlowStreams.startRawMVManaged(decoded.toDF(), out, cp)
    // two framed records per Kafka-style payload
    val msgs = FlowGen.flows(spark, 100, seed = 14).collect().toSeq
    val payloads = msgs.grouped(2).map(_.flatMap(ProtoCodec.encodeDelimited).toArray).toSeq
    src.addData(payloads)
    q.processAllAvailable()
    q.stop()
    val written = FlowStreams.readRawManaged(spark, out)
    assert(written.count() === 100)
    assert(written.columns.contains("event_date"))
  }
}
