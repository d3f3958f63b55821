package graft

import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.ManifestTable
import graft.streaming.ManifestTable.{FileEntry, Manifest}

/** The manifest line format as a property: every entry the writer can
  * produce — a bare path, the old `path col min max` stats line, and the
  * sized forms — parses back to itself, and the `#maxBatch:` / `#schema:`
  * headers survive a round trip without ever being read as files. */
class ManifestLinePropSpec extends AnyFunSuite {

  private val pathChar = Gen.oneOf(('a' to 'z') ++ ('0' to '9') ++ "_-=./#:")
  private val path: Gen[String] = for {
    head <- Gen.oneOf(('a' to 'z') ++ ('0' to '9') ++ "_-=.")
    rest <- Gen.listOf(pathChar)
  } yield (head +: rest).mkString

  private val entry: Gen[FileEntry] = for {
    p <- path
    stats <- Gen.option(for {
      c <- Gen.identifier
      lo <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
      hi <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
    } yield (c, lo, hi))
    size <- Gen.option(Gen.chooseNum(0L, Long.MaxValue))
  } yield FileEntry(p, stats, size)

  private val fieldType: Gen[DataType] = Gen.oneOf(LongType, IntegerType, StringType,
    BinaryType, DoubleType, DateType, TimestampType, ArrayType(LongType, containsNull = false))
  private val schema: Gen[StructType] = Gen.nonEmptyListOf(for {
    name <- Gen.asciiPrintableStr.suchThat(_.nonEmpty)
    t <- fieldType
    nullable <- Gen.oneOf(true, false)
  } yield StructField(name, t, nullable)).map(fs => StructType(fs.distinctBy(_.name)))

  private def check(p: Prop): Unit = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(500), p)
    assert(r.passed, r.status.toString)
  }

  test("every entry form round-trips through FileEntry.line and parseEntry") {
    check(Prop.forAll(entry)(e => ManifestTable.parseEntry(e.line) == e))
  }

  test("old bare and 4-field stats lines parse as before; sizes are optional") {
    check(Prop.forAll(path, Gen.identifier, Gen.long, Gen.long) { (p, c, lo, hi) =>
      ManifestTable.parseEntry(p) == FileEntry(p, None, None) &&
        ManifestTable.parseEntry(s"$p\t$c\t$lo\t$hi") == FileEntry(p, Some((c, lo, hi)), None)
    })
  }

  test("headers round-trip and are never parsed as files") {
    check(Prop.forAll(Gen.listOf(entry), Gen.chooseNum(-1L, Long.MaxValue), Gen.option(schema)) {
      (es, maxBatch, s) =>
        val text = Manifest(maxBatch, s, es.map(_.line)).render
        val back = ManifestTable.parseManifest(text, "generated")
        back.maxBatch == maxBatch && back.schema == s &&
          back.lines.map(ManifestTable.parseEntry) == es
    })
  }
}
