package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.flow.{DashboardSql, FlowGen, FlowMessage, TimeRange}
import graft.streaming.{FlowStreams, ManifestTable}

/** Manifest-native reads: a manifest carrying the `#schema:` header and
  * per-file sizes opens without any Spark job, and a manifest written
  * before either existed still reads the same rows through inference.
  */
class ManifestNativeReadSpec extends SparkTestBase {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def tmp(): String = Files.createTempDirectory("graft_native_read").toString

  private val day1 = 1704067200L

  /** Raw + rollup MV tables over two batches two days apart. */
  private lazy val tables: (String, String) = {
    val rawT = tmp(); val rollT = tmp()
    val src = MemoryStream[FlowMessage]
    val q1 = FlowStreams.startRawMVManaged(src.toDF(), rawT, tmp())
    val q2 = FlowStreams.startRollupMVManaged(src.toDF(), rollT, tmp())
    try Seq(day1, day1 + 2 * 86400L).zipWithIndex.foreach { case (t, i) =>
      src.addData(FlowGen.flows(spark, 300, seed = 40L + i, baseTime = t).collect().toSeq)
      q1.processAllAvailable(); q2.processAllAvailable()
    } finally { q1.stop(); q2.stop() }
    (rawT, rollT)
  }

  private def latestManifest(table: String): Path = {
    val s = Files.list(Paths.get(table, "_graft_manifest"))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.getFileName.toString.endsWith(".manifest"))
        .maxBy(_.getFileName.toString)
    } finally s.close()
  }

  /** Rewrite the latest manifest the way it was written before the schema
    * header and sizes existed: no `#schema:`, every other file a bare
    * path, the rest `path<TAB>col<TAB>min<TAB>max`. */
  private def downgrade(table: String): Unit = {
    val m = latestManifest(table)
    val lines = new String(Files.readAllBytes(m), "UTF-8").split("\n").toSeq
    val old = lines.filterNot(_.startsWith("#schema:")).zipWithIndex.map {
      case (l, _) if l.startsWith("#") => l
      case (l, i) =>
        val e = ManifestTable.parseEntry(l)
        (if (i % 2 == 0) e.copy(stats = None) else e).copy(size = None).line
    }
    assert(old.exists(l => !l.startsWith("#") && !l.contains('\t')) &&
      old.exists(_.count(_ == '\t') == 3), s"expected bare and 4-field lines: $old")
    Files.write(m, old.mkString("\n").getBytes("UTF-8"))
    ()
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toSeq.map {
    case b: Array[Byte] => b.mkString("[", ",", "]")
    case v => String.valueOf(v)
  }.mkString("|")).toSeq.sorted

  test("registerManaged and ManifestTable.read of a table with a schema header run zero Spark jobs") {
    val (rawT, rollT) = tables
    Seq(rawT, rollT).foreach { t =>
      val text = new String(Files.readAllBytes(latestManifest(t)), "UTF-8")
      assert(text.linesIterator.exists(_.startsWith("#schema:")), s"no schema header in $t")
      assert(ManifestTable.snapshotEntries(t)._2.forall(_.size.exists(_ > 0)),
        s"every committed file records its size: $t")
    }
    val range = TimeRange(day1, day1 + 86400L)
    val (_, registerJobs) = jobsDuring(DashboardSql.registerManaged(spark, rawT, rollT, Some(range)))
    assert(registerJobs.size === 0, "registerManaged must plan from the manifest alone")
    val (_, readJobs) = jobsDuring {
      ManifestTable.read(spark, rawT); ManifestTable.read(spark, rollT)
    }
    assert(readJobs.size === 0, "ManifestTable.read must plan from the manifest alone")
    // an empty selection has the table's schema and reads nothing
    val (empty, emptyJobs) = jobsDuring {
      val e = FlowStreams.readRawManagedRange(spark, rawT, day1 + 30 * 86400L, day1 + 31 * 86400L)
      (e.schema, e.collect().length)
    }
    assert(emptyJobs.size === 0 && empty._2 === 0)
    assert(empty._1 === ManifestTable.read(spark, rawT).schema)
    // the panels answer from the native relation
    assert(DashboardSql.runManaged(spark, "m_instant_traffic_30s", Some(range)).collect().nonEmpty)
  }

  test("a manifest in the old format (no header, bare and 4-field lines) reads the same rows") {
    val (rawT, rollT) = tables
    val copies = Seq(rawT, rollT).map { t =>
      val c = tmp()
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(t), new java.io.File(c))
      (t, c)
    }
    val before = copies.map { case (t, _) =>
      val df = ManifestTable.read(spark, t)
      (df.schema, rows(df))
    }
    copies.foreach { case (_, c) => downgrade(c) }
    copies.zip(before).foreach { case ((_, c), (schema, want)) =>
      val df = ManifestTable.read(spark, c)
      // inference over the files gives exactly the header's schema
      assert(df.schema === schema, s"header schema differs from inference: $c")
      assert(rows(df) === want, s"old-format read changed rows: $c")
    }
    val rawOld = copies.head._2
    val lo = day1; val hi = day1 + 86400L
    assert(rows(FlowStreams.readRawManagedRange(spark, rawOld, lo, hi)) ===
      rows(FlowStreams.readRawManagedRange(spark, rawT, lo, hi)))
    assert(FlowStreams.readRawManagedRange(spark, rawOld, day1 + 30 * 86400L, day1 + 31 * 86400L)
      .collect().isEmpty)
    // the next commit keeps reading: it writes the header from its writer
    ManifestTable.append(ManifestTable.read(spark, rawOld).limit(5),
      rawOld, Some("event_date"), batchId = 1000L)
    assert(ManifestTable.read(spark, rawOld).count() === before.head._2.size + 5)
  }
}
