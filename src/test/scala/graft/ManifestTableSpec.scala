package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.flow.{FlowGen, FlowMessage}
import graft.streaming.{FlowStreams, ManifestTable}

/** The online-compaction contract: manifest-committed MV tables admit
  * OPTIMIZE / part-merge swaps concurrent with streaming appends, readers
  * never observe loss or duplication, and batch replays are no-ops.
  */
class ManifestTableSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_manifest").toString

  private def genBatch(n: Long, seed: Long, baseTime: Long): Seq[FlowMessage] =
    FlowGen.flows(spark, n, seed, baseTime).collect().toSeq

  private def parquetFiles(table: String): Seq[String] = {
    val s = Files.walk(Paths.get(table))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.toString.endsWith(".parquet")).map(_.toString).toList
    } finally s.close()
  }

  test("promote enforces a fresh mtime: stamp failure falls back to copy, stale publish throws (r9 advisory)") {
    import java.nio.file.attribute.FileTime
    val dir = Paths.get(tmp())
    val old = FileTime.fromMillis(System.currentTimeMillis() - 10L * 86400_000L)
    // (1) stamp REFUSED by the fs: copy+delete fallback still publishes a
    // fresh-mtime file — the r8 vacuum-races-staging guard survives
    val src1 = dir.resolve("a.parquet")
    Files.write(src1, Array[Byte](1, 2, 3))
    Files.setLastModifiedTime(src1, old)
    val begun = System.currentTimeMillis()
    ManifestTable.PosixFileIO.promoteImpl(src1, dir.resolve("out/a.parquet"),
      _ => throw new java.io.IOException("mtime not supported"))
    assert(!Files.exists(src1), "source must be consumed")
    val got = Files.getLastModifiedTime(dir.resolve("out/a.parquet")).toMillis
    assert(got >= begun - 1000L,
      s"fallback-promoted file must carry a promotion-time mtime, got $got")
    // (2) stamp silently INEFFECTIVE (no exception, no effect — the
    // failure mode a swallowed catch hid): promote must detect the stale
    // publish and throw instead of leaving vacuum's grace counting from
    // the parquet-write time
    val src2 = dir.resolve("b.parquet")
    Files.write(src2, Array[Byte](4, 5, 6))
    Files.setLastModifiedTime(src2, old)
    val e = intercept[java.io.IOException] {
      ManifestTable.PosixFileIO.promoteImpl(src2, dir.resolve("out/b.parquet"), _ => ())
    }
    assert(e.getMessage.contains("grace-based"))
    // (3) the normal path stamps via the real clock
    val src3 = dir.resolve("c.parquet")
    Files.write(src3, Array[Byte](7))
    Files.setLastModifiedTime(src3, old)
    ManifestTable.PosixFileIO.promote(src3, dir.resolve("out/c.parquet"))
    assert(Files.getLastModifiedTime(dir.resolve("out/c.parquet")).toMillis >= begun - 1000L)
  }

  test("vacuum ownership lease: a held lease defers; a crash-expired lease is taken over (r9)") {
    val table = tmp()
    ManifestTable.append(Seq((1L, 2L)).toDF("a", "b"), table, None, 0L)
    // an unreferenced data file old enough to reap
    val root = Paths.get(table)
    val orphan = root.resolve("orphan.parquet")
    Files.write(orphan, Array[Byte](1, 2, 3))
    Files.setLastModifiedTime(orphan, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 3600_000L))
    // driver B (a second JVM in deployment) holds a live lease: this
    // driver's vacuum must DEFER — not compute a delete set under its own
    // process-local lock — and touch nothing
    val held = ManifestTable.acquireVacuumLease(table, ttlMillis = 60_000L,
      owner = "driver-B").get
    assert(ManifestTable.vacuum(table, graceSeconds = 0L) === -1L,
      "vacuum under another process's live lease must defer")
    assert(Files.exists(orphan), "a deferred vacuum must not delete anything")
    // driver B crashes mid-pass: its lease is never released and ages out.
    // Simulate with a short-TTL lease left unredeemed.
    Files.delete(held)
    val crashed = ManifestTable.acquireVacuumLease(table, ttlMillis = 50L,
      owner = "driver-B-crashed").get
    Thread.sleep(120L)
    val reaped = ManifestTable.vacuum(table, graceSeconds = 0L)
    assert(reaped >= 1L, s"post-expiry vacuum must take over and reap, got $reaped")
    assert(!Files.exists(orphan), "the orphan must be reclaimed by the takeover")
    assert(!Files.exists(crashed), "the superseded expired lease must be tidied away")
    // the takeover published (and then released) a HIGHER lease version —
    // no lease file survives a clean pass
    val leases = Files.list(root.resolve("_graft_manifest")).iterator()
    val names = { import scala.jdk.CollectionConverters._
      leases.asScala.map(_.getFileName.toString).filter(_.endsWith(".lease")).toList }
    assert(names.isEmpty, s"clean vacuum must release its lease, found $names")
  }

  test("rollup MV: OPTIMIZE runs online, interleaved with appends; re-merge stays exact") {
    implicit val sqlCtx = spark.sqlContext
    val table = tmp(); val cp = tmp()
    val src = MemoryStream[FlowMessage]
    val q = FlowStreams.startRollupMVManaged(src.toDF(), table, cp)
    // same baseTime: batches overlap the same 5-minute keys, so the fold is
    // doing real SummingMergeTree work, not concatenation
    val b1 = genBatch(300, seed = 31, baseTime = 1704067200L)
    val b2 = genBatch(300, seed = 32, baseTime = 1704067200L)
    val b3 = genBatch(300, seed = 33, baseTime = 1704067200L)

    src.addData(b1); q.processAllAvailable()
    FlowStreams.optimizeRollupOnline(spark, table)   // stream NOT stopped
    src.addData(b2); q.processAllAvailable()
    val midTotal = FlowStreams.readRollupManaged(spark, table)
      .agg(sum("sum_bytes")).head().getLong(0)
    assert(midTotal === (b1 ++ b2).map(_.bytes).sum)
    FlowStreams.optimizeRollupOnline(spark, table)
    src.addData(b3); q.processAllAvailable()
    q.stop()

    val all = (b1 ++ b2 ++ b3).toDS().toDF()
    val direct = FlowStreams.rollupPartials(all.coalesce(1))
    val merged = FlowStreams.readRollupManaged(spark, table)
    assert(merged.except(direct).isEmpty && direct.except(merged).isEmpty)

    // final OPTIMIZE folds to one row per key; vacuum drops the dead parts
    FlowStreams.optimizeRollupOnline(spark, table)
    assert(ManifestTable.vacuum(table, graceSeconds = 0) > 0)
    val after = FlowStreams.readRollupManaged(spark, table)
    assert(after.except(direct).isEmpty && direct.except(after).isEmpty)
    assert(ManifestTable.read(spark, table).count() === direct.count())
  }

  test("raw MV: part merge runs online; counts and sums survive; file count shrinks") {
    implicit val sqlCtx = spark.sqlContext
    val table = tmp(); val cp = tmp()
    val src = MemoryStream[FlowMessage]
    val q = FlowStreams.startRawMVManaged(src.toDF(), table, cp)
    val batches = (1 to 4).map(i => genBatch(100, seed = 40 + i, baseTime = 1704067200L))
    batches.take(3).foreach { b => src.addData(b); q.processAllAvailable() }
    val filesBefore = ManifestTable.snapshot(table)._2.size
    assert(filesBefore >= 3)
    FlowStreams.compactRawOnline(spark, table)       // stream NOT stopped
    src.addData(batches(3)); q.processAllAvailable() // appends keep landing
    q.stop()
    val live = ManifestTable.snapshot(table)._2
    assert(live.size < filesBefore + 1)
    val back = FlowStreams.readRawManaged(spark, table)
    assert(back.count() === 400)
    assert(back.agg(sum("bytes")).head().getLong(0) === batches.flatten.map(_.bytes).sum)
    ManifestTable.vacuum(table, graceSeconds = 0)
    // post-vacuum, on-disk files are exactly the live snapshot
    assert(parquetFiles(table).size === ManifestTable.snapshot(table)._2.size)
    assert(FlowStreams.readRawManaged(spark, table).count() === 400)
  }

  test("partition-selective compaction leaves cold partitions' files untouched") {
    val table = tmp()
    def append(id: Long, baseTime: Long, parts: Int): Unit =
      ManifestTable.append(
        genBatch(60, seed = 60 + id, baseTime).toDS().toDF().coalesce(parts)
          .transform(FlowStreams.projectRaw),
        table, Some("event_date"), id)
    // day 1 fragmented by three appends; day 2 a single cold file
    append(0, 1704067200L, 2); append(1, 1704067200L, 2); append(2, 1704067200L, 2)
    append(3, 1704153600L, 1)
    val before = ManifestTable.snapshot(table)._2
    val coldBefore = before.filter(_.startsWith("event_date=2024-01-02")).toSet
    assert(coldBefore.size === 1)
    assert(FlowStreams.compactRawOnline(spark, table, filesPerPartition = 1))
    val after = ManifestTable.snapshot(table)._2
    // cold partition: same file, not rewritten; hot partition: one new file
    assert(after.filter(_.startsWith("event_date=2024-01-02")).toSet === coldBefore)
    assert(after.count(_.startsWith("event_date=2024-01-01")) === 1)
    assert(ManifestTable.read(spark, table).count() === 240)
    // second cycle is a no-op (nothing fragmented): manifest version stable
    val v = ManifestTable.snapshot(table)._1
    assert(FlowStreams.compactRawOnline(spark, table, filesPerPartition = 1))
    assert(ManifestTable.snapshot(table)._1 === v)
  }

  test("restart recovery: resumed stream on the same checkpoint+manifest stays exactly-once") {
    val srcDir = Files.createTempDirectory("manifest_restart")
    val table = tmp(); val cp = tmp()
    def writePayload(name: String, msgs: Seq[FlowMessage]): Unit =
      Files.write(srcDir.resolve(name),
        msgs.flatMap(graft.sources.ProtoCodec.encodeDelimited).toArray)
    val b1 = genBatch(70, seed = 71, baseTime = 1704067200L)
    val b2 = genBatch(50, seed = 72, baseTime = 1704153600L)
    writePayload("a.bin", b1)
    val q1 = FlowStreams.startRawMVManaged(
      graft.sources.ProtoCodec.binaryFileStream(spark, srcDir.toString).toDF(), table, cp)
    q1.processAllAvailable(); q1.stop()
    // new wire files arrive while the query is down; the resumed query on
    // the SAME checkpoint processes exactly the remainder, committing on
    // top of the existing manifest (batch-id guard + checkpointed offsets)
    writePayload("b.bin", b2)
    val q2 = FlowStreams.startRawMVManaged(
      graft.sources.ProtoCodec.binaryFileStream(spark, srcDir.toString).toDF(), table, cp)
    q2.processAllAvailable(); q2.stop()
    val back = FlowStreams.readRawManaged(spark, table)
    assert(back.count() === 120)
    assert(back.agg(sum("bytes")).head().getLong(0) === (b1 ++ b2).map(_.bytes).sum)
  }

  test("batch replay is a no-op (exactly-once append)") {
    val table = tmp()
    val df = genBatch(50, seed = 50, baseTime = 1704067200L).toDS()
      .toDF().transform(FlowStreams.projectRaw)
    ManifestTable.append(df, table, Some("event_date"), batchId = 7L)
    val v1 = ManifestTable.snapshot(table)
    ManifestTable.append(df, table, Some("event_date"), batchId = 7L) // replay
    assert(ManifestTable.snapshot(table) === v1)
    assert(ManifestTable.read(spark, table).count() === 50)
  }

  test("replay guard survives compaction renaming every data file") {
    val table = tmp()
    val df = genBatch(50, seed = 52, baseTime = 1704067200L).toDS()
      .toDF().transform(FlowStreams.projectRaw)
    ManifestTable.append(df, table, Some("event_date"), batchId = 3L)
    // compaction swaps b3-* files out for c*-named ones — the guard must
    // key on the manifest-recorded batch id, not filenames
    assert(FlowStreams.compactRawOnline(spark, table, filesPerPartition = 1))
    assert(ManifestTable.snapshot(table)._2.forall(f => !f.contains("/b3-")))
    ManifestTable.append(df, table, Some("event_date"), batchId = 3L) // crash replay
    assert(ManifestTable.read(spark, table).count() === 50,
      "replayed batch after compaction must not duplicate")
    // and a batch that produced zero files is still absorbed
    val empty = df.filter(lit(false))
    ManifestTable.append(empty, table, Some("event_date"), batchId = 4L)
    assert(ManifestTable.maxBatchId(table) === 4L)
    ManifestTable.append(df, table, Some("event_date"), batchId = 4L) // replay w/ data
    assert(ManifestTable.read(spark, table).count() === 50)
  }

  test("uncommitted files are invisible to readers and removed by vacuum") {
    val table = tmp()
    val df = genBatch(60, seed = 51, baseTime = 1704067200L).toDS()
      .toDF().transform(FlowStreams.projectRaw)
    ManifestTable.append(df, table, Some("event_date"), batchId = 0L)
    // simulate a crash between staging and commit: an orphan data file
    val live = ManifestTable.snapshot(table)._2.head
    val orphan = Paths.get(table).resolve(live).resolveSibling("b99-orphan.parquet")
    Files.copy(Paths.get(table).resolve(live), orphan)
    assert(ManifestTable.read(spark, table).count() === 60)
    assert(ManifestTable.vacuum(table, graceSeconds = 0) === 1L)
    assert(!Files.exists(orphan))
    assert(ManifestTable.read(spark, table).count() === 60)
  }

  test("vacuum grace spares in-flight staged files, reaps old orphans") {
    val table = tmp()
    val df = genBatch(40, seed = 58, baseTime = 1704067200L).toDS()
      .toDF().transform(FlowStreams.projectRaw)
    ManifestTable.append(df, table, Some("event_date"), batchId = 0L)
    val live = ManifestTable.snapshot(table)._2.head
    // a FRESH unreferenced file = an append that staged but has not yet
    // committed; deleting it would break the commit that follows
    val inflight = Paths.get(table).resolve(live).resolveSibling("b42-inflight.parquet")
    Files.copy(Paths.get(table).resolve(live), inflight)
    assert(ManifestTable.vacuum(table) === 0L) // default grace: spared
    assert(Files.exists(inflight))
    // an OLD unreferenced file = a crash orphan; reaped
    Files.setLastModifiedTime(inflight,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600 * 1000L))
    assert(ManifestTable.vacuum(table) === 1L)
    assert(!Files.exists(inflight))
  }

  test("stale swap aborts: two compactions of the same snapshot never double the table") {
    val table = tmp()
    val df = genBatch(80, seed = 55, baseTime = 1704067200L).toDS()
      .toDF().transform(FlowStreams.projectRaw)
    ManifestTable.append(df, table, Some("event_date"), batchId = 0L)
    val snapshotFiles = ManifestTable.snapshot(table)._2
    val contents = ManifestTable.read(spark, table)
    // two compactions race from the SAME snapshot (the 50M scale run hit
    // this: the loser's retry re-applied its staged copy on top of the
    // winner's, doubling the table to exactly 2x)
    val first = ManifestTable.swap(contents, table, Some("event_date"), snapshotFiles)
    val second = ManifestTable.swap(
      ManifestTable.read(spark, table), table, Some("event_date"), snapshotFiles)
    assert(first === true)
    assert(second === false, "swap with a stale snapshot must abort")
    assert(ManifestTable.read(spark, table).count() === 80)
    // the aborted swap's staged files are gone from disk, not just invisible
    ManifestTable.vacuum(table, graceSeconds = 0)
    assert(parquetFiles(table).size === ManifestTable.snapshot(table)._2.size)
  }

  test("manifest metadata stays bounded across 1200 commits with GC running") {
    val table = tmp()
    Files.createDirectories(Paths.get(table))
    def manifestCount: Long = {
      val s = Files.list(Paths.get(table, "_graft_manifest"))
      try { import scala.jdk.CollectionConverters._
        s.iterator().asScala.count(_.toString.endsWith(".manifest")).toLong
      } finally s.close()
    }
    (1 to 1200).foreach { i =>
      ManifestTable.commit(table, absorbBatch = Some(i.toLong))(files =>
        // keep the live list small, like a compacting table would
        files.takeRight(4) :+ s"f$i.parquet")
      if (i % 100 == 0) ManifestTable.vacuum(table, graceSeconds = 0)
    }
    ManifestTable.vacuum(table, graceSeconds = 0)
    assert(manifestCount <= 101L, s"manifest metadata grew unbounded: $manifestCount files")
    val (v, files) = ManifestTable.snapshot(table)
    assert(v === 1200L)
    assert(files.last === "f1200.parquet")
    assert(ManifestTable.maxBatchId(table) === 1200L)
    // hint-file loss degrades to a listing, never to a wrong answer
    Files.delete(Paths.get(table, "_graft_manifest", "_latest.hint"))
    assert(ManifestTable.snapshot(table)._1 === 1200L)
    ManifestTable.commit(table)(files => files :+ "post-hint-loss.parquet")
    assert(ManifestTable.snapshot(table)._1 === 1201L)
  }

  test("empty committed table reads as empty DataFrame when schema is supplied") {
    val table = tmp()
    val df = genBatch(10, seed = 90, baseTime = 1704067200L).toDS()
      .toDF().transform(FlowStreams.projectRaw)
    // a batch that produced zero rows still commits (absorbs the batch id)
    ManifestTable.append(df.filter(lit(false)), table, Some("event_date"), batchId = 0L)
    assertThrows[IllegalArgumentException](ManifestTable.read(spark, table))
    val schema = df.schema
    val empty = ManifestTable.read(spark, table, emptySchema = Some(schema))
    assert(empty.isEmpty && empty.schema === schema)
  }

  test("concurrent commits: CAS retry keeps every committer's files") {
    val table = tmp()
    Files.createDirectories(Paths.get(table))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 40).map { i =>
        pool.submit(new Runnable {
          override def run(): Unit =
            ManifestTable.commit(table)(files => files :+ s"f$i.parquet")
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    val (v, files) = ManifestTable.snapshot(table)
    assert(v === 40L)
    assert(files.toSet === (1 to 40).map(i => s"f$i.parquet").toSet)
  }

  // RenameCas is deliberately NOT in this race: POSIX rename(2) silently
  // replaces an existing destination, so its no-overwrite contract only
  // holds on stores (HDFS) that natively reject it — exactly why the
  // link(2)-based primitive is the local default. (This race test is what
  // exposed the r3 ATOMIC_MOVE "CAS" as last-writer-wins across JVMs.)
  test("CAS primitives: exactly one of N racing publishers wins, content intact") {
    for (cas <- Seq(ManifestTable.ConditionalPutCas)) {
      val dir = Files.createTempDirectory("graft_cas")
      val target = dir.resolve("v1.manifest")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
      val barrier = new java.util.concurrent.CyclicBarrier(16)
      try {
        val wins = (1 to 16).map { i =>
          pool.submit(new java.util.concurrent.Callable[Boolean] {
            override def call(): Boolean = {
              barrier.await()
              cas.publish(target, s"writer-$i".getBytes("UTF-8"))
            }
          })
        }.map(_.get())
        assert(wins.count(identity) === 1, s"$cas: exactly one publish must win")
        val content = new String(Files.readAllBytes(target), "UTF-8")
        assert(content.matches("writer-\\d+"), s"$cas: winner's bytes must be intact")
        // no temp droppings left behind by the losers
        val leftovers = Files.list(dir)
        try {
          import scala.jdk.CollectionConverters._
          assert(leftovers.iterator().asScala.map(_.getFileName.toString).toList
            === List("v1.manifest"), s"$cas: losers must clean up")
        } finally leftovers.close()
      } finally pool.shutdown()
    }
  }

  test("conditional-PUT posture: full commit protocol (contention + swap-abort) green") {
    val table = tmp()
    Files.createDirectories(Paths.get(table))
    ManifestTable.setCasPrimitive(table, ManifestTable.ConditionalPutCas)
    try {
      // contended appends — every committer's delta survives CAS retries
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        (1 to 30).map { i =>
          pool.submit(new Runnable {
            override def run(): Unit =
              ManifestTable.commit(table)(files => files :+ s"f$i.parquet")
          })
        }.foreach(_.get())
      } finally pool.shutdown()
      val (v, files) = ManifestTable.snapshot(table)
      assert(v === 30L)
      assert(files.toSet === (1 to 30).map(i => s"f$i.parquet").toSet)
      // swap-abort: a swap whose inputs already left the manifest must not
      // commit (same invariant the rename posture enforces)
      val df = spark.range(3).toDF("n")
      val swallowed = ManifestTable.swap(df, table, None, replaced = Seq("f1.parquet"))
      assert(swallowed, "first swap of a live file commits")
      val stale = ManifestTable.swap(df, table, None, replaced = Seq("f1.parquet"))
      assert(!stale, "second swap of the same (now gone) file must abort")
    } finally ManifestTable.clearCasPrimitive(table)
  }

  test("manifest time stats: a 1-hour range on a multi-day table reads only overlapping files") {
    val table = tmp()
    val day = 86400L
    val t0 = 1704067200L
    def app(id: Long, base: Long, stats: Boolean = true): Unit =
      ManifestTable.append(
        genBatch(50, seed = 90 + id, baseTime = base).toDS().toDF()
          .transform(FlowStreams.projectRaw).coalesce(1),
        table, Some("event_date"), id,
        statsCol = if (stats) Some("timeReceived") else None)
    // three days of appends, day 3 fragmented by a second batch
    app(0, t0); app(1, t0 + day); app(2, t0 + 2 * day); app(3, t0 + 2 * day + 7200)
    val (_, entries) = ManifestTable.snapshotEntries(table)
    assert(entries.size === 4)
    assert(entries.forall(_.stats.exists(_._1 == "timeReceived")),
      "every append must record footer (min,max) in its manifest entry")
    // a 1-hour dashboard window on day 2: ONE file of four overlaps
    val got = FlowStreams.readRawManagedRange(spark, table, t0 + day, t0 + day + 3600)
    val oracle = ManifestTable.read(spark, table)
      .filter(col("timeReceived") >= t0 + day && col("timeReceived") < t0 + day + 3600)
    assert(got.count() === oracle.count() && got.count() === 50)
    val (sel, tot) = ManifestTable.lastPruneStats(table).get
    assert(tot === 4 && sel === 1,
      s"manifest stats must skip non-overlapping files before any footer read: $sel of $tot")
    // a stat-less append (legacy writer) is conservatively KEPT by every
    // range read, and results stay exact
    app(4, t0 + 3 * day, stats = false)
    val got2 = FlowStreams.readRawManagedRange(spark, table, t0 + day, t0 + day + 3600)
    assert(got2.count() === 50)
    val (sel2, tot2) = ManifestTable.lastPruneStats(table).get
    assert(tot2 === 5 && sel2 === 2, "stat-less file must be kept conservatively")
    // online compaction re-records bounds: day-3's two fragments merge into
    // one file that still carries stats, and range skipping keeps working
    assert(FlowStreams.compactRawOnline(spark, table, filesPerPartition = 1))
    val (_, after) = ManifestTable.snapshotEntries(table)
    val day3 = after.filter(_.path.startsWith("event_date=2024-01-03"))
    assert(day3.size === 1 && day3.head.stats.exists(_._1 == "timeReceived"),
      "compaction must preserve manifest stats for merged files")
    val got3 = FlowStreams.readRawManagedRange(spark, table,
      t0 + 2 * day, t0 + 2 * day + 3600)
    assert(got3.count() === 50) // first day-3 batch only (second is +2h)
    val (sel3, tot3) = ManifestTable.lastPruneStats(table).get
    assert(sel3 < tot3)
  }

  test("managed rollup: timeslot stats skip cold partial files; re-merge stays exact") {
    val table = tmp()
    val day = 86400L
    val t0 = 1704067200L
    (0 to 2).foreach { d =>
      ManifestTable.append(
        FlowStreams.rollupPartials(
          genBatch(60, seed = 120 + d, baseTime = t0 + d * day).toDS().toDF()).coalesce(1),
        table, Some("event_date"), d.toLong, statsCol = Some("timeslot"))
    }
    val got = FlowStreams.readRollupManagedRange(spark, table, t0 + day, t0 + 2 * day)
    val oracle = FlowStreams.readRollupManaged(spark, table)
      .filter(col("timeslot") >= t0 + day && col("timeslot") < t0 + 2 * day)
    assert(got.count() > 0)
    assert(got.except(oracle).isEmpty && oracle.except(got).isEmpty)
    val (sel, tot) = ManifestTable.lastPruneStats(table).get
    assert(tot === 3 && sel === 1,
      s"day-2 range must read only day-2's partial file: $sel of $tot")
  }

  test("readPruned anchors the partition column: a suffix name keeps files conservatively") {
    import spark.implicits._
    val table = tmp()
    ManifestTable.append(
      Seq((1L, 10L), (2L, 20L)).toDF("id", "bucket").withColumn("event_date", col("bucket")),
      table, Some("event_date"), 0L)
    // probing on "date" — a SUFFIX of the real partition column — must not
    // misclassify "event_date=…" files as date-partitioned and drop them
    // (r8 review: unanchored contains() did exactly that)
    val pruned = ManifestTable.readPruned(spark, table, "date", Set("999"))
    assert(pruned.select("id").as[Long].collect().toSet === Set(1L, 2L),
      "files not partitioned by the probed column are kept conservatively")
  }

  test("vacuum reaps aged .stage orphans whole (droppings included), spares young ones") {
    val table = tmp()
    val df = genBatch(30, seed = 140, baseTime = 1704067200L).toDS()
      .toDF().transform(FlowStreams.projectRaw)
    ManifestTable.append(df, table, Some("event_date"), batchId = 0L)
    // a crashed writer's scratch: parquet + _SUCCESS/.crc droppings
    val orphan = Paths.get(table, ".stage-deadbeef")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    Files.write(orphan.resolve("_SUCCESS"), Array.emptyByteArray)
    // young: untouchable (a writer may be mid-stage)
    assert(ManifestTable.vacuum(table) === 0L)
    assert(Files.isDirectory(orphan))
    // aged: the WHOLE dir goes, not just the parquet (pre-r8 sweep left
    // _SUCCESS droppings accumulating forever)
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3600 * 1000L)
    Files.list(orphan).forEach(p => Files.setLastModifiedTime(p, old))
    assert(ManifestTable.vacuum(table) >= 1L)
    assert(!Files.exists(orphan), "aged stage orphan must be reaped whole")
    assert(ManifestTable.read(spark, table).count() === 30)
  }

  test("appendAllocate: concurrent appenders all land (id allocated inside the CAS)") {
    val table = tmp()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      (1 to 8).map { i =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            ManifestTable.appendAllocate(
              spark.range(10 * i, 10 * i + 10).toDF("n"), table, None)
            ()
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    // a maxBatchId+1 read OUTSIDE the commit would have let colliding ids
    // no-op as "replays", silently dropping appenders' rows (r8 review)
    assert(ManifestTable.read(spark, table).count() === 80,
      "every concurrent appender's rows must land exactly once")
    assert(ManifestTable.maxBatchId(table) === 7L, "ids 0..7 allocated densely")
  }

  test("range read with zero overlapping files returns empty, not an error") {
    val table = tmp()
    ManifestTable.append(
      genBatch(40, seed = 130, baseTime = 1704067200L).toDS().toDF()
        .transform(FlowStreams.projectRaw).coalesce(1),
      table, Some("event_date"), 0L, statsCol = Some("timeReceived"))
    // a quiet/future window is a legitimate empty result for a dashboard
    val empty = FlowStreams.readRawManagedRange(spark, table,
      1704067200L + 30 * 86400L, 1704067200L + 31 * 86400L)
    assert(empty.isEmpty)
    assert(empty.schema.fieldNames.contains("timeReceived"))
    val (sel, tot) = ManifestTable.lastPruneStats(table).get
    assert(sel === 0 && tot === 1)
  }

  test("mixed layout: flat legacy appends + partitioned appends read as one table") {
    import spark.implicits._
    val table = tmp()
    Files.createDirectories(Paths.get(table))
    // legacy era: unpartitioned appends at the table root
    ManifestTable.append(Seq((1L, 10L)).toDF("id", "bucket"), table, None, 0L)
    // upgraded era: bucket-partitioned appends
    ManifestTable.append(
      Seq((2L, 20L), (3L, 30L)).toDF("id", "bucket").withColumn("bkt", col("bucket")),
      table, Some("bkt"), 1L)
    // read() must union both layouts (one basePath read would fail
    // partition discovery); legacy rows surface the partition col as null
    val all = ManifestTable.read(spark, table)
    assert(all.select("id").as[Long].collect().toSet === Set(1L, 2L, 3L))
    assert(all.filter(col("bkt").isNull).select("id").as[Long].collect().toSeq === Seq(1L))
    // a pruned probe keeps legacy files conservatively AND the probed bucket
    val pruned = ManifestTable.readPruned(spark, table, "bkt", Set("20"))
    assert(pruned.select("id").as[Long].collect().toSet === Set(1L, 2L),
      "probe = matching bucket + conservative legacy files")
    // compaction folds a fragmented bucket and leaves the flat legacy file
    // alone: a partitioned rewrite would misfile it
    ManifestTable.append(
      Seq((4L, 20L)).toDF("id", "bucket").withColumn("bkt", col("bucket")),
      table, Some("bkt"), 2L)
    def reads(): (Set[String], Set[String]) = (
      ManifestTable.read(spark, table).collect().map(_.toString).toSet,
      ManifestTable.readPruned(spark, table, "bkt", Set("20")).collect().map(_.toString).toSet)
    val before = reads()
    val flat = ManifestTable.snapshot(table)._2.filterNot(_.contains('/'))
    assert(flat.size === 1)
    assert(ManifestTable.compact(spark, table, Some("bkt"), None)(
      (rows, n) => rows.repartition(n, col("bkt"))))
    val after = ManifestTable.snapshot(table)._2
    assert(flat.forall(after.contains), s"the flat file must stay: $after")
    assert(after.count(_.startsWith("bkt=20/")) === 1, s"bucket 20 folded: $after")
    assert(reads() === before, "compaction must not change what reads return")
  }

  // ----------------------------------------------- CAS fault injection
  // The store-side crash matrix: the protocol must recover from a
  // publisher dying at ANY point around the conditional PUT. Each fake
  // wraps a real primitive and kills the "driver" at a chosen instant;
  // they are parameterized on the delegate so the same matrix runs
  // against BOTH storage postures (POSIX link(2) CAS and the rename-free
  // object-store emulation below).

  /** Crash AFTER the store persisted the object (ack lost). */
  private final class CrashAfterPublish(delegate: ManifestTable.CasPrimitive)
      extends ManifestTable.CasPrimitive {
    def publish(target: java.nio.file.Path, bytes: Array[Byte]): Boolean = {
      val ok = delegate.publish(target, bytes)
      if (ok) throw new RuntimeException("injected: crash after publish")
      ok
    }
  }

  /** Crash mid-upload: a partial temp object exists, nothing published. */
  private final class CrashBeforePublish extends ManifestTable.CasPrimitive {
    def publish(target: java.nio.file.Path, bytes: Array[Byte]): Boolean = {
      // parent dirs are the key→path mapping artifact (the object-store
      // posture never mkdirs; a real store materializes the key directly)
      Files.createDirectories(target.getParent)
      Files.write(target.getParent.resolve(s".put-partial-${java.util.UUID.randomUUID()}"),
        bytes.take(bytes.length / 2)) // half-written upload left behind
      throw new RuntimeException("injected: crash before publish")
    }
  }

  /** First attempt loses the CAS to a competing writer injected at the
    * worst moment (after this writer read its snapshot); then heals. */
  private final class LoseOnceToCompetitor(competing: Array[Byte],
      delegate: ManifestTable.CasPrimitive) extends ManifestTable.CasPrimitive {
    var injected = false
    def publish(target: java.nio.file.Path, bytes: Array[Byte]): Boolean = {
      if (!injected) {
        injected = true
        assert(delegate.publish(target, competing),
          "competitor must win the free name")
      }
      delegate.publish(target, bytes)
    }
  }

  // ------------------------------------- object-store FileIO emulation
  // The rename-free storage emulation lives in [[ObjectStoreTestIO]]
  // (shared with the component suites that prove whole managed-table
  // features — ANN indexes, streaming near-dup — run object-store-posture
  // end-to-end). The crash matrix below passing on it proves the manifest
  // protocol needs exactly the documented primitives and nothing
  // rename-shaped.
  private def withObjectStore[T](table: String)(f: ObjectStoreTestIO => T): T =
    ObjectStoreTestIO.withObjectStore(table)(f)

  test("object-store posture: append/read/replay/compaction-swap protocol green, rename-free") {
    val table = tmp()
    withObjectStore(table) { _ =>
      val df = genBatch(60, seed = 81, baseTime = 1704067200L).toDS()
        .toDF().transform(FlowStreams.projectRaw)
      ManifestTable.append(df, table, Some("event_date"), batchId = 0L)
      ManifestTable.append(df, table, Some("event_date"), batchId = 0L) // replay: no-op
      assert(ManifestTable.read(spark, table).count() === 60)
      ManifestTable.append(df, table, Some("event_date"), batchId = 1L)
      assert(ManifestTable.read(spark, table).count() === 120)
      // compactor race: winner swaps, stale loser aborts, no doubling
      val snap = ManifestTable.snapshot(table)._2
      assert(FlowStreams.compactRawOnline(spark, table, filesPerPartition = 1))
      val stale = ManifestTable.swap(
        ManifestTable.read(spark, table), table, Some("event_date"), snap)
      assert(!stale, "stale swap must abort under the object-store posture")
      assert(ManifestTable.read(spark, table).count() === 120)
      // vacuum reaps the aborted swap's staged copies and compacted-away
      // inputs; survivors are exactly the live snapshot
      ManifestTable.vacuum(table, graceSeconds = 0)
      assert(parquetFiles(table).size === ManifestTable.snapshot(table)._2.size)
      assert(ManifestTable.read(spark, table).count() === 120)
    }
  }

  test("object-store posture: crash AFTER publish = committed; replay is a no-op") {
    val table = tmp()
    withObjectStore(table) { store =>
      ManifestTable.setCasPrimitive(table, new CrashAfterPublish(store.cas))
      val df = spark.range(10).toDF("n")
      intercept[RuntimeException] { ManifestTable.append(df, table, None, batchId = 0L) }
      ManifestTable.setCasPrimitive(table, store.cas)
      assert(ManifestTable.maxBatchId(table) === 0L, "commit survived the crash")
      assert(ManifestTable.read(spark, table).count() === 10L)
      val snap = ManifestTable.snapshot(table)
      ManifestTable.append(spark.range(99).toDF("n"), table, None, batchId = 0L)
      assert(ManifestTable.snapshot(table) === snap, "replay must change nothing")
    }
  }

  test("object-store posture: crash BEFORE publish = invisible; retry lands one copy; vacuum reaps temps") {
    val table = tmp()
    withObjectStore(table) { store =>
      ManifestTable.setCasPrimitive(table, new CrashBeforePublish)
      val df = spark.range(10).toDF("n")
      intercept[RuntimeException] { ManifestTable.append(df, table, None, batchId = 0L) }
      ManifestTable.setCasPrimitive(table, store.cas)
      assert(ManifestTable.maxBatchId(table) === -1L)
      assert(parquetFiles(table).nonEmpty, "the crashed attempt staged data files")
      ManifestTable.append(df, table, None, batchId = 0L)
      assert(ManifestTable.read(spark, table).count() === 10L)
      ManifestTable.vacuum(table, graceSeconds = 0L)
      assert(ManifestTable.read(spark, table).count() === 10L)
      assert(parquetFiles(table).size === ManifestTable.snapshot(table)._2.size)
      val mdir = Paths.get(table, "_graft_manifest")
      val s = Files.list(mdir)
      try { import scala.jdk.CollectionConverters._
        assert(s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith(".put-partial-")).isEmpty, "partial uploads must be vacuumed")
      } finally s.close()
    }
  }

  test("object-store posture: CAS loss to a mid-commit competitor retries onto the fresh snapshot") {
    val table = tmp()
    withObjectStore(table) { store =>
      ManifestTable.commit(table)(files => files :+ "base.parquet")
      val competing = "#maxBatch:-1\nbase.parquet\ncompetitor.parquet".getBytes("UTF-8")
      ManifestTable.setCasPrimitive(table, new LoseOnceToCompetitor(competing, store.cas))
      ManifestTable.commit(table)(files => files :+ "mine.parquet")
      ManifestTable.setCasPrimitive(table, store.cas)
      val (v, files) = ManifestTable.snapshot(table)
      assert(v === 3L, "base + competitor + retried commit")
      assert(files.toSet === Set("base.parquet", "competitor.parquet", "mine.parquet"))
    }
  }

  test("object-store posture: hint loss degrades to a listing; metadata GC still bounds growth") {
    val table = tmp()
    withObjectStore(table) { _ =>
      (1 to 150).foreach { i =>
        ManifestTable.commit(table)(files => files.takeRight(2) :+ s"f$i.parquet")
      }
      ManifestTable.vacuum(table, graceSeconds = 0, retainManifests = 20)
      val s = Files.list(Paths.get(table, "_graft_manifest"))
      val manifests = try { import scala.jdk.CollectionConverters._
        s.iterator().asScala.count(_.toString.endsWith(".manifest"))
      } finally s.close()
      assert(manifests <= 21, s"manifest GC must bound metadata, got $manifests")
      Files.delete(Paths.get(table, "_graft_manifest", "_latest.hint"))
      assert(ManifestTable.snapshot(table)._1 === 150L)
      ManifestTable.commit(table)(files => files :+ "post-hint-loss.parquet")
      assert(ManifestTable.snapshot(table)._1 === 151L)
    }
  }

  test("fault injection: crash after publish = committed; replay of the batch is a no-op") {
    val table = tmp()
    Files.createDirectories(Paths.get(table))
    ManifestTable.setCasPrimitive(table,
      new CrashAfterPublish(ManifestTable.ConditionalPutCas))
    try {
      val df = spark.range(10).toDF("n")
      val thrown = intercept[RuntimeException] {
        ManifestTable.append(df, table, None, batchId = 0L)
      }
      assert(thrown.getMessage.contains("injected"))
    } finally ManifestTable.clearCasPrimitive(table)
    // the store persisted the manifest before the crash → the append IS
    // committed: readers see it, and the checkpoint replay must be a no-op
    assert(ManifestTable.maxBatchId(table) === 0L, "commit survived the crash")
    assert(ManifestTable.read(spark, table).count() === 10L)
    val snap = ManifestTable.snapshot(table)
    ManifestTable.append(spark.range(99).toDF("n"), table, None, batchId = 0L) // replay
    assert(ManifestTable.snapshot(table) === snap, "replay must change nothing")
    assert(ManifestTable.read(spark, table).count() === 10L)
  }

  test("fault injection: crash before publish = invisible; retry lands exactly one copy") {
    val table = tmp()
    Files.createDirectories(Paths.get(table))
    ManifestTable.setCasPrimitive(table, new CrashBeforePublish)
    val df = spark.range(10).toDF("n")
    try {
      intercept[RuntimeException] { ManifestTable.append(df, table, None, batchId = 0L) }
    } finally ManifestTable.clearCasPrimitive(table)
    // nothing committed: no readable snapshot, though orphan staged data
    // files and a partial temp upload sit in the table directory
    assert(ManifestTable.maxBatchId(table) === -1L)
    assert(parquetFiles(table).nonEmpty, "the crashed attempt staged data files")
    // retry (the checkpoint re-runs the batch) commits exactly one copy
    ManifestTable.append(df, table, None, batchId = 0L)
    assert(ManifestTable.read(spark, table).count() === 10L)
    // vacuum reaps the crashed attempt's orphans; the committed copy stays
    ManifestTable.vacuum(table, graceSeconds = 0L)
    assert(ManifestTable.read(spark, table).count() === 10L)
    val (_, committed) = ManifestTable.snapshot(table)
    assert(parquetFiles(table).size === committed.size,
      "vacuum must leave only manifest-referenced data files")
    // the half-written upload temp is gone too (manifest dir holds only
    // manifests + hint)
    val mdir = Paths.get(table, "_graft_manifest")
    val droppings = Files.list(mdir)
    try {
      import scala.jdk.CollectionConverters._
      assert(droppings.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(".put-partial-")).isEmpty,
        "partial uploads must be vacuumed")
    } finally droppings.close()
  }

  test("fault injection: CAS loss to a mid-commit competitor retries onto the fresh snapshot") {
    val table = tmp()
    Files.createDirectories(Paths.get(table))
    // seed a committed base version the competitor will build on
    ManifestTable.commit(table)(files => files :+ "base.parquet")
    val competing = "#maxBatch:-1\nbase.parquet\ncompetitor.parquet".getBytes("UTF-8")
    ManifestTable.setCasPrimitive(table,
      new LoseOnceToCompetitor(competing, ManifestTable.ConditionalPutCas))
    try {
      ManifestTable.commit(table)(files => files :+ "mine.parquet")
    } finally ManifestTable.clearCasPrimitive(table)
    val (v, files) = ManifestTable.snapshot(table)
    assert(v === 3L, "base + competitor + retried commit")
    assert(files.toSet === Set("base.parquet", "competitor.parquet", "mine.parquet"),
      "the retried delta must sit on top of the competitor's commit, losing nothing")
  }
}
