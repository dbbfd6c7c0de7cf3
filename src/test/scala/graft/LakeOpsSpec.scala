package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.ingest.Pipeline
import graft.queries.IngestQueries
import graft.sink.{GraftLog, LakeOps}

/** Lake-table semantics over the commit log: exactly-once re-ingest,
  * snapshot-isolated reads, time travel, compaction as a rewrite
  * snapshot, and snapshot-expiry GC.
  */
class LakeOpsSpec extends SparkSpec {

  private def writeBatch(root: String, comp: String, file: String, ids: Seq[Int]): Unit = {
    val dir = Paths.get(root, "events", comp)
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(file), ids.map(i =>
      s"""{"id":$i,"event_date":"2024-03-1${i % 10}","user_id":$i,"category":"c${i % 2}"}""")
      .mkString("\n"))
  }

  /** Snapshot `id` records exactly the rows held by the files it added. */
  private def assertRowsReadBack(tdir: String, id: Long): Unit = {
    val rec = GraftLog.records(tdir).find(_.snapshotId == id).get
    val added = GraftLog.liveFiles(tdir, Some(id)).diff(GraftLog.liveFiles(tdir, Some(id - 1)))
    val readBack =
      if (added.isEmpty) 0L
      else spark.read.option("basePath", tdir).parquet(added.map(f => s"$tdir/$f"): _*).count()
    assert(rec.rows == readBack, s"snapshot $id (${rec.op}) recorded ${rec.rows} rows, its files hold $readBack")
  }

  test("exactly-once: kept sources are not re-ingested on a second run") {
    val root = Files.createTempDirectory("graft_eo_").toString
    val tdir = s"$root/w/t"
    writeBatch(root, "c1", "a.json", Seq(1, 2, 3))
    val r1 = Pipeline.ingest(spark, root, "c1", IngestQueries.fixtureTable, tdir,
      deleteSources = false)
    assert(r1.commit.exists(_.rows == 3))
    // sources still on disk — a naive re-run would double-ingest
    val r2 = Pipeline.ingest(spark, root, "c1", IngestQueries.fixtureTable, tdir,
      deleteSources = false)
    assert(r2.commit.isEmpty && r2.sourceFiles.isEmpty)
    assert(LakeOps.readTable(spark, tdir).count() == 3)
    // a genuinely new file still ingests
    writeBatch(root, "c1", "b.json", Seq(4))
    val r3 = Pipeline.ingest(spark, root, "c1", IngestQueries.fixtureTable, tdir,
      deleteSources = false)
    assert(r3.commit.exists(_.rows == 1))
    assert(LakeOps.readTable(spark, tdir).count() == 4)
  }

  test("time travel: snapshots are readable as-of their id") {
    val root = Files.createTempDirectory("graft_tt_").toString
    val tdir = s"$root/w/t"
    writeBatch(root, "c1", "a.json", Seq(1, 2))
    Pipeline.ingest(spark, root, "c1", IngestQueries.fixtureTable, tdir)
    writeBatch(root, "c1", "b.json", Seq(3))
    Pipeline.ingest(spark, root, "c1", IngestQueries.fixtureTable, tdir)
    assert(GraftLog.records(tdir).map(_.snapshotId) == Seq(1L, 2L))
    assert(LakeOps.readSnapshot(spark, tdir, 1L).count() == 2)
    assert(LakeOps.readSnapshot(spark, tdir, 2L).count() == 3)
    // partition columns survive the explicit-file read
    assert(LakeOps.readSnapshot(spark, tdir, 2L).columns.contains("user_id_bucket"))
  }

  test("concurrent committers never lose a commit (atomic create-new + id retry)") {
    val tdir = Files.createTempDirectory("graft_cc_").toString
    val writers = 8
    val perWriter = 5
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val done = new java.util.concurrent.CountDownLatch(writers)
    (0 until writers).foreach { w =>
      pool.execute { () =>
        try (0 until perWriter).foreach { i =>
          GraftLog.commit(tdir, "append", 1L, Seq(s"f_${w}_$i.parquet"), Seq.empty)
        } catch { case t: Throwable => errs.add(t) }
        finally done.countDown()
      }
    }
    done.await()
    pool.shutdown()
    assert(errs.isEmpty, s"commit threw: ${errs.asScala.toList}")
    val recs = GraftLog.records(tdir)
    // every commit survived under a unique sequential id
    assert(recs.size == writers * perWriter)
    assert(recs.map(_.snapshotId).sorted == (1L to (writers * perWriter)).toSeq)
    assert(recs.flatMap(_.files).toSet.size == writers * perWriter)
    // no stray temp files left behind
    val leftovers = Files.list(GraftLog.logDir(tdir)).iterator().asScala
      .filterNot(_.getFileName.toString.endsWith(".json")).toSeq
    assert(leftovers.isEmpty)
  }

  test("barrier-start committers all pick the same id and still serialize losslessly (r5)") {
    // Sharper collision forcing than the loop test above: every writer
    // reads the (empty) log BEFORE any link is published, so all 16
    // choose snapshot id 1 and 15 of them MUST take the
    // FileAlreadyExists retry path.
    val tdir = Files.createTempDirectory("graft_barrier_").toString
    val writers = 16
    val barrier = new java.util.concurrent.CyclicBarrier(writers)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val done = new java.util.concurrent.CountDownLatch(writers)
    (0 until writers).foreach { w =>
      pool.execute { () =>
        try {
          barrier.await()
          GraftLog.commit(tdir, "append", 1L, Seq(s"w$w.parquet"), Seq.empty)
        } catch { case t: Throwable => errs.add(t) }
        finally done.countDown()
      }
    }
    done.await()
    pool.shutdown()
    assert(errs.isEmpty, s"commit threw: ${errs.asScala.toList}")
    val recs = GraftLog.records(tdir)
    assert(recs.map(_.snapshotId).sorted == (1L to writers).toSeq)
    assert(recs.flatMap(_.files).toSet == (0 until writers).map(w => s"w$w.parquet").toSet)
  }

  test("two-SESSION append/compact race: linearizable ledger, no lost rows, no dangling files, quarantine live (r6)") {
    // The property the id-CAS alone can NOT give: a compact planning
    // from snapshot B while an append commits B+1 must not publish a
    // rewrite that silently drops the appended file from the fold.
    // commitReplacing carries concurrent appends into the rewrite
    // (Iceberg RewriteFiles semantics) — this test races REAL parquet
    // writes from two SparkSessions and asserts no row is ever lost.
    import graft.sink.HiveParquetWriter
    val tdir = Files.createTempDirectory("graft_race2_").toString
    val sA = spark
    val sB = spark.newSession()
    val writer = new HiveParquetWriter
    def batch(s: org.apache.spark.sql.SparkSession, w: Int, i: Int) = {
      val sess = s
      import sess.implicits._
      Seq((w, i, s"w${w}_$i")).toDF("k", "seq", "v")
        .withColumn("p", (col("k") % 2).cast("string"))
    }
    writer.append(batch(sA, 9, 0), Seq("p"), tdir) // seed so compact #1 has content
    val appends = 10
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val appendsDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    var compactions = 0
    val tA = new Thread(() => {
      try (1 to appends).foreach { i =>
        writer.append(batch(sA, 0, i), Seq("p"), tdir)
      } catch { case t: Throwable => errs.add(t) }
      finally appendsDone.set(true)
    })
    val tB = new Thread(() => {
      try while (!appendsDone.get()) {
        try { LakeOps.compact(sB, tdir); compactions += 1 }
        catch { case _: java.util.ConcurrentModificationException => () } // stale plan: re-run next loop
      } catch { case t: Throwable => errs.add(t) }
    })
    tA.start(); tB.start()
    // a foreign torn write lands mid-race: must be quarantined, not
    // poison either racing writer
    Thread.sleep(50)
    val tornId = GraftLog.nextSnapshotId(tdir) + 3
    Files.writeString(GraftLog.logDir(tdir).resolve(f"$tornId%020d.json"), """{"snapsho""")
    tA.join(120000); tB.join(120000)
    assert(errs.isEmpty, s"racing writer threw: ${errs.asScala.toList}")
    assert(compactions > 0, "compactor never won a commit — race did not exercise the path")
    val recs = GraftLog.records(tdir)
    // linearizable ledger: contiguous ids, every append present exactly once
    assert(recs.map(_.snapshotId).sorted == (1L to recs.size).toSeq)
    assert(recs.count(_.op == "append") == appends + 1)
    // no lost rows: every appended (w, seq) pair survives every rewrite
    val finalRows = LakeOps.readTable(sA, tdir)
      .select("k", "seq").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val want = ((9, 0) +: (1 to appends).map((0, _))).toSet
    assert(finalRows == want, s"lost/duplicated rows: ${want.diff(finalRows)} missing")
    // no dangling file: every live file of every snapshot exists on disk
    recs.map(_.snapshotId).foreach { id =>
      GraftLog.liveFiles(tdir, Some(id)).foreach(f =>
        assert(Files.exists(Paths.get(tdir, f)), s"dangling $f at snapshot $id"))
    }
    // the torn write was quarantined, its id slot reused by a real commit
    val names = Files.list(GraftLog.logDir(tdir)).iterator().asScala
      .map(_.getFileName.toString).toSeq
    assert(names.exists(_.endsWith(".corrupt")), "torn write not quarantined")
  }

  test("upsert/delete/rollback abort with ConcurrentModificationException on a stale base (r6)") {
    // content-dependent rewrites must NOT carry concurrent appends (an
    // appended row could match the merge key / delete predicate the op
    // already decided about) — they abort for re-run instead
    import graft.sink.HiveParquetWriter
    val tdir = Files.createTempDirectory("graft_cme_").toString
    val writer = new HiveParquetWriter
    def df(i: Int) = {
      val sess = spark
      import sess.implicits._
      Seq((i, s"v$i")).toDF("k", "v").withColumn("p", lit("0"))
    }
    writer.append(df(1), Seq("p"), tdir)
    // simulate the race deterministically: plan from the current base,
    // then land an append before the replacing commit publishes
    val baseId = GraftLog.records(tdir).map(_.snapshotId).max
    writer.append(df(2), Seq("p"), tdir)
    intercept[java.util.ConcurrentModificationException] {
      GraftLog.commitReplacing(tdir, "overwrite", 1L, Seq("p=0/x.parquet"),
        Seq.empty, baseId, carryAppends = false)
    }
    // the same stale base WITH carryAppends (compact's mode) succeeds
    // and keeps the concurrent append's files live
    val rec = GraftLog.commitReplacing(tdir, "rewrite", 1L, Seq("p=0/x.parquet"),
      Seq.empty, baseId, carryAppends = true)
    val live = GraftLog.liveFiles(tdir, Some(rec.snapshotId))
    assert(live.contains("p=0/x.parquet"))
    assert(GraftLog.records(tdir).filter(_.snapshotId == 2L)
      .flatMap(_.files).forall(live.contains), "concurrent append dropped from fold")
  }

  test("randomized append/rewrite/torn-write sequences fold to the model (seeded, r5)") {
    // Property test of the whole log protocol: a seeded random mix of
    // appends, compacting rewrites, and foreign torn writes (including
    // REPEATED torn writes on the SAME id — the case that found the
    // fixed-name quarantine collision: with a constant `.corrupt`
    // suffix the second quarantine rename fails forever, the id stays
    // occupied-but-invisible, and commit() dies after 1000 retries).
    // Invariants per sequence: ids stay contiguous 1..n, liveFiles
    // equals a plain fold model, sources ledger is exact.
    val rnd = new scala.util.Random(20260812L)
    (0 until 10).foreach { iter =>
      val tdir = Files.createTempDirectory(s"graft_prop_$iter").toString
      var live = Vector.empty[String]
      var sources = Set.empty[String]
      var committed = 0
      var nf = 0
      (0 until 30).foreach { _ =>
        rnd.nextInt(5) match {
          case 0 | 1 | 2 =>
            val fs = (0 to rnd.nextInt(2)).map { _ => nf += 1; s"f$nf.parquet" }
            val srcs = if (rnd.nextBoolean()) Seq(s"s$nf") else Seq.empty
            GraftLog.commit(tdir, "append", fs.size.toLong, fs, srcs)
            live = live ++ fs.sorted
            sources ++= srcs
            committed += 1
          case 3 =>
            nf += 1
            val packed = s"packed$nf.parquet"
            GraftLog.commit(tdir, "rewrite", live.size.toLong, Seq(packed), Seq.empty)
            live = Vector(packed)
            committed += 1
          case 4 =>
            // foreign torn write at the CURRENT next id (often the same
            // id twice in a row when this branch repeats)
            Files.createDirectories(GraftLog.logDir(tdir))
            val id = GraftLog.nextSnapshotId(tdir)
            Files.writeString(GraftLog.logDir(tdir).resolve(f"$id%020d.json"),
              s"""{"snapshotId":$id,"op":"append","rows":3,"files":["torn""")
        }
      }
      val recs = GraftLog.records(tdir)
      assert(recs.map(_.snapshotId).sorted == (1L to committed).toSeq,
        s"iter $iter: ids ${recs.map(_.snapshotId).sorted}")
      assert(GraftLog.liveFiles(tdir).sorted == live.sorted, s"iter $iter live")
      assert(GraftLog.committedSources(tdir) == sources, s"iter $iter sources")
    }
  }

  test("a truncated log record is quarantined, not poisoning reads or commits") {
    val tdir = Files.createTempDirectory("graft_tr_").toString
    GraftLog.commit(tdir, "append", 2L, Seq("a.parquet"), Seq("s1"))
    // a foreign writer crashed mid-write: truncated JSON under a log name
    Files.writeString(GraftLog.logDir(tdir).resolve(f"${2L}%020d.json"),
      """{"snapshotId":2,"op":"append","rows":7,"files":["b.parq""")
    // reads skip it and keep the valid chain
    assert(GraftLog.records(tdir).map(_.snapshotId) == Seq(1L))
    assert(GraftLog.liveFiles(tdir, None) == Seq("a.parquet"))
    assert(GraftLog.committedSources(tdir) == Set("s1"))
    // it was moved aside for forensics, and the id is free again
    val names = Files.list(GraftLog.logDir(tdir)).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(names.exists(_.endsWith(".corrupt")))
    val rec = GraftLog.commit(tdir, "append", 3L, Seq("c.parquet"), Seq.empty)
    assert(rec.snapshotId == 2L)
    assert(GraftLog.liveFiles(tdir, None).sorted == Seq("a.parquet", "c.parquet"))
  }

  test("an append with more partition keys than shuffle partitions writes on several tasks, one file per directory") {
    val tdir = Files.createTempDirectory("graft_par_").toString + "/t"
    val keys = 32
    assert(keys > spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val df = spark.range(0, 3200).withColumn("k", (col("id") % keys).cast("string"))
    // stages whose tasks wrote rows, and each completed stage's task count
    val writeStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && e.taskMetrics.outputMetrics.recordsWritten > 0)
          writeStages.add(e.stageId): Unit
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stageTasks.put(e.stageInfo.stageId, e.stageInfo.numTasks): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    val c = try {
      val c = new graft.sink.HiveParquetWriter().append(df, Seq("k"), tdir)
      // listener events arrive asynchronously; a stage's completion is
      // posted after all of its task ends
      val deadline = System.nanoTime() + 30L * 1000000000L
      while ((writeStages.isEmpty || !writeStages.asScala.forall(stageTasks.containsKey)) &&
          System.nanoTime() < deadline) Thread.sleep(50)
      c
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(writeStages.size == 1, s"stages that wrote rows: $writeStages")
    assert(stageTasks.get(writeStages.asScala.head) > 1, "the write stage ran on one task")
    assert(c.files.size == keys)
    assert(c.files.groupBy(_.split("/").head).values.forall(_.size == 1))
    assert(c.rows == 3200L)
    assertRowsReadBack(tdir, c.snapshotId)
  }

  test("a write that fails mid-job leaves no staging directory and no snapshot") {
    val boom = udf((x: Long) => if (x == 17L) throw new IllegalStateException("boom") else x)
    val df = spark.range(0, 100).withColumn("k", (col("id") % 4).cast("string"))
      .withColumn("id", boom(col("id")))
    // partitioned: the UDF fails before the shuffle; unpartitioned: it
    // fails inside the write tasks, after the staging dir exists
    for (partitionCols <- Seq(Seq("k"), Seq.empty[String])) {
      val tdir = Files.createTempDirectory("graft_fail_").toString + "/t"
      intercept[Exception](new graft.sink.HiveParquetWriter().append(df, partitionCols, tdir))
      assert(!Files.list(Paths.get(tdir)).iterator().asScala
        .exists(_.getFileName.toString.startsWith("_staging_")), s"partitionCols=$partitionCols")
      assert(GraftLog.records(tdir).isEmpty)
    }
  }

  test("a partitioned append starts no process; files are rw-r--r--, partition dirs rwxr-xr-x, no .crc or _SUCCESS") {
    val tdir = Files.createTempDirectory("graft_nofork_").toString + "/t"
    val df = spark.range(0, 3200).withColumn("k", (col("id") % 32).cast("string"))
    val recording = new jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart")
    val dump = Files.createTempFile("graft_nofork_", ".jfr")
    val c = try {
      recording.start()
      new graft.sink.HiveParquetWriter().append(df, Seq("k"), tdir)
    } finally {
      recording.stop()
      recording.dump(dump)
      recording.close()
    }
    // only commands naming this table: suites running alongside may fork
    val forks = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
      .filter(cmd => cmd != null && cmd.contains(tdir)).toSeq
    assert(forks.size == 0, s"processes started, e.g. ${forks.headOption.getOrElse("")}")
    assert(c.files.size == 32)
    val root = Paths.get(tdir)
    def mode(p: java.nio.file.Path) =
      java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    c.files.foreach(f => assert(mode(root.resolve(f)) == "rw-r--r--", f))
    c.files.map(f => root.resolve(f).getParent).distinct
      .foreach(d => assert(mode(d) == "rwxr-xr-x", d))
    val names = Files.walk(root).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(!names.exists(n => n.endsWith(".crc") || n == "_SUCCESS"))
  }

  test("PosixLocalFileSystem.setPermission sets exactly the requested mode bits") {
    val fs = new graft.sink.PosixLocalFileSystem
    fs.initialize(fs.getUri, new org.apache.hadoop.conf.Configuration())
    val f = Files.createTempFile("graft_perm_", ".bin")
    for ((octal, want) <- Seq("644" -> "rw-r--r--", "755" -> "rwxr-xr-x", "600" -> "rw-------")) {
      fs.setPermission(new org.apache.hadoop.fs.Path(graft.sink.PosixLocalFileSystem.uriOf(f)),
        new org.apache.hadoop.fs.permission.FsPermission(Integer.parseInt(octal, 8).toShort))
      assert(java.nio.file.attribute.PosixFilePermissions.toString(
        Files.getPosixFilePermissions(f)) == want, octal)
    }
  }

  test("expireSnapshots leaves an in-flight append's staged files alone") {
    val tdir = Files.createTempDirectory("graft_exp_stage_").toString + "/t"
    val df = spark.range(0, 10).withColumn("k", (col("id") % 2).cast("string"))
    val c = new graft.sink.HiveParquetWriter().append(df, Seq("k"), tdir)
    val root = Paths.get(tdir)
    // a staged file of an append still running, and an unreachable data file
    val staged = root.resolve("_staging_x/k=0/part-00000-x.parquet")
    Files.createDirectories(staged.getParent)
    Files.copy(root.resolve(c.files.head), staged)
    Files.copy(root.resolve(c.files.head), root.resolve("k=0/orphan.parquet"))
    assert(LakeOps.expireSnapshots(tdir, keepLast = 1) == Seq("k=0/orphan.parquet"))
    assert(Files.exists(staged))
    assert(c.files.forall(f => Files.exists(root.resolve(f))))
  }

  test("compact on an empty live set commits nothing: no snapshot yet, and after a full-table delete") {
    val tdir = Files.createTempDirectory("graft_cp_empty_").toString + "/t"
    assert(LakeOps.compact(spark, tdir) == graft.sink.CommitInfo(0, Seq.empty, 0))
    assert(GraftLog.records(tdir).isEmpty)
    val df = spark.range(0, 10).withColumn("k", (col("id") % 2).cast("string"))
    new graft.sink.HiveParquetWriter().append(df, Seq("k"), tdir)
    LakeOps.delete(spark, tdir, lit(true), Seq("k"))
    val snapshots = GraftLog.records(tdir).size
    assert(LakeOps.compact(spark, tdir) == graft.sink.CommitInfo(0, Seq.empty, 0))
    assert(GraftLog.records(tdir).size == snapshots)
  }

  test("batch ingest and streaming micro-batches interleave on one table without losing commits") {
    val root = Files.createTempDirectory("graft_mix_").toString
    val tdir = s"$root/w/t"
    val table = IngestQueries.fixtureTable
    // batch append
    writeBatch(root, "c1", "a.json", Seq(1, 2))
    Pipeline.ingest(spark, root, "c1", IngestQueries.fixtureTable, tdir, deleteSources = false)
    // streaming micro-batch lands between two batch appends
    writeBatch(root, "c2", "s.json", Seq(11, 12, 13))
    val sbatch = Pipeline.decode(spark, table, Pipeline.listPending(root, "c2"))
    graft.streaming.StreamingIngest.appendBatch(
      new graft.sink.HiveParquetWriter, sbatch, table, tdir, s"$root/ckpt", batchId = 0L)
    // second batch append
    writeBatch(root, "c1", "b.json", Seq(3))
    Pipeline.ingest(spark, root, "c1", IngestQueries.fixtureTable, tdir, deleteSources = false)
    val recs = GraftLog.records(tdir)
    assert(recs.map(_.snapshotId) == Seq(1L, 2L, 3L))
    assert(recs.map(_.op).forall(_ == "append"))
    assert(recs(1).sources == Seq(s"stream:$root/ckpt:0"))
    recs.foreach(r => assertRowsReadBack(tdir, r.snapshotId))
    assert(LakeOps.readTable(spark, tdir).select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 11L, 12L, 13L))
  }

  test("compact bin-packs to one file per partition; old snapshot still readable; expiry GCs") {
    val root = Files.createTempDirectory("graft_cp_").toString
    val tdir = s"$root/w/t"
    // two appends → ≥2 files in overlapping partitions
    writeBatch(root, "c1", "a.json", Seq(1, 3))   // category c1
    Pipeline.ingest(spark, root, "c1", IngestQueries.fixtureTable, tdir)
    writeBatch(root, "c1", "b.json", Seq(5, 7))   // category c1 again
    Pipeline.ingest(spark, root, "c1", IngestQueries.fixtureTable, tdir)
    val before = LakeOps.readTable(spark, tdir)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val preCompactFiles = GraftLog.liveFiles(tdir, None)

    val c = LakeOps.compact(spark, tdir)
    assert(c.snapshotId == 3L)
    assert(c.rows == before.size)
    assertRowsReadBack(tdir, c.snapshotId)
    val live = GraftLog.liveFiles(tdir, None)
    // one file per partition directory now
    val dirsOf = (fs: Seq[String]) => fs.groupBy(_.split("/").dropRight(1).mkString("/"))
    assert(dirsOf(live).forall(_._2.size == 1))
    assert(live.size < preCompactFiles.size || preCompactFiles.size == live.size)
    // same rows after compaction
    val after = LakeOps.readTable(spark, tdir)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(after == before)
    // snapshot isolation: snapshot 2 still reads the OLD files
    assert(LakeOps.readSnapshot(spark, tdir, 2L)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq == before)

    // expire all but the latest → replaced files GC'd, current read intact
    val deleted = LakeOps.expireSnapshots(tdir, keepLast = 1)
    assert(deleted.nonEmpty)
    assert(LakeOps.readTable(spark, tdir)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq == before)
    // the old files are really gone from disk
    val onDisk = Files.walk(Paths.get(tdir)).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .map(p => Paths.get(tdir).relativize(p).toString).toSet
    assert(onDisk == live.toSet)
  }

  test("upsert: touched partitions rewritten, untouched carried byte-identical, old snapshot intact (r5)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_up_").toString
    val tdir = s"$root/w/t"
    val w = new graft.sink.HiveParquetWriter
    val s1 = w.append(Seq((1L, "c1", 10L), (2L, "c1", 20L), (3L, "c2", 30L))
      .toDF("id", "category", "v"), Seq("category"), tdir).snapshotId
    val liveBefore = GraftLog.liveFiles(tdir, Some(s1))

    // update key 2 (partition c1), insert key 7 (new partition c3)
    val s2 = LakeOps.upsert(spark, tdir,
      Seq((2L, "c1", 25L), (7L, "c3", 70L)).toDF("id", "category", "v"),
      keyCols = Seq("id"), partitionCols = Seq("category")).snapshotId
    assertRowsReadBack(tdir, s2) // rewrite scope: c1 (ids 1, 2) + c3 (id 7)
    assert(GraftLog.records(tdir).last.rows == 3L)
    val got = LakeOps.readTable(spark, tdir)
      .select(col("id"), col("category").cast("string"), col("v"))
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "c1", 10L), (2L, "c1", 25L), (3L, "c2", 30L), (7L, "c3", 70L)))
    // the untouched c2 file carried over under its ORIGINAL path;
    // touched c1 was rewritten (its old file is no longer live)
    val liveAfter = GraftLog.liveFiles(tdir, Some(s2))
    val c2Before = liveBefore.filter(_.startsWith("category=c2/"))
    assert(c2Before.nonEmpty && c2Before.forall(liveAfter.contains))
    assert(liveBefore.filter(_.startsWith("category=c1/")).forall(f => !liveAfter.contains(f)))
    // snapshot isolation: the pre-merge snapshot still reads old values
    assert(LakeOps.readSnapshot(spark, tdir, s1)
      .select(col("id"), col("v")).as[(Long, Long)].collect().sortBy(_._1).toSeq
      == Seq((1L, 10L), (2L, 20L), (3L, 30L)))

    // a second upsert stacks (update the inserted key)
    LakeOps.upsert(spark, tdir, Seq((7L, "c3", 77L)).toDF("id", "category", "v"),
      keyCols = Seq("id"), partitionCols = Seq("category"))
    assert(LakeOps.readTable(spark, tdir)
      .agg(sum(col("v")).cast("long")).head().getLong(0) == 10L + 25L + 30L + 77L)

    // empty update batch = no snapshot (Q10 rule)
    val before = GraftLog.records(tdir).size
    val noop = LakeOps.upsert(spark, tdir,
      Seq.empty[(Long, String, Long)].toDF("id", "category", "v"),
      keyCols = Seq("id"), partitionCols = Seq("category"))
    assert(noop.snapshotId == 0L && GraftLog.records(tdir).size == before)
  }

  test("schema evolution: added column reads as null for old rows; time travel keeps the old schema (r5)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_se_").toString
    val tdir = s"$root/w/t"
    val w = new graft.sink.HiveParquetWriter
    val s1 = w.append(Seq((1L, "c1", 10L)).toDF("id", "category", "v"),
      Seq("category"), tdir).snapshotId
    val s2 = w.append(Seq((2L, "c1", 20L, "x"), (3L, "c2", 30L, "y"))
      .toDF("id", "category", "v", "w"), Seq("category"), tdir).snapshotId
    // current read: union schema, pre-evolution rows null in the new column
    val cur = LakeOps.readTable(spark, tdir)
      .select(col("id"), col("v"), col("w")).as[(Long, Long, Option[String])]
      .collect().sortBy(_._1).toSeq
    assert(cur == Seq((1L, 10L, None), (2L, 20L, Some("x")), (3L, 30L, Some("y"))))
    // time travel to the pre-evolution snapshot: the column doesn't exist
    val old = LakeOps.readSnapshot(spark, tdir, s1)
    assert(!old.columns.contains("w"))
    assert(old.select("id").as[Long].collect().toSeq == Seq(1L))
    // maintenance still works across the evolved schema
    val c = LakeOps.compact(spark, tdir)
    assert(LakeOps.readSnapshot(spark, tdir, c.snapshotId)
      .select(col("id"), col("w")).as[(Long, Option[String])]
      .collect().sortBy(_._1).toSeq
      == Seq((1L, None), (2L, Some("x")), (3L, Some("y"))))

    // upsert INTO a partition holding both pre- and post-evolution
    // files must see the union schema (mergeSchema on its internal
    // read), and an update batch omitting the evolved column
    // null-fills it (whole-row replacement)
    val w2 = new graft.sink.HiveParquetWriter
    val tdir2 = s"$root/w/t2"
    w2.append(Seq((1L, "c1", 10L)).toDF("id", "category", "v"), Seq("category"), tdir2)
    w2.append(Seq((2L, "c1", 20L, "x")).toDF("id", "category", "v", "w"),
      Seq("category"), tdir2)
    LakeOps.upsert(spark, tdir2, Seq((1L, "c1", 11L)).toDF("id", "category", "v"),
      keyCols = Seq("id"), partitionCols = Seq("category"))
    assert(LakeOps.readTable(spark, tdir2)
      .select(col("id"), col("v"), col("w")).as[(Long, Long, Option[String])]
      .collect().sortBy(_._1).toSeq
      == Seq((1L, 11L, None), (2L, 20L, Some("x"))))
  }

  test("upsert matches escaped partition directories (special characters in values) (r5)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_esc_").toString
    val tdir = s"$root/w/t"
    val w = new graft.sink.HiveParquetWriter
    // values Spark's write path escapes in directory names
    w.append(Seq((1L, "a/b", 10L), (2L, "x y", 20L), (3L, "plain", 30L))
      .toDF("id", "category", "v"), Seq("category"), tdir)
    LakeOps.upsert(spark, tdir, Seq((1L, "a/b", 11L)).toDF("id", "category", "v"),
      keyCols = Seq("id"), partitionCols = Seq("category"))
    // the stale row must be gone (prefix matched the ESCAPED dir name)
    assert(LakeOps.readTable(spark, tdir)
      .select(col("id"), col("v")).as[(Long, Long)].collect().sortBy(_._1).toSeq
      == Seq((1L, 11L), (2L, 20L), (3L, 30L)))
  }

  test("delete: COW scope on escaped dirs, null predicate survives, noop, full wipe (r5)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_del_").toString
    val tdir = s"$root/w/t"
    val w = new graft.sink.HiveParquetWriter
    w.append(Seq((1L, "a/b", Some(10L)), (2L, "a/b", Some(20L)),
      (3L, "x y", None: Option[Long]), (4L, "plain", Some(40L)))
      .toDF("id", "category", "v"), Seq("category"), tdir)
    val s1 = GraftLog.records(tdir).map(_.snapshotId).max
    // predicate TRUE on id 2 (escaped dir a/b) and on v>=35 (plain);
    // NULL on id 3's v — which must SURVIVE (SQL DELETE semantics)
    val d1 = LakeOps.delete(spark, tdir, col("id") === 2L || col("v") >= 35L,
      partitionCols = Seq("category"))
    assert(d1.rows == 2)
    assertRowsReadBack(tdir, d1.snapshotId) // survivors rewritten: id 1
    assert(LakeOps.readTable(spark, tdir).select("id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    // untouched partition "x y" carried byte-identical; old snapshot intact
    val sharedXy = GraftLog.liveFiles(tdir, Some(s1))
      .intersect(GraftLog.liveFiles(tdir, Some(d1.snapshotId)))
    assert(sharedXy.size == 1 && sharedXy.head.startsWith("category=x y/"))
    assert(LakeOps.readSnapshot(spark, tdir, s1).count() == 4)
    // no-match predicate → no snapshot at all (Q10 rule)
    val records = GraftLog.records(tdir).size
    val noop = LakeOps.delete(spark, tdir, col("id") === 99L, Seq("category"))
    assert(noop.snapshotId == 0 && noop.rows == 0)
    assert(GraftLog.records(tdir).size == records)
    // full wipe: live set reaches zero files and the table reads empty
    val wipe = LakeOps.delete(spark, tdir, lit(true), Seq("category"))
    assert(wipe.rows == 2)
    assert(GraftLog.liveFiles(tdir, None).isEmpty)
    assert(LakeOps.readTable(spark, tdir).count() == 0)
  }

  test("rollback: restores old content as a forward commit; itself roll-back-able (r5)") {
    import spark.implicits._
    import graft.sink.HiveParquetWriter
    val tdir = Files.createTempDirectory("graft_rb_spec_").toString + "/t"
    val w = new HiveParquetWriter
    val s1 = w.append(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "category", "v"),
      Seq("category"), tdir).snapshotId
    val s2 = LakeOps.upsert(spark, tdir,
      Seq((2L, "b", 99L)).toDF("id", "category", "v"),
      keyCols = Seq("id"), partitionCols = Seq("category")).snapshotId
    assert(LakeOps.readTable(spark, tdir)
      .agg(sum(col("v"))).head().getLong(0) == 109L)
    // rollback to pre-upsert content: a NEW snapshot, not history erasure
    val rb = LakeOps.rollback(tdir, s1)
    assert(rb.snapshotId > s2)
    assert(LakeOps.readTable(spark, tdir)
      .agg(sum(col("v"))).head().getLong(0) == 30L)
    // the rolled-back-over snapshot remains time-travel-readable
    assert(LakeOps.readSnapshot(spark, tdir, s2)
      .agg(sum(col("v"))).head().getLong(0) == 109L)
    // and the rollback is itself roll-back-able (roll forward again)
    LakeOps.rollback(tdir, s2)
    assert(LakeOps.readTable(spark, tdir)
      .agg(sum(col("v"))).head().getLong(0) == 109L)
    // unknown snapshot refused
    intercept[IllegalArgumentException] { LakeOps.rollback(tdir, 999L) }
  }

  test("incremental read: exact deltas, empty-range and rewrite-range refusal (r5)") {
    import spark.implicits._
    import graft.sink.HiveParquetWriter
    val tdir = Files.createTempDirectory("graft_incr_spec_").toString + "/t"
    val w = new HiveParquetWriter
    val s1 = w.append(Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("id", "category", "v"),
      Seq("category"), tdir).snapshotId
    val s2 = w.append(Seq((3L, "a", 3L)).toDF("id", "category", "v"),
      Seq("category"), tdir).snapshotId
    // from-the-beginning delta (from = 0, before the first snapshot)
    assert(LakeOps.readIncremental(spark, tdir, 0L, s1)
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // single-snapshot delta
    assert(LakeOps.readIncremental(spark, tdir, s1, s2)
      .select("id").as[Long].collect().toSeq == Seq(3L))
    // empty range refuses (nothing to read is a caller bug, not an
    // empty frame — Iceberg raises too)
    intercept[IllegalArgumentException] {
      LakeOps.readIncremental(spark, tdir, s2, s2)
    }
    // a rewrite inside the range refuses; after it, deltas work again
    val s3 = LakeOps.compact(spark, tdir).snapshotId
    intercept[IllegalArgumentException] {
      LakeOps.readIncremental(spark, tdir, s1, s3)
    }
    val s4 = w.append(Seq((4L, "b", 4L)).toDF("id", "category", "v"),
      Seq("category"), tdir).snapshotId
    assert(LakeOps.readIncremental(spark, tdir, s3, s4)
      .select("id").as[Long].collect().toSeq == Seq(4L))
  }

  test("diffSnapshots: changelog tags all four classes; rewrites are invisible (r5)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft_df_").toString
    val tdir = s"$root/w/t"
    val w = new graft.sink.HiveParquetWriter
    val s1 = w.append(
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
        .toDF("id", "category", "v"), Seq("category"), tdir).snapshotId

    // compaction-only range: content identical → every row unchanged
    val s2 = LakeOps.compact(spark, tdir).snapshotId
    val onlyCompact = LakeOps.diffSnapshots(spark, tdir, s1, s2, Seq("id"))
    assert(onlyCompact.where(col("change") =!= "unchanged").count() == 0L)
    assert(onlyCompact.count() == 3L)

    // update 2, insert 4, delete 3 — with another rewrite inside the range
    LakeOps.upsert(spark, tdir, Seq((2L, "a", 21L), (4L, "b", 40L))
      .toDF("id", "category", "v"), Seq("id"), Seq("category"))
    LakeOps.compact(spark, tdir)
    val s5 = LakeOps.delete(spark, tdir, col("id") === 3L, Seq("category")).snapshotId
    val tags = LakeOps.diffSnapshots(spark, tdir, s1, s5, Seq("id"))
      .select(col("id"), col("change")).as[(Long, String)].collect().toMap
    assert(tags == Map(1L -> "unchanged", 2L -> "updated",
      3L -> "deleted", 4L -> "inserted"))

    // full-table delete → empty endpoint: the changelog degenerates to
    // all-'deleted' instead of tripping the schema-change guard
    val s6 = LakeOps.delete(spark, tdir, lit(true), Seq("category")).snapshotId
    val wiped = LakeOps.diffSnapshots(spark, tdir, s5, s6, Seq("id"))
    assert(wiped.where(col("change") =!= "deleted").count() == 0L)
    assert(wiped.count() == 3L) // ids 1, 2, 4 all deleted
  }

  test("readPruned == full scan + filter for every range; footer stats drive the skip (r5)") {
    import spark.implicits._
    import graft.sink.HiveParquetWriter
    val tdir = Files.createTempDirectory("graft_prune_").toString + "/t"
    val w = new HiveParquetWriter
    w.append(Seq((1L, "a", 10L), (2L, "a", 25L)).toDF("id", "category", "v"),
      Seq("category"), tdir)
    w.append(Seq((3L, "b", 40L), (4L, "b", 55L)).toDF("id", "category", "v"),
      Seq("category"), tdir)
    w.append(Seq((5L, "c", 70L), (6L, "c", 95L)).toDF("id", "category", "v"),
      Seq("category"), tdir)
    // footer stats reproduce the written ranges exactly
    val stats = LakeOps.fileStats(tdir, "v").flatMap(_._2).sortBy(_._1)
    assert(stats == Seq((10L, 25L), (40L, 55L), (70L, 95L)))
    // physical-only contract: every range, including empty and
    // boundary-exact ones, matches the logical full scan + filter
    // physical-only contract holds WITHOUT caller special cases: the
    // fully-pruned frame keeps the table schema (empty but typed), and
    // (41,48] scans a stats-intersecting file that matches zero rows
    for ((lo, hi) <- Seq((10L, 95L), (25L, 40L), (26L, 39L), (0L, 9L),
      (55L, 55L), (41L, 100L), (41L, 48L))) {
      val (pruned, scanned, live) = LakeOps.readPruned(spark, tdir, "v", lo, hi)
      assert(live == 3 && scanned <= live)
      val want = LakeOps.readTable(spark, tdir)
        .filter(col("v") >= lo && col("v") <= hi)
        .select("id").as[Long].collect().sorted.toSeq
      val got = pruned.select("id").as[Long].collect().sorted.toSeq
      assert(got == want, s"range [$lo,$hi]: pruned=$got full=$want")
    }
    // a range touching no file opens no file
    assert(LakeOps.readPruned(spark, tdir, "v", 26L, 39L)._2 == 0)
    // a boundary-exact range opens exactly its file
    assert(LakeOps.readPruned(spark, tdir, "v", 55L, 55L)._2 == 1)
    // a stats-hit zero-row-match range scans 1 file, returns 0 rows
    val zr = LakeOps.readPruned(spark, tdir, "v", 41L, 48L)
    assert(zr._2 == 1 && zr._1.count() == 0L)
    // schema-evolved live set: pruning must not lose the added column
    // to one arbitrary pre-evolution footer (mergeSchema contract)
    w.append(Seq((7L, "d", 110L, 9L, "x")).toDF("id", "category", "v", "score", "note"),
      Seq("category"), tdir)
    val (evo, _, _) = LakeOps.readPruned(spark, tdir, "v", 10L, 200L)
    assert(evo.columns.contains("score"))
    assert(evo.filter(col("score").isNull).count() == 6L) // pre-evolution rows
    // non-INT64 stats column fails fast with a clear message
    val err = intercept[IllegalArgumentException](
      LakeOps.fileStats(tdir, "note"))
    assert(err.getMessage.contains("note"))
  }
}
