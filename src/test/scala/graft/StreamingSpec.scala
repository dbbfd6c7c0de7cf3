package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.queries.IngestQueries
import graft.streaming.StreamingIngest

/** Structured-Streaming ingest variant: AvailableNow drains the same
  * fixture tree through the shared decode/transform/sink path and
  * stops; a second run with the same checkpoint is a no-op (exactly-
  * once over the file source).
  */
class StreamingSpec extends SparkSpec {

  test("AvailableNow drains fixtures into the lake and checkpoints") {
    val root = Files.createTempDirectory("graft_stream_").toString
    IngestQueries.writeFixtures(root)
    val tableDir = s"$root/warehouse/t"
    val ckpt = s"$root/ckpt"

    val q = StreamingIngest.ingestAvailableNow(
      spark, root, "comp1", IngestQueries.fixtureTable, tableDir, ckpt)
    q.awaitTermination(120000)
    assert(!q.isActive)

    val back = spark.read.parquet(tableDir)
    assert(back.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 5L))
    // each micro-batch's commit rows are counted by its own write
    assert(graft.sink.GraftLog.records(tableDir).map(_.rows).sum == 4L)
    // partition columns flowed through the shared path
    assert(back.filter(col("event_date_day") === "2024-03-15" &&
      col("user_id_bucket") === "10").count() == 1)

    // re-run against the same checkpoint: no new input → no new snapshot
    val q2 = StreamingIngest.ingestAvailableNow(
      spark, root, "comp1", IngestQueries.fixtureTable, tableDir, ckpt)
    q2.awaitTermination(120000)
    assert(spark.read.parquet(tableDir).count() == 4)
  }

  test("a replayed micro-batch does not double-append (crash between append and checkpoint)") {
    val root = Files.createTempDirectory("graft_replay_").toString
    IngestQueries.writeFixtures(root)
    val tableDir = s"$root/warehouse/t"
    val ckpt = s"$root/ckpt"
    val table = IngestQueries.fixtureTable
    val batch = graft.ingest.Pipeline.decode(spark, table,
      graft.ingest.Pipeline.listPending(root, "comp1"))

    // foreachBatch is at-least-once: simulate the replay by running the
    // same (checkpoint, batchId) append twice — exactly what a restart
    // after a pre-checkpoint crash does
    StreamingIngest.appendBatch(new graft.sink.HiveParquetWriter, batch,
      table, tableDir, ckpt, batchId = 0L)
    val rows = spark.read.parquet(tableDir).count()
    assert(rows > 0)
    StreamingIngest.appendBatch(new graft.sink.HiveParquetWriter, batch,
      table, tableDir, ckpt, batchId = 0L)
    assert(spark.read.parquet(tableDir).count() == rows)
    assert(graft.sink.GraftLog.records(tableDir).size == 1)
    // a genuinely new batch id still appends
    StreamingIngest.appendBatch(new graft.sink.HiveParquetWriter, batch,
      table, tableDir, ckpt, batchId = 1L)
    assert(spark.read.parquet(tableDir).count() == 2 * rows)
  }

  test("crash-restart recovery: kill mid-drain after a committed batch, restart, exactly-once lake content (r7)") {
    // The claim a 100 TB deployment leans on: a REAL restart from the
    // checkpoint — not a simulated double-call — lands the lake in
    // exactly the no-crash state. The crash is injected at the
    // at-least-once window's worst point: AFTER batch 1's lake commit,
    // BEFORE Spark writes batch 1's checkpoint commit — so the restart
    // REPLAYS batch 1 and only the stream:<ckpt>:<batchId> fence in
    // the commit ledger stands between the table and a double-append.
    import org.apache.spark.sql.streaming.Trigger
    import graft.sink.{GraftLog, HiveParquetWriter}
    val table = IngestQueries.fixtureTable
    val root = Files.createTempDirectory("graft_crash_").toString
    val inDir = java.nio.file.Paths.get(root, "events", "comp1")
    Files.createDirectories(inDir)
    // four 1-row files → four micro-batches under maxFilesPerTrigger=1
    (0 until 4).foreach { i =>
      Files.writeString(inDir.resolve(f"f$i%d.json"),
        s"""{"id":${i + 1},"event_date":"2024-03-1${i + 1}","user_id":${10 * i},"category":"c$i"}""")
    }
    def drain(tableDir: String, ckpt: String, crashAtBatch: Long): Unit = {
      val q = StreamingIngest.readStream(spark, root, "comp1", table,
          cleanSource = false, maxFilesPerTrigger = 1)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          StreamingIngest.appendBatch(new HiveParquetWriter, batch, table,
            tableDir, ckpt, batchId)
          if (batchId == crashAtBatch)
            throw new RuntimeException("injected crash after lake commit")
        }
        .start()
      if (crashAtBatch >= 0)
        intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.awaitTermination()
        }
      else { q.awaitTermination(120000); assert(!q.isActive) }
    }
    // run 1: dies after batch 1's lake commit (batch 0 fully committed)
    val crashedDir = s"$root/warehouse/crashed"
    val ckpt = s"$root/ckpt"
    drain(crashedDir, ckpt, crashAtBatch = 1L)
    val afterCrash = GraftLog.records(crashedDir)
    assert(afterCrash.size == 2, "crash point must land after batch 1's lake commit")
    // run 2: restart from the SAME checkpoint — batch 1 replays and must
    // be fenced, batches 2-3 drain fresh
    drain(crashedDir, ckpt, crashAtBatch = -1L)
    // golden: the same input drained with no crash into a fresh lake
    val goldenDir = s"$root/warehouse/golden"
    drain(goldenDir, s"$root/ckpt_golden", crashAtBatch = -1L)
    def content(dir: String): Seq[(Long, String)] =
      spark.read.parquet(dir).select(col("id"), col("category"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(content(crashedDir) == content(goldenDir),
      "restart diverged from the no-crash run")
    assert(content(crashedDir).map(_._1) == Seq(1L, 2L, 3L, 4L))
    // exactly one ledger commit per micro-batch; the replayed batch did
    // not commit twice (fence keys pairwise distinct, one per batch)
    val keys = GraftLog.records(crashedDir).flatMap(_.sources)
    assert(keys.size == 4 && keys.distinct.size == 4,
      s"expected 4 distinct fence keys, got $keys")
  }

  test("streaming MERGE crash-restart: kill between lake commit and checkpoint on an upsert batch, restart, exactly-once (r8)") {
    // The r7 crash-restart spec proved the APPEND path; this is the same
    // kill-at-worst-point harness on the MERGE path, where the fence is
    // correctness-critical rather than dedup hygiene: an unfenced
    // replayed MERGE re-commits as a new overwrite snapshot (and, if
    // replay ever lands after a later batch, resurrects stale values —
    // the r5 spec pins that half). Crash is injected AFTER batch 1's
    // MERGE commit, BEFORE its checkpoint commit; restart replays batch
    // 1 and the stream:<ckpt>:<batchId> ledger key must skip it.
    import org.apache.spark.sql.streaming.Trigger
    import graft.sink.{GraftLog, LakeOps}
    val root = Files.createTempDirectory("graft_merge_crash_").toString
    val inDir = java.nio.file.Paths.get(root, "changes")
    Files.createDirectories(inDir)
    // four 1-row change records; f2 UPDATES key 1 across the crash point
    val changes = Seq(
      """{"id":1,"category":"a","v":10}""",
      """{"id":2,"category":"b","v":20}""",
      """{"id":1,"category":"a","v":15}""",
      """{"id":3,"category":"b","v":30}""")
    changes.zipWithIndex.foreach { case (j, i) =>
      val p = Files.writeString(inDir.resolve(f"f$i%d.json"), j)
      // strictly increasing mtimes, 1 s apart (r8 advice): the final
      // state assertion needs f2's update to key 1 processed AFTER f0 —
      // FileStreamSource orders by millisecond mtime and four same-ms
      // writes fall back to listing order, which can flake it
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 1000L))
    }
    def readChanges = spark.readStream
      .schema("id LONG, category STRING, v LONG")
      .option("maxFilesPerTrigger", 1)
      .json(inDir.toString)
    def drain(tableDir: String, ckpt: String, crashAtBatch: Long): Unit = {
      val q = readChanges.writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          StreamingIngest.upsertBatch(batch, tableDir,
            keyCols = Seq("id"), partitionCols = Seq("category"), ckpt, batchId)
          if (batchId == crashAtBatch)
            throw new RuntimeException("injected crash after MERGE commit")
        }
        .start()
      if (crashAtBatch >= 0)
        intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.awaitTermination()
        }
      else { q.awaitTermination(120000); assert(!q.isActive) }
    }
    val crashedDir = s"$root/warehouse/crashed"
    val ckpt = s"$root/ckpt"
    drain(crashedDir, ckpt, crashAtBatch = 1L)
    assert(GraftLog.records(crashedDir).size == 2,
      "crash point must land after batch 1's MERGE commit")
    // restart from the same checkpoint: batch 1 replays fenced, 2-3 fresh
    drain(crashedDir, ckpt, crashAtBatch = -1L)
    // golden: same changelog, no crash, fresh lake + checkpoint
    val goldenDir = s"$root/warehouse/golden"
    drain(goldenDir, s"$root/ckpt_golden", crashAtBatch = -1L)
    def state(dir: String): Map[Long, Long] =
      LakeOps.readTable(spark, dir).select(col("id"), col("v"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(state(crashedDir) == state(goldenDir),
      "restart diverged from the no-crash MERGE run")
    assert(state(crashedDir) == Map(1L -> 15L, 2L -> 20L, 3L -> 30L))
    // exactly one overwrite commit per micro-batch — the replayed batch
    // did not re-commit (fence keys pairwise distinct, one per batch)
    val recs = GraftLog.records(crashedDir)
    assert(recs.map(_.op).forall(_ == "overwrite"))
    val keys = recs.flatMap(_.sources)
    assert(keys.size == 4 && keys.distinct.size == 4,
      s"expected 4 distinct fence keys, got $keys")
  }

  test("streaming MERGE: per-batch upsert, last-writer-wins, replay fenced (r5)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sink.{GraftLog, LakeOps}
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_stream_merge_")
    val tableDir = root.toString + "/t"
    val ckpt = root.toString + "/ckpt"
    def state: Map[Long, Long] =
      LakeOps.readTable(spark, tableDir).select(col("id"), col("v").cast("long"))
        .as[(Long, Long)].collect().toMap
    // batch 1: initial keys; batch 2: updates key 2, inserts key 3
    val in = MemoryStream[(Long, String, Long)]
    in.addData((1L, "a", 10L), (2L, "b", 20L))
    val q1 = StreamingIngest.upsertAvailableNow(
      in.toDF().toDF("id", "category", "v"), tableDir,
      keyCols = Seq("id"), partitionCols = Seq("category"), ckpt)
    q1.awaitTermination()
    assert(state == Map(1L -> 10L, 2L -> 20L))
    in.addData((2L, "b", 25L), (3L, "a", 30L))
    val q2 = StreamingIngest.upsertAvailableNow(
      in.toDF().toDF("id", "category", "v"), tableDir,
      keyCols = Seq("id"), partitionCols = Seq("category"), ckpt)
    q2.awaitTermination()
    assert(state == Map(1L -> 10L, 2L -> 25L, 3L -> 30L))
    // one overwrite snapshot per micro-batch, each carrying its fence key
    val recs = GraftLog.records(tableDir)
    assert(recs.map(_.op) == Seq("overwrite", "overwrite"))
    assert(recs.flatMap(_.sources) ==
      Seq(s"stream:$ckpt:0", s"stream:$ckpt:1"))
    // replay fencing: re-running batch 0's MERGE after batch 1 committed
    // must NOT resurrect the old value of key 2
    val replay = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "category", "v")
    StreamingIngest.upsertBatch(replay, tableDir, Seq("id"), Seq("category"),
      ckpt, batchId = 0L)
    assert(state(2L) == 25L, "replayed batch resurrected a stale value")
    assert(GraftLog.records(tableDir).size == 2)
  }
}
