package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.ingest.{Pipeline, PartitionFieldSpec, TableDef}
import graft.queries.IngestQueries
import graft.sink.HiveParquetWriter
import graft.types._

/** End-to-end ingest pipeline behaviors — the FIXTURES.md §B golden
  * contract: the seven fixture cases, Hive layout with
  * reference-faithful value rendering (A18), commit-log emulation
  * (A21/Q6), and post-commit source deletion (A22 with Q5 fixed).
  */
class IngestSpec extends SparkSpec {

  private def freshRun(): (String, String) = {
    val root = Files.createTempDirectory("graft_ingest_spec_").toString
    IngestQueries.writeFixtures(root)
    val tableDir = s"$root/warehouse/t"
    Pipeline.ingest(spark, root, "comp1", IngestQueries.fixtureTable, tableDir)
    (root, tableDir)
  }

  test("fixture ingest: malformed dropped, comp2 untouched, 4 rows land") {
    val (_, tableDir) = freshRun()
    val back = spark.read.parquet(tableDir)
    val ids = back.select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L, 5L)) // Q7: line 4 dropped; comp2's id=999 absent
  }

  test("13-type coercion round-trip of the fully-populated row") {
    val (_, tableDir) = freshRun()
    val r = spark.read.parquet(tableDir).filter(col("id") === 1).collect()(0)
    assert(r.getAs[java.sql.Date]("event_date").toString == "2024-03-15")
    // TIME → nanos-of-day: 10:23:45 = 37425s
    assert(r.getAs[Long]("event_time") == 37425L * 1000000000L)
    assert(r.getAs[Long]("user_id") == 42L)
    assert(r.getAs[String]("category") == "web")
    assert(r.getAs[java.math.BigDecimal]("amount").toPlainString == "123.45")
    assert(r.getAs[Double]("score") == 0.9)
    assert(r.getAs[Float]("ratio") == 0.5f)
    assert(r.getAs[Int]("count") == 7)
    assert(r.getAs[Boolean]("flag"))
    val payload = r.getAs[org.apache.spark.sql.Row]("payload")
    assert(payload.getAs[Int]("a") == 1 && payload.getAs[String]("b") == "x")
    assert(payload.getAs[scala.collection.Seq[Double]]("c") == Seq(1.5, 2.5))
    assert(payload.getAs[Map[String, Int]]("d") == Map("k" -> 3))
    assert(r.getAs[scala.collection.Seq[String]]("tags") == Seq("t1", "t2"))
    assert(r.getAs[Map[String, String]]("attrs") == Map("k1" -> "v1"))
  }

  test("missing fields → null columns and null partition dirs (Q8), extra keys dropped (A5)") {
    val (_, tableDir) = freshRun()
    val back = spark.read.parquet(tableDir)
    val r2 = back.filter(col("id") === 2).collect()(0)
    assert(r2.isNullAt(r2.fieldIndex("event_date")))
    assert(r2.isNullAt(r2.fieldIndex("category")))
    val r3 = back.filter(col("id") === 3).collect()(0)
    assert(r3.getAs[String]("category") == "api") // extra keys didn't break the row
    assert(!back.columns.contains("unknown_key"))
  }

  test("Hive layout renders reference-faithful partition values (A18 + Q4)") {
    val (_, tableDir) = freshRun()
    val dirs = Files.walk(Paths.get(tableDir)).iterator().asScala
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSet
    // day → ISO date path; null partition → name=null (not Spark's default)
    assert(dirs.contains("event_date_day=2024-03-15"))
    assert(dirs.contains("event_date_day=null"))
    // bucket[16] of user_id=42: Long.hashCode(42)=42 → 42 % 16 = 10
    assert(dirs.contains("user_id_bucket=10"))
    assert(dirs.contains("category_identity=web"))
    assert(dirs.contains("category_identity=null"))
  }

  test("commit log records one snapshot per batch with files + row count (A21, Q6 fixed)") {
    val (_, tableDir) = freshRun()
    val logs = Files.list(Paths.get(tableDir, "_graft_log")).iterator().asScala.toSeq
    assert(logs.size == 1) // one batch → ONE snapshot, not per file×partition
    val json = Files.readString(logs.head)
    assert(json.contains("\"snapshotId\":1") && json.contains("\"rows\":4"))
    assert(json.contains("event_date_day=2024-03-15"))
  }

  test("sources deleted after commit; comp2 and re-ingest are no-ops (A22, Q5 fixed, Q10)") {
    val (root, tableDir) = freshRun()
    assert(Pipeline.listPending(root, "comp1").isEmpty) // consumed incl. empty.json? no:
    // empty.json has no rows but IS a pending source — it must be consumed too.
    assert(!Files.exists(Paths.get(root, "events", "comp1", "batch-0.json")))
    assert(Files.exists(Paths.get(root, "events", "comp2", "x.json"))) // A1 prefix filter
    val again = Pipeline.ingest(spark, root, "comp1", IngestQueries.fixtureTable, tableDir)
    assert(again.commit.isEmpty && again.sourceFiles.isEmpty)
    assert(spark.read.parquet(tableDir).count() == 4) // idempotent re-run
  }

  /** Ingest one all-malformed file into a fresh table: (result, table dir). */
  private def ingestAllMalformed(): (graft.ingest.IngestResult, String) = {
    val root = Files.createTempDirectory("graft_bad_").toString
    val tdir = s"$root/w/t"
    val comp = Paths.get(root, "events", "bad")
    Files.createDirectories(comp)
    Files.writeString(comp.resolve("a.json"), "{\"id\": 1,\n not json\n{{{\n")
    (Pipeline.ingest(spark, root, "bad", IngestQueries.fixtureTable, tdir), tdir)
  }

  test("an all-malformed input commits no snapshot and leaves no staging directory (Q10)") {
    val (r, tdir) = ingestAllMalformed()
    assert(r.commit.isEmpty && r.sourceFiles.size == 1)
    assert(graft.sink.GraftLog.records(tdir).isEmpty)
    assert(!Files.list(Paths.get(tdir)).iterator().asScala
      .exists(_.getFileName.toString.startsWith("_staging_")))
  }

  test("readTable of a table with no snapshot yet is the empty frame") {
    val (_, tdir) = ingestAllMalformed()
    val t = graft.sink.LakeOps.readTable(spark, tdir)
    assert(t.columns.isEmpty && t.isEmpty)
  }

  test("reads of the ingested table prune partitions on the partition column") {
    val (_, tableDir) = freshRun()
    val q = spark.read.parquet(tableDir).filter(col("category_identity") === "web")
    val plan = q.queryExecution.executedPlan.toString
    // Hive-layout partition columns filter at the FILE INDEX, not per-row
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("category_identity"),
      s"partition filter not pruned:\n$plan")
    assert(q.count() == 1)
  }

  test("month path rendering recovers yyyy-MM from the Q2 ordinal") {
    val root = Files.createTempDirectory("graft_month_").toString
    val tdir = s"$root/w/t"
    val comp = Paths.get(root, "events", "m1")
    Files.createDirectories(comp)
    Files.writeString(comp.resolve("a.json"),
      """{"id":1,"event_date":"2024-03-15","user_id":1}""")
    val table = IngestQueries.fixtureTable.copy(partitionSpec =
      Seq(PartitionFieldSpec("event_date", "month"), PartitionFieldSpec("event_date", "year")))
    Pipeline.ingest(spark, root, "m1", table, tdir)
    val dirs = Files.walk(Paths.get(tdir)).iterator().asScala
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSet
    assert(dirs.contains("event_date_month=2024-03")) // App.java:122-127 rendering
    assert(dirs.contains("event_date_year=2024"))
  }

  test("ingest_e2e query entry returns the 4 rows deterministically") {
    val df = SparkEntry.queries("ingest_e2e")(spark, sfDir)
    val rows = df.collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 5L))
  }

  test("stream_ingest_e2e: streaming runtime converges byte-for-byte with batch ingest") {
    val batch = SparkEntry.queries("ingest_e2e")(spark, sfDir)
    val stream = SparkEntry.queries("stream_ingest_e2e")(spark, sfDir)
    assert(stream.schema == batch.schema, "schemas diverge between the two ingest paths")
    assert(stream.collect().toSeq == batch.collect().toSeq,
      "streaming ingest produced different rows than the batch pipeline on the same fixtures")
  }
}
