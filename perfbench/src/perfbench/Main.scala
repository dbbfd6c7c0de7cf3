package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{PartitionFieldSpec, Pipeline, TableDef}
import graft.queries.IngestQueries
import graft.sink.{CommitInfo, GraftLog, HiveParquetWriter, LakeOps, LakeWriter}
import graft.streaming.StreamingIngest

/** Sink wrapper: times each append of the wrapped writer as a span. */
final class TimedWriter(inner: LakeWriter, tracer: Tracer) extends LakeWriter {
  val appends = mutable.ArrayBuffer.empty[(Long, Long, CommitInfo)]
  override def append(df: DataFrame, partitionCols: Seq[String], tableDir: String,
      sources: Seq[String]): CommitInfo = {
    val t0 = System.nanoTime()
    val c = tracer.span("sink.append", "sink")(inner.append(df, partitionCols, tableDir, sources))
    synchronized(appends += ((t0, System.nanoTime(), c)))
    c
  }
}

/** The benchmark's JVM side. Runs one workload against the program's
  * public entry points, then writes timings, per-layer counters, spans and
  * the observations the Python side checks to `out=<file>`.
  *
  * Arguments are `key=value` pairs; see perfbench/run.py for the caller.
  */
object Main {

  private val args = mutable.Map.empty[String, String]
  private def arg(k: String): String =
    args.getOrElse(k, throw new IllegalArgumentException(s"missing argument $k"))

  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private var listener: EngineListener = _
  private val ops = mutable.ArrayBuffer.empty[Double] // timed op latencies, s
  private val named = mutable.LinkedHashMap.empty[String, Any]
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  private val observed = mutable.LinkedHashMap.empty[String, Any]
  private var attempted = 0
  private val errors = mutable.ArrayBuffer.empty[String]

  private def now: Long = System.nanoTime()
  private var tFirstOp = 0L // start of the run's first timed operation
  private def firstOp(): Unit = if (tFirstOp == 0L) tFirstOp = now
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def startSession(cores: Int, listen: Boolean = true): SparkSession = {
    val work = arg("work")
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (tracer.enabled && listen) {
      if (listener == null) listener = new EngineListener
      s.sparkContext.addSparkListener(listener)
    }
    s
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.deleteIfExists)

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    }

  /** Hard-link `files` into `<base>/events/comp1/` (instant staging; the
    * program deletes the links, the cached inputs stay).
    */
  private def land(base: Path, files: Seq[Path]): Seq[Path] = {
    val dir = base.resolve("events/comp1")
    Files.createDirectories(dir)
    files.map(f => Files.createLink(dir.resolve(f.getFileName.toString), f))
  }

  private def jsonFiles(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala.filter(_.toString.endsWith(".json")).toSeq
      .sortBy(_.getFileName.toString)

  private def liveBytes(tableDir: String): Long =
    GraftLog.liveFiles(tableDir).map(f => Files.size(Paths.get(tableDir, f))).sum

  /** A check run outside the timed region; a throw counts as failed. */
  private def check[T](what: String)(body: => T): Option[T] =
    tracer.span(s"check.$what", "check") {
      try Some(body)
      catch {
        case e: Throwable =>
          errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
    }

  /** One timed program operation; a throw is recorded as failed. */
  private def op[T](body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        errors += s"op: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }

  /** Per-(event_date, category) row count and amount sum (cents). */
  private def groups(df: DataFrame): Map[String, Seq[Long]] =
    df.groupBy(col("event_date").cast("string").as("d"), col("category").as("c"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum((col("amount") * 100).cast("long")), lit(0L)).as("cents"))
      .collect().map { r =>
        val c = if (r.isNullAt(1)) "null" else r.getString(1)
        s"${r.getString(0)}|$c" -> Seq(r.getLong(2), r.getLong(3))
      }.toMap

  // ---------------------------------------------------------------- bulk

  private def bulkTable: TableDef = IngestQueries.fixtureTable

  private def bulkDrain(base: Path, tableDir: Path, writer: LakeWriter): (Double, graft.ingest.IngestResult) = {
    val t0 = now
    val r = tracer.span("ingest.drain", "ingest") {
      Pipeline.ingest(spark, base.toString, "comp1", bulkTable, tableDir.toString, writer)
    }
    (secs(t0, now), r)
  }

  private def ingestBulk(work: Path, data: Path, units: Int): Unit = {
    val files = jsonFiles(data.resolve("bulk"))
    val jsonBytes = files.map(Files.size).sum
    val lines = files.map(f => Files.lines(f).count()).sum
    val drains = mutable.ArrayBuffer.empty[Double]
    val reps = mutable.ArrayBuffer.empty[Map[String, Any]]
    var stored = 0.0
    // the first `warm` drains are untimed warm-up: drain time keeps falling
    // over the first several full-size drains of a fresh JVM
    val warm = arg("warm_units").toInt
    val warmS = mutable.ArrayBuffer.empty[Double]
    var i = 0
    while (i < warm + units) {
      val timed = i >= warm
      if (timed) firstOp()
      val base = work.resolve(s"bulk$i")
      val landed = land(base, files)
      val tableDir = base.resolve("table")
      val writer = new TimedWriter(new HiveParquetWriter, tracer)
      if (tracer.enabled && timed) {
        val t0 = now
        tracer.span("ingest.list", "ingest")(Pipeline.listPending(base.toString, "comp1"))
        layerSample("ingest.list_ms", secs(t0, now) * 1e3)
      }
      val t0 = now
      op(bulkDrain(base, tableDir, writer)).foreach { case (dt, res) =>
        if (timed) { drains += dt; ops += dt } else warmS += dt
        val t1 = t0 + (dt * 1e9).toLong
        if (timed) writer.appends.headOption.foreach { case (a0, a1, c) =>
          appendLayer(a0, a1, c, tableDir.toString)
          layerSample("ingest.pre_append_s", secs(t0, a0))
          layerSample("ingest.post_append_s", secs(a1, t1))
        }
        val rep = mutable.LinkedHashMap[String, Any](
          "rows" -> res.commit.map(_.rows).getOrElse(0L),
          "sources_left" -> landed.count(Files.exists(_)))
        check("ledger") {
          val keys = GraftLog.records(tableDir.toString).flatMap(_.sources)
          rep("ledger_keys") = keys.size
          rep("ledger_distinct") = keys.distinct.size
          rep("ledger_matches") =
            keys.toSet == landed.map(_.toAbsolutePath.normalize.toString).toSet
        }
        // every drain runs the same code on the same input: the full
        // read-back is checked on the last
        if (i == warm + units - 1) check("readback") {
          val df = LakeOps.readTable(spark, tableDir.toString)
          rep("groups") = groups(df)
          rep("max_buckets_per_user") = df.groupBy("user_id")
            .agg(countDistinct("user_id_bucket").as("b")).agg(max("b")).head().getLong(0)
          rep("bucket_range") = df.agg(min("user_id_bucket"), max("user_id_bucket")).head()
            .toSeq.map(_.toString)
        }
        stored = liveBytes(tableDir.toString).toDouble / jsonBytes
        reps += rep.toMap
      }
      deleteTree(base)
      i += 1
    }
    val rows = reps.headOption.map(_("rows").asInstanceOf[Long]).getOrElse(0L)
    val med = median(drains.toSeq)
    named("bulk_rows_per_s") = rows / med
    named("bulk_mb_per_s") = jsonBytes / 1e6 / med
    named("stored_bytes_ratio") = stored
    observed("bulk") = Map("reps" -> reps.toSeq, "json_bytes" -> jsonBytes, "lines" -> lines,
      "warm_drains_s" -> warmS.toSeq)
    if (tracer.enabled) {
      layer("ingest.rows_dropped") = (lines - rows).toDouble
      bulkDecodeLayers(files)
    }
  }

  /** Decode alone and decode + transforms, each materialized to the noop
    * sink; transform time is the difference.
    */
  private def bulkDecodeLayers(files: Seq[Path]): Unit = {
    val paths = files.map(_.toString)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val dec = (0 until 3).map { _ =>
      val t0 = now
      tracer.span("ingest.decode", "ingest")(
        noop(graft.ingest.JsonDecode.read(spark, bulkTable.schema, paths)))
      secs(t0, now)
    }
    val both = (0 until 3).map { _ =>
      val t0 = now
      tracer.span("transform.decode_transform", "transform")(
        noop(Pipeline.decode(spark, bulkTable, paths)))
      secs(t0, now)
    }
    layer("ingest.decode_s") = median(dec)
    layer("transform.s") = math.max(0.0, median(both) - median(dec))
  }

  /** Single-thread baseline: one drain on a fresh `local[1]` session. It
    * runs after the traced run's totals and spans are taken, with no
    * listener, so it is in neither.
    */
  private def bulkOneCore(work: Path, data: Path): Unit = {
    spark.stop()
    spark = startSession(1, listen = false)
    val files = jsonFiles(data.resolve("bulk"))
    val base = work.resolve("bulk1core")
    land(base, files)
    val t0 = now
    val res = Pipeline.ingest(spark, base.toString, "comp1", bulkTable,
      base.resolve("table").toString, new HiveParquetWriter)
    val dt = secs(t0, now)
    layer("bulk.rows_per_s_1core") = res.commit.map(_.rows).getOrElse(0L) / dt
    deleteTree(base)
  }

  // --------------------------------------------------------------- serve

  private def serveTable: TableDef = TableDef("events_serve", IngestQueries.fixtureTable.schema,
    Seq(PartitionFieldSpec("event_date", "day"), PartitionFieldSpec("user_id", "bucket[4]")))

  private val progressPhases =
    Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")

  /** One serving episode on a fresh copy of the aged table. */
  private def serveEpisode(ep: String, work: Path, roundFiles: Seq[Path], aged: Path,
      maintainAfter: Set[Int], timed: Boolean): Map[String, Any] = {
    val base = work.resolve(ep)
    val tableDir = base.resolve("table").toString
    val ckpt = base.resolve("ckpt").toString
    copyTree(aged, Paths.get(tableDir))
    val writer = new TimedWriter(new HiveParquetWriter, tracer)
    val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]
    var maintain = 0.0
    var busy = 0.0 // wall of the episode's rounds plus maintenance
    val maint = mutable.ArrayBuffer.empty[Map[String, Any]]
    roundFiles.zipWithIndex.foreach { case (f, r) =>
      val obs = mutable.LinkedHashMap[String, Any]("file" -> f.getFileName.toString)
      if (timed) attempted += 1
      try {
        val tLand = now
        land(base.resolve("land"), Seq(f))
        val nAppends = writer.appends.size
        val q = tracer.span("streaming.drain", "streaming") {
          val q = StreamingIngest.ingestAvailableNow(spark, base.resolve("land").toString,
            "comp1", serveTable, tableDir, ckpt, writer)
          q.awaitTermination()
          q
        }
        val tCommit = now
        val df = tracer.span("sink.read_resolve", "sink")(LakeOps.readTable(spark, tableDir))
        val tResolved = now
        val perDay = tracer.span("sink.read_exec", "sink")(
          df.groupBy(col("event_date").cast("string")).count().collect())
        val tRead = now
        val (lo, hi) = idRange(f)
        val (pdf, scanned, live) = tracer.span("sink.pruned_resolve", "sink")(
          LakeOps.readPruned(spark, tableDir, "id", lo, hi))
        val tPResolved = now
        val pn = tracer.span("sink.pruned_exec", "sink")(pdf.count())
        val tPruned = now
        busy += secs(tLand, tPruned)
        if (timed) {
          sample("freshness_s", secs(tLand, tCommit))
          sample("read_s", secs(tCommit, tRead))
          sample("pruned_read_s", secs(tRead, tPruned))
        }
        if (tracer.enabled && timed) {
          layerSample("sink.read_resolve_s", secs(tCommit, tResolved))
          layerSample("sink.read_exec_s", secs(tResolved, tRead))
          layerSample("sink.pruned_resolve_s", secs(tRead, tPResolved))
          layerSample("sink.pruned_exec_s", secs(tPResolved, tPruned))
          layerSample("sink.live_files", live.toDouble)
          layerSample("sink.pruned_scan_ratio", if (live == 0) 0.0 else scanned.toDouble / live)
          layerSample("streaming.drain_s", secs(tLand, tCommit))
          val mine = writer.appends.drop(nAppends)
          val app = mine.map { case (a0, a1, _) => secs(a0, a1) }.sum
          layerSample("streaming.append_s", app)
          layerSample("streaming.overhead_s", secs(tLand, tCommit) - app)
          mine.foreach { case (a0, a1, c) => appendLayer(a0, a1, c, tableDir) }
          val prog = q.recentProgress.toSeq
          progressPhases.foreach { ph =>
            layerSample(s"streaming.${ph}_s",
              prog.flatMap(p => Option(p.durationMs.get(ph)).map(_.longValue)).sum / 1e3)
          }
          val t0 = now
          val recs = tracer.span("sink.log_read", "sink")(GraftLog.records(tableDir))
          layerSample("sink.log_read_ms", secs(t0, now) * 1e3)
          layerSample("sink.log_snapshots", recs.size.toDouble)
        }
        obs("pruned_rows") = pn
        obs("per_day") = perDay.map(r => r.getString(0) -> r.getLong(1)).toMap
        if (maintainAfter(r + 1)) {
          val before = GraftLog.liveFiles(tableDir).size
          val t0 = now
          val c = tracer.span("sink.compact", "sink")(LakeOps.compact(spark, tableDir))
          val t1 = now
          val gone = tracer.span("sink.expire", "sink")(LakeOps.expireSnapshots(tableDir, 2))
          val t2 = now
          maintain += secs(t0, t2)
          busy += secs(t0, t2)
          if (tracer.enabled && timed) {
            layerSample("sink.compact_s", secs(t0, t1))
            layerSample("sink.compact_files_in", before.toDouble)
            layerSample("sink.compact_files_out", c.files.size.toDouble)
            layerSample("sink.expire_s", secs(t1, t2))
            layerSample("sink.expire_files_deleted", gone.size.toDouble)
          }
          check("compaction") {
            maint += Map("after_round" -> (r + 1), "commit_rows" -> c.rows,
              "read_rows" -> LakeOps.readTable(spark, tableDir).count())
          }
        }
      } catch {
        case e: Throwable =>
          if (timed) errors += s"serve round ${r + 1}: ${e.getClass.getSimpleName}: ${e.getMessage}"
          else throw e
      }
      rounds += obs.toMap
    }
    val out = mutable.LinkedHashMap[String, Any]("rounds" -> rounds.toSeq, "maintenance" -> maint.toSeq)
    check("serve_ledger") {
      val keys = GraftLog.records(tableDir).flatMap(_.sources)
      out("ledger_keys") = keys.size
      out("ledger_distinct") = keys.distinct.size
      out("stream_keys") = keys.count(_.startsWith(s"stream:$ckpt:"))
    }
    out("stored_bytes") = liveBytes(tableDir)
    out("maintain_s") = maintain
    out("busy_s") = busy
    deleteTree(base)
    out.toMap
  }

  private val idRanges = mutable.Map.empty[String, (Long, Long)]
  private def idRange(f: Path): (Long, Long) = idRanges(f.getFileName.toString)

  /** The serving session: per unit, one episode of lake rounds and
    * maintenance, then one timed pass over the query mix.
    */
  private def lakeServe(work: Path, data: Path, units: Int, aged: Path): Unit = {
    val dir = data.resolve("serve")
    val files = jsonFiles(dir)
    val jsonBytes = files.map(Files.size).sum
    val maintainAfter = arg("maintain_after").split(",").map(_.toInt).toSet
    val rows = arg("rows").split(",").toSeq
    val sfDir = data.resolve("sf").toString
    val outDir = work.resolve("mix_out")
    mixOutputs(rows, sfDir, outDir)
    val episodes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Double]
    val perRow = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long, Double, Double)]]
    firstOp()
    (0 until units).foreach { e =>
      val ep = serveEpisode(s"ep$e", work, files, aged, maintainAfter, timed = true)
      val pass = mixPass(rows, sfDir, perRow)
      episodes += ep
      pass.foreach(passes += _)
      ops += ep("busy_s").asInstanceOf[Double] + pass.getOrElse(0.0)
    }
    named("freshness_p50_s") = median(samples("freshness_s"))
    named("read_p50_s") = median(samples("read_s"))
    named("pruned_read_p50_s") = median(samples("pruned_read_s"))
    named("maintain_s") = median(episodes.map(_("maintain_s").asInstanceOf[Double]).toSeq)
    named("mix_wall_s") = median(passes.toSeq)
    named("stored_bytes_ratio") =
      median(episodes.map(_("stored_bytes").asInstanceOf[Long].toDouble / jsonBytes).toSeq)
    observed("serve") = Map("episodes" -> episodes.toSeq, "json_bytes" -> jsonBytes)
    observed("mix") = Map("out_dir" -> outDir.toString, "passes" -> passes.toSeq,
      "oracle_sql" -> graft.SparkEntry.oracleSql.filter(kv => rows.contains(kv._1)),
      "row_s" -> perRow.map { case (k, v) => k -> median(v.map(_._3).toSeq) }.toMap)
    if (tracer.enabled) mixLayers(rows, perRow)
  }

  // ----------------------------------------------------------------- mix

  private def sweep(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Untimed pass: warms every row and writes the outputs the oracle checks. */
  private def mixOutputs(rows: Seq[String], sfDir: String, outDir: Path): Unit =
    rows.foreach { name =>
      check(s"mix_output.$name") {
        graft.SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(outDir.resolve(name).toString)
      }
      sweep()
    }

  /** One timed pass over the rows to the noop sink, as Bench runs them.
    * Returns the pass wall time, or None when a row failed.
    */
  private def mixPass(rows: Seq[String], sfDir: String,
      perRow: mutable.Map[String, mutable.ArrayBuffer[(Long, Long, Double, Double)]]): Option[Double] = {
    var pass = 0.0
    var ok = true
    rows.foreach { name =>
      val g0 = Trace.gcSeconds
      val t0 = now
      op(tracer.span(s"queries.$name", "queries") {
        graft.SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      }) match {
        case Some(_) =>
          val t1 = now
          pass += secs(t0, t1)
          perRow.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
            ((t0, t1, secs(t0, t1), Trace.gcSeconds - g0))
        case None => ok = false
      }
      sweep()
    }
    if (ok) Some(pass) else None
  }

  private def mixLayers(rows: Seq[String],
      perRow: mutable.Map[String, mutable.ArrayBuffer[(Long, Long, Double, Double)]]): Unit = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    rows.foreach { name =>
      val runs = perRow.getOrElse(name, mutable.ArrayBuffer.empty)
      val st = runs.map { case (a, b, _, _) => Trace.stats(listener, a, b) }
      layer(s"queries.$name.s") = median(runs.map(_._3).toSeq)
      layer(s"queries.$name.jobs") = median(st.map(_.jobs.toDouble).toSeq)
      layer(s"queries.$name.shuffle_bytes") = median(st.map(_.shuffleBytes.toDouble).toSeq)
      layer(s"queries.$name.gc_s") = median(runs.map(_._4).toSeq)
      layer(s"queries.$name.driver_gap_s") =
        median(runs.zip(st).map { case (r, s) => r._3 - s.sparkS }.toSeq)
    }
  }

  // -------------------------------------------------------------- layers

  private val samplesMap = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private def sample(k: String, v: Double): Unit =
    samplesMap.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  private def samples(k: String): Seq[Double] = samplesMap.getOrElse(k, Nil).toSeq
  private val layerSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private def layerSample(k: String, v: Double): Unit =
    layerSamples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

  /** Split one append into Spark job time and driver-side time, and
    * record what it wrote (traced runs only).
    */
  private def appendLayer(a0: Long, a1: Long, c: CommitInfo, tableDir: String): Unit = {
    if (!tracer.enabled) return
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    val st = Trace.stats(listener, a0, a1)
    layerSample("sink.append_spark_s", st.sparkS)
    layerSample("sink.append_driver_s", secs(a0, a1) - st.sparkS)
    layerSample("sink.files_written", c.files.size.toDouble)
    layerSample("sink.bytes_written",
      c.files.map(f => Files.size(Paths.get(tableDir, f)).toDouble).sum)
  }

  // ---------------------------------------------------------------- main

  def main(argv: Array[String]): Unit = {
    argv.foreach { a =>
      val i = a.indexOf('=')
      args(a.take(i)) = a.drop(i + 1)
    }
    val workload = arg("workload")
    val units = arg("units").toInt
    val work = Paths.get(arg("work")).toAbsolutePath
    val data = Paths.get(arg("data")).toAbsolutePath
    tracer = new Tracer(arg("trace") == "1")
    val launchMs = arg("launch_ms").toLong
    val gc0 = Trace.gcSeconds
    val tRoot = now
    val launchToRoot = (System.currentTimeMillis() - launchMs) * 1000000L
    val result = mutable.LinkedHashMap.empty[String, Any]
    tracer.span("run", "bench") {
      // set-up cycles: stage inputs + one untimed warm-up op, three times;
      // setup_s is the wall time from JVM launch to the first timed op, so
      // it includes them and any untimed warm-up before that op
      val setupCycles = mutable.ArrayBuffer.empty[Double]
      tracer.span("setup", "setup") {
        if (workload == "lake_serve") Seq("serve", "warm").foreach(d => readIdRanges(data.resolve(d)))
        spark = startSession(arg("cores").toInt)
        val sessionS = (System.currentTimeMillis() - launchMs) / 1e3
        (0 until 3).foreach { k =>
          val t0 = now
          tracer.span(s"setup.cycle$k", "setup")(workload match {
            case "ingest_bulk" =>
              val base = work.resolve(s"warm$k")
              land(base, jsonFiles(data.resolve("warm")))
              Pipeline.ingest(spark, base.toString, "comp1", bulkTable,
                base.resolve("table").toString)
              deleteTree(base)
            case "lake_serve" =>
              serveEpisode(s"warm$k", work, jsonFiles(data.resolve("warm")),
                Paths.get(arg("aged")), Set.empty, timed = false)
          })
          setupCycles += secs(t0, now)
        }
        result("setup_session_s") = sessionS
        result("setup_cycles_s") = setupCycles.toSeq
      }
      val tMeasure = now
      workload match {
        case "ingest_bulk" => ingestBulk(work, data, units)
        case "lake_serve" => lakeServe(work, data, units, Paths.get(arg("aged")))
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      result("measure_s") = secs(tMeasure, now)
      result("setup_s") = (launchToRoot + tFirstOp - tRoot) / 1e9
    }
    val tEndRoot = now
    result("op_p50_s") = median(ops.toSeq)
    result("ops") = ops.toSeq
    result("named") = named
    result("observed") = observed
    result("attempted") = attempted
    result("errors") = errors.toSeq
    result("peak_rss_mb") = peakRssMb
    if (tracer.enabled) {
      org.apache.spark.perfbench.BusDrain(spark.sparkContext)
      layerSamples.foreach { case (k, v) => layer(k) = median(v.toSeq) }
      val all = Trace.stats(listener, tRoot, tEndRoot)
      layer("engine.jobs") = all.jobs
      layer("engine.tasks") = all.tasks
      layer("engine.executor_cpu_s") = all.cpuS
      layer("engine.shuffle_write_bytes") = all.shuffleBytes.toDouble
      layer("engine.spill_bytes") = all.spillBytes.toDouble
      layer("engine.gc_s") = Trace.gcSeconds - gc0
      val spans = tracer.all
      val withJobs = spans ++ Trace.jobSpans(listener, spans, spans.map(_.id).max + 1)
      result("layer") = layer
      result("self_s") = Trace.selfByLayer(withJobs)
      result("wall_s") = secs(tRoot, tEndRoot)
      result("spans") = withJobs.sortBy(_.start).map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "start_ns" -> (s.start - tRoot),
        "end_ns" -> (s.end - tRoot)))
      if (workload == "ingest_bulk") bulkOneCore(work, data)
    }
    Files.writeString(Paths.get(arg("out")), Json(result))
    spark.stop()
  }

  private def readIdRanges(dir: Path): Unit = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val jv = JsonMethods.parse(Files.readString(dir.resolve("expected.meta")))
    (jv \ "files") match {
      case JObject(fs) => fs.foreach { case (name, v) =>
        def l(k: String): Long = (v \ k) match {
          case JInt(n) => n.toLong
          case JLong(n) => n
          case other => throw new IllegalStateException(s"bad $k in expected.meta: $other")
        }
        idRanges(name) = (l("id_lo"), l("id_hi"))
      }
      case other => throw new IllegalStateException(s"bad expected.meta: $other")
    }
  }

  /** Peak resident set of this JVM, from /proc (MB). */
  private def peakRssMb: Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    } catch { case _: Exception => 0.0 }
}
