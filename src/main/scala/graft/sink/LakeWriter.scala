package graft.sink

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** One committed append (the observable behavior of the reference's
  * `newAppend().appendFile().commit()`, `App.java:147-149` / SURVEY.md
  * A21): which files joined the table, how many rows, under which
  * sequential snapshot id, and which source files were consumed.
  */
final case class CommitInfo(snapshotId: Long, files: Seq[String], rows: Long)

/** Transactional-append sink boundary (SURVEY.md §7: no Iceberg runtime
  * jar exists on this system, so the default implementation emulates the
  * observable commit semantics — Hive-layout partitioned parquet plus a
  * JSON commit log. A real `IcebergWriter` (`df.writeTo(t).append()`)
  * slots in behind this trait if a runtime jar ever appears.)
  */
trait LakeWriter {
  /** Append `df` partitioned by `partitionCols` (already materialized as
    * columns of `df`) under `tableDir`, recording consumed `sources` in
    * the commit for the exactly-once ledger. Returns the commit record.
    */
  def append(df: DataFrame, partitionCols: Seq[String], tableDir: String,
      sources: Seq[String] = Seq.empty): CommitInfo
}

/** Hive-layout parquet + commit-log emulation of A18-A21:
  *
  *  - `name=value/` directory layout (A18, `App.java:112-131`) via
  *    `partitionBy` — value *rendering* (day → ISO date, month →
  *    `yyyy-MM`) is the caller's job when deriving the columns;
  *  - UUID-suffixed file names (A19) — Spark task files are already
  *    UUID-named;
  *  - one atomic-rename commit per append batch — deliberately better
  *    than the reference's snapshot-per-(file × partition) (Q6): same
  *    observable table content, O(1) commits;
  *  - null partition values render as `name=null` like the reference
  *    (`String.valueOf(null)`), normalized from Spark's
  *    `__HIVE_DEFAULT_PARTITION__` during publish.
  *
  * Write path at scale: `writeFiles` hash-repartitions by the partition
  * columns into `spark.sql.shuffle.partitions` tasks, so every task
  * writes in parallel and all rows of one partition value land in one
  * task — exactly one file per partition directory per append, never
  * every task writing every partition (the many-small-files failure
  * mode at 1000 executors). The staging write goes through
  * [[PosixLocalFileSystem]], which sets each staged file's and
  * directory's permissions in-process; without the native Hadoop
  * library the default local filesystem forks one `chmod` for each.
  */
final class HiveParquetWriter extends LakeWriter {

  override def append(df: DataFrame, partitionCols: Seq[String], tableDir: String,
      sources: Seq[String] = Seq.empty): CommitInfo = {
    val (files, rows) = HiveParquetWriter.writeFiles(df, partitionCols, tableDir)
    if (rows == 0) return CommitInfo(0, Seq.empty, 0) // Q10: empty input → no snapshot
    val rec = GraftLog.commit(tableDir, "append", rows, files.sorted, sources)
    CommitInfo(rec.snapshotId, rec.files, rows)
  }
}

object HiveParquetWriter {

  private val NullDir = "__HIVE_DEFAULT_PARTITION__"

  /** Stage + publish data files under `tableDir` (no commit record).
    * Returns the published relative paths and the number of rows the
    * write produced; a 0-row write publishes nothing (Q10).
    *
    * The repartition uses an explicit task count: AQE coalesces a
    * key-only `repartition(cols)` shuffle (a small append collapsed
    * into ONE write task) but never a `REPARTITION_BY_NUM` one. The row
    * count is observed AFTER the repartition, i.e. in the write's own
    * result stage, where each task's count is applied exactly once — no
    * counting job and no footer reads (the count an Iceberg writer takes
    * from its tasks' commit messages). The staging directory is removed
    * on every exit, including a failed write.
    */
  private[sink] def writeFiles(
      df: DataFrame, partitionCols: Seq[String], tableDir: String): (Seq[String], Long) = {
    val dir = Paths.get(tableDir)
    Files.createDirectories(dir)
    val staging = dir.resolve(s"_staging_${java.util.UUID.randomUUID()}")
    val shuffled =
      if (partitionCols.isEmpty) df
      else df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        partitionCols.map(col): _*)
    val written = Observation()
    try {
      shuffled.observe(written, count(lit(1)).as("rows"))
        .write.options(Map(PosixLocalFileSystem.ImplOption))
        .partitionBy(partitionCols: _*).parquet(PosixLocalFileSystem.uriOf(staging))
      val rows = written.get("rows").asInstanceOf[Long]
      // an all-empty write may still stage a 0-row schema file — it goes
      // with the staging dir
      if (rows == 0) return (Seq.empty, 0L)

      // Publish: move staged data files into the table tree, normalizing
      // Spark's null-partition dir to the reference's `name=null`.
      val files = Files.walk(staging).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .toSeq
        .map { p =>
          val rel = staging.relativize(p).toString.replace(s"=$NullDir", "=null")
          val target = dir.resolve(rel)
          Files.createDirectories(target.getParent)
          Files.move(p, target, StandardCopyOption.ATOMIC_MOVE)
          rel
        }
      (files, rows)
    } finally if (Files.exists(staging))
      Files.walk(staging).sorted(Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.delete)
  }
}
