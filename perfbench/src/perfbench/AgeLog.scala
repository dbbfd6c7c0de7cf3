package perfbench

import graft.sink.GraftLog

/** Builds an aged commit log through the program's own `GraftLog.commit`:
  * `n` append snapshots of 28 partition files each (7 days x 4 buckets,
  * one source file per commit), then one `delete` snapshot that resets
  * the live set to empty. The data files are never written; readers only
  * resolve the live set, which ends empty.
  *
  * Usage: AgeLog <tableDir> <n>
  */
object AgeLog {
  def main(args: Array[String]): Unit = {
    val Array(tableDir, n) = args
    (1 to n.toInt).foreach { s =>
      val files = for (d <- 1 to 7; b <- 0 until 4)
        yield f"event_date_day=2024-01-$d%02d/user_id_bucket=$b/part-$s%06d-$d$b.parquet"
      GraftLog.commit(tableDir, "append", 2000L, files, Seq(f"aged/source-$s%06d.json"))
    }
    GraftLog.commit(tableDir, "delete", 0L, Seq.empty, Seq.empty)
  }
}
