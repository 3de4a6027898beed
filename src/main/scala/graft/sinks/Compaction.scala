package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Ingestor

/** Small-file compaction for parquet table directories.
  *
  * A pipeline that appends per-run (the reference's APPEND strategy,
  * batch_writer.py:306, or the streaming upsert sink's per-micro-batch
  * files) accretes files far smaller than a scan split. At 100 TB the
  * damage is real: a 10 KB file still costs one task, one footer read,
  * one scheduler round-trip — a million-file table spends more time on
  * task overhead than on data. Compaction rewrites the directory into
  * files near `targetFileBytes` (one scan, one optionally-sorted write,
  * staged + atomically swapped like UPSERT), after which scans run at
  * file-split granularity again.
  *
  * `sortCols` additionally range-clusters rows across the rewritten
  * files, so min/max row-group statistics become selective for
  * predicates on those columns — poor-man's clustering keys.
  *
  * `zOrderCols` (mutually exclusive with sortCols) clusters on a
  * Morton/Z-curve over SEVERAL columns at once: each column is
  * normalised to a fixed bit range from its own min/max (one broadcast
  * aggregate) and the bits interleaved into one long sort key — pure
  * codegen'd shift/mask arithmetic, ANSI-safe under 2^62. A linear sort
  * makes file statistics selective on the leading column only; the
  * Z-curve keeps every interleaved dimension partially selective, which
  * is what multi-predicate scans at 100 TB skip files with. */
object Compaction {

  case class CompactionStats(filesBefore: Long, filesAfter: Long,
                             bytes: Long, targetFiles: Int)

  /** Morton interleave of `scaled` (each already in [0, 2^bits)). */
  private def interleave(scaled: Seq[Column], bits: Int): Column = {
    val n = scaled.length
    val terms = for {
      b <- 0 until bits
      (sc, i) <- scaled.zipWithIndex
    } yield shiftleft(shiftright(sc, b).bitwiseAND(lit(1L)), b * n + i)
    terms.reduce(_ + _)
  }

  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024,
              sortCols: Seq[String] = Nil,
              zOrderCols: Seq[String] = Nil): CompactionStats = {
    require(sortCols.isEmpty || zOrderCols.isEmpty,
      "sortCols and zOrderCols are mutually exclusive")
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(target).filter(f =>
      f.isFile && f.getPath.getName.endsWith(".parquet"))
    val bytes = files.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)

    val df = Ingestor.read(spark, path)
    val arranged =
      if (zOrderCols.nonEmpty) {
        val bits = math.min(21, 62 / zOrderCols.length)
        val maxVal = (1L << bits) - 1
        val aggs = zOrderCols.flatMap(c => Seq(
          min(col(c)).cast("double").as(s"__mn_$c"),
          max(col(c)).cast("double").as(s"__mx_$c")))
        val bounds = df.agg(aggs.head, aggs.tail: _*)
        val scaled = zOrderCols.map { c =>
          val (v, mn, mx) = (col(c).cast("double"), col(s"__mn_$c"), col(s"__mx_$c"))
          when(mx === mn, lit(0L)).otherwise(
            least(lit(maxVal), floor((v - mn) / (mx - mn) * maxVal))).cast("long")
        }
        df.crossJoin(broadcast(bounds))
          .withColumn("__z", interleave(scaled, bits))
          .repartitionByRange(nOut, col("__z"))
          .sortWithinPartitions("__z")
          .drop("__z" +: zOrderCols.flatMap(c => Seq(s"__mn_$c", s"__mx_$c")): _*)
      } else if (sortCols.nonEmpty)
        // repartitionByRange + local sort: global range clustering
        // without a single-task global sort
        df.repartitionByRange(nOut, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else df.repartition(nOut)

    val staging = new Path(path + ".compacting")
    fs.delete(staging, true)
    arranged.write.mode("overwrite").parquet(staging.toString)
    val backup = new Path(path + ".old")
    fs.delete(backup, true)
    fs.rename(target, backup)
    fs.rename(staging, target)
    fs.delete(backup, true)

    val after = fs.listStatus(target).count(f =>
      f.isFile && f.getPath.getName.endsWith(".parquet"))
    CompactionStats(files.length.toLong, after.toLong, bytes, nOut)
  }
}
