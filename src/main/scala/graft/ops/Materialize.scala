package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Size-targeted parquet materialization — the small-files problem.
  * 100 TB written from thousands of tasks with default settings lands as
  * millions of undersized objects: listings and planning dominate reads,
  * and every downstream scan pays per-file open cost. The fix is knowing
  * bytes-per-row AS STORED (post-encoding, post-compression — in-memory
  * plan stats are off by the compression ratio, often 5-20× on text) and
  * capping `maxRecordsPerFile` so each output file lands near a target
  * size.
  *
  * [[writeSized]] measures the stored row size empirically: write a
  * bounded sample to a scratch path, read back the parquet footprint,
  * derive rows-per-file, then write with `maxRecordsPerFile` as the
  * overshoot guard (files split at the cap regardless of task
  * partitioning). With `compact = true` (the default) it also
  * repartitions to ceil(rows / rowsPerFile) partitions before writing —
  * one write task per target-size output file — so UNDERSIZED input
  * partitions consolidate instead of spraying tiny files: the
  * `maxRecordsPerFile` cap alone only bounds size from above. At
  * 100 TB / 512 MB targets that is ~200k write tasks, so compaction
  * never throttles the write stage in the regime where parallelism
  * matters; the cost is one extra count() pass over the input.
  * Optionally sorts within partitions first: sorted parquet
  * run-length/dictionary-encodes low-cardinality columns 2-5× smaller
  * and gives readers clustered predicates. When both `compact` and
  * `sortCols` are set, the repartition is `repartitionByRange` on the
  * sort key, so output files are globally range-clustered (skewed key
  * ranges may overfill a partition; the `maxRecordsPerFile` guard still
  * splits those at the cap).
  */
object Materialize {

  /** Measured bytes-per-row of `df` as stored parquet, from a sample of
    * up to `sampleRows` rows written to `scratchPath` (deleted after).
    * Conservative floor of 1 byte/row.
    */
  def storedBytesPerRow(df: DataFrame, scratchPath: String,
      sampleRows: Int = 10000): Double = {
    val sample = df.limit(sampleRows)
    sample.write.mode(SaveMode.Overwrite).parquet(scratchPath)
    val spark = df.sparkSession
    val n = spark.read.parquet(scratchPath).count()
    val hadoopPath = new org.apache.hadoop.fs.Path(scratchPath)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(hadoopPath).getLength
    fs.delete(hadoopPath, true)
    if (n == 0) 1.0 else math.max(1.0, bytes.toDouble / n)
  }

  /** Write `df` to `path` with files near `targetFileMB` each.
    * `sortCols` range-sorts within partitions before writing (encoding
    * locality). Returns (rowsPerFile used, measured bytes/row).
    */
  def writeSized(df: DataFrame, path: String, targetFileMB: Int = 512,
      sortCols: Seq[String] = Nil, scratchPath: String = null,
      sampleRows: Int = 10000, compact: Boolean = true): (Long, Double) = {
    require(targetFileMB > 0, s"targetFileMB must be positive: $targetFileMB")
    val scratch = Option(scratchPath).getOrElse(path + "_rowsize_sample")
    val bpr = storedBytesPerRow(df, scratch, sampleRows)
    val rowsPerFile = math.max(1L, (targetFileMB.toLong * 1024 * 1024 / bpr).toLong)
    val arranged =
      if (!compact) df
      else {
        val nPartsL = math.max(1L,
          math.ceil(df.count().toDouble / rowsPerFile).toLong)
        // a silent .toInt here would wrap negative and surface as an
        // anonymous repartition failure; this only trips when bytes/row
        // approaches the file target (rowsPerFile ~ 1)
        require(nPartsL <= Int.MaxValue,
          s"writeSized: $nPartsL output files needed (rows/file=" +
            s"$rowsPerFile at $bpr bytes/row) exceeds Int.MaxValue — " +
            "raise targetFileMB")
        val nParts = nPartsL.toInt
        if (sortCols.nonEmpty) df.repartitionByRange(nParts, sortCols.map(col): _*)
        else df.repartition(nParts)
      }
    val sorted =
      if (sortCols.isEmpty) arranged
      else arranged.sortWithinPartitions(sortCols.map(col): _*)
    sorted.write
      .option("maxRecordsPerFile", rowsPerFile)
      .mode(SaveMode.Overwrite)
      .parquet(path)
    (rowsPerFile, bpr)
  }

  /** [[writeSized]] under a Z-ORDER layout: rows cluster by the Morton
    * key of (aCol, bCol) before the sized write, so every output file's
    * min/max envelope covers a small rectangle of BOTH dimensions —
    * the layout [[graft.ops.Layout.zorderEnvelopeReport]] quantifies,
    * materialized with file-size control. The interleave key is
    * computed, used for range-partitioning + within-partition sort,
    * and dropped; the stored schema is unchanged.
    */
  def writeClustered(df: DataFrame, path: String, aCol: String,
      bCol: String, bits: Int, targetFileMB: Int = 512): (Long, Double) = {
    require(targetFileMB > 0, s"targetFileMB must be positive: $targetFileMB")
    // a user __z would be overwritten by the interleave-key staging and
    // dropped from the STORED schema — silent column loss in the files
    graft.ops.Ids.requireNoReservedNames("writeClustered", "input",
      df.columns.toSeq, Set("__z"), df.sparkSession)
    val keyed = df.withColumn("__z",
      graft.ops.Layout.zorderKey2(col(aCol), col(bCol), bits))
    val bpr = storedBytesPerRow(df, path + "_rowsize_sample", 2000)
    val rowsPerFile =
      math.max(1L, (targetFileMB.toLong * 1024 * 1024 / bpr).toLong)
    val nPartsL = math.max(1L,
      math.ceil(df.count().toDouble / rowsPerFile).toLong)
    // same wrap guard as writeSized: fail with the cause, not an
    // anonymous negative-partition-count error
    require(nPartsL <= Int.MaxValue,
      s"writeClustered: $nPartsL output files needed (rows/file=" +
        s"$rowsPerFile at $bpr bytes/row) exceeds Int.MaxValue — " +
        "raise targetFileMB")
    val nParts = nPartsL.toInt
    keyed.repartitionByRange(nParts, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.option("maxRecordsPerFile", rowsPerFile)
      .mode(SaveMode.Overwrite)
      .parquet(path)
    (rowsPerFile, bpr)
  }
}
