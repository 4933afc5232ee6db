package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Test seam for the zero-downtime rebuild contract: invoked between a
  * rebuild/compact's staging write and its atomic swap, with the index
  * table (or root dir) as argument. Production no-op; specs hook a
  * probe here to evidence that a reader mid-rebuild sees the OLD
  * complete generation.
  */
private[graft] object SwapHooks {
  @volatile var preSwap: String => Unit = _ => ()
}

/** Physical table layout for shuffle-free joins and scan health at
  * 100 TB: bucketed tables and small-file compaction.
  *
  * The reference engine has no file formats at all (SURVEY §2.3 —
  * ingest/egress is its Append/Query API); on Spark the LAYOUT of the
  * parquet is a first-class performance surface:
  *
  *   - **Bucketing**: two tables bucketed by the same key into the same
  *     bucket count join WITHOUT an Exchange on either side — the scan
  *     itself reports `HashPartitioning`, so repeated joins (dedup
  *     verify kernels, pair-set joins against doc tables, fact-to-fact
  *     event joins) pay the shuffle ONCE at write time instead of once
  *     per query. At 100 TB a shuffle is the single most expensive plan
  *     node; bucketing is how you amortize it.
  *   - **Compaction**: streaming sinks and per-batch writers leave
  *     thousands of KB-sized files; scans then pay one task + one
  *     footer-read per file. Compaction rewrites a directory into
  *     target-sized files with an atomic swap (write-new + rename, the
  *     [[graft.core.SummaryDB]] writer pattern), so readers never see a
  *     partial state.
  */
object BucketedLayout {

  /** Write `df` as a bucketed external parquet table at `path`:
    * `nBuckets` buckets by `bucketCol`, each bucket sorted by
    * `sortCols` (defaults to the bucket key, which lets sort-merge
    * joins skip the per-partition sort too). The table registers in
    * the session catalog under `table` — on a cluster this is the
    * shared metastore entry; bucket metadata travels with it.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      path: String,
      bucketCol: String,
      nBuckets: Int,
      sortCols: Seq[String] = Nil,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(nBuckets > 0, s"nBuckets > 0: $nBuckets")
    val sorts = if (sortCols.nonEmpty) sortCols else Seq(bucketCol)
    df.write
      .mode(mode)
      .format("parquet")
      .option("path", path)
      .bucketBy(nBuckets, bucketCol)
      .sortBy(sorts.head, sorts.tail: _*)
      .saveAsTable(table)
  }

  /** Read a bucketed table back (bucket metadata comes from the
    * catalog — a bare `spark.read.parquet(path)` would NOT know the
    * bucketing and would shuffle again).
    */
  def readBucketed(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** The bucket count `table` is registered with (64 when the catalog
    * entry carries no bucket spec) — what a rewrite of an existing
    * bucketed index keeps.
    */
  def bucketCount(spark: SparkSession, table: String): Int =
    spark.table(table).queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.catalyst.catalog.HiveTableRelation =>
        r.tableMeta.bucketSpec.map(_.numBuckets)
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.catalogTable.flatMap(_.bucketSpec).map(_.numBuckets)
    }.flatten.getOrElse(64)

  /** Atomically install `staged` as `live`: live moves to `aside`,
    * staged renames in, aside drops. A reader sees the old complete
    * tree or the new complete tree; the only intermediate state is a
    * MISSING live path for the instant between the two renames — a
    * loud, retryable read error, never a torn mix.
    */
  private[graft] def swapDir(fs: FileSystem, staged: Path, live: Path, aside: Path): Unit = {
    fs.delete(aside, true)
    // rename requires existing destination parents (HDFS returns false
    // otherwise, and the local fs would degrade to a non-atomic copy)
    fs.mkdirs(aside.getParent)
    fs.mkdirs(live.getParent)
    val hadLive = fs.exists(live)
    if (hadLive && !fs.rename(live, aside))
      throw new java.io.IOException(s"swap: could not move $live aside")
    if (!fs.rename(staged, live)) {
      if (hadLive) fs.rename(aside, live) // roll back
      throw new java.io.IOException(s"swap: could not install $staged as $live")
    }
    fs.delete(aside, true)
  }

  /** A fresh bucketed generation staged beside its live directory,
    * awaiting [[swapInStaged]]. Staging is the expensive phase; the
    * swap is one rename — multi-table indexes stage EVERY table first
    * and then swap them back-to-back, so cross-table inconsistency is
    * bounded by renames, not by write time.
    */
  final case class StagedGeneration(
      table: String,
      path: String,
      bucketCol: String,
      sortCols: Seq[String],
      nBuckets: Int,
      tmpTable: String,
      tmp: Path,
      schema: org.apache.spark.sql.types.StructType)

  /** Write `df` through [[writeBucketed]] into `<path>.__swap_tmp`
    * under a temp catalog name. The live table (files AND catalog
    * entry) is untouched — probes keep reading the old generation for
    * the whole write.
    */
  def stageBucketed(
      spark: SparkSession,
      df: DataFrame,
      table: String,
      path: String,
      bucketCol: String,
      nBuckets: Int,
      sortCols: Seq[String] = Nil): StagedGeneration = {
    val tmpTable = table + "__swap_tmp"
    val tmp = new Path(path + ".__swap_tmp")
    val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(tmp, true)
    spark.sql(s"DROP TABLE IF EXISTS $tmpTable")
    writeBucketed(df, tmpTable, tmp.toString, bucketCol, nBuckets, sortCols)
    val schema = spark.table(tmpTable).schema
    StagedGeneration(table, path, bucketCol,
      if (sortCols.nonEmpty) sortCols else Seq(bucketCol),
      nBuckets, tmpTable, tmp, schema)
  }

  /** Swap a staged generation in: one directory rename, then fix the
    * catalog. When the live entry already matches (same schema, bucket
    * spec, location — the nightly same-spec rebuild), only a refresh
    * runs and readers never lose the table; when the spec changed, the
    * entry is recreated (metadata-only drop+create — a loud-not-torn
    * instant for a concurrent `spark.table`). Returns the new
    * generation's data-file count.
    */
  def swapInStaged(spark: SparkSession, st: StagedGeneration): Long = {
    val live = new Path(st.path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.sql(s"DROP TABLE IF EXISTS ${st.tmpTable}") // metadata only; files stay staged
    swapDir(fs, st.tmp, live, new Path(st.path + ".__swap_old"))
    registerIfChanged(spark, st, fs, live)
    TinyParquet.dataFiles(spark.sparkContext.hadoopConfiguration, st.path).length.toLong
  }

  /** Stage + swap in one call — the single-table rebuild/compact path.
    * Returns the new generation's data-file count.
    */
  def writeBucketedSwap(
      spark: SparkSession,
      df: DataFrame,
      table: String,
      path: String,
      bucketCol: String,
      nBuckets: Int,
      sortCols: Seq[String] = Nil): Long = {
    val staged = stageBucketed(spark, df, table, path, bucketCol, nBuckets, sortCols)
    SwapHooks.preSwap(table)
    swapInStaged(spark, staged)
  }

  private def registerIfChanged(
      spark: SparkSession, st: StagedGeneration, fs: FileSystem, live: Path): Unit = {
    import org.apache.spark.sql.catalyst.catalog.BucketSpec
    val wanted = BucketSpec(st.nBuckets, Seq(st.bucketCol), st.sortCols)
    val unchanged = spark.catalog.tableExists(st.table) && {
      val meta = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(st.table))
      meta.bucketSpec.contains(wanted) &&
        meta.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
          st.schema.fields.map(f => (f.name, f.dataType)).toSeq &&
        new Path(meta.location).toUri.getPath == fs.makeQualified(live).toUri.getPath
    }
    if (unchanged) spark.catalog.refreshTable(st.table)
    else {
      spark.sql(s"DROP TABLE IF EXISTS ${st.table}")
      val cols = st.schema.fields.map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      val sorts = st.sortCols.map(c => s"`$c`").mkString(", ")
      spark.sql(
        s"CREATE TABLE ${st.table} ($cols) USING PARQUET " +
          s"CLUSTERED BY (`${st.bucketCol}`) SORTED BY ($sorts) " +
          s"INTO ${st.nBuckets} BUCKETS LOCATION '${fs.makeQualified(live)}'")
    }
  }

  /** Rewrite a parquet directory into files of ~`targetBytes` each,
    * atomically: write to `<dir>.__compact_tmp`, then swap via rename.
    * Returns the file count after compaction. Row content is
    * preserved exactly (coalesce does not shuffle); only the file
    * layout changes.
    */
  def compact(spark: SparkSession, dir: String, targetBytes: Long = 128L << 20): Long = {
    require(targetBytes > 0, s"targetBytes > 0: $targetBytes")
    val path = new org.apache.hadoop.fs.Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = path.getFileSystem(conf)
    val totalBytes = TinyParquet.dataBytes(conf, dir)
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)

    val tmp = new org.apache.hadoop.fs.Path(dir + ".__compact_tmp")
    val old = new org.apache.hadoop.fs.Path(dir + ".__compact_old")
    fs.delete(tmp, true); fs.delete(old, true)
    // coalesce (never repartition): narrow dependency, no shuffle — at
    // 100 TB compaction must be IO-bound, not shuffle-bound.
    spark.read.parquet(dir).coalesce(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // Swap: current -> old, tmp -> current, drop old. Readers see the
    // old complete directory or the new complete directory, never a mix.
    swapDir(fs, tmp, path, old)
    TinyParquet.dataFiles(conf, dir).length.toLong
  }
}
