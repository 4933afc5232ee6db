package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ops.Similarity

/** The lifecycle state every persisted serving index shares
  * ([[graft.ops.AnnIndex]], [[graft.ops.Bm25Index]],
  * [[graft.ops.DedupIndex]], [[graft.ops.NearDupIndex]] and their
  * streaming twins) — one place that decides how an index is locked,
  * how takedowns are stored and hidden, what a rebuild resets, and how a
  * streamed batch commits exactly once. Everything lives under the
  * index root:
  *
  * {{{
  *   <root>/_writer.lock                      single-writer guard (WriterLock)
  *   <root>/tombstones/                       takedown set, plain parquet
  *   <root>/_stream_commits/<batchId>         exactly-once seal of a streamed batch
  *   <root>/_stream_staging/<batchId>-<uuid>/ one streamed attempt's staged files
  * }}}
  *
  * Each index stages a rebuild/compact beside the tables it replaces
  * and swaps it in by rename ([[BucketedLayout.swapDir]] /
  * [[BucketedLayout.swapInStaged]]); the staging directories it names
  * for that are handed to [[resetGeneration]], which removes them with
  * the rest of the previous generation's state.
  *
  * An instance describes one index: its root, the name its lock errors
  * report, and the key its tombstones are stored under.
  */
private[graft] final case class IndexState(
    root: String,
    what: String,
    tombstoneKey: StructType,
    tombstoneRowBytes: Long = 56L,
    legacyTombstoneTable: Option[String] = None) {

  import IndexState._

  private def fs(spark: SparkSession): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tombstonesPath: Path = new Path(root, TombstonesDir)

  /** Run `body` holding `<root>/_writer.lock` — every mutator of every
    * index does: compact racing an append would silently drop the rows
    * appended between its snapshot and its swap, and two ingests of one
    * index could double-append. Reentrant within a thread; probes never
    * lock (every reader-visible mutation is atomic on its own).
    */
  def withWriterLock[T](spark: SparkSession)(body: => T): T =
    WriterLock.withLock(fs(spark), WriterLock.lockPath(root), what)(body)

  // ------------------------------------------------------------ tombstones

  /** The live takedown set, if any: key rows retired from probe
    * visibility but not yet physically removed (the next compact does
    * that). Takedown-sized by nature, so under the 8 MB tininess guard
    * the rows read DRIVER-SIDE into a sorted, distinct LocalRelation —
    * no read, distinct or broadcast-guard count job on the probe path.
    * Past the guard (a court-ordered million-doc takedown) it is a
    * Spark read with the same distinct-row semantics.
    */
  def tombstones(spark: SparkSession): Option[DataFrame] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = tombstonesPath.toString
    val files = TinyParquet.dataFiles(conf, dir)
    val names = tombstoneKey.fieldNames.toSeq
    if (files.isEmpty) None
    else if (files.map(_.getLen).sum <= TinyMaxBytes) {
      val rows = TinyParquet.rows(conf, dir).iterator
        .filter(g => names.forall(n =>
          g.getType.containsField(n) && g.getFieldRepetitionCount(n) > 0))
        .map(g => tombstoneKey.fields.toSeq.map { f =>
          if (f.dataType == LongType) g.getLong(f.name, 0) else g.getString(f.name, 0)
        })
        .toSeq.distinct.sorted(KeyOrdering)
      import scala.jdk.CollectionConverters._
      Some(spark.createDataFrame(rows.map(Row.fromSeq).asJava, tombstoneKey))
    } else Some(spark.read.parquet(dir).select(names.map(col): _*).distinct())
  }

  /** The anti-join that hides the live takedown set from a frame whose
    * key columns are named `on` (default: the key's own names) — `None`
    * when nothing is tombstoned. The set is read and broadcast-guarded
    * ONCE, so a caller applying it to several frames pays that once.
    * The broadcast rides [[Similarity.guardedRowBroadcast]]: the
    * filtered side keeps its partitioning, no new exchange.
    */
  def tombstoneFilter(spark: SparkSession, on: String*): Option[DataFrame => DataFrame] =
    tombstones(spark).map { t =>
      val cols = if (on.isEmpty) tombstoneKey.fieldNames.toSeq else on
      val side = Similarity.guardedRowBroadcast(t.toDF(cols: _*), tombstoneRowBytes)
      (df: DataFrame) => df.join(side, cols, "left_anti")
    }

  /** `df` without its tombstoned rows (see [[tombstoneFilter]]). */
  def minusTombstones(spark: SparkSession, df: DataFrame, on: String*): DataFrame =
    tombstoneFilter(spark, on: _*).fold(df)(_(df))

  /** Tombstoned rows pending physical retirement. */
  def tombstoneCount(spark: SparkSession): Long = tombstones(spark).fold(0L)(_.count())

  /** The takedown path: tombstone every row of `indexed` (projected to
    * the tombstone key) whose `idKey` is among `ids`' `idCol` values.
    * Ids the index does not hold are ignored (tombstoning an absent id
    * would silently hide a future append that reuses it), and rows
    * already tombstoned count once — a redelivered takedown batch is a
    * no-op, not tombstone growth. The caller-supplied ids broadcast
    * only under the guard. Returns the rows newly tombstoned.
    */
  def takedown(
      spark: SparkSession,
      indexed: DataFrame,
      ids: DataFrame,
      idCol: String,
      idKey: String): Long = {
    val requested = ids.select(col(idCol).cast("long").as(idKey)).distinct()
      .localCheckpoint()
    val reqSide =
      if (requested.count() * IdRowBytes <= Similarity.BroadcastGuardBytes) broadcast(requested)
      else requested
    val present = indexed.join(reqSide, Seq(idKey), "left_semi")
      .select(tombstoneKey.fieldNames.toSeq.map(col): _*)
      .distinct()
    val doomed = minusTombstones(spark, present).localCheckpoint()
    val n = doomed.count()
    if (n > 0) doomed.write.mode("append").parquet(tombstonesPath.toString)
    n
  }

  /** Drop the takedown set — after a compact/merge physically retired
    * it, or with a rebuild. Also drops the catalog entry older versions
    * registered the set under, so their indexes keep working.
    */
  def clearTombstones(spark: SparkSession): Unit = {
    legacyTombstoneTable.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    fs(spark).delete(tombstonesPath, true)
  }

  /** A rebuild starts a fresh generation: every given row is live, so
    * the previous generation's tombstones must not hide rows of this
    * one, and a fresh stream restarts batchIds at 0, so a stale commit
    * marker would silently skip its first batches. Clears both, any
    * abandoned stream staging, and the rebuild's own `staging` dirs.
    * Callers run it AFTER the swap (conservative: between swap and
    * reset a probe can transiently hide a new row whose key matches an
    * old tombstone, but never resurrects a takedown against the old
    * generation, which resetting first would).
    */
  def resetGeneration(spark: SparkSession, staging: String*): Unit = {
    clearTombstones(spark)
    val f = fs(spark)
    (Seq(StreamCommitsDir, StreamStagingDir).map(new Path(root, _)) ++ staging.map(new Path(_)))
      .foreach(f.delete(_, true))
  }

  // ---------------------------------------------------- streamed batches

  /** Commit streamed batch `batchId` exactly once — the replayable
    * source + idempotent sink argument: `foreachBatch` re-runs a batch
    * after a failure, so the sink must make a replay converge instead
    * of duplicating.
    *
    *   1. A batch whose seal `_stream_commits/<batchId>` exists is
    *      skipped (returns false).
    *   2. Otherwise, under the writer lock, `stageAndInstall` writes the
    *      batch under a per-attempt staging dir (UUID — a zombie attempt
    *      never writes into ours) and installs each staged file under a
    *      DETERMINISTIC name ([[installPartitions]] / [[installFile]]),
    *      replacing — never duplicating — what a crashed attempt left.
    *   3. The seal is created if absent; losing that race to an
    *      identical concurrent attempt is harmless.
    *
    * A crash before the seal leaves no marker, so the stream replays
    * the batch and the deterministic names converge.
    */
  def commitStreamBatch(spark: SparkSession, batchId: Long)(
      stageAndInstall: Path => Unit): Boolean = {
    val f = fs(spark)
    val marker = new Path(root, s"$StreamCommitsDir/$batchId")
    if (f.exists(marker)) false
    else withWriterLock(spark) {
      val staging = new Path(root,
        s"$StreamStagingDir/$batchId-${java.util.UUID.randomUUID()}")
      stageAndInstall(staging)
      f.delete(staging, true)
      seal(f, marker)
      true
    }
  }

  /** Install every staged `<prefix>N/` partition of `staged` (exactly
    * one data file each, by the caller's repartition) as
    * `<target>/<prefix>N/b<batchId>.parquet`.
    */
  def installPartitions(
      spark: SparkSession, staged: Path, target: Path, prefix: String, batchId: Long): Unit =
    partitionDirs(spark, staged, prefix).foreach(d =>
      installFile(spark, d, new Path(target, d.getName), batchId))

  /** Install the single staged data file of `stagedDir` as
    * `<targetDir>/b<batchId>.parquet`, replacing a same-named leftover
    * and sweeping the `b<batchId>-*` multi-file leftovers an
    * older-format attempt may have installed. A rename that fails with
    * the name already in place lost the race to an identical attempt.
    */
  def installFile(spark: SparkSession, stagedDir: Path, targetDir: Path, batchId: Long): Unit = {
    val f = fs(spark)
    f.mkdirs(targetDir)
    Option(f.globStatus(new Path(targetDir, s"b$batchId-*.parquet")))
      .foreach(_.foreach(st => f.delete(st.getPath, false)))
    val files = TinyParquet.dataFiles(spark.sparkContext.hadoopConfiguration, stagedDir.toString)
    require(files.length == 1,
      s"$what stream install: expected exactly one staged file in $stagedDir, " +
        s"got ${files.length} — the per-partition repartition invariant broke")
    val installed = new Path(targetDir, s"b$batchId.parquet")
    f.delete(installed, false)
    if (!f.rename(files.head.getPath, installed) && !f.exists(installed))
      throw new java.io.IOException(
        s"$what stream install: could not install ${files.head.getPath} as $installed")
  }

  /** Refuse to compact over an UNCOMMITTED streamed batch — a
    * `b<id>.parquet` in one of `tableDirs` whose seal is absent (a
    * crashed attempt pending redelivery): the rewrite would merge its
    * rows AND destroy the deterministic name the retry replaces, so the
    * redelivery would install a second copy. The writer lock already
    * excludes an in-flight install; this guards the crashed window.
    * Loud and retryable: let the stream recover the batch, then compact.
    */
  def requireStreamCommitted(spark: SparkSession, tableDirs: Seq[Path]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val f = fs(spark)
    val pending = tableDirs
      .flatMap(d => TinyParquet.dataFiles(conf, d.toString))
      .flatMap(st => BatchFile.findFirstMatchIn(st.getPath.getName).map(_.group(1)))
      .distinct
      .filterNot(id => f.exists(new Path(root, s"$StreamCommitsDir/$id")))
    if (pending.nonEmpty)
      throw new IllegalStateException(
        s"compact: uncommitted streamed batch(es) ${pending.mkString(", ")} present " +
          "— a crashed ingest attempt is pending redelivery; " +
          "let the stream recover, then compact")
  }
}

private[graft] object IndexState {

  private val TombstonesDir = "tombstones"
  private val StreamCommitsDir = "_stream_commits"
  private val StreamStagingDir = "_stream_staging"

  /** Driver-side read guard for a takedown set. */
  private val TinyMaxBytes = 8L << 20

  /** Broadcast estimate per requested id of a takedown batch. */
  private val IdRowBytes = 56L

  /** A streamed batch's installed name (`b<id>.parquet`, or the
    * `b<id>-<n>.parquet` of the older multi-file format).
    */
  private val BatchFile = "b(\\d+)(?:-\\d+)?\\.parquet".r

  /** A tombstone key of one long column. */
  def longKey(name: String): StructType =
    StructType(Seq(StructField(name, LongType, nullable = false)))

  /** A (string, long) key — [[graft.ops.DedupIndex]]'s (hash, keeper). */
  def stringLongKey(s: String, l: String): StructType =
    StructType(Seq(StructField(s, StringType), StructField(l, LongType, nullable = false)))

  /** Orders key rows column by column (longs numerically, strings
    * lexically), so the driver-side set's LocalRelation is deterministic.
    */
  private val KeyOrdering: Ordering[Seq[Any]] = (a, b) =>
    a.iterator.zip(b.iterator).map {
      case (x: Long, y: Long) => java.lang.Long.compare(x, y)
      case (x, y) => x.toString.compareTo(y.toString)
    }.find(_ != 0).getOrElse(0)

  /** The `<prefix>N` partition directories of a partitioned table dir
    * (none when it is absent).
    */
  def partitionDirs(spark: SparkSession, table: Path, prefix: String): Seq[Path] = {
    val f = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(table)) Nil
    else f.listStatus(table).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .map(_.getPath)
  }

  /** Create a marker file if absent; losing the race is benign. */
  def seal(fs: FileSystem, marker: Path): Unit = {
    fs.mkdirs(marker.getParent)
    try fs.create(marker, false).close()
    catch { case _: java.io.IOException => () }
  }

  // -------------------------------------------- catalog-registered indexes

  /** Index roots of catalog-registered indexes (the parent of a
    * table's directory). The probe path reads the takedown set every
    * call and `getTableMetadata` is a driver round trip, so probes use
    * this cache; every mutator refreshes it, so the worst staleness is
    * one probe reading the previous location's tombstones after an
    * out-of-band re-registration.
    */
  private val rootCache = new java.util.concurrent.ConcurrentHashMap[String, Path]()

  private def freshCatalogRoot(spark: SparkSession, table: String): Path =
    new Path(spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table)).location).getParent

  /** The cached root of the index that registers `table`. */
  def catalogRoot(spark: SparkSession, table: String): Path = {
    val hit = rootCache.get(table) // get-first: computeIfAbsent locks the bin even on hits
    if (hit != null) hit
    else rootCache.computeIfAbsent(table, _ => freshCatalogRoot(spark, table))
  }

  /** Run a mutator of the catalog-registered index behind `table`
    * holding its writer lock. The root is `dir` when the caller has it,
    * else resolved FRESH from the catalog (never the probe cache — a
    * stale entry would lock the wrong root), so mutators that only know
    * the table lock the same file the dir-carrying ones do; the probe
    * cache is refreshed either way. `stateAt` builds the index's state
    * at that root.
    */
  def mutate[T](spark: SparkSession, dir: String, table: String)(
      stateAt: String => IndexState)(body: IndexState => T): T = {
    val root = if (dir != null) new Path(dir) else freshCatalogRoot(spark, table)
    rootCache.put(table, root)
    val st = stateAt(root.toString)
    st.withWriterLock(spark)(body(st))
  }
}
