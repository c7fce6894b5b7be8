package graft.fred.io

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Partitioned-lake read/write (G2, G3, H1, H2).
  *
  * The reference hand-builds Hive-style paths
  * (`raw_data/indicator=…/year=…/month=…`, `extract_fred_data.py:216-219`)
  * and overwrites one file per partition (`load_bytes(replace=True)`,
  * `:225`). The Spark-native equivalent: write the partitioned ROOT with
  * dynamic partition overwrite — only the partitions present in the
  * frame are replaced, exactly the reference's per-key `replace=True`
  * semantics — and read the root with filters, letting Catalyst's
  * `PruneFileSourcePartitions` skip everything else. No string-built
  * paths anywhere; at 100 TB the pruning + parquet row-group stats do
  * the work the reference's path arithmetic did.
  */
object LakeIO {

  val PartitionCols: Seq[String] = Seq("indicator", "observation_year", "observation_month")

  /** Overwrite only the partitions present in `df`. The per-write
    * option wins over the session's `partitionOverwriteMode`, which is
    * left as the caller set it. */
  private def overwritePartitions(df: DataFrame,
      partitionCols: Seq[String]): DataFrameWriter[Row] =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)

  /** H1: bronze JSON-lines write, partition-overwriting (`extract_fred_data.py:213-226`). */
  def writeBronze(df: DataFrame, root: String): Unit =
    overwritePartitions(df, PartitionCols).json(root)

  /** G2: bronze read with explicit schema — never infer
    * (`transform_fred_data.py:83` re-infers per file; SURVEY §7.4.4). */
  def readBronze(spark: SparkSession, root: String): DataFrame =
    readJson(spark, root, graft.fred.Schemas.bronze)

  def readJson(spark: SparkSession, root: String, schema: StructType): DataFrame = {
    // Partition columns (indicator/year/month) come from the directory
    // layout; the data schema is the non-partition remainder.
    val dataFields = schema.fields.filterNot(f => PartitionCols.contains(f.name))
    spark.read.schema(StructType(dataFields)).json(root)
  }

  /** H2: silver/gold parquet write, partition-overwriting
    * (`transform_fred_data.py:150-175`, `aggregate_fred_data.py:64-86`). */
  def writeParquet(df: DataFrame, root: String,
      partitionCols: Seq[String] = PartitionCols): Unit =
    overwritePartitions(df, partitionCols).parquet(root)

  /** G3: partitioned parquet read; missing partitions simply yield no
    * rows (the reference swallows per-file NoSuchKey into empty frames,
    * `aggregate_fred_data.py:47-58`, `load_fred_data.py:83-105`).
    * A root that does not exist AT ALL — the first-ever run of a
    * downstream stage before any upstream write — yields an empty frame
    * with `schemaIfMissing` instead of an AnalysisException, matching
    * the same reference behavior; without a schema the error
    * propagates (callers who can't name a schema can't use an empty
    * frame either). */
  def readParquet(spark: SparkSession, root: String,
      schemaIfMissing: Option[StructType] = None): DataFrame =
    schemaIfMissing match {
      case None => spark.read.parquet(root)
      case Some(s) =>
        val path = new org.apache.hadoop.fs.Path(root)
        val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
        if (!fs.exists(path))
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
        // explicit schema also covers the exists-but-no-files case (a
        // prior run wrote an empty frame): no inference, empty result
        else spark.read.schema(s).parquet(root)
    }

  /** Typed silver read: the `Dataset[SilverObservation]` boundary for
    * consumers that want compile-time row shapes (SURVEY §1.3 —
    * case classes at layer boundaries, DataFrame internally). Partition
    * columns come back as ints from the directory layout and fold into
    * the case class fields. */
  def readSilverTyped(spark: SparkSession, root: String):
      org.apache.spark.sql.Dataset[graft.fred.SilverObservation] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    spark.read.parquet(root)
      .select(graft.fred.Schemas.silver.fieldNames.map(col).toSeq: _*)
      .as[graft.fred.SilverObservation]
  }

  /** ORC write, partition-overwriting — same dynamic-overwrite contract
    * as [[writeParquet]] for deployments standardized on ORC (both are
    * columnar with predicate-pushdown stats; the operators above are
    * format-agnostic). */
  def writeOrc(df: DataFrame, root: String,
      partitionCols: Seq[String] = PartitionCols): Unit =
    overwritePartitions(df, partitionCols).orc(root)

  def readOrc(spark: SparkSession, root: String): DataFrame =
    spark.read.orc(root)

  /** CSV read with an EXPLICIT schema — the interchange-format path for
    * hand-off files. Never schema-infer (inference is a full extra scan
    * and types drift per file — the same rule as [[readJson]]); header
    * handling is by position with the header row skipped. */
  def readCsv(spark: SparkSession, root: String, schema: StructType,
      header: Boolean = true, delimiter: String = ","): DataFrame =
    spark.read.schema(schema)
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .csv(root)

  def writeCsv(df: DataFrame, root: String, header: Boolean = true): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", header.toString).csv(root)

  /** Bucketed catalog table write: co-locates rows by `bucketCols`
    * hash so joins and aggregations on those keys need no Exchange —
    * the pre-shuffle trade that pays for itself once a big table is
    * joined more than once on its natural key. At 100 TB this is the
    * difference between re-shuffling the fact table per query and
    * scanning it in place; both sides of a join must agree on bucket
    * count (and AQE keeps the bucketed scan when it helps).
    */
  def writeBucketedTable(df: DataFrame, table: String,
      bucketCols: Seq[String], numBuckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val sorted = if (sortCols.nonEmpty)
      w.sortBy(sortCols.head, sortCols.tail: _*) else w
    sorted.format("parquet").saveAsTable(table)
  }

  /** Parquet file census under a root: (n_data_files, total_bytes).
    * Metadata/_SUCCESS files don't count. */
  def parquetCensus(spark: SparkSession, root: String): (Long, Long) = {
    val path = new org.apache.hadoop.fs.Path(root)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(path, true)
    var n = 0L; var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) { n += 1; bytes += f.getLen }
    }
    (n, bytes)
  }

  /** Small-files compaction — the lake-maintenance op every
    * incremental pipeline eventually needs: per-partition appends
    * accumulate files far below the efficient scan size (a month of
    * hourly loads = hundreds of KB-scale files per partition, and at
    * 100 TB the NameNode/listing cost plus per-file open overhead
    * dominates the scan). Reads `inRoot`, rewrites to `outRoot` with
    * ONE shuffle on the partition columns (each partition's rows land
    * together) and `maxRecordsPerFile` sized so output files
    * approximate `targetBytes` (estimated from the input's
    * bytes-per-row — parquet-encoded, so the estimate inherits the
    * input's compression ratio). Returns (files_before, files_after).
    *
    * Honest caveats, stated: output goes to a NEW root — Spark cannot
    * overwrite a path it is reading, so the caller swaps roots (or
    * runs the table-format commit protocol that owns atomic swap —
    * Iceberg/Delta `rewrite_data_files` is this op with a catalog
    * transaction around it). A heavily skewed partition compacts
    * through one task — salt the repartition
    * (`repartition(cols :+ salt)`) when one partition outweighs an
    * executor; file SPLITTING via maxRecordsPerFile is unaffected. */
  def compactParquet(spark: SparkSession, inRoot: String, outRoot: String,
      targetBytes: Long,
      partitionCols: Seq[String] = PartitionCols): (Long, Long) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val (filesBefore, bytes) = parquetCensus(spark, inRoot)
    val df = spark.read.parquet(inRoot)
    val rows = df.count()
    val avgRow = math.max(1L, bytes / math.max(rows, 1L))
    val maxRecords = math.max(1L, targetBytes / avgRow)
    df.repartition(partitionCols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecords)
      .partitionBy(partitionCols: _*)
      .parquet(outRoot)
    (filesBefore, parquetCensus(spark, outRoot)._1)
  }

  /** Leaf partition directories under `root` (dirs directly holding
    * ≥1 data file), with their data-file counts. */
  def partitionCensus(spark: SparkSession,
      root: String): Seq[(String, Long)] = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    def walk(dir: org.apache.hadoop.fs.Path): Unit = {
      val entries = fs.listStatus(dir)
      val n = entries.count(e =>
        e.isFile && e.getPath.getName.endsWith(".parquet"))
      if (n > 0) out += ((dir.toString, n.toLong))
      entries.filter(_.isDirectory)
        .filterNot(_.getPath.getName.startsWith("."))
        .foreach(e => walk(e.getPath))
    }
    walk(rootPath)
    out.toSeq
  }

  /** SELECTIVE in-place compaction: rewrite ONLY partitions holding
    * more than `minFiles` data files — the incremental form of
    * [[compactParquet]] a large lake actually schedules (rewriting
    * 100 TB to fix last week's fragmented partitions is absurd; the
    * maintenance job touches the hot tail only). Fragmented leaves
    * are read with `basePath` (partition columns preserved), written
    * compacted to a dot-prefixed temp dir under `root` (invisible to
    * readers — Spark skips dot-dirs), then SWAPPED in via one
    * FS rename per partition (atomic per partition on HDFS/POSIX;
    * the old leaf is renamed aside first and deleted after, so a
    * crash mid-swap strands at most a `.compact_old` aside — never a
    * half-written visible partition — and [[healPartitionSwaps]],
    * wired into the top of this op and [[deleteWhere]], restores a
    * leaf whose only copy is its aside and purges stale asides whose
    * swap landed). Untouched partitions keep their exact files.
    * Global atomicity across partitions is a table format's job
    * (Iceberg/Delta `rewrite_data_files` = this + a catalog
    * transaction) — caveat stated, like [[compactParquet]].
    *
    * Returns (partitions_compacted, files_before, files_after) over
    * the whole root. */
  def compactFragmented(spark: SparkSession, root: String,
      targetBytes: Long, minFiles: Int,
      partitionCols: Seq[String] = PartitionCols): (Long, Long, Long) = {
    require(targetBytes > 0, "targetBytes must be positive")
    require(minFiles >= 1, "minFiles must be >= 1")
    healPartitionSwaps(spark, root) // finish a crashed prior swap first
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val leaves = partitionCensus(spark, root)
    val filesBefore = leaves.map(_._2).sum
    val frag = leaves.filter(_._2 > minFiles)
    if (frag.isEmpty) return (0L, filesBefore, filesBefore)
    val tmp = new org.apache.hadoop.fs.Path(rootPath, ".compact_tmp")
    fs.delete(tmp, true)
    val df = spark.read.option("basePath", root)
      .parquet(frag.map(_._1): _*)
    val rows = df.count()
    val fragBytes = frag.map { case (dir, _) =>
      parquetCensus(spark, dir)._2 }.sum
    val avgRow = math.max(1L, fragBytes / math.max(rows, 1L))
    df.repartition(partitionCols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", math.max(1L, targetBytes / avgRow))
      .partitionBy(partitionCols: _*)
      .parquet(tmp.toString)
    val qRoot = fs.makeQualified(rootPath).toString
    frag.foreach { case (dir, _) =>
      val leaf = fs.makeQualified(new org.apache.hadoop.fs.Path(dir))
      val rel = leaf.toString.stripPrefix(qRoot).stripPrefix("/")
      require(rel.nonEmpty && rel != leaf.toString,
        s"partition $leaf is not under $qRoot")
      val tmpLeaf = new org.apache.hadoop.fs.Path(tmp, rel)
      require(fs.exists(tmpLeaf),
        s"compacted output missing for partition $rel — aborting swap")
      val aside = new org.apache.hadoop.fs.Path(
        leaf.getParent, s".compact_old_${leaf.getName}")
      fs.delete(aside, true)
      require(fs.rename(leaf, aside), s"could not move aside $leaf")
      require(fs.rename(tmpLeaf, leaf), s"could not swap in $tmpLeaf")
      fs.delete(aside, true)
    }
    fs.delete(tmp, true)
    (frag.size.toLong, filesBefore, partitionCensus(spark, root).map(_._2).sum)
  }

  /** Targeted delete propagation — the right-to-be-forgotten /
    * takedown primitive a training-data lake must run routinely:
    * remove every row matching `predicate` by rewriting ONLY the
    * partitions that contain matches, leaving every other partition's
    * files byte-untouched (at 100 TB, rewriting the lake to delete
    * one user is absurd; the delete job touches the affected leaves
    * only — this is Iceberg/Delta `DELETE WHERE`'s copy-on-write
    * path, minus their catalog transaction, caveat as stated on
    * [[compactFragmented]]).
    *
    * Mechanics: one predicate scan finds the affected partition
    * tuples (parquet min/max stats prune files the predicate cannot
    * match even inside unpruned partitions); only those leaves are
    * re-read, anti-filtered, written to a dot-prefixed temp dir
    * (invisible to readers) and SWAPPED in per partition with the
    * [[compactFragmented]] rename discipline — a partition whose rows
    * ALL matched comes back empty and its leaf is removed outright.
    * Non-affected partitions are never read past the probe scan.
    *
    * @return (partitions_rewritten, rows_deleted) */
  def deleteWhere(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      partitionCols: Seq[String] = PartitionCols): (Long, Long) = {
    healPartitionSwaps(spark, root) // finish a crashed prior swap first
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val probe = spark.read.parquet(root).filter(predicate)
      .groupBy(partitionCols.map(org.apache.spark.sql.functions.col): _*)
      .count()
      .collect() // bounded by the partition count, not the row count
    if (probe.isEmpty) return (0L, 0L)
    val rowsDeleted = probe.map(_.getLong(partitionCols.size)).sum
    val qRoot = fs.makeQualified(rootPath).toString
    // hive layout: root/col1=v1/col2=v2 — values here are the
    // identifier/int partition keys this lake writes; callers with
    // special-character partition values need hive escaping (stated)
    val leaves = probe.map { r =>
      partitionCols.zipWithIndex
        .map { case (c, i) => s"$c=${r.get(i)}" }.mkString("/")
    }
    val tmp = new org.apache.hadoop.fs.Path(rootPath, ".delete_tmp")
    fs.delete(tmp, true)
    // NOT coalesce(p, false), not plain !p: a NULL-valued predicate
    // row is NOT a match (the probe's filter(p) semantics) and must
    // SURVIVE the rewrite — `!p` on NULL is NULL and would silently
    // drop it
    val kept = spark.read.option("basePath", root)
      .parquet(leaves.map(l => s"$qRoot/$l").toIndexedSeq: _*)
      .filter(!org.apache.spark.sql.functions.coalesce(predicate,
        org.apache.spark.sql.functions.lit(false)))
    kept.repartition(partitionCols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(tmp.toString)
    // The swap loop is per-leaf atomic but NOT transactional across
    // leaves: a failure mid-loop leaves earlier leaves rewritten and
    // later ones untouched (each leaf is individually consistent —
    // re-running the same deleteWhere converges). Within one leaf, a
    // failed swap-in restores the original partition before rethrowing
    // so readers never see the partition missing (r14 ADVICE #3).
    leaves.foreach { rel =>
      val leaf = new org.apache.hadoop.fs.Path(s"$qRoot/$rel")
      val tmpLeaf = new org.apache.hadoop.fs.Path(tmp, rel)
      val aside = new org.apache.hadoop.fs.Path(
        leaf.getParent, s".delete_old_${leaf.getName}")
      fs.delete(aside, true)
      require(fs.rename(leaf, aside), s"could not move aside $leaf")
      // a fully-deleted partition has no compacted output: drop it
      if (fs.exists(tmpLeaf) && !fs.rename(tmpLeaf, leaf)) {
        // put the original leaf back before failing — the aside dir is
        // dot-prefixed (invisible), so leaving it there would present
        // readers a silently-missing partition
        fs.rename(aside, leaf)
        throw new IllegalStateException(
          s"could not swap in $tmpLeaf; original $leaf restored")
      }
      fs.delete(aside, true)
    }
    fs.delete(tmp, true)
    (leaves.length.toLong, rowsDeleted)
  }

  /** Heal the per-partition swap asides a crashed [[compactFragmented]]
    * or [[deleteWhere]] leaves behind — wired into the top of both ops
    * (the maintenance-cadence choke point; plain lake roots have no
    * reader funnel to intercept, so run this after a crash before
    * trusting reads). Walks the partition tree for
    * `.compact_old_*` / `.delete_old_*` siblings:
    *
    *   - visible leaf MISSING → rename the aside back. The crash hit
    *     between the two renames and the aside holds the partition's
    *     ONLY copy — without the restore every read silently misses
    *     that partition (the dot-prefix hides the aside from Spark).
    *   - visible leaf PRESENT → delete the stale aside. The swap
    *     landed; for [[deleteWhere]] the aside is the deleted rows'
    *     LAST on-disk copy, and right-to-be-forgotten must not leave
    *     it lingering in a hidden sibling.
    *
    * One state is ambiguous: a FULLY-deleted partition's crash between
    * its move-aside and its aside-drop looks identical to a crashed
    * swap-in (leaf missing, aside present). The heal RESTORES — the
    * convergent choice: re-delivering the same `deleteWhere`
    * re-deletes it (predicate semantics, idempotent), whereas guessing
    * "drop" in the other case would destroy a compacted partition's
    * survivors outright. Erasure callers therefore re-deliver after a
    * crash, the standing contract for every erasure path in this
    * library.
    *
    * @return (leaves_restored, stale_asides_purged) */
  def healPartitionSwaps(spark: SparkSession, root: String): (Long, Long) = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(rootPath)) return (0L, 0L)
    var restored = 0L
    var purged = 0L
    val aside = "^\\.(?:compact_old_|delete_old_)(.+)$".r
    def walk(dir: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(dir).filter(_.isDirectory).foreach { e =>
        e.getPath.getName match {
          case aside(orig) =>
            val leaf = new org.apache.hadoop.fs.Path(dir, orig)
            if (!fs.exists(leaf)) {
              require(fs.rename(e.getPath, leaf),
                s"could not restore $leaf from ${e.getPath}")
              // name WHICH partitions came back (r19 ADVICE #5): for a
              // crashed fully-deleted partition the restore quietly
              // resurrects erased rows until the caller re-delivers
              // the delete (the documented convergent choice) — an
              // erasure operator watching this log can re-deliver
              // promptly instead of discovering the rows in an audit
              System.err.println(
                s"[graft] healPartitionSwaps: restored $leaf from a " +
                  "crashed swap aside — if this partition was being " +
                  "DELETED, re-deliver the deleteWhere")
              restored += 1
            } else {
              fs.delete(e.getPath, true)
              purged += 1
            }
          case n if !n.startsWith(".") && !n.startsWith("_") =>
            walk(e.getPath)
          case _ => ()
        }
      }
    walk(rootPath)
    (restored, purged)
  }
}
