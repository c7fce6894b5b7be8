package graft.fred.io

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.types.{StringType, StructType}

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
    * ≥1 data file), with their data-file counts. Skips the directories
    * Spark's file index skips: dot-names, and `_`-names that are not a
    * `col=value` leaf — a crashed write's `_temporary/` attempt files
    * are not part of the table and are not counted or compacted. */
  def partitionCensus(spark: SparkSession,
      root: String): Seq[(String, Long)] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    def walk(dir: Path): Unit = {
      val entries = fs.listStatus(dir)
      val n = entries.count(e =>
        e.isFile && e.getPath.getName.endsWith(".parquet"))
      if (n > 0) out += ((dir.toString, n.toLong))
      entries.filter(_.isDirectory)
        .filterNot { e =>
          val name = e.getPath.getName
          name.startsWith(".") || (name.startsWith("_") && !name.contains("="))
        }
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
    * are read with `basePath` (partition columns preserved), rewritten
    * with ONE shuffle on the partition columns and `maxRecordsPerFile`
    * sized from their own bytes-per-row, and swapped in by
    * [[replaceLeaves]], the staged leaf-replace commit every in-place
    * leaf rewrite here shares: a crash at any step leaves the
    * fragmented or the compacted leaf once [[healReplaceLeaves]] has
    * run, and it runs at the top of this op and of [[deleteWhere]].
    * Untouched partitions keep their exact files. Global atomicity
    * across partitions is a table format's job (Iceberg/Delta
    * `rewrite_data_files` = this + a catalog transaction) — caveat
    * stated, like [[compactParquet]].
    *
    * Returns (partitions_compacted, files_before, files_after) over
    * the whole root. */
  def compactFragmented(spark: SparkSession, root: String,
      targetBytes: Long, minFiles: Int,
      partitionCols: Seq[String] = PartitionCols): (Long, Long, Long) = {
    require(targetBytes > 0, "targetBytes must be positive")
    require(minFiles >= 1, "minFiles must be >= 1")
    healReplaceLeaves(spark, root) // finish a crashed prior commit first
    val leaves = partitionCensus(spark, root)
    val filesBefore = leaves.map(_._2).sum
    val frag = leaves.filter(_._2 > minFiles)
    if (frag.isEmpty) return (0L, filesBefore, filesBefore)
    val paths = frag.map(_._1)
    // partition values read back verbatim, as strings: a type inferred
    // from these leaves alone can rename a leaf (`007` → 7) or be VOID
    // (an all-null leaf), which no writer takes
    val inferred = spark.read.option("basePath", root).parquet(paths: _*).schema
    val df = spark.read.option("basePath", root)
      .schema(StructType(inferred.map(f =>
        if (partitionCols.contains(f.name)) f.copy(dataType = StringType) else f)))
      .parquet(paths: _*)
    val rows = df.count()
    val fragBytes = frag.map { case (dir, _) =>
      parquetCensus(spark, dir)._2 }.sum
    val avgRow = math.max(1L, fragBytes / math.max(rows, 1L))
    val qRoot = leafStage(spark, root)._2.toString
    val rels = frag.map { case (dir, _) =>
      val rel = dir.stripPrefix(qRoot).stripPrefix("/")
      require(rel.nonEmpty && rel != dir, s"partition $dir is not under $qRoot")
      rel
    }
    replaceLeaves(spark, root, partitionCols, rels,
      df.repartition(partitionCols.map(col): _*).write
        .option("maxRecordsPerFile", math.max(1L, targetBytes / avgRow)))
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
    * re-read, anti-filtered and swapped in by [[replaceLeaves]] — a
    * partition whose rows ALL matched stages no rows and its leaf is
    * removed outright. Non-affected partitions are never read past
    * the probe scan. After a crash, [[healReplaceLeaves]] (run at the
    * top of this op) finishes the delete once its commit point has
    * passed and leaves the lake untouched before it; re-delivering
    * the same delete converges either way.
    *
    * @return (partitions_rewritten, rows_deleted) */
  def deleteWhere(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      partitionCols: Seq[String] = PartitionCols): (Long, Long) = {
    healReplaceLeaves(spark, root) // finish a crashed prior commit first
    val lake = spark.read.parquet(root)
    // partition values rendered as Spark's writer renders them when it
    // names a leaf directory: cast to string
    val probe = lake.filter(predicate)
      .groupBy(partitionCols.map(c => col(c).cast("string")): _*)
      .count()
      .collect() // bounded by the partition count, not the row count
    if (probe.isEmpty) return (0L, 0L)
    val rowsDeleted = probe.map(_.getLong(partitionCols.size)).sum
    val leaves = probe.toSeq.map(r =>
      leafPath(partitionCols, partitionCols.indices.map(r.getString)))
    val qRoot = leafStage(spark, root)._2.toString
    // NOT coalesce(p, false), not plain !p: a NULL-valued predicate
    // row is NOT a match (the probe's filter(p) semantics) and must
    // SURVIVE the rewrite — `!p` on NULL is NULL and would silently
    // drop it. The leaves re-read with the lake's schema: partition
    // types inferred from these leaves alone can differ (an all-null
    // leaf infers VOID, which no writer takes)
    val kept = spark.read.schema(lake.schema).option("basePath", root)
      .parquet(leaves.map(l => s"$qRoot/$l"): _*)
      .filter(!coalesce(predicate, lit(false)))
    replaceLeaves(spark, root, partitionCols, leaves,
      kept.repartition(partitionCols.map(col): _*).write)
    (leaves.length.toLong, rowsDeleted)
  }

  /** Hive leaf path `c1=v1/c2=v2` of one partition tuple, escaped as
    * Spark's writer escapes it: `:`, `%`, `/` and the like become
    * `%XX`, and a null value is `__HIVE_DEFAULT_PARTITION__`. A leaf
    * built from the raw value misses such a directory. */
  private[graft] def leafPath(partitionCols: Seq[String],
      values: Seq[String]): String =
    partitionCols.zip(values).map { case (c, v) =>
      ExternalCatalogUtils.getPartitionPathString(c, v)
    }.mkString("/")

  /** The staged leaf-replace commit: replace the `leaves` of the
    * Hive-partitioned `root` (paths relative to it, as [[leafPath]]
    * builds them) with the rows `replacement` writes. The caller sizes
    * the files (repartition, `maxRecordsPerFile`); this owns where
    * they go and when they become live:
    *
    *   1. Stage: `replacement` is written, partitioned by
    *      `partitionCols`, to a dot-sibling of `root` — outside it,
    *      since Spark refuses to overwrite a path it is reading.
    *      Staged rows outside the listed leaves abort the commit here
    *      (a re-read that renders a value differently from its
    *      directory, such as `007` inferred as `7`, must not turn a
    *      replace into a delete).
    *   2. Commit point: a manifest listing the leaves is published into
    *      the stage by one rename. Before it the live root is
    *      untouched; from it on the stage alone can finish the commit.
    *   3. Apply: per leaf, delete the live leaf, then copy in its staged
    *      files, if it has any — a leaf with no staged rows stays
    *      deleted. Nothing is renamed out of the stage (on an object
    *      store a directory rename is itself a copy then a delete), so
    *      the stage stays complete until the commit has landed.
    *   4. Discard: the manifest first, then the stage. A directory
    *      delete is not atomic, and a crash inside it must leave a
    *      manifest-less stage, which [[healReplaceLeaves]] drops — a
    *      stamped partial stage would apply its missing leaves as
    *      deletions.
    *
    * Every step re-runs idempotently. Once [[healReplaceLeaves]] has
    * run, readers see each leaf's old rows or its new rows; a reader
    * racing the apply can see a leaf missing, so readers quiesce for
    * the commit. */
  private[graft] def replaceLeaves(spark: SparkSession, root: String,
      partitionCols: Seq[String], leaves: Seq[String],
      replacement: DataFrameWriter[Row]): Unit = {
    val (fs, rootPath, stage) = leafStage(spark, root)
    replacement.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*)
      .parquet(stage.toString)
    val stray = partitionCensus(spark, stage.toString)
      .map(_._1.stripPrefix(stage.toString).stripPrefix("/"))
      .filterNot(leaves.toSet)
    require(stray.isEmpty, s"staged rows fall outside the leaves being " +
      s"replaced under $root: ${stray.mkString(", ")} — nothing committed")
    val tmp = new Path(stage, s".$LeafManifest.tmp")
    val out = fs.create(tmp, true)
    try out.write(leaves.mkString("\n").getBytes("UTF-8")) finally out.close()
    require(fs.rename(tmp, new Path(stage, LeafManifest)),
      s"could not publish the manifest in $stage")
    applyStage(spark, fs, rootPath, stage, leaves)
  }

  /** Finish or drop a crashed [[replaceLeaves]] on `root`: a stage
    * holding a manifest re-runs apply and discard from the stage; a
    * stage without one is dropped, since the live root was never
    * touched. Runs at the top of every op that rewrites leaves and in
    * every funnelled reader of such a root; a plain lake root has no
    * reader funnel, so run it after a crash before trusting reads. */
  def healReplaceLeaves(spark: SparkSession, root: String): Unit = {
    val (fs, rootPath, stage) = leafStage(spark, root)
    val manifest = new Path(stage, LeafManifest)
    if (fs.exists(manifest)) {
      val in = fs.open(manifest)
      val leaves = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toList finally in.close()
      applyStage(spark, fs, rootPath, stage, leaves)
    } else if (fs.exists(stage)) fs.delete(stage, true)
  }

  private val LeafManifest = "_LEAVES"

  /** (filesystem, qualified root, stage dir) of a leaf-replaced root. */
  private def leafStage(spark: SparkSession,
      root: String): (FileSystem, Path, Path) = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val q = fs.makeQualified(p)
    (fs, q, new Path(q.getParent, s".${q.getName}.leaf_commit"))
  }

  /** Steps 3 and 4 of [[replaceLeaves]]. */
  private def applyStage(spark: SparkSession, fs: FileSystem, root: Path,
      stage: Path, leaves: Seq[String]): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    leaves.foreach { rel =>
      val live = new Path(root, rel)
      val staged = new Path(stage, rel)
      require(!fs.exists(live) || fs.delete(live, true),
        s"could not delete $live")
      if (fs.exists(staged))
        require(FileUtil.copy(fs, staged, fs, live, false, conf),
          s"could not copy $staged to $live")
    }
    fs.delete(new Path(stage, LeafManifest), false)
    fs.delete(stage, true)
  }
}
