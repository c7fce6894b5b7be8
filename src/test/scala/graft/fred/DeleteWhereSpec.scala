package graft.fred

import org.apache.spark.sql.functions._

import graft.{FaultFs, SparkSpec}
import graft.fred.io.LakeIO

/** Targeted delete propagation (right-to-be-forgotten): only
  * partitions containing matches are rewritten — untouched partitions
  * keep their exact files (asserted on name+length+mtime), a
  * fully-matching partition's leaf disappears, and a no-match
  * predicate is a no-op that rewrites nothing.
  */
class DeleteWhereSpec extends SparkSpec {
  import spark.implicits._

  private val parts = Seq("indicator", "observation_year")

  private def freshLake(): String = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_delete").toString + "/lake"
    val rows = for {
      ind <- Seq("A", "B", "C"); y <- Seq(2023, 2024); d <- 1 to 10
    } yield (ind, y, d, (d * 100 + y % 100).toDouble, s"u${d % 3}")
    LakeIO.writeParquet(
      rows.toDF("indicator", "observation_year", "observation_day",
        "value", "user"),
      root, parts)
    root
  }

  private def census(root: String): Map[String, (Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(p, true)
    val out = scala.collection.mutable.Map.empty[String, (Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet"))
        out(f.getPath.toString) = (f.getLen, f.getModificationTime)
    }
    out.toMap
  }

  test("delete rewrites only matching partitions; others stay byte-untouched") {
    val root = freshLake()
    val before = census(root)
    // user u1 rows live in every partition of indicator A only for
    // this predicate; B/C partitions must not be rewritten
    val (nPart, nRows) = LakeIO.deleteWhere(spark, root,
      col("indicator") === "A" && col("user") === "u1", parts)
    assert(nPart == 2L, "A×{2023,2024} are the only affected leaves")
    assert(nRows == 8L, "4 u1 days (d ∈ {1,4,7,10}) × 2 years")
    val after = census(root)
    val untouched = before.filter(!_._1.contains("indicator=A"))
    assert(untouched.forall { case (f, meta) => after.get(f).contains(meta) },
      "non-matching partitions must keep their exact files")
    assert(after.keys.filter(_.contains("indicator=A"))
      .forall(f => !before.contains(f)),
      "matching partitions must have been rewritten")
    val left = spark.read.parquet(root)
    assert(left.count() == 60L - 8L)
    assert(left.filter(col("indicator") === "A" && col("user") === "u1")
      .count() == 0L)
    assert(left.filter(col("indicator") === "A").count() == 12L,
      "non-matching rows of the affected partitions survive")
  }

  test("a fully-matching partition's leaf is removed outright") {
    val root = freshLake()
    val (nPart, nRows) = LakeIO.deleteWhere(spark, root,
      col("indicator") === "C", parts)
    assert(nPart == 2L && nRows == 20L)
    assert(census(root).keys.forall(!_.contains("indicator=C")))
    val left = spark.read.parquet(root)
    assert(left.count() == 40L &&
      left.filter(col("indicator") === "C").count() == 0L)
  }

  test("no-match predicate is a no-op: zero rewrites, zero file churn") {
    val root = freshLake()
    val before = census(root)
    val (nPart, nRows) = LakeIO.deleteWhere(spark, root,
      col("value") > 1e9, parts)
    assert(nPart == 0L && nRows == 0L)
    assert(census(root) == before)
  }

  test("NULL-predicate rows are not matches and must survive the rewrite") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_delete_null").toString + "/lake"
    LakeIO.writeParquet(
      Seq(("A", 2023, "u1"), ("A", 2023, null), ("A", 2023, "u2"))
        .toDF("indicator", "observation_year", "user"),
      root, parts)
    val (nPart, nRows) = LakeIO.deleteWhere(spark, root,
      col("user") === "u1", parts)
    assert(nPart == 1L && nRows == 1L)
    val left = spark.read.parquet(root)
    assert(left.count() == 2L, "the NULL-user row must survive")
    assert(left.filter(col("user").isNull).count() == 1L)
  }

  test("delete is idempotent: a second run finds nothing") {
    val root = freshLake()
    LakeIO.deleteWhere(spark, root, col("user") === "u2", parts)
    val (n2, r2) = LakeIO.deleteWhere(spark, root, col("user") === "u2", parts)
    assert(n2 == 0L && r2 == 0L)
    assert(spark.read.parquet(root).filter(col("user") === "u2").count() == 0L)
  }

  test("partition values Spark escapes on write are found: indicator \"A:B\"") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_delete_esc").toString + "/lake"
    LakeIO.writeParquet(
      Seq(("A:B", 2023, "u1"), ("A:B", 2023, "u2"), ("C", 2023, "u1"))
        .toDF("indicator", "observation_year", "user"),
      root, parts)
    val (nPart, nRows) = LakeIO.deleteWhere(spark, root,
      col("indicator") === "A:B" && col("user") === "u1", parts)
    assert(nPart == 1L && nRows == 1L)
    val left = spark.read.parquet(root).select("indicator", "user")
      .as[(String, String)].collect().toSet
    assert(left == Set(("A:B", "u2"), ("C", "u1")))
  }

  test("a null partition value (__HIVE_DEFAULT_PARTITION__) is found and rewritten") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_delete_nullpart").toString + "/lake"
    LakeIO.writeParquet(
      Seq((null, 2023, "u1"), (null, 2023, "u2"), ("C", 2023, "u1"))
        .toDF("indicator", "observation_year", "user"),
      root, parts)
    val (nPart, nRows) = LakeIO.deleteWhere(spark, root,
      col("indicator").isNull && col("user") === "u1", parts)
    assert(nPart == 1L && nRows == 1L)
    val left = spark.read.parquet(root).select("indicator", "user")
      .as[(String, String)].collect().toSet
    assert(left == Set((null, "u2"), ("C", "u1")))
  }

  test("a crashed delete heals forward; erased rows keep no hidden copy") {
    FaultFs.register(spark)
    val tpl = freshLake()
    val pred = col("user") === "u1" && col("indicator") === "A" &&
      col("observation_year") === 2023
    // the commit's mutating calls, in order, from a fault-free run
    val trace = FaultFs.traceOf(
      LakeIO.deleteWhere(spark, FaultFs.freshCopy(spark, tpl), pred, parts))
    val liveDelete = trace.indexWhere { case (call, p) =>
      call == "delete" && p.endsWith("/lake/indicator=A/observation_year=2023") }
    val manifestDelete = trace.indexWhere { case (call, p) =>
      call == "delete" && p.endsWith("/_LEAVES") }
    assert(liveDelete >= 0 && manifestDelete > liveDelete)
    def rows(root: String) = spark.read.parquet(root).count()
    // nothing but the lake beside it: no stage, no hidden copy
    def residue(root: String) =
      new java.io.File(new java.net.URI(root).getPath).getParentFile
        .list().toSeq.filterNot(_ == "lake")
    val all = rows(tpl)
    val afterDelete = all - 4L // u1 on days 1, 4, 7 and 10 of 2023
    // crash right after the live leaf is deleted: its only copy is the
    // stamped stage, and every read silently misses the partition
    val stranded = FaultFs.freshCopy(spark, tpl)
    FaultFs.crashAt(spark, liveDelete + 2)(
      LakeIO.deleteWhere(spark, stranded, pred, parts))
    assert(rows(stranded) < afterDelete,
      "fixture: the stranded partition must be invisible to reads")
    LakeIO.healReplaceLeaves(spark, stranded)
    assert(rows(stranded) == afterDelete,
      "the partition must be visible again, with the delete applied")
    assert(residue(stranded).isEmpty)
    // crash after the apply landed, before the discard: the stamped
    // stage still sits beside the lake; the next heal drops it
    val landed = FaultFs.freshCopy(spark, tpl)
    FaultFs.crashAt(spark, manifestDelete + 1)(
      LakeIO.deleteWhere(spark, landed, pred, parts))
    assert(residue(landed).nonEmpty, "fixture: the stage must remain")
    val stage = new java.io.File(new java.net.URI(landed).getPath).getParent +
      "/" + residue(landed).head
    assert(spark.read.parquet(stage).filter(pred).isEmpty,
      "the stage holds survivors only, never an erased row")
    LakeIO.healReplaceLeaves(spark, landed)
    assert(residue(landed).isEmpty, "a landed commit's stage must go")
    assert(rows(landed) == afterDelete, "the live layout stays post-delete")
    assert(spark.read.parquet(landed).filter(pred).isEmpty)
    // the ops self-heal: strand the leaf again, then let deleteWhere's
    // own entry heal before it probes (a no-op predicate)
    val again = FaultFs.freshCopy(spark, tpl)
    FaultFs.crashAt(spark, liveDelete + 2)(
      LakeIO.deleteWhere(spark, again, pred, parts))
    val (nPart, nRows) = LakeIO.deleteWhere(spark, again,
      col("user") === "nobody", parts)
    assert(nPart == 0L && nRows == 0L)
    assert(rows(again) == afterDelete,
      "deleteWhere must heal the stranded partition before probing")
    assert(residue(again).isEmpty)
  }
}
