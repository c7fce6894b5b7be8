package graft.fred

import org.apache.spark.sql.functions._

import graft.{FaultFs, SparkSpec}
import graft.fred.io.LakeIO

/** Crash matrix for the staged leaf-replace commit behind
  * `LakeIO.compactFragmented` and `LakeIO.deleteWhere`: the op is
  * stopped at each of its mutating filesystem calls in turn. After the
  * heal, readers see the old rows or the new rows, never a mix or a
  * loss; re-delivering the op then yields the new rows and leaves no
  * stage behind.
  */
class LeafReplaceCrashSpec extends SparkSpec {
  import spark.implicits._

  FaultFs.register(spark)

  private val parts = Seq("indicator", "observation_year")

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def fresh(tpl: String): String = FaultFs.freshCopy(spark, tpl)

  private def rows(root: String): Set[Seq[Any]] =
    spark.read.parquet(root).collect().map(_.toSeq).toSet

  /** Entries beside the lake root — the commit's stage, if left. */
  private def residue(root: String): Seq[String] =
    new java.io.File(new java.net.URI(root).getPath).getParentFile
      .list().toSeq.filterNot(_ == "lake")

  private def crashMatrix(tpl: String, op: String => Unit)
      (settled: String => Unit = _ => ()): Int = {
    val before = rows(tpl)
    val clean = fresh(tpl)
    val steps = FaultFs.traceOf(op(clean)).size
    val after = rows(clean)
    assert(steps > 0)
    (1 to steps).foreach { n =>
      val root = fresh(tpl)
      assert(FaultFs.crashAt(spark, n)(op(root)),
        s"the fault at call $n of $steps must surface")
      LakeIO.healReplaceLeaves(spark, root)
      val seen = rows(root)
      assert(seen == before || seen == after,
        s"crash at call $n of $steps: readers see neither the old nor the new rows")
      op(root)
      assert(rows(root) == after, s"crash at call $n: re-delivery must converge")
      assert(residue(root).isEmpty,
        s"crash at call $n: stage left behind: ${residue(root)}")
      settled(root)
    }
    steps
  }

  test("compactFragmented survives a crash at every filesystem step") {
    val tpl = tempDir("graft_crash_tpl") + "/lake"
    val frag = (0 until 120).map(i => (s"F${i % 2}", 2024, i.toLong, s"v$i"))
      .toDF("indicator", "observation_year", "seq", "payload")
    frag.repartition(4).write.partitionBy(parts: _*).parquet(tpl)
    Seq(("T", 2024, 999L, "tidy")).toDF("indicator", "observation_year", "seq", "payload")
      .coalesce(1).write.mode("append").partitionBy(parts: _*).parquet(tpl)
    val tidy = new java.io.File(s"$tpl/indicator=T/observation_year=2024")
      .list().toSet
    def compact(root: String): Unit = LakeIO.compactFragmented(spark, root,
      targetBytes = 64L * 1024 * 1024, minFiles = 2, partitionCols = parts)
    val steps = crashMatrix(tpl, compact) { root =>
      val census = LakeIO.partitionCensus(spark, root)
      assert(census.map(_._2).sorted == Seq(1L, 1L, 1L),
        s"every leaf ends at one file: $census")
      assert(new java.io.File(
        s"${new java.net.URI(root).getPath}/indicator=T/observation_year=2024")
        .list().toSet == tidy, "the tidy leaf keeps its exact file")
    }
    info(s"$steps crash points")
  }

  test("deleteWhere survives a crash at every filesystem step, a fully-matching leaf included") {
    val tpl = tempDir("graft_crash_tpl") + "/lake"
    val data = for {
      ind <- Seq("A", "B", "C"); y <- Seq(2023, 2024); d <- 1 to 4
    } yield (ind, y, d, s"u${d % 3}")
    data.toDF("indicator", "observation_year", "day", "user")
      .write.partitionBy(parts: _*).parquet(tpl)
    // A: some rows of both years; C/2023: every row
    val pred = (col("indicator") === "A" && col("user") === "u1") ||
      (col("indicator") === "C" && col("observation_year") === 2023)
    val steps = crashMatrix(tpl, root => LakeIO.deleteWhere(spark, root, pred, parts)) {
      root =>
        assert(spark.read.parquet(root).filter(pred).isEmpty)
        assert(LakeIO.partitionCensus(spark, root)
          .forall(!_._1.contains("indicator=C/observation_year=2023")),
          "the fully-matching leaf is gone")
    }
    info(s"$steps crash points")
  }
}
