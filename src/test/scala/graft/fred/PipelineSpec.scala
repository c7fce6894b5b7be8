package graft.fred

import java.time.LocalDate

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.fred.io.{DdlOps, FredSource}

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("full DAG golden test: extract → transform → aggregate → load") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-pipe").toString
    // two months of FRED-shaped fixtures, with a '.' sentinel and a
    // bad value that must be coerced out
    val fixture = new FredSource.Fixture(Map(
      ("DGS10", 2024, 1) ->
        """{"observations":[
          |{"date":"2024-01-02","value":"3.95"},
          |{"date":"2024-01-03","value":"4.055"},
          |{"date":"2024-01-04","value":"."}]}""".stripMargin.replace("\n", ""),
      ("DGS10", 2024, 2) ->
        """{"observations":[
          |{"date":"2024-02-01","value":"4.20"},
          |{"date":"2024-02-02","value":"oops"}]}""".stripMargin.replace("\n", "")))
    val pipe = new Pipeline(spark, fixture, tmp)
    var served: Array[(String, Int, Int, Double, Long)] = Array.empty
    pipe.runIndicator("DGS10",
      LocalDate.parse("2024-01-01"), LocalDate.parse("2024-02-29")) { gold =>
      served = gold
        .select("indicator", "observation_year", "observation_month", "value", "observation_count")
        .as[(String, Int, Int, Double, Long)].collect()
    }
    // Jan mean(3.95, 4.055) = 4.0025 → bround(2) HALF_EVEN → 4.0
    // Feb: 'oops' coerced out → mean(4.20) over count 1
    assert(served.sortBy(_._3).toSeq == Seq(
      ("DGS10", 2024, 1, 4.0, 2L),
      ("DGS10", 2024, 2, 4.2, 1L)))
    // layers exist, partitioned
    assert(spark.read.parquet(s"$tmp/processed_data").count() == 2)
    assert(new java.io.File(s"$tmp/raw_data/indicator=DGS10").exists())
    // re-running the window is idempotent (overwrite semantics)
    pipe.runIndicator("DGS10",
      LocalDate.parse("2024-01-01"), LocalDate.parse("2024-02-29"))(_ => ())
    assert(spark.read.parquet(s"$tmp/aggregated_data").count() == 2)
  }

  test("extract: one bronze write per window, one data file per month leaf, idempotent") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-onewrite").toString
    val fixture = new FredSource.Fixture(Map(
      ("DGS10", 2024, 1) ->
        """{"observations":[{"date":"2024-01-02","value":"3.95"},{"date":"2024-01-03","value":"."}]}""",
      ("DGS10", 2024, 2) -> ("""{"observations":[{"date":"2024-02-01","value":"4.20"},""" +
        """{"date":"2024-02-02","value":"oops"},{"date":"2024-02-05","value":"4.22"}]}"""),
      ("DGS10", 2024, 3) ->
        """{"observations":[{"date":"2024-03-01","value":"4.25"}]}"""))
    // February straddles the middle of the window's rows, so a write
    // split over several tasks would leave two files in its leaf
    val pipe = new Pipeline(spark, fixture, tmp)
    def leaves(): Map[String, Seq[String]] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(pipe.bronzeRoot)).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.startsWith("part-"))
        .toSeq.groupBy(_.getParent.toString.stripPrefix(pipe.bronzeRoot))
        .map { case (dir, files) => dir -> files.map(_.getFileName.toString).sorted }
    }
    def bronzeRows(): Set[(String, String, String, String, String)] =
      graft.fred.io.LakeIO.readBronze(spark, pipe.bronzeRoot)
        .select("indicator", "observation_date", "observation_month",
          "observation_year", "value")
        .as[(String, String, String, String, String)].collect().toSet
    val expected = Set(
      ("DGS10", "2024-01-02", "1", "2024", "3.95"),
      ("DGS10", "2024-01-03", "1", "2024", "."),
      ("DGS10", "2024-02-01", "2", "2024", "4.20"),
      ("DGS10", "2024-02-02", "2", "2024", "oops"),
      ("DGS10", "2024-02-05", "2", "2024", "4.22"),
      ("DGS10", "2024-03-01", "3", "2024", "4.25"))
    pipe.extract("DGS10", LocalDate.parse("2024-01-01"), LocalDate.parse("2024-03-31"))
    val first = leaves()
    assert(first.keySet == (1 to 3).map(m =>
      s"/indicator=DGS10/observation_year=2024/observation_month=$m").toSet)
    assert(first.values.forall(_.size == 1), s"one data file per leaf: $first")
    assert(bronzeRows() == expected)
    // re-extracting the window overwrites each leaf in place
    pipe.extract("DGS10", LocalDate.parse("2024-01-01"), LocalDate.parse("2024-03-31"))
    val second = leaves()
    assert(second.keySet == first.keySet && second.values.forall(_.size == 1))
    assert(bronzeRows() == expected)
  }

  test("layer retry: a transient extract failure heals; exhaustion propagates") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-retry").toString
    var calls = 0
    val flaky = new FredSource {
      def fetchMonth(seriesId: String, start: LocalDate, end: LocalDate): String = {
        calls += 1
        if (calls == 1) throw new RuntimeException("transient 500")
        """{"observations":[{"date":"2024-01-02","value":"3.95"}]}"""
      }
    }
    // retryDelayMs = 0: the injectable delay exists so this test
    // doesn't sleep the reference's five minutes
    val pipe = new Pipeline(spark, flaky, tmp, retries = 1, retryDelayMs = 0L)
    var served: Array[(String, Int, Int, Double, Long)] = Array.empty
    pipe.runIndicator("DGS10",
      LocalDate.parse("2024-01-01"), LocalDate.parse("2024-01-31")) { gold =>
      served = gold
        .select("indicator", "observation_year", "observation_month", "value", "observation_count")
        .as[(String, Int, Int, Double, Long)].collect()
    }
    assert(calls == 2, "first attempt failed, the one retry must have run")
    assert(served.toSeq == Seq(("DGS10", 2024, 1, 3.95, 1L)))
    // a permanently failing source exhausts the single retry and throws
    val down = new FredSource {
      def fetchMonth(s: String, a: LocalDate, b: LocalDate): String =
        throw new RuntimeException("down")
    }
    val tmp2 = java.nio.file.Files.createTempDirectory("graft-retry2").toString
    val pipe2 = new Pipeline(spark, down, tmp2, retries = 1, retryDelayMs = 0L)
    intercept[RuntimeException] {
      pipe2.extract("DGS10",
        LocalDate.parse("2024-01-01"), LocalDate.parse("2024-01-31"))
    }
  }

  test("typed silver boundary: Dataset[SilverObservation] round-trips the lake") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-typed").toString
    val silver = Seq(
      ("DGS10", 2024, 1, Some(4.0), Some(2L), Some("t1"), Some("p1"))
    ).toDF("indicator", "observation_year", "observation_month",
      "value", "observation_count", "ingested_at", "processed_at")
    graft.fred.io.LakeIO.writeParquet(silver, tmp)
    val typed = graft.fred.io.LakeIO.readSilverTyped(spark, tmp).collect()
    assert(typed.toSeq == Seq(SilverObservation(
      "DGS10", Some(2024), Some(1), Some(4.0), Some(2L), Some("t1"), Some("p1"))))
  }

  test("compactParquet: fragmented partitions collapse toward targetBytes files, data identical") {
    import org.apache.spark.sql.functions.col
    val in = java.nio.file.Files.createTempDirectory("graft-frag").toString
    val out = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val rows = (0 until 2000)
      .map(i => (s"IND${i % 2}", 2024, 1 + i % 3, i.toLong, s"v$i"))
      .toDF("indicator", "observation_year", "observation_month", "seq", "payload")
    // simulate incremental appends: 25 writer tasks per partition
    rows.repartition(25).write.mode("overwrite")
      .partitionBy("indicator", "observation_year", "observation_month")
      .parquet(in)
    val (before, _) = graft.fred.io.LakeIO.parquetCensus(spark, in)
    assert(before > 100, s"fixture should be fragmented, got $before files")
    // generous target: every partition should collapse to ONE file
    val (b2, after) = graft.fred.io.LakeIO.compactParquet(
      spark, in, out, targetBytes = 64L * 1024 * 1024)
    assert(b2 == before && after == 6L,
      s"6 partitions → 6 files expected, got $after")
    // data survives byte-for-byte (partition cols re-read as strings/ints)
    val a = spark.read.parquet(in).select("seq", "payload")
      .collect().map(_.toSeq).toSet
    val b = spark.read.parquet(out).select("seq", "payload")
      .collect().map(_.toSeq).toSet
    assert(a == b, "compaction must not change the data")
    // a tiny target splits files instead of merging to one
    val out2 = java.nio.file.Files.createTempDirectory("graft-split").toString
    val (_, split) = graft.fred.io.LakeIO.compactParquet(
      spark, in, out2, targetBytes = 2048)
    assert(split > 6L, s"tiny target must split: $split files")
  }

  test("compactFragmented: only fragmented partitions rewrite, in place, data identical") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft-selcompact").toString
    // two fragmented partitions (25 writers) + one already-compact
    val frag = (0 until 2000)
      .map(i => (s"IND${i % 2}", 2024, 1, i.toLong, s"v$i"))
      .toDF("indicator", "observation_year", "observation_month", "seq", "payload")
    frag.repartition(25).write.mode("append")
      .partitionBy("indicator", "observation_year", "observation_month")
      .parquet(root)
    val tidy = (10000 until 10100)
      .map(i => ("IND9", 2024, 1, i.toLong, s"v$i"))
      .toDF("indicator", "observation_year", "observation_month", "seq", "payload")
    tidy.coalesce(1).write.mode("append")
      .partitionBy("indicator", "observation_year", "observation_month")
      .parquet(root)
    val before = spark.read.parquet(root).select("seq", "payload")
      .collect().map(_.toSeq).toSet
    val tidyDir = graft.fred.io.LakeIO.partitionCensus(spark, root)
      .find(_._1.contains("IND9")).get
    assert(tidyDir._2 == 1L, "tidy partition starts at one file")
    val tidyFiles = new java.io.File(new java.net.URI(tidyDir._1).getPath)
      .listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    val (nPart, b, a) = graft.fred.io.LakeIO.compactFragmented(
      spark, root, targetBytes = 64L * 1024 * 1024, minFiles = 5)
    assert(nPart == 2L, s"exactly the two fragmented partitions: $nPart")
    assert(b > 50L && a == 3L, s"50+ files must collapse to 3, got $b -> $a")
    // the tidy partition kept its EXACT file (proves it was never touched)
    val tidyAfter = new java.io.File(new java.net.URI(tidyDir._1).getPath)
      .listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert(tidyAfter == tidyFiles, "untouched partition must keep its files")
    val after = spark.read.parquet(root).select("seq", "payload")
      .collect().map(_.toSeq).toSet
    assert(after == before, "in-place compaction must not change the data")
    // no temp/aside residue; idempotent second run is a no-op
    assert(graft.fred.io.LakeIO.partitionCensus(spark, root).forall(
      p => !p._1.contains(".compact")))
    val (n2, b2, a2) = graft.fred.io.LakeIO.compactFragmented(
      spark, root, targetBytes = 64L * 1024 * 1024, minFiles = 5)
    assert(n2 == 0L && b2 == 3L && a2 == 3L, s"second run no-op: $n2 $b2 $a2")
  }

  test("LakeIO writes overwrite only their partitions and leave the session's overwrite mode alone") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "static")
    try {
      val root = java.nio.file.Files.createTempDirectory("graft-dynamic").toString
      val rows = Seq(("DGS10", 2024, 1, 1.0), ("DGS10", 2024, 2, 2.0))
        .toDF("indicator", "observation_year", "observation_month", "value")
      graft.fred.io.LakeIO.writeParquet(rows, root)
      graft.fred.io.LakeIO.writeParquet(
        Seq(("DGS10", 2024, 2, 20.0))
          .toDF("indicator", "observation_year", "observation_month", "value"), root)
      val got = spark.read.parquet(root)
        .select("observation_month", "value").as[(Int, Double)].collect().toSet
      assert(got == Set((1, 1.0), (2, 20.0)), s"January must survive: $got")
      assert(spark.conf.get(key) == "static")
    } finally spark.conf.set(key, saved)
  }

  test("first-ever aggregate run: missing silver root yields empty gold, no throw") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-firstrun").toString
    val pipe = new Pipeline(spark, new FredSource.Fixture(Map.empty), tmp)
    // nothing extracted or transformed yet — the reference swallows the
    // missing files into empty frames; aggregate must do the same
    pipe.aggregate("DGS10", Seq(2024))
    var rows = -1L
    pipe.load("DGS10", Seq(2024))(gold => rows = gold.count())
    assert(rows == 0L)
  }

  test("SheetSink.syncAppend: appends only new keys; second sync appends zero") {
    val gold = Seq(
      ("DGS10", 2024, 1, 4.0),
      ("DGS10", 2024, 2, 4.2)
    ).toDF("indicator", "observation_year", "observation_month", "value")
    val sheet = new graft.fred.io.SheetSink.InMemory(gold.schema)
    assert(graft.fred.io.SheetSink.syncAppend(gold, sheet) == 2L)
    assert(sheet.size == 2)
    // idempotence: same frame again → nothing appended
    assert(graft.fred.io.SheetSink.syncAppend(gold, sheet) == 0L)
    assert(sheet.size == 2)
    // a new month flows through; existing keys stay deduplicated
    val withMarch = gold.unionByName(
      Seq(("DGS10", 2024, 3, 4.4)).toDF("indicator", "observation_year", "observation_month", "value"))
    assert(graft.fred.io.SheetSink.syncAppend(withMarch, sheet) == 1L)
    assert(sheet.size == 3)
    // bounded collect: a sheet is not a lake
    intercept[IllegalArgumentException] {
      graft.fred.io.SheetSink.syncAppend(withMarch,
        new graft.fred.io.SheetSink.InMemory(gold.schema), maxAppendRows = 2)
    }
    // the guard counts rows AFTER dedup: 3 incoming, 1 new, limit 1
    val withApril = withMarch.unionByName(
      Seq(("DGS10", 2024, 4, 4.5)).toDF("indicator", "observation_year", "observation_month", "value"))
    assert(graft.fred.io.SheetSink.syncAppend(withApril, sheet, maxAppendRows = 1) == 1L)
    assert(sheet.size == 4)
    // keys compare as the sheet types them: long keys match int keys
    val longKeys = Seq(("DGS10", 2024L, 1L, 4.0), ("DGS10", 2024L, 6L, 4.7))
      .toDF("indicator", "observation_year", "observation_month", "value")
    assert(graft.fred.io.SheetSink.syncAppend(longKeys, sheet) == 1L)
    assert(sheet.size == 5)
    assert(sheet.read(spark).where("observation_month = 6").count() == 1L)
    // left_anti semantics: a null key never matches, not even the same
    // null-keyed row already on the sheet, so every sync appends it
    val nullable = new graft.fred.io.SheetSink.InMemory(
      org.apache.spark.sql.types.StructType(gold.schema.map(_.copy(nullable = true))))
    val nullKey = Seq(("DGS10", Option.empty[Int], 5, 4.6))
      .toDF("indicator", "observation_year", "observation_month", "value")
    assert(graft.fred.io.SheetSink.syncAppend(nullKey, nullable) == 1L)
    assert(graft.fred.io.SheetSink.syncAppend(nullKey, nullable) == 1L)
    assert(nullable.size == 2)
  }

  test("DdlOps: create/rename/add/truncate against the session catalog") {
    val t = s"graft_ddl_test_${System.nanoTime()}"
    DdlOps.createTable(spark, t, Seq(
      "indicator" -> "STRING", "observation_year" -> "INT", "value" -> "DOUBLE"))
    try {
      spark.sql(s"INSERT INTO $t VALUES ('X', 2024, 1.5)")
      DdlOps.renameColumn(spark, t, "value", "avg_value")
      DdlOps.addColumn(spark, t, "note", "STRING")
      val cols = spark.table(t).columns.toSeq
      assert(cols == Seq("indicator", "observation_year", "avg_value", "note"))
      assert(spark.table(t).count() == 1)
      DdlOps.truncate(spark, t)
      assert(spark.table(t).count() == 0)
      intercept[IllegalArgumentException] {
        DdlOps.addColumn(spark, t, "bad; DROP TABLE x", "STRING")
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("propagateDelete: erasure heals exactly the touched partitions through the lineage") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-gdpr").toString
    val fixture = new FredSource.Fixture(Map(
      ("DGS10", 2024, 1) ->
        """{"observations":[{"date":"2024-01-02","value":"3.95"},{"date":"2024-01-03","value":"4.05"}]}""",
      ("DGS10", 2024, 2) ->
        """{"observations":[{"date":"2024-02-01","value":"4.20"}]}""",
      ("UNRATE", 2024, 1) ->
        """{"observations":[{"date":"2024-01-05","value":"3.70"}]}""",
      ("UNRATE", 2024, 2) ->
        """{"observations":[{"date":"2024-02-05","value":"3.90"}]}"""))
    val pipe = new Pipeline(spark, fixture, tmp)
    pipe.runIndicator("DGS10",
      LocalDate.parse("2024-01-01"), LocalDate.parse("2024-02-29"))(_ => ())
    pipe.runIndicator("UNRATE",
      LocalDate.parse("2024-01-01"), LocalDate.parse("2024-02-29"))(_ => ())

    def checksums(): Map[String, String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(tmp)).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map { p =>
          val bytes = java.nio.file.Files.readAllBytes(p)
          p.toString -> java.security.MessageDigest.getInstance("MD5")
            .digest(bytes).map("%02x".format(_)).mkString
        }.toMap
    }
    val before = checksums()

    pipe.propagateDelete("DGS10", 2024, 1)

    // the deleted month is gone through bronze and silver
    assert(!new java.io.File(
      s"$tmp/raw_data/indicator=DGS10/observation_year=2024/observation_month=1").exists())
    assert(!new java.io.File(
      s"$tmp/processed_data/indicator=DGS10/observation_year=2024/observation_month=1").exists())
    // gold re-aggregated from the SURVIVING month only
    val gold = spark.read.parquet(s"$tmp/aggregated_data")
      .select("indicator", "observation_year", "observation_month", "value")
      .as[(String, Int, Int, Double)].collect().toSet
    assert(gold == Set(("DGS10", 2024, 2, 4.2),
      ("UNRATE", 2024, 1, 3.7), ("UNRATE", 2024, 2, 3.9)), s"got $gold")
    // every file outside the touched partitions is byte-identical:
    // the other indicator entirely, AND the surviving DGS10 bronze/
    // silver month — only the gold (DGS10, 2024) leaf may rewrite
    val after = checksums()
    val untouched = before.keySet.filter { p =>
      !p.contains("indicator=DGS10/observation_year=2024/observation_month=1") &&
      !(p.contains("aggregated_data") && p.contains("indicator=DGS10"))
    }
    untouched.foreach { p =>
      assert(after.get(p).contains(before(p)), s"file rewritten or lost: $p")
    }
    // idempotent: a re-run converges to the same lake state
    pipe.propagateDelete("DGS10", 2024, 1)
    val gold2 = spark.read.parquet(s"$tmp/aggregated_data")
      .select("indicator", "observation_year", "observation_month", "value")
      .as[(String, Int, Int, Double)].collect().toSet
    assert(gold2 == gold)
    // deleting the year's last month drops the gold leaf outright
    pipe.propagateDelete("DGS10", 2024, 2)
    assert(!new java.io.File(
      s"$tmp/aggregated_data/indicator=DGS10").exists() ||
      new java.io.File(s"$tmp/aggregated_data/indicator=DGS10").list()
        .forall(_.startsWith("observation_year") == false),
      "an emptied year must not leave a stale gold partition")
    val gold3 = spark.read.parquet(s"$tmp/aggregated_data")
      .select("indicator").as[String].collect().toSet
    assert(gold3 == Set("UNRATE"), s"got $gold3")
  }

  test("jdbcCreateTableSql: reference-shaped serving DDL") {
    val sql = DdlOps.jdbcCreateTableSql("economic_indicators",
      Seq("indicator" -> "TEXT", "observation_year" -> "INT",
        "observation_month" -> "INT", "value" -> "DOUBLE PRECISION"),
      primaryKey = Seq("indicator", "observation_year", "observation_month"))
    assert(sql == "CREATE TABLE IF NOT EXISTS economic_indicators " +
      "(indicator TEXT, observation_year INT, observation_month INT, " +
      "value DOUBLE PRECISION, " +
      "PRIMARY KEY (indicator, observation_year, observation_month))")
  }
}
