package graft.ext

import org.apache.spark.sql.functions._
import graft.{FaultFs, SparkSpec}

class IvfSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def embeddings = graft.Tables.embeddings(spark, sf)

  test("exhaustive probe (nprobe = nClusters) equals brute-force top-k") {
    import spark.implicits._
    val queries = embeddings.filter(col("vec_id") < 3)
    val index = Ivf.build(embeddings, "vec_id", "embedding", nClusters = 8)
    val ivf = Ivf.searchTopK(index, queries, "vec_id", "embedding",
        k = 10, nprobe = 8)
      .select("query_id", "neighbor_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    val brute = Similarity.topK(embeddings, queries, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    assert(ivf.toSeq == brute.toSeq)
  }

  test("self is always found at rank 1 (own cluster is the nearest probe)") {
    import spark.implicits._
    val queries = embeddings.filter(col("vec_id") < 3)
    val index = Ivf.build(embeddings, "vec_id", "embedding", nClusters = 8)
    val top1 = Ivf.searchTopK(index, queries, "vec_id", "embedding",
        k = 1, nprobe = 1, excludeSelf = false)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect()
    assert(top1.length == 3)
    top1.foreach { case (q, n, r) => assert(r == 1 && q == n, s"query $q found $n") }
  }

  test("low nprobe bounds scored candidates to the probed clusters") {
    import spark.implicits._
    val queries = embeddings.filter(col("vec_id") === 0)
    val index = Ivf.build(embeddings, "vec_id", "embedding", nClusters = 8)
    val clusterSizes = index.assigned.groupBy("cluster").count()
      .as[(Int, Long)].collect().toMap
    // candidates scored with nprobe=2 can't exceed the two largest clusters
    val scoredAll = Ivf.searchTopK(index, queries, "vec_id", "embedding",
      k = 1000, nprobe = 2, excludeSelf = false)
    val n = scoredAll.count()
    val bound = clusterSizes.values.toSeq.sorted.takeRight(2).sum
    assert(n <= bound, s"scored $n rows > 2-cluster bound $bound")
    assert(n < embeddings.count(), "nprobe=2 must not scan the full corpus")
  }

  test("broadcast-frame centroid path ≡ literal path, row for row") {
    import spark.implicits._
    val queries = embeddings.filter(col("vec_id") < 3)
    val index = Ivf.build(embeddings, "vec_id", "embedding", nClusters = 8)
    def rows(literalMax: Int) =
      Ivf.searchTopK(index, queries, "vec_id", "embedding",
          k = 5, nprobe = 2, literalMaxClusters = literalMax)
        .select("query_id", "neighbor_id", "cosine", "rank")
        .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    // literalMaxClusters = 0 forces the broadcast-frame plan; same
    // cosine expression + same (score, cluster) tiebreak ⇒ identical
    assert(rows(64) == rows(0))
  }

  test("index assignment covers the corpus exactly once") {
    val index = Ivf.build(embeddings, "vec_id", "embedding", nClusters = 8)
    assert(index.assigned.count() == embeddings.count())
    assert(index.centroids.length == 8)
    assert(index.assigned.select("cluster").distinct().count() <= 8)
  }

  test("assignNew reproduces KMeans' own assignment for the same vectors") {
    import spark.implicits._
    // the codegen'd argmin must agree with ml's transform cluster for
    // every vector (distances are distinct in this corpus, so the
    // tiebreak never fires and equality is exact)
    val index = Ivf.build(embeddings, "vec_id", "embedding", nClusters = 8)
    val fromKmeans = index.assigned
      .select(col("neighbor_id"), col("cluster").cast("int"))
      .as[(Long, Int)].collect().toMap
    val empty = Ivf.Index(
      index.assigned.filter(lit(false)), index.centroids)
    val reassigned = Ivf.assignNew(empty, embeddings, "vec_id", "embedding")
      .assigned.select(col("neighbor_id"), col("cluster").cast("int"))
      .as[(Long, Int)].collect().toMap
    assert(reassigned == fromKmeans,
      "argmin over literal centroids must equal ml transform")
  }

  test("streamed appendToSaved ingest: lake layout equals the all-at-once index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = embeddings.filter(col("vec_id") % 5 =!= 0)
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-app").toString
    Ivf.save(Ivf.build(base, "vec_id", "embedding", nClusters = 8), root)
    // the held-out 20% arrives as TWO micro-batches of an embedding
    // stream; each lands via the foreachBatch → appendToSaved path
    val held = embeddings.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect()
    val (b1, b2) = held.splitAt(held.length / 2)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    val q = input.toDF().toDF("vec_id", "embedding")
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          Ivf.appendToSaved(spark, root,
            batch.toDF().select(col("vec_id"),
              col("embedding").cast("array<float>").as("embedding")),
            "vec_id", "embedding")
      }.start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val appended = Ivf.load(spark, root)
    assert(appended.assigned.count() == embeddings.count())
    val queries = embeddings.filter(col("vec_id") < 3)
    def rows(i: Ivf.Index) =
      Ivf.searchTopK(i, queries, "vec_id", "embedding", k = 5,
          nprobe = i.centroids.length)
        .select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._3)).toSeq
    val direct = Ivf.build(embeddings, "vec_id", "embedding", nClusters = 8)
    assert(rows(appended) == rows(direct),
      "exhaustive search over the streamed-in lake index must equal brute force")
  }

  test("assignNew search over an 80/20 split equals the all-at-once index") {
    import spark.implicits._
    val base = embeddings.filter(col("vec_id") % 5 =!= 0)
    val batch = embeddings.filter(col("vec_id") % 5 === 0)
    val appended = Ivf.assignNew(
      Ivf.build(base, "vec_id", "embedding", nClusters = 8),
      batch, "vec_id", "embedding")
    assert(appended.assigned.count() == embeddings.count())
    val queries = embeddings.filter(col("vec_id") < 3)
    def rows(i: Ivf.Index) =
      Ivf.searchTopK(i, queries, "vec_id", "embedding", k = 5,
          nprobe = i.centroids.length)
        .select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._3)).toSeq
    // exhaustive probe ≡ brute force on both, so append must be
    // invisible in the result
    val direct = Ivf.build(embeddings, "vec_id", "embedding", nClusters = 8)
    assert(rows(appended) == rows(direct))
  }

  test("deleteFromSaved: erased rows leave the lake layout; partitions rewrite surgically; idempotent") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_ivf_del").toString + "/ivf"
    Ivf.save(Ivf.build(embeddings, "vec_id", "embedding", nClusters = 8), root)
    val del = embeddings.filter(col("vec_id") % 7 === 0).select("vec_id")
    val delIds = del.as[Long].collect().toSet
    val untouched = Ivf.load(spark, root).assigned
      .join(del.withColumnRenamed("vec_id", "neighbor_id"),
        Seq("neighbor_id"), "left_anti")
      .select(col("cluster").cast("int")).distinct()
      .as[Int].collect().toSet --
      Ivf.load(spark, root).assigned
        .join(del.withColumnRenamed("vec_id", "neighbor_id"),
          Seq("neighbor_id"), "left_semi")
        .select(col("cluster").cast("int")).distinct()
        .as[Int].collect().toSet
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def mtimes(clusters: Set[Int]): Map[Int, Long] = clusters.map { c =>
      val d = new org.apache.hadoop.fs.Path(s"$root/assigned/cluster=$c")
      c -> fs.listStatus(d).map(_.getModificationTime).max
    }.toMap
    val before = mtimes(untouched)
    Ivf.deleteFromSaved(spark, root, del, "vec_id")
    val after = Ivf.load(spark, root)
    val ids = after.assigned.select($"neighbor_id".cast("long"))
      .as[Long].collect().toSet
    assert(ids.intersect(delIds).isEmpty, "erased ids must leave the index")
    assert(ids == embeddings.select($"vec_id").as[Long].collect().toSet
      .diff(delIds), "every survivor must remain")
    // partitions with no deleted row were never rewritten
    assert(mtimes(untouched) == before,
      "clusters holding no deleted row must not be touched")
    // search never returns an erased id, and equals brute force over
    // the survivors under exhaustive probing
    val got = Ivf.searchTopK(after,
        embeddings.filter(col("vec_id") < 3 && col("vec_id") % 7 =!= 0),
        "vec_id", "embedding", k = 5, nprobe = after.centroids.length)
      .select("query_id", "neighbor_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    val brute = Similarity.topK(
        embeddings.filter(col("vec_id") % 7 =!= 0),
        embeddings.filter(col("vec_id") < 3 && col("vec_id") % 7 =!= 0),
        "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    assert(got.toSeq == brute.toSeq)
    // idempotent: re-delivering the same erasure changes nothing
    Ivf.deleteFromSaved(spark, root, del, "vec_id")
    assert(Ivf.load(spark, root).assigned.count() == ids.size.toLong)
    // an entirely-deleted cluster's directory must drop, not linger:
    // erase EVERYTHING and check no cluster partition remains on disk
    Ivf.deleteFromSaved(spark, root,
      embeddings.select("vec_id"), "vec_id")
    val left = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/assigned"))
      .map(_.getPath.getName).filter(_.startsWith("cluster="))
    assert(left.isEmpty,
      s"a full erase must leave no cluster partitions, found: ${left.toSeq}")
  }

  /** A local saved index over `corpus`, the template the crash tests
    * copy onto the fault-injecting filesystem. */
  private def savedTemplate(corpus: org.apache.spark.sql.DataFrame,
      nClusters: Int, filesPerCluster: Int = 1): String = {
    FaultFs.register(spark)
    val root = java.nio.file.Files
      .createTempDirectory("graft_ivf_tpl").toString + "/ivf"
    val index = Ivf.build(corpus, "vec_id", "embedding", nClusters)
    Ivf.save(index.copy(assigned = index.assigned.repartition(filesPerCluster)),
      root)
    root
  }

  private def savedIds(root: String): Seq[Long] = {
    import spark.implicits._
    Ivf.load(spark, root).assigned.select($"neighbor_id".cast("long"))
      .as[Long].collect().toSeq.sorted
  }

  /** Dot-entries of a saved index root: a leaf-replace stage, if left. */
  private def stages(root: String): Seq[java.io.File] =
    new java.io.File(new java.net.URI(root).getPath).listFiles().toSeq
      .filter(_.getName.startsWith("."))

  /** Cluster partitions holding data files. */
  private def clusterDirs(root: String): Set[String] =
    new java.io.File(new java.net.URI(s"$root/assigned").getPath).listFiles()
      .filter(d => d.getName.startsWith("cluster=") &&
        d.list().exists(_.endsWith(".parquet")))
      .map(_.getName).toSet

  test("deleteFromSaved crash protocol: stamped stage re-commits from staged copy; unstamped stage discards (r17 ADVICE #2)") {
    import spark.implicits._
    val tpl = savedTemplate(embeddings, nClusters = 8)
    val allIds = embeddings.select($"vec_id").as[Long].collect().toSeq.sorted
    val del = embeddings.filter(col("vec_id") % 7 === 0).select("vec_id")
    val delIds = del.as[Long].collect().toSet
    def erase(root: String): Unit = Ivf.deleteFromSaved(spark, root, del, "vec_id")
    val trace = FaultFs.traceOf(erase(FaultFs.freshCopy(spark, tpl)))
    val publish = trace.indexWhere { case (call, p) =>
      call == "rename" && p.endsWith("._LEAVES.tmp") }
    val firstLiveDelete = trace.indexWhere { case (call, p) =>
      call == "delete" && p.matches(".*/ivf/assigned/cluster=\\d+") }
    assert(publish >= 0 && firstLiveDelete > publish)
    // --- unstamped stage (crash AT the commit point, the manifest
    // rename): the live layout was never touched — heal discards the
    // complete but unstamped stage
    val early = FaultFs.freshCopy(spark, tpl)
    assert(FaultFs.crashAt(spark, publish + 1)(erase(early)))
    assert(stages(early).nonEmpty, "fixture: the stage must remain")
    assert(savedIds(early) == allIds, "the live layout must be untouched")
    assert(stages(early).isEmpty, "an unstamped stage must be discarded")
    // --- stamped stage with a crash MID-COMMIT: one affected
    // cluster's live dir already deleted — the stage holds the ONLY
    // copy of that cluster's survivors
    val mid = FaultFs.freshCopy(spark, tpl)
    assert(FaultFs.crashAt(spark, firstLiveDelete + 2)(erase(mid)))
    assert((clusterDirs(tpl) -- clusterDirs(mid)).size == 1,
      "fixture: one affected cluster must be missing from the live layout")
    // heal via load: the commit re-runs FROM THE STAGE — that
    // cluster's survivors come back, deleted ids are gone everywhere
    val healed = savedIds(mid)
    assert(healed == allIds.filterNot(delIds),
      "heal must finish the erase from the staged survivors — " +
        "no lost survivors, no resurrected deletes")
    assert(stages(mid).isEmpty, "the stage is discarded only after the commit lands")
    // re-delivering the erase after the heal changes nothing
    erase(mid)
    assert(savedIds(mid) == healed)
  }

  test("marker-first stage discard: a crash mid stage-delete leaves a marker-less partial stage the heal discards (r18 ADVICE)") {
    val tpl = savedTemplate(embeddings, nClusters = 8)
    val del = embeddings.filter(col("vec_id") % 7 === 0).select("vec_id")
    def erase(root: String): Unit = Ivf.deleteFromSaved(spark, root, del, "vec_id")
    val trace = FaultFs.traceOf(erase(FaultFs.freshCopy(spark, tpl)))
    val root = FaultFs.freshCopy(spark, tpl)
    // the discard deletes the manifest FIRST (one file, effectively
    // atomic), then the stage dir — the op's last call. Crash there
    // and model a crash INSIDE that non-atomic dir delete by removing
    // one staged cluster: a manifest-LESS PARTIAL stage beside the
    // fully-committed layout. Were the manifest deleted last, this
    // partial stage would still name EVERY affected cluster, and the
    // heal would apply it — reading the lost cluster as emptied and
    // dropping its live partition (silent survivor loss).
    assert(trace.last._1 == "delete")
    assert(FaultFs.crashAt(spark, trace.size)(erase(root)))
    val Seq(stage) = stages(root)
    val staged = stage.listFiles().filter(_.getName.startsWith("cluster="))
    assert(staged.nonEmpty && !stage.list().contains("_LEAVES"),
      "fixture: a complete stage whose manifest is gone")
    org.apache.commons.io.FileUtils.deleteDirectory(staged.head)
    val committed = spark.read.parquet(s"$root/assigned")
      .select(col("neighbor_id").cast("long")).collect().map(_.getLong(0))
      .toSeq.sorted
    assert(savedIds(root) == committed, // heal: manifest-less ⇒ discard
      "the committed layout must be untouched — no survivor loss")
    assert(stages(root).isEmpty, "a manifest-less partial stage must be discarded")
  }

  test("deleteFromSaved survives a crash at every filesystem step") {
    import spark.implicits._
    val corpus = embeddings.filter(col("vec_id") < 100)
    val tpl = savedTemplate(corpus, nClusters = 4)
    val before = corpus.select($"vec_id").as[Long].collect().toSeq.sorted
    val del = corpus.filter(col("vec_id") % 5 === 0).select("vec_id")
    val after = before.filterNot(del.as[Long].collect().toSet)
    def erase(root: String): Unit = Ivf.deleteFromSaved(spark, root, del, "vec_id")
    val steps = FaultFs.traceOf(erase(FaultFs.freshCopy(spark, tpl))).size
    (1 to steps).foreach { n =>
      val root = FaultFs.freshCopy(spark, tpl)
      assert(FaultFs.crashAt(spark, n)(erase(root)),
        s"the fault at call $n of $steps must surface")
      val seen = savedIds(root) // load heals
      assert(seen == before || seen == after,
        s"crash at call $n of $steps: the index is neither the old nor the new one")
      erase(root)
      assert(savedIds(root) == after, s"crash at call $n: re-delivery must converge")
      assert(stages(root).isEmpty, s"crash at call $n: stage left behind")
    }
    info(s"$steps crash points")
  }

  test("a crashed compactFragmented on assigned/ heals in appendToSaved and load: no vector lost") {
    import spark.implicits._
    val corpus = embeddings.filter(col("vec_id") < 100)
    val tpl = savedTemplate(corpus, nClusters = 4, filesPerCluster = 3)
    val batch = embeddings.filter(col("vec_id") >= 100 && col("vec_id") < 120)
    val want = embeddings.filter(col("vec_id") < 120).select($"vec_id")
      .as[Long].collect().toSeq.sorted
    def compact(root: String): Unit = graft.fred.io.LakeIO.compactFragmented(
      spark, s"$root/assigned", targetBytes = 64L * 1024 * 1024, minFiles = 1,
      partitionCols = Seq("cluster"))
    val steps = FaultFs.traceOf(compact(FaultFs.freshCopy(spark, tpl))).size
    (1 to steps).foreach { n =>
      val root = FaultFs.freshCopy(spark, tpl)
      FaultFs.crashAt(spark, n)(compact(root))
      Ivf.appendToSaved(spark, root, batch, "vec_id", "embedding")
      assert(savedIds(root) == want, s"crash at call $n of $steps: vectors lost")
    }
    info(s"$steps crash points")
  }
}
