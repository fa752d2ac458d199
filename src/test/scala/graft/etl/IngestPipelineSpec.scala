package graft.etl

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.ops.{IncrementalDedup, IvfIndex, TokenizerModel}

/** Pipelines.ingest — the continuous-ingest tick composing the THREE
  * persisted artifacts (dedup index, BPE model, IVF index). Pins:
  * idempotence under re-delivery (the second run ingests 0 docs and
  * appends 0 vectors) and each artifact answering from its STORE
  * afterward (an appended embedding is searchable, a re-delivered text
  * verdicts exact_dup, the stats count the fold). */
class IngestPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val histDocs = Seq(
    1L -> "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima",
    2L -> "one two three four five six seven eight nine ten eleven twelve thirteen",
    3L -> "the etl pipeline reads the changelog and merges keys in stable order")

  test("ingest: dedup-gate → artifact folds; re-delivery ingests 0") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    val dedupPath = s"$root/dedup"; val bpePath = s"$root/bpe"
    val ivfPath = s"$root/ivf"

    // --- the three artifacts, built once ---------------------------------
    IncrementalDedup.buildIndex(
      histDocs.toDF("doc_id", "text"), "doc_id", "text", dedupPath)
    TokenizerModel.save(spark,
      Seq(("the", 1L, 10L), ("engine", 2L, 5L)).toDF("token", "token_id", "n"),
      Seq((1L, "t h"), (2L, "th e")).toDF("round", "pair"), bpePath)
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.sf)
    val r0 = IvfIndex.build(spark, emb, "vec_id", "embedding", ivfPath,
      numBuckets = 16)

    // --- the batch: 2 fresh docs (with embeddings copied from stored
    // vectors 5 and 6, so the ANN fold has perfect-cosine twins), one
    // exact re-delivery of history, one near variant of history, and one
    // empty-text row the normalize step must drop ---------------------
    val vec5 = emb.where(col("vec_id") === 5L)
      .select(col("embedding")).head.getSeq[Float](0)
    val vec6 = emb.where(col("vec_id") === 6L)
      .select(col("embedding")).head.getSeq[Float](0)
    val batch = Seq(
      (1000001L, "completely novel content that matches nothing stored here",
        Some(vec5)),
      (1000002L, "another fresh document made of entirely new words inside",
        Some(vec6)),
      (1000011L, histDocs.head._2, None: Option[Seq[Float]]),
      (1000012L,
        "one two three four five six seven eight nine ten eleven twelve altered",
        None: Option[Seq[Float]]),
      (1000099L, "   ", None: Option[Seq[Float]]))
      .toDF("doc_id", "text", "embedding")

    val r1 = Pipelines.ingest(spark, batch, dedupPath, bpePath, ivfPath)
    assert(r1.rowsIn == 4L, s"normalize must drop the empty-text row: $r1")
    assert(r1.exactDups == 1L && r1.nearDups == 1L && r1.uniques == 2L,
      s"verdict split must be 1 exact / 1 near / 2 unique: $r1")
    assert(r1.vectorsAppended == 2L,
      s"both uniques carry embeddings — both must fold into the index: $r1")
    assert(r1.tokensSeen > 0L && r1.piecesSeen >= r1.tokensSeen,
      s"BPE pricing over the uniques (pieces >= whitespace tokens): $r1")

    // --- each artifact answers from its store -----------------------------
    // ANN: the appended copy of vector 5 is a perfect-cosine first hit
    val top = IvfIndex.search(spark, ivfPath, vec5, k = 2, nprobe = 2,
      numBuckets = 16, excludeId = Some(5L)).collect()
    assert(top.head.getLong(0) == 1000001L && top.head.getLong(1) == 10000L,
      s"the ingested embedding must be searchable at cos_bp=10000: " +
        top.map(r => (r.getLong(0), r.getLong(1))).mkString(","))
    assert(IvfIndex.stats(spark, ivfPath)
      .agg(sum(col("n"))).head.getLong(0) == r0.nVectors + 2L,
      "the stored index holds exactly the build + the 2 ingested vectors")
    // dedup: a re-delivered copy of an INGESTED doc is an exact dup now
    val v2 = IncrementalDedup.verdicts(spark,
        Seq((2000001L, "completely novel content that matches nothing stored here"))
          .toDF("doc_id", "text"), "doc_id", "text", dedupPath)
      .head
    assert(v2.getAs[String]("status") == "exact_dup" &&
      v2.getAs[Long]("keeper") == 1000001L,
      s"the ingested doc must gate later copies from the store: $v2")

    // --- idempotence: the SAME batch re-delivered ingests nothing --------
    val r2 = Pipelines.ingest(spark, batch, dedupPath, bpePath, ivfPath)
    assert(r2.rowsIn == 4L && r2.uniques == 0L &&
      r2.vectorsAppended == 0L && r2.tokensSeen == 0L,
      s"re-delivery must ingest 0 new docs: $r2")
    assert(r2.exactDups == 3L && r2.nearDups == 1L,
      s"previously-unique docs now verdict exact_dup from the store: $r2")
    assert(IvfIndex.stats(spark, ivfPath)
      .agg(sum(col("n"))).head.getLong(0) == r0.nVectors + 2L,
      "the second run must not grow the ANN artifact")
  }

  test("erase: subjects leave every store; an erased text re-ingests as unique; idempotent") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-erase").toString
    val dedupPath = s"$root/dedup"; val bpePath = s"$root/bpe"
    val ivfPath = s"$root/ivf"
    IncrementalDedup.buildIndex(
      histDocs.toDF("doc_id", "text"), "doc_id", "text", dedupPath)
    TokenizerModel.save(spark,
      Seq(("the", 1L, 10L), ("engine", 2L, 5L)).toDF("token", "token_id", "n"),
      Seq((1L, "t h"), (2L, "th e")).toDF("round", "pair"), bpePath)
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.sf)
    val r0 = IvfIndex.build(spark, emb, "vec_id", "embedding", ivfPath,
      numBuckets = 16)
    val vec5 = emb.where(col("vec_id") === 5L)
      .select(col("embedding")).head.getSeq[Float](0)
    val subjectText =
      "completely novel content that matches nothing stored here"
    val batch = Seq(
      (1000001L, subjectText, Some(vec5)),
      (1000011L, histDocs.head._2, None: Option[Seq[Float]]))
      .toDF("doc_id", "text", "embedding")
    val r1 = Pipelines.ingest(spark, batch, dedupPath, bpePath, ivfPath)
    assert(r1.uniques == 1L && r1.vectorsAppended == 1L, s"setup: $r1")

    // subjects: the ingested doc (hash keeper + sigs + bands + ANN row)
    // and the exact-dup delivery (gated out — NO derived rows anywhere)
    val er = Pipelines.erase(spark,
      Seq(1000001L, 1000011L).toDF("doc_id"), "doc_id", dedupPath, ivfPath)
    assert(er.subjects == 2L, s"$er")
    assert(er.dedupHashes == 1L && er.dedupSigs == 1L && er.dedupBands == 2L,
      s"the ingested subject's derived rows (1 hash, 1 sig, k/rpb=2 bands) " +
        s"leave the dedup index; the gated dup never had any: $er")
    assert(er.annRows == 1L, s"the subject's stored vector leaves: $er")

    // every store answers WITHOUT the subjects now:
    // the ANN first hit for vec5 is no longer the erased doc
    val top = IvfIndex.search(spark, ivfPath, vec5, k = 2, nprobe = 2,
      numBuckets = 16, excludeId = Some(5L)).collect()
    assert(top.head.getLong(0) != 1000001L,
      s"the erased vector must never be returned: ${top.head}")
    assert(IvfIndex.stats(spark, ivfPath)
      .agg(sum(col("n"))).head.getLong(0) == r0.nVectors,
      "the store holds exactly the non-subject vectors")
    // the dedup index FORGOT the subject's text: an identical
    // re-delivery verdicts unique again (erasure beats dedup memory —
    // remembering the hash would retain what was erased)
    val v = IncrementalDedup.verdicts(spark,
        Seq((3000001L, subjectText)).toDF("doc_id", "text"),
        "doc_id", "text", dedupPath).head
    assert(v.getAs[String]("status") == "unique",
      s"an erased text must re-ingest as unique: $v")
    // history docs the subjects never touched still gate normally
    val vh = IncrementalDedup.verdicts(spark,
        Seq((3000002L, histDocs(1)._2)).toDF("doc_id", "text"),
        "doc_id", "text", dedupPath).head
    assert(vh.getAs[String]("status") == "exact_dup",
      s"unrelated history must be untouched by the erasure: $vh")

    // idempotent: the second run removes 0 everywhere (the receipt)
    val er2 = Pipelines.erase(spark,
      Seq(1000001L, 1000011L).toDF("doc_id"), "doc_id", dedupPath, ivfPath)
    assert(er2 == Pipelines.EraseReport(2L, 0L, 0L, 0L, 0L),
      s"re-erasure must be a no-op: $er2")
  }

  /** Copy a stored-artifact tree, so two runs start from identical state. */
  private def copyTree(from: String, to: String): Unit = {
    import java.nio.file.{Files, Paths}
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst)
    } finally walk.close()
  }

  test("ingest: overlapped artifact writes equal the sequential order; replay ingests 0") {
    import spark.implicits._
    import graft.ops.Dedup
    import graft.sinks.KeyedParquetSink
    val root = java.nio.file.Files.createTempDirectory("graft-ingest-seq").toString
    IncrementalDedup.buildIndex(
      histDocs.toDF("doc_id", "text"), "doc_id", "text", s"$root/a/dedup")
    TokenizerModel.save(spark,
      Seq(("the", 1L, 10L), ("engine", 2L, 5L)).toDF("token", "token_id", "n"),
      Seq((1L, "t h"), (2L, "th e")).toDF("round", "pair"), s"$root/a/bpe")
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.sf)
    IvfIndex.build(spark, emb, "vec_id", "embedding", s"$root/a/ivf",
      numBuckets = 16)
    copyTree(s"$root/a", s"$root/b")
    val vecs = emb.where(col("vec_id").isin(5L, 6L, 7L)).orderBy("vec_id")
      .select(col("embedding")).collect().map(r => Option(r.getSeq[Float](0)))
      .toSeq
    assert(vecs.size == 3)
    val batch = (Seq(
        (1000001L, "completely novel content that matches nothing stored here"),
        (1000002L, "another fresh document made of entirely new words inside"),
        (1000003L, "a third unseen text about tokenizers merges and buckets"),
        (1000011L, histDocs.head._2),
        (1000012L,
          "one two three four five six seven eight nine ten eleven twelve altered"))
      .zip(vecs ++ Seq(None, None)).map { case ((id, t), v) => (id, t, v) } :+
      ((1000099L, "   ", None: Option[Seq[Float]])))
      .toDF("doc_id", "text", "embedding")

    val got = Pipelines.ingest(spark, batch, s"$root/a/dedup", s"$root/a/bpe",
      s"$root/a/ivf")

    // the same tick, every artifact write one after another
    val (dedupB, bpeB, ivfB) = (s"$root/b/dedup", s"$root/b/bpe", s"$root/b/ivf")
    val norm = batch.where(col("doc_id").isNotNull)
      .withColumn("text", trim(col("text")))
      .where(col("text").isNotNull && length(col("text")) > 0)
    val v = IncrementalDedup.verdicts(spark, norm, "doc_id", "text", dedupB)
      .localCheckpoint(true)
    val byStatus = v.groupBy("status").count().as[(String, Long)].collect().toMap
    val uniq = norm.join(v.where(col("status") === "unique").select("doc_id"),
      Seq("doc_id")).localCheckpoint(true)
    val sigs = Dedup.minhashSignatureArray(uniq, "doc_id", "text", 8)
      .localCheckpoint(true)
    KeyedParquetSink.upsert(spark, s"$dedupB/hashes",
      uniq.groupBy(md5(col("text")).as("h")).agg(min(col("doc_id")).as("keeper")),
      Seq("h"), 8)
    KeyedParquetSink.upsert(spark, s"$dedupB/bands", Dedup.lshBands(sigs, 4),
      Seq("bandkey", "doc"), 8)
    KeyedParquetSink.upsert(spark, s"$dedupB/sigs", sigs, Seq("doc"), 8)
    val tp = TokenizerModel.segment(spark, uniq, "doc_id", "text", bpeB)
      .agg(sum(col("n_tokens")), sum(col("n_pieces"))).head
    val appended = IvfIndex.append(spark,
      uniq.where(col("embedding").isNotNull).select(col("doc_id"), col("embedding")),
      "doc_id", "embedding", ivfB, 16)
    val want = Pipelines.IngestReport(norm.count(), byStatus.getOrElse("exact_dup", 0L),
      byStatus.getOrElse("near_dup", 0L), uniq.count(), tp.getLong(0), tp.getLong(1),
      appended)
    assert(got == want)
    assert(got.uniques == 3L && got.vectorsAppended == 3L, s"$got")
    // stored tables, bucket column included, row for row
    def rows(path: String): Seq[String] =
      spark.read.parquet(path).collect().map(_.toString).toSeq.sorted
    Seq("dedup/hashes", "dedup/bands", "dedup/sigs", "ivf/vectors",
        "ivf/centroids").foreach { t =>
      assert(rows(s"$root/a/$t") == rows(s"$root/b/$t"), s"$t differs")
    }

    val replay = Pipelines.ingest(spark, batch, s"$root/a/dedup", s"$root/a/bpe",
      s"$root/a/ivf")
    assert(replay.uniques == 0L && replay.vectorsAppended == 0L &&
      replay.tokensSeen == 0L, s"replay must ingest 0: $replay")
  }

  test("jobs launched from Overlap threads carry the caller's job group") {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith("overlap-spec")).foreach(groups.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("overlap-spec", "overlap spec", interruptOnCancel = false)
      try Overlap(spark.range(0, 100, 1, 3).count(),
        spark.range(0, 100, 1, 5).count())
      finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (groups.size < 2 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.size >= 2, s"jobs seen under the group: $groups")
    } finally sc.removeSparkListener(listener)

    // the Runner path: a stage whose jobs all run on Overlap threads is
    // still tallied by Progress (3 + 5 tasks, plus the stage's own count)
    Runner.clearStop()
    val report = Runner.run(spark, Seq(Runner.Stage("overlap_prog", s => {
      Overlap(s.range(0, 100, 1, 3).count(), s.range(0, 100, 1, 5).count())
      s.range(0, 1, 1, 1).toDF()
    })), retries = 1)
    assert(report.ok)
    val deadline = System.nanoTime() + 10000000000L
    var p = Progress.of("overlap_prog").get
    while ((p.tasksDone < 9 || p.tasksDone < p.tasksTotal) &&
           System.nanoTime() < deadline) {
      Thread.sleep(50); p = Progress.of("overlap_prog").get
    }
    assert(p.tasksDone >= 9 && p.tasksDone == p.tasksTotal, s"$p")
  }

  test("Overlap waits for every step and rethrows the first failure after all end") {
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Overlap(
        throw new IllegalStateException("first"),
        { Thread.sleep(300); slowDone.set(true); 1 },
        throw new IllegalArgumentException("third"))
    }
    assert(e.getMessage == "first")
    assert(slowDone.get(), "a failure must not return before every step ends")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("third"))
    assert(Overlap("a", 2) == (("a", 2)))
  }
}
