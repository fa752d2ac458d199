package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.etl.Pipelines
import graft.ops.{IncrementalDedup, IvfIndex, TextAnalysis, TokenizerModel}
import graft.sinks.KeyedParquetSink
import graft.sources.Tables

/** `corpus_ingest`: the LLM-data write-plus-read path. Set-up builds the
  * three stored artifacts from the base `documents` / `embeddings`: the
  * dedup index, a BPE model whose merges are learned from those documents,
  * and the IVF index. Each steady tick is one `Pipelines.ingest` batch; the
  * cold pass also replays the first batch and runs `Pipelines.erase` on
  * some of its documents. */
object CorpusIngest {

  val DedupBuckets = 8
  val IvfBuckets = 16
  val MaxMerges = 256

  /** Byte-pair merges learned from word frequencies: repeatedly fuse the
    * most frequent adjacent symbol pair (ties: the smaller pair), until
    * `maxMerges` or no pair occurs twice. Merges use the stored-model
    * format `TokenizerModel` applies: the two symbols joined by a space. */
  def learnMerges(freq: Map[String, Long], maxMerges: Int): Seq[String] = {
    var words = freq.toSeq.map { case (w, n) => w.map(_.toString).toVector -> n }
    val merges = Seq.newBuilder[String]
    var left = maxMerges
    while (left > 0) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, n) <- words; i <- 0 until syms.size - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + n
      val best = counts.toSeq.filter(_._2 >= 2)
        .sortBy { case ((x, y), c) => (-c, x, y) }.headOption
      best match {
        case None => left = 0
        case Some(((x, y), _)) =>
          merges += s"$x $y"
          words = words.map { case (syms, n) =>
            val out = Vector.newBuilder[String]
            var i = 0
            while (i < syms.size) {
              if (i + 1 < syms.size && syms(i) == x && syms(i + 1) == y) {
                out += x + y; i += 2
              } else { out += syms(i); i += 1 }
            }
            out.result() -> n
          }
          left -= 1
      }
    }
    merges.result()
  }

  private val StepMarkers = Seq(
    "ops.dedup_verdicts_s" -> "IncrementalDedup$.verdicts(",
    "ops.dedup_append_s" -> "IncrementalDedup$.append(",
    "ops.tokenize_s" -> "TokenizerModel$.",
    "ops.ivf_append_s" -> "IvfIndex$.append(")

  /** Time per ingest step of one traced op, attributed by the call sites of
    * its Spark jobs: a step runs from the first job whose call stack is in
    * that step's public function to the first job of the next step. */
  private def steps(t: Trace, o: Op): Map[String, Double] = {
    val jobs = t.jobsIn(o.startMs, o.endMs)
    val starts = StepMarkers.map { case (k, marker) =>
      k -> jobs.find(_.callSite.contains(marker)).map(_.startMs) }
      .collect { case (k, Some(s)) => k -> s }
    starts.zipAll(starts.drop(1).map(_._2), ("", 0L), o.endMs)
      .collect { case ((k, s), e) if k.nonEmpty => k -> (e - s) / 1e3 }.toMap
  }

  def run(spark: SparkSession, a: Args): WorkloadResult = {
    import spark.implicits._
    val dedupPath = s"${a.work}/artifacts/dedup"
    val bpePath = s"${a.work}/artifacts/bpe"
    val ivfPath = s"${a.work}/artifacts/ivf"
    val docs = Tables.documents(spark, a.data)

    // set-up: the three stored artifacts
    val (_, dedupS) = Harness.timed(
      IncrementalDedup.buildIndex(docs, "doc_id", "text", dedupPath,
        numBuckets = DedupBuckets))
    val (_, bpeS) = Harness.timed {
      val freq = docs.select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .where(length(col("w")) > 0).groupBy("w").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val vocab = freq.toSeq.sortBy { case (w, n) => (-n, w) }.zipWithIndex
        .map { case ((w, n), i) => (w, i.toLong, n) }
      TokenizerModel.save(spark, vocab.toDF("token", "token_id", "n"),
        learnMerges(freq, MaxMerges).zipWithIndex
          .map { case (m, i) => (i.toLong + 1, m) }.toDF("round", "pair"),
        bpePath)
    }
    val (_, ivfS) = Harness.timed(
      IvfIndex.build(spark, Tables.embeddings(spark, a.data), "vec_id",
        "embedding", ivfPath, numBuckets = IvfBuckets))

    val targets = Seq(s"$dedupPath/hashes", s"$dedupPath/bands",
      s"$dedupPath/sigs", s"$ivfPath/vectors")
    val bucketTotal = 3 * DedupBuckets + IvfBuckets
    val tickDirs = new java.io.File(s"${a.inputs}/corpus").list()
      .filter(_.startsWith("tick_")).sorted.map(d => s"${a.inputs}/corpus/$d")

    def ingest(dir: String, name: String, phase: String): Op =
      Harness.rewriting(a.trace, targets) {
        Harness.record("ingest", name, phase) {
          val r = Pipelines.ingest(spark, spark.read.parquet(s"$dir/batch.parquet"),
            dedupPath, bpePath, ivfPath, DedupBuckets, IvfBuckets)
          (r.rowsIn, Map("rows_in" -> r.rowsIn, "exact" -> r.exactDups,
            "near" -> r.nearDups, "unique" -> r.uniques,
            "tokens" -> r.tokensSeen, "pieces" -> r.piecesSeen,
            "vectors" -> r.vectorsAppended))
        }
      }
    def tick(i: Int, phase: String): Op = ingest(tickDirs(i), f"tick_$i%03d", phase)

    // the cold pass covers each kind of op once: the first batch, its
    // replay (which must ingest nothing), and an erase of some of its docs
    val first = tick(0, "cold")
    val replay = ingest(s"${a.inputs}/corpus/replay", "replay", "cold")
    val subjects = spark.read.parquet(s"${a.inputs}/corpus/erase/ids.parquet")
    val erased = Harness.record("erase", "erase", "cold") {
      val r = Pipelines.erase(spark, subjects, "doc_id", dedupPath, ivfPath,
        DedupBuckets, IvfBuckets)
      (0L, Map("subjects" -> r.subjects))
    }
    val cold = Seq(first, replay, erased)
    // what the erase left behind, read back from every store (untimed)
    val ids = subjects.select(col("doc_id").as("id"))
    def left(path: String, idCol: String) = KeyedParquetSink.read(spark, path)
      .join(ids, col(idCol) === col("id"), "left_semi").count()
    val leftRows = left(s"$dedupPath/sigs", "doc") + left(s"$dedupPath/bands", "doc") +
      left(s"$dedupPath/hashes", "keeper") + left(s"$ivfPath/vectors", "vid")
    val (steady, tr) = Harness.steadyWindow(spark, a, 1,
        if (a.smoke) tickDirs.length - 1 else 2) { (i, phase) =>
      if (i < tickDirs.length) Some(() => tick(i, phase)) else None
    }
    val storageMb = Harness.storageMb(spark)
    val all = cold.map(o => if (o.kind == "erase" && o.ok)
      o.copy(detail = o.detail ++ Map("left" -> leftRows)) else o) ++ steady

    val layers = tr.fold(Map.empty[String, Double]) { t =>
      val ingests = (cold ++ steady).filter(o => o.kind == "ingest" && o.name != "replay" && o.ok)
      def total(k: String) = ingests.map(_.detail(k).asInstanceOf[Long]).sum.toDouble
      val rowsIn = math.max(1.0, total("rows_in"))
      val writing = steady.filter(o => o.phase == "traced" && o.kind == "ingest" &&
        o.ok && o.detail("unique").asInstanceOf[Long] > 0)
      val stepTimes = writing.map(steps(t, _))
      val uniques = writing.map(_.detail("unique").asInstanceOf[Long]).sum
      Harness.sparkLayers(tr, steady) ++
        StepMarkers.map { case (k, _) => k -> Harness.median(stepTimes.flatMap(_.get(k))) } ++
        Map("ops.exact_dup_frac" -> total("exact") / rowsIn,
          "ops.near_dup_frac" -> total("near") / rowsIn,
          "ops.unique_frac" -> total("unique") / rowsIn,
          "ops.erase_s" -> erased.seconds,
          "sinks.buckets_touched_frac" -> Harness.median(writing.map(o =>
            o.detail("buckets_touched").asInstanceOf[Int].toDouble / bucketTotal)),
          "sinks.bytes_rewritten_per_row" -> (if (uniques == 0) 0.0 else
            writing.map(_.detail("bytes_rewritten").asInstanceOf[Long]).sum.toDouble / uniques),
          "sinks.table_files" -> targets.map(Harness.files(_).size).sum.toDouble)
    }
    WorkloadResult(
      Map("dedup_index_s" -> dedupS, "bpe_model_s" -> bpeS, "ivf_index_s" -> ivfS),
      all, layers,
      Map("storage_mb" -> storageMb,
        "table_mb" -> Harness.megabytes(Seq(dedupPath, bpePath, ivfPath))))
  }
}
