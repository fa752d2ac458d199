package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.{Bench, BenchCheck, BenchGuard, Caches, OracleJson, SparkEntry}

/** `registry_mix`: the analytics-serving path. A seeded sample of the
  * registered queries, stratified by family, each materialized through the
  * `noop` sink the way `graft.Bench` does, over and over by one client.
  * The session-shared frames are built in set-up. */
object RegistryMix {

  val Families: Seq[String] = Seq("q", "etl", "events", "text", "dedup",
    "sim", "graph", "corpus", "mm", "stream")

  /** Queries left out of the sample: their DuckDB oracles cannot run within
    * a run's check budget, so their results could not be checked. The two
    * k-core peels unroll into CTE chains that DuckDB re-evaluates for
    * minutes; the keeper-strategy oracle needs more than 4 GB. */
  val Unchecked: Set[String] =
    Set("graph_core_number", "graph_kcore_peel", "dedup_keeper_strategies")

  /** A query's family is its name prefix; TPC-H (`q1_…`) is family `q`. */
  def family(name: String): String = {
    val p = name.takeWhile(_ != '_')
    if (Families.contains(p)) p else if (p.matches("q\\d+")) "q" else p
  }

  /** The sample is drawn with this fixed seed, so that every run measures
    * the same queries; the run seed orders them. A sample drawn per run seed
    * moved the sample's total cost by 8-20% and its median by 11-30% between
    * seeds (interquartile range over ten seeds, at 12-24 queries), which is
    * wider than any bound a regression check could use. */
  val SampleSeed = 20261017L

  /** `size` queries, each family's share proportional to its size in the
    * registry but at least one, and family `q` always holding a TPC-H one.
    * Within a family the pick is a seeded shuffle of the sorted names. */
  def sample(names: Seq[String], seed: Long, size: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val byFam = names.sorted.groupBy(family)
    Families.flatMap { f =>
      val members = byFam.getOrElse(f, Nil)
      val n = math.max(1, math.round(size.toDouble * members.size / names.size).toInt)
      val (tpch, rest) = rnd.shuffle(members).partition(_.matches("q\\d+_.*"))
      if (f == "q") tpch.take(1) ++ rest.take(n - 1) else rest.take(n)
    }
  }

  /** The shared frames in `Bench.timeSharedWarmup`'s dependency order,
    * for the traced run, which times each frame's build on its own. */
  def frames(spark: SparkSession, dir: String): Seq[(String, () => Unit)] = {
    import graft.queries._
    Seq(
      "shingle" -> (() => ShingleShared.warmShared(spark, dir)),
      "pairIndex" -> (() => TextDedup.warmSharedIndex(spark, dir)),
      "tok" -> (() => TokShared.warmShared(spark, dir)),
      "vocab" -> (() => Vocab.warmShared(spark, dir)),
      "bpe" -> (() => Round10.warmBpe(spark, dir)),
      "sim" -> (() => SimShared.warmShared(spark, dir)),
      "gram" -> (() => GramShared.warmShared(spark, dir)),
      "pq" -> (() => PqShared.warmShared(spark, dir)),
      "knnEdges" -> (() => SimMm.warmKnnEdges(spark, dir)),
      "lloyd" -> (() => LloydShared.warmShared(spark, dir)),
      "ivf" -> (() => SimIvf.warmSharedIndex(spark, dir)),
      "graph" -> (() => GraphShared.warmShared(spark, dir)),
      "snm" -> (() => SnmShared.warmShared(spark, dir)),
      "winnow" -> (() => WinnowShared.warmShared(spark, dir)),
      "lsh" -> (() => LshShared.warmShared(spark, dir)),
      "bigram" -> (() => BigramShared.warmShared(spark, dir)))
  }

  def run(spark: SparkSession, a: Args): WorkloadResult = {
    val rnd = new scala.util.Random(a.seed)
    val names = rnd.shuffle(sample(SparkEntry.queries.keys.toSeq.filterNot(Unchecked),
      SampleSeed, if (a.smoke) Families.size else 6))
    def materialize(name: String): Unit = {
      SparkEntry.queries(name)(spark, a.data)
        .write.format("noop").mode("overwrite").save()
      Caches.sweep(spark)
    }
    def op(name: String, phase: String): Op =
      Harness.record(family(name), name, phase) { materialize(name); (0L, Map.empty) }

    // set-up: the shared frames (all at once as the engine's bench builds
    // them; one at a time when traced, to time each frame)
    val frameSeconds =
      if (!a.trace) Map.empty[String, Double]
      else frames(spark, a.data).map { case (tag, f) => tag -> Harness.timed(f())._2 }.toMap
    val sharedS =
      if (a.trace) frameSeconds.values.sum else Bench.timeSharedWarmup(spark, a.data)
    val pinnedMb = Harness.storageMb(spark)

    val cold = names.map(op(_, "cold"))
    val passes = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val (steady, trace) =
      Harness.steadyWindow(spark, a, 0, 2 * names.size, names.size) { (i, phase) =>
        while (passes.size <= i / names.size) passes += rnd.shuffle(names)
        val name = passes(i / names.size)(i % names.size)
        Some(() => op(name, phase))
      }
    val storageMb = Harness.storageMb(spark)

    // output check material, outside the timed window: each sampled
    // query's result as parquet, and its oracle SQL
    val checkDir = s"${a.work}/check"
    val checkErrors = names.flatMap { n =>
      try {
        SparkEntry.queries(n)(spark, a.data).coalesce(1)
          .write.mode("overwrite").parquet(s"$checkDir/$n")
        Caches.sweep(spark)
        None
      } catch { case e: Exception => Some(n -> String.valueOf(e.getMessage).take(300)) }
    }.toMap
    Files.writeString(Paths.get(s"${a.work}/oracle.json"),
      OracleJson.render(SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }))

    val layers = trace.fold(Map.empty[String, Double]) { t =>
      val traced = (cold ++ steady).filter(_.phase == "traced")
      val jobsOf = traced.map(o => o -> t.jobsIn(o.startMs, o.endMs).size.toDouble)
      val perFamily = Families.flatMap { f =>
        val fo = jobsOf.filter(_._1.kind == f)
        Seq(s"registry.$f.p50_s" -> Harness.median(
          steady.filter(_.kind == f).map(_.seconds)),
          s"registry.$f.jobs" -> Harness.median(fo.map(_._2)))
      }
      val jobsByQuery = jobsOf.groupBy(_._1.name).map { case (n, js) =>
        n -> Harness.median(js.map(_._2)) }
      val refPath = BenchCheck.JobsRefPath
      val flags =
        if (!Files.exists(Paths.get(refPath))) 0
        else BenchGuard.checkJobs(jobsByQuery, BenchGuard.load(refPath)).size
      Harness.sparkLayers(trace, steady) ++ perFamily ++
        frameSeconds.map { case (k, v) => s"shared.$k.build_s" -> v } ++
        Map("registry.job_flags" -> flags.toDouble, "shared.warmup_s" -> sharedS,
          "shared.pinned_mb" -> pinnedMb)
    }
    WorkloadResult(Map("shared_s" -> sharedS), cold ++ steady, layers,
      Map("sample" -> names, "check_errors" -> checkErrors,
        "storage_mb" -> storageMb, "table_mb" -> Harness.megabytes(Seq(a.data))))
  }
}
