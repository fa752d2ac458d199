package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** One timed call into the engine. `phase` is `cold` (the first pass over
  * the workload's ops), `steady` or `traced` (the steady ops of the traced
  * half of a `--trace 1` run). `detail` carries what the call returned,
  * for the output checks and the per-layer numbers. */
final case class Op(kind: String, name: String, phase: String,
                    startMs: Long, endMs: Long, ok: Boolean, error: String,
                    rows: Long, detail: Map[String, Any] = Map.empty) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** What a workload hands back to [[Main]]. `setup` are set-up seconds by
  * part, `layers` the per-layer metrics of a traced run, `output` whatever
  * the output checks need beyond the ops. */
final case class WorkloadResult(setup: Map[String, Double], ops: Seq[Op],
                                layers: Map[String, Double],
                                output: Map[String, Any])

final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, data: String, inputs: String,
                      work: String, out: String, cpus: Int, smoke: Boolean)

object Harness {

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, secondsSince(t0))
  }

  /** Run `op` and record it; a thrown error becomes a failed op. */
  def record(kind: String, name: String, phase: String)(
      op: => (Long, Map[String, Any])): Op = {
    val s = System.currentTimeMillis()
    try {
      val (rows, detail) = op
      Op(kind, name, phase, s, System.currentTimeMillis(), ok = true, "",
        rows, detail)
    } catch {
      case e: Exception =>
        Op(kind, name, phase, s, System.currentTimeMillis(), ok = false,
          s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300), 0L)
    }
  }

  /** The closed loop: one client issues `next(i)` after op i-1 returned,
    * until `seconds` have passed and a whole number of `granule` ops ran,
    * or the inputs run out. Returns the ops in issue order. */
  def closedLoop(seconds: Double, minOps: Int = 0, granule: Int = 1)(
      next: Int => Option[() => Op]): Seq[Op] = {
    val t0 = System.nanoTime()
    val out = Seq.newBuilder[Op]
    var i = 0
    var more = true
    while (more && (i < minOps || i % granule != 0 || secondsSince(t0) < seconds)) {
      next(i) match {
        case Some(f) => out += f(); i += 1
        case None => more = false
      }
    }
    out.result()
  }

  /** Steady window of a run: untraced for a plain run; for a traced run,
    * half untraced (the reference for the tracing overhead) and half with
    * the listeners attached. The untraced window, or the traced half, runs
    * at least `minOps` ops; each half ends on a multiple of `granule` ops. */
  def steadyWindow(spark: SparkSession, a: Args, start: Int, minOps: Int,
                   granule: Int = 1)(
      next: (Int, String) => Option[() => Op]): (Seq[Op], Option[Trace]) =
    if (!a.trace)
      (closedLoop(a.seconds, minOps, granule)(i => next(start + i, "steady")), None)
    else {
      val plain = closedLoop(a.seconds / 2, 0, granule)(i => next(start + i, "steady"))
      val trace = new Trace(spark)
      trace.attach()
      val traced = closedLoop(a.seconds / 2, minOps, granule)(i =>
        next(start + plain.size + i, "traced"))
      trace.detach()
      (plain ++ traced, Some(trace))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Mean of each Spark layer metric over the traced ops. */
  def sparkLayers(trace: Option[Trace], ops: Seq[Op]): Map[String, Double] = {
    val traced = ops.filter(_.phase == "traced")
    Trace.SparkMetrics.map { m =>
      m -> (trace match {
        case Some(t) if traced.nonEmpty =>
          traced.map(o => t.layer(o.startMs, o.endMs)(m)).sum / traced.size
        case _ => 0.0
      })
    }.toMap
  }

  /** Data files (name → bytes) under a table root, recursively. */
  def files(root: String): Map[String, Long] = {
    def walk(f: File): Seq[(String, Long)] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f.getPath -> f.length)
      else Nil
    walk(new File(root)).toMap
  }

  def megabytes(roots: Seq[String]): Double =
    roots.map(r => files(r).values.sum).sum / 1e6

  /** Run `op`; when tracing, add what it rewrote in the keyed tables under
    * `roots`, from their files before and after: the bucket directories
    * holding a new file, and the new bytes. */
  def rewriting(trace: Boolean, roots: Seq[String])(op: => Op): Op =
    if (!trace) op
    else {
      def snapshot = roots.map(files).reduce(_ ++ _)
      val before = snapshot
      val o = op
      val fresh = snapshot.filter { case (p, _) => !before.contains(p) }
      o.copy(detail = o.detail ++ Map(
        "buckets_touched" -> fresh.keys.map(p => new File(p).getParent).toSet.size,
        "bytes_rewritten" -> fresh.values.sum))
    }

  /** Spark block storage (memory + disk) still held, in MB. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6
}
