package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Changelog, Normalize, Quality, Runner}
import graft.serve.HttpShell
import graft.sinks.KeyedParquetSink
import graft.sources.Tables

/** `etl_cdc`: the reference's own job. Each tick is one
  * `POST /api/start-etl-force` to an [[HttpShell]] whose stages follow
  * `Pipelines.referenceSync`: a mixed change log is dispatched to `orders`
  * and `lineitem`, the raw rows are cleaned, validated, and upserted
  * last-write-wins into keyed tables seeded from the base tables. */
object EtlCdc {

  val NumBuckets = 8
  val OrderKeys: Seq[String] = Seq("o_orderkey")
  val LineKeys: Seq[String] = Seq("l_orderkey", "l_linenumber")
  val Version: Seq[String] = Seq("_seq")

  def cleanOrders(raw: DataFrame): DataFrame = raw.select(
    col("o_orderkey"), col("o_custkey"),
    Normalize.enumOrNull(col("o_orderstatus"), Seq("F", "O", "P")).as("o_orderstatus"),
    Normalize.numOrNull(col("o_totalprice")).as("o_totalprice"),
    Normalize.isoDateOrNull(col("o_orderdate")).as("o_orderdate"),
    Normalize.upperTrim(col("o_orderpriority")).as("o_orderpriority"),
    col("_seq"))

  def cleanLines(raw: DataFrame): DataFrame = raw.select(
    col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
    Normalize.numOrNull(col("l_quantity")).as("l_quantity"),
    Normalize.numOrNull(col("l_extendedprice")).as("l_extendedprice"),
    col("l_discount"),
    Normalize.enumOrNull(col("l_returnflag"), Seq("N", "R", "A")).as("l_returnflag"),
    Normalize.enumOrNull(col("l_linestatus"), Seq("F", "O")).as("l_linestatus"),
    Normalize.isoDateOrNull(col("l_shipdate")).as("l_shipdate"),
    col("_seq"))

  val validOrders: Column = Quality.keysPresent(OrderKeys) && col("o_orderstatus").isNotNull
  val validLines: Column = Quality.keysPresent(LineKeys) && col("l_returnflag").isNotNull

  private def ones(dfs: DataFrame*): DataFrame =
    dfs.map(_.select(lit(1).as("one"))).reduce(_ unionAll _)

  def run(spark: SparkSession, a: Args): WorkloadResult = {
    val ordersPath = s"${a.work}/target/orders"
    val linesPath = s"${a.work}/target/lineitem"
    val targets = Seq(ordersPath, linesPath)

    // set-up: the keyed targets, seeded from the cleaned base tables
    val (_, seedS) = Harness.timed {
      KeyedParquetSink.write(cleanOrders(Tables(spark, a.data, "orders")
        .withColumn("_seq", lit(0L))), ordersPath, OrderKeys, NumBuckets)
      KeyedParquetSink.write(cleanLines(Tables(spark, a.data, "lineitem")
        .withColumn("_seq", lit(0L))), linesPath, LineKeys, NumBuckets)
    }

    // the tick the next forced run consumes, and its checkpointed extract
    val tickDir = new AtomicReference[String]("")
    val extracted = new AtomicReference[(DataFrame, DataFrame)](null)
    def raw(s: SparkSession, name: String) = s.read.parquet(s"${tickDir.get}/$name.parquet")
    def cleaned = { val (o, l) = extracted.get; (cleanOrders(o), cleanLines(l)) }
    def valid = { val (o, l) = cleaned; (o.where(validOrders), l.where(validLines)) }
    val stages = Seq(
      Runner.Stage("extract", { s =>
        val by = Changelog.dispatch(raw(s, "changelog"), "entity", "ref_key",
          Map("orders" -> (raw(s, "raw_orders") -> "o_orderkey"),
            "lineitem" -> (raw(s, "raw_lineitem") -> "l_key")))
        extracted.set((by("orders").localCheckpoint(true),
          by("lineitem").localCheckpoint(true)))
        ones(extracted.get._1, extracted.get._2)
      }),
      Runner.Stage("clean", { _ => val (o, l) = cleaned; ones(o, l) }),
      Runner.Stage("validate", { _ => val (o, l) = valid; ones(o, l) }),
      Runner.Stage("upsert", { s =>
        val (o, l) = valid
        KeyedParquetSink.upsert(s, ordersPath, o, OrderKeys, NumBuckets, Version)
        KeyedParquetSink.upsert(s, linesPath, l, LineKeys, NumBuckets, Version)
        ones(o, l)
      }))
    val shell = new HttpShell(spark, stages, historyPath = Some(s"${a.work}/history"))
    val port = shell.start()
    val http = HttpClient.newHttpClient()
    val force = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/api/start-etl-force"))
      .POST(HttpRequest.BodyPublishers.noBody()).build()

    val nTicks = new java.io.File(s"${a.inputs}/etl").list()
      .count(_.startsWith("tick_"))
    def tick(i: Int, phase: String): Op = Harness.rewriting(a.trace, targets) {
      tickDir.set(f"${a.inputs}/etl/tick_$i%03d")
      val op = Harness.record("tick", s"tick_$i", phase) {
        val resp = http.send(force, HttpResponse.BodyHandlers.ofString())
        val report = Runner.status.get
        if (resp.statusCode != 200 || !report.ok)
          throw new IllegalStateException(s"HTTP ${resp.statusCode}: ${resp.body}")
        val by = report.results.map(r => r.stage -> r).toMap
        (by("validate").rows, Map(
          "tick" -> i,
          "stage_s" -> report.results.map(r => r.stage -> r.durationMs / 1e3).toMap,
          "stage_rows" -> report.results.map(r => r.stage -> r.rows).toMap,
          "retries" -> report.results.map(_.attempts - 1).sum))
      }
      Option(extracted.getAndSet(null)).foreach { case (o, l) => o.unpersist(); l.unpersist() }
      op
    }
    val cold = Seq(tick(0, "cold"))
    val (steady, tr) = Harness.steadyWindow(spark, a, cold.size,
        if (a.smoke) nTicks else 0) { (i, phase) =>
      if (i < nTicks) Some(() => tick(i, phase)) else None
    }
    shell.stop()
    val storageMb = Harness.storageMb(spark)

    val layers = tr.fold(Map.empty[String, Double]) { _ =>
      val traced = steady.filter(o => o.phase == "traced" && o.ok)
      def stageS(s: String) = Harness.median(traced.map(o =>
        o.detail("stage_s").asInstanceOf[Map[String, Double]](s)))
      def stageRows(s: String) = Harness.median(traced.map(o =>
        o.detail("stage_rows").asInstanceOf[Map[String, Long]](s).toDouble))
      val rows = traced.map(_.rows.toDouble).sum
      Harness.sparkLayers(tr, steady) ++ Map(
        "etl.extract_s" -> stageS("extract"), "etl.clean_s" -> stageS("clean"),
        "etl.validate_s" -> stageS("validate"), "etl.upsert_s" -> stageS("upsert"),
        "etl.rows_processed" -> stageRows("validate"),
        "etl.rows_skipped" -> (stageRows("clean") - stageRows("validate")),
        "etl.retries" -> traced.map(_.detail("retries").asInstanceOf[Int]).sum.toDouble,
        "serve.overhead_s" -> Harness.median(traced.map(o => o.seconds -
          o.detail("stage_s").asInstanceOf[Map[String, Double]].values.sum)),
        "sinks.buckets_touched_frac" -> Harness.median(traced.map(o =>
          o.detail("buckets_touched").asInstanceOf[Int] / (2.0 * NumBuckets))),
        "sinks.bytes_rewritten_per_row" -> (if (rows == 0) 0.0 else
          traced.map(_.detail("bytes_rewritten").asInstanceOf[Long]).sum / rows),
        "sinks.table_files" -> targets.map(Harness.files(_).size).sum.toDouble)
    }
    WorkloadResult(Map("seed_tables_s" -> seedS), cold ++ steady, layers,
      Map("targets" -> Map("orders" -> ordersPath, "lineitem" -> linesPath),
        "storage_mb" -> storageMb, "table_mb" -> Harness.megabytes(targets)))
  }
}
