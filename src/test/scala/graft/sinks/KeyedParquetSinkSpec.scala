package graft.sinks

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.sources.Formats
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener
import graft.etl.Overlap

class KeyedParquetSinkSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The query execution of the first parquet write `f` issues (listener
    * events are async — poll until it arrives). */
  private def writeOf(f: => Unit): QueryExecution = {
    val seen = new AtomicReference[QueryExecution](null)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        if (qe.logical.isInstanceOf[InsertIntoHadoopFsRelationCommand])
          seen.compareAndSet(null, qe)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      f
      val deadline = System.nanoTime() + 10000000000L
      while (seen.get == null && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    assert(seen.get != null, "no parquet write observed")
    seen.get
  }

  test("upsert rewrites only touched buckets and merges last-write-wins") {
    val dir = Files.createTempDirectory("graft_sink").toString + "/table"
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
      .toDF("id", "name", "amount")
    KeyedParquetSink.write(base, dir, Seq("id"), numBuckets = 8)

    // record per-bucket file state to prove untouched buckets aren't rewritten
    def bucketFiles(): Map[String, Set[String]] = {
      val root = new java.io.File(dir)
      root.listFiles().filter(_.getName.startsWith("_bucket=")).map { d =>
        d.getName -> d.listFiles().map(f => f.getName + ":" + f.lastModified()).toSet
      }.toMap
    }
    val before = bucketFiles()

    val updates = Seq((2L, "b2", 21.0), (5L, "e", 50.0)).toDF("id", "name", "amount")
    KeyedParquetSink.upsert(spark, dir, updates, Seq("id"), numBuckets = 8)

    val got = KeyedParquetSink.read(spark, dir).orderBy("id")
      .as[(Long, String, Double)].collect().toSeq
    assert(got == Seq((1L, "a", 10.0), (2L, "b2", 21.0), (3L, "c", 30.0),
      (4L, "d", 40.0), (5L, "e", 50.0)))

    val after = bucketFiles()
    val touched = {
      val ub = updates.withColumn("b",
        pmod(xxhash64(concat_ws(" ", col("id"))), lit(8)).cast("int"))
      ub.select("b").distinct().as[Int].collect().toSet.map((b: Int) => s"_bucket=$b")
    }
    val untouched = before.keySet -- touched
    assert(untouched.nonEmpty, "test needs at least one untouched bucket")
    untouched.foreach { b => assert(before(b) == after(b), s"bucket $b was rewritten") }
    touched.foreach { b => assert(before.get(b) != after.get(b), s"bucket $b unchanged") }
  }

  test("upsert is idempotent (re-delivery of the same updates)") {
    val dir = Files.createTempDirectory("graft_sink2").toString + "/table"
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "amount")
    KeyedParquetSink.write(base, dir, Seq("id"), numBuckets = 4)
    val updates = Seq((2L, "b2", 21.0)).toDF("id", "name", "amount")
    KeyedParquetSink.upsert(spark, dir, updates, Seq("id"), numBuckets = 4)
    KeyedParquetSink.upsert(spark, dir, updates, Seq("id"), numBuckets = 4)
    val got = KeyedParquetSink.read(spark, dir).orderBy("id")
      .as[(Long, String, Double)].collect().toSeq
    assert(got == Seq((1L, "a", 10.0), (2L, "b2", 21.0)))
  }

  test("versioned upsert breaks same-key ties by versionCols desc") {
    val dir = Files.createTempDirectory("graft_sink3").toString + "/table"
    val base = Seq((1L, 0L, "v0")).toDF("id", "ver", "payload")
    KeyedParquetSink.write(base, dir, Seq("id"), numBuckets = 2)
    val updates = Seq((1L, 2L, "v2"), (1L, 1L, "v1")).toDF("id", "ver", "payload")
    KeyedParquetSink.upsert(spark, dir, updates, Seq("id"), numBuckets = 2, versionCols = Seq("ver"))
    val got = KeyedParquetSink.read(spark, dir).as[(Long, Long, String)].collect().toSeq
    assert(got == Seq((1L, 2L, "v2")))
  }

  test("bucketed tables join without a shuffle") {
    for (t <- Seq("graft_bt_facts", "graft_bt_dims")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) { // stale location from an aborted run blocks CREATE
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(loc)
      }
    }
    val facts = (1L to 1000L).map(i => (i, i * 2)).toDF("id", "a")
    val dims = (1L to 1000L).map(i => (i, s"n$i")).toDF("id", "b")
    KeyedParquetSink.writeBucketed(facts, "graft_bt_facts", Seq("id"), 8)
    KeyedParquetSink.writeBucketed(dims, "graft_bt_dims", Seq("id"), 8)
    // force a sort-merge join (hint on the input) so the bucketing is
    // what saves the shuffle, not a broadcast
    val noBroadcast = spark.table("graft_bt_facts").hint("merge")
      .join(spark.table("graft_bt_dims"), Seq("id"))
    val plan = noBroadcast.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
    assert(noBroadcast.count() == 1000)
    spark.sql("DROP TABLE graft_bt_facts"); spark.sql("DROP TABLE graft_bt_dims")
  }

  test("Formats round-trips CSV and JSON lines with explicit schemas") {
    val tmp = Files.createTempDirectory("graft_fmt").toString
    val df = Seq((1L, "x", 1.5), (2L, "y", 2.5)).toDF("id", "name", "v")
    df.coalesce(1).write.option("header", "true").csv(s"$tmp/csv")
    df.coalesce(1).write.json(s"$tmp/json")
    val csvBack = Formats.readCsv(spark, s"$tmp/csv", df.schema)
      .orderBy("id").as[(Long, String, Double)].collect().toSeq
    val jsonBack = Formats.readJsonLines(spark, s"$tmp/json", df.schema)
      .orderBy("id").as[(Long, String, Double)].collect().toSeq
    val want = Seq((1L, "x", 1.5), (2L, "y", 2.5))
    assert(csvBack == want && jsonBack == want)
  }

  test("Formats round-trips ORC and pushes filters into the ORC scan") {
    val tmp = Files.createTempDirectory("graft_orc").toString
    val df = graft.sources.Tables.orders(spark, graft.TestSpark.sf)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    Formats.writeOrc(df, s"$tmp/orc")
    val back = Formats.readOrc(spark, s"$tmp/orc", df.schema)
    assert(back.count() == df.count())
    // byte-identical values through the round trip
    assert(back.orderBy("o_orderkey").as[(Long, Long, Double)].collect().toSeq ==
      df.orderBy("o_orderkey").as[(Long, Long, Double)].collect().toSeq)
    // predicate + projection reach the ORC scan like parquet
    val plan = back.where($"o_orderkey" < 100).select($"o_orderkey")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PushedFilters:") && plan.contains("LessThan(o_orderkey"),
      s"no ORC pushdown:\n$plan")
  }

  test("bucket-count mismatch is rejected loudly, never silently partial") {
    val dir = Files.createTempDirectory("graft_sink_meta").toString + "/t"
    val base = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    KeyedParquetSink.write(base, dir, Seq("id"), numBuckets = 8)
    assert(KeyedParquetSink.storedBuckets(spark, dir).contains(8))
    val victims = Seq(Tuple1(1L)).toDF("id")
    val e = intercept[IllegalArgumentException] {
      KeyedParquetSink.deleteMatching(spark, dir, Seq("id"),
        numBuckets = 16, victims, Seq("id"))
    }
    assert(e.getMessage.contains("bucket-count mismatch"))
    val e2 = intercept[IllegalArgumentException] {
      KeyedParquetSink.upsert(spark, dir, victims.withColumn("name", lit("x")),
        Seq("id"), numBuckets = 4)
    }
    assert(e2.getMessage.contains("bucket-count mismatch"))
    // the correct count still works
    val n = KeyedParquetSink.deleteMatching(spark, dir, Seq("id"),
      numBuckets = 8, victims, Seq("id"))
    assert(n == 1L)
  }

  test("empty or corrupt bucket metadata degrades to trust-the-caller") {
    val dir = Files.createTempDirectory("graft_sink_meta2").toString + "/t"
    val base = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    KeyedParquetSink.write(base, dir, Seq("id"), numBuckets = 8)
    val meta = java.nio.file.Paths.get(dir, "_graft_buckets")
    // empty file: read() returns -1 — must map to None, not crash
    java.nio.file.Files.write(meta, Array.empty[Byte])
    assert(KeyedParquetSink.storedBuckets(spark, dir).isEmpty)
    // corrupt content: not an int — same degradation
    java.nio.file.Files.write(meta, "not-a-number".getBytes("UTF-8"))
    assert(KeyedParquetSink.storedBuckets(spark, dir).isEmpty)
    // and keyed operations proceed on the caller's count (pre-metadata
    // behavior) instead of crashing every read/merge/delete
    val n = KeyedParquetSink.deleteMatching(spark, dir, Seq("id"),
      numBuckets = 8, Seq(Tuple1(1L)).toDF("id"), Seq("id"))
    assert(n == 1L)
  }

  test("full-table erasure leaves a readable zero-row table") {
    val dir = Files.createTempDirectory("graft_sink_empty").toString + "/t"
    val base = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "v")
    KeyedParquetSink.write(base, dir, Seq("id"), numBuckets = 4)
    val victims = Seq(Tuple1(1L), Tuple1(2L)).toDF("id")
    val removed = KeyedParquetSink.deleteMatching(spark, dir, Seq("id"),
      numBuckets = 4, victims, Seq("id"))
    assert(removed == 2L)
    // the erased-empty table still reads (0 rows, schema intact) ...
    val back = KeyedParquetSink.read(spark, dir)
    assert(back.count() == 0L)
    assert(back.columns.toSet == Set("id", "name", "v"))
    // ... and accepts a later upsert
    KeyedParquetSink.upsert(spark, dir,
      Seq((9L, "z", 9.0)).toDF("id", "name", "v"), Seq("id"), numBuckets = 4)
    assert(KeyedParquetSink.read(spark, dir).count() == 1L)
  }

  test("mergeInto merges and writes behind ONE shuffle, with no cache") {
    val dir = Files.createTempDirectory("graft_sink_plan").toString + "/t"
    val base = (1L to 40L).map(i => (i, s"n$i", i * 1.0)).toDF("id", "name", "v")
    KeyedParquetSink.write(base, dir, Seq("id"), numBuckets = 8)
    val updates = Seq((3L, "x", 3.5), (17L, "y", 17.5), (99L, "z", 99.0))
      .toDF("id", "name", "v")
    val qe = writeOf(KeyedParquetSink.upsert(spark, dir, updates, Seq("id"),
      numBuckets = 8))
    val plan = qe.executedPlan
    // the observed write really is the merge (windows + survivor metrics)
    assert(collect(plan) { case w: WindowExec => w }.nonEmpty, plan.toString)
    assert(qe.logical.collect { case c: CollectMetrics => c }.size == 1)
    val shuffles = collect(plan) { case e: ShuffleExchangeLike => e }
    assert(shuffles.size == 1, s"want one exchange for merge + write:\n$plan")
    assert(collect(plan) { case m: InMemoryTableScanExec => m }.isEmpty &&
      qe.optimizedPlan.collect { case r: InMemoryRelation => r }.isEmpty,
      s"the merge must not go through a cache:\n$plan")
    // and it still merged right, one file per rewritten bucket
    val got = KeyedParquetSink.read(spark, dir).orderBy("id")
      .as[(Long, String, Double)].collect().toSeq
    assert(got.size == 41 && got.contains((3L, "x", 3.5)) &&
      got.contains((17L, "y", 17.5)) && got.contains((99L, "z", 99.0)))
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("_bucket="))
      .foreach { b =>
        assert(b.listFiles().count(_.getName.endsWith(".parquet")) == 1,
          s"${b.getName} holds more than one data file")
      }
  }

  test("a mergeInto whose deleteCond removes every row leaves a readable zero-row table") {
    val dir = Files.createTempDirectory("graft_sink_delall").toString + "/t"
    val base = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("id", "name", "v")
    KeyedParquetSink.write(base, dir, Seq("id"), numBuckets = 4)
    val deletes = base.withColumn("op", lit("D"))
    KeyedParquetSink.mergeInto(spark, dir, deletes, Seq("id"), numBuckets = 4,
      deleteCond = Some(col("op") === "D"))
    val back = KeyedParquetSink.read(spark, dir)
    assert(back.count() == 0L)
    assert(back.columns.toSet == Set("id", "name", "v"))
    KeyedParquetSink.upsert(spark, dir,
      Seq((9L, "z", 9.0)).toDF("id", "name", "v"), Seq("id"), numBuckets = 4)
    assert(KeyedParquetSink.read(spark, dir).as[(Long, String, Double)]
      .collect().toSeq == Seq((9L, "z", 9.0)))
  }

  test("an empty-source upsert is a no-op and returns") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val dir = Files.createTempDirectory("graft_sink_noop").toString + "/t"
    val base = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    KeyedParquetSink.write(base, dir, Seq("id"), numBuckets = 4)
    val before = new java.io.File(dir).list().sorted.toSeq
    // bounded wait: a survivors observation on a write that never runs
    // would block forever
    Await.result(Future(KeyedParquetSink.upsert(spark, dir, base.limit(0),
      Seq("id"), numBuckets = 4))(ExecutionContext.global), 60.seconds)
    assert(new java.io.File(dir).list().sorted.toSeq == before)
    assert(KeyedParquetSink.read(spark, dir).orderBy("id")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("upserts into different tables from two threads both land") {
    val root = Files.createTempDirectory("graft_sink_par").toString
    val (a, b) = (s"$root/a", s"$root/b")
    KeyedParquetSink.write(Seq((1L, "a")).toDF("id", "name"), a, Seq("id"), 4)
    KeyedParquetSink.write(Seq((1L, 10L)).toDF("k", "n"), b, Seq("k"), 8)
    Overlap(
      KeyedParquetSink.upsert(spark, a,
        Seq((1L, "a2"), (2L, "b")).toDF("id", "name"), Seq("id"), 4),
      KeyedParquetSink.upsert(spark, b,
        Seq((2L, 20L), (3L, 30L)).toDF("k", "n"), Seq("k"), 8))
    assert(KeyedParquetSink.read(spark, a).orderBy("id").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a2"), (2L, "b")))
    assert(KeyedParquetSink.read(spark, b).orderBy("k").as[(Long, Long)]
      .collect().toSeq == Seq((1L, 10L), (2L, 20L), (3L, 30L)))
  }
}
