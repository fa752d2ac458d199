package graft.perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run of one workload, in a fresh JVM and a fresh session.
  * `perfbench/run.py` generates the inputs, starts this main, then checks
  * the outputs; this main only drives the engine through its public entry
  * points and records what each call took and returned, as JSON in `out`.
  *
  * Arguments: `workload seed seconds trace(0|1) dataDir inputsDir workDir
  * outJson cpus smoke(0|1)`.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = Args(workload = argv(0), seed = argv(1).toLong,
      seconds = argv(2).toDouble, trace = argv(3) == "1", data = argv(4),
      inputs = argv(5), work = argv(6), out = argv(7), cpus = argv(8).toInt,
      smoke = argv(9) == "1")
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[${a.cpus}]", a.cpus)
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // no separate warm-up job: the workload's set-up runs the session's
    // first jobs, and set-up time is reported either way
    val sessionS = Harness.secondsSince(t0)
    try {
      val r = a.workload match {
        case "registry_mix" => RegistryMix.run(spark, a)
        case "etl_cdc" => EtlCdc.run(spark, a)
        case "corpus_ingest" => CorpusIngest.run(spark, a)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val json = new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValueAsString(Map(
          "setup" -> (Map("session_s" -> sessionS) ++ r.setup),
          "ops" -> r.ops.map(o => Map("kind" -> o.kind, "name" -> o.name,
            "phase" -> o.phase, "seconds" -> o.seconds, "ok" -> o.ok,
            "error" -> o.error, "rows" -> o.rows, "detail" -> o.detail)),
          "layers" -> r.layers,
          "output" -> r.output))
      Files.writeString(Paths.get(a.out), json)
    } finally spark.stop()
  }
}
