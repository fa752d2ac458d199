package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Idempotent keyed parquet sink — the load side of the reference's
  * `INSERT … ON DUPLICATE KEY UPDATE` loop (etlService.js:36-53),
  * re-expressed as a table layout instead of per-batch row RPCs.
  *
  * Plain parquet has no row-level MERGE, so the table is laid out in
  * `numBuckets` stable hash partitions of the key (`_bucket =
  * pmod(xxhash64(keys), n)`). An upsert ([[mergeInto]]) then:
  *   1. buckets the incoming updates and collects the touched buckets,
  *   2. reads ONLY the partitions those updates touch (partition pruning),
  *   3. merges last-write-wins on the key (graft.etl.Merge) behind ONE
  *      exchange, `repartition(_bucket)` of the update∪table union — it
  *      serves both the per-key merge and the one-file-per-bucket write,
  *   4. dynamic-partition-overwrites just the touched partitions, taking
  *      the surviving buckets from an observation on that same write.
  *
  * Write amplification is |touched partitions| / numBuckets of the table,
  * not the whole table — at 100 TB with well-spread keys an incremental
  * batch rewrites only the buckets it lands in. The touched and surviving
  * bucket lists reach the driver, which is safe because they are bounded
  * by `numBuckets` (a config, not data volume). Upserts into DIFFERENT
  * tables may run concurrently from several driver threads
  * ([[graft.etl.Overlap]]); upserts into one table must not.
  */
object KeyedParquetSink {

  private val BucketCol = "_bucket"
  private val MetaFile = "_graft_buckets"

  /** Persist the layout's bucket count beside the data. Every keyed
    * operation hashes with `pmod(xxhash64(keys), numBuckets)` — a CALLER
    * passing a different count than the table was written with would
    * compute touched-bucket lists under the wrong modulus and silently
    * miss rows (for an erasure path that is a compliance hazard, not a
    * perf bug). The count is tiny table metadata, so it is stored at
    * write time and VALIDATED on every keyed read/merge/delete. */
  private def writeMeta(spark: SparkSession, path: String,
                        numBuckets: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, MetaFile)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(numBuckets.toString.getBytes("UTF-8")) finally out.close()
  }

  /** The persisted bucket count, when the table carries one (tables
    * written before the metadata existed do not — callers' argument is
    * trusted for those, as before). */
  def storedBuckets(spark: SparkSession, path: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(path, MetaFile)
    try {
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        // read fully: a single read() may return a partial buffer (or -1
        // on an empty file) on some filesystems
        val bytes =
          try {
            val out = new java.io.ByteArrayOutputStream(32)
            val buf = new Array[Byte](32)
            var n = in.read(buf)
            while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
            out.toByteArray
          } finally in.close()
        val text = new String(bytes, "UTF-8").trim
        // empty/corrupt metadata degrades to the pre-metadata
        // trust-the-caller path instead of crashing every keyed
        // read/merge/delete on the table
        text.toIntOption.filter(_ > 0)
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private def validateBuckets(spark: SparkSession, path: String,
                              numBuckets: Int): Unit =
    storedBuckets(spark, path).foreach { stored =>
      require(stored == numBuckets,
        s"bucket-count mismatch for $path: table written with $stored " +
          s"buckets, caller passed $numBuckets — keyed pruning would hash " +
          "under the wrong modulus and silently miss rows")
    }

  /** After a merge/delete left zero rows across the whole table, the
    * dynamic overwrite wrote no partitions and every bucket directory is
    * gone — a later read would fail schema inference on the empty root.
    * Leave ONE zero-row schema-bearing parquet file in `_bucket=0` so
    * the table stays readable (and upsertable) as an empty table. */
  private def keepEmptySchema(spark: SparkSession, path: String,
                              schema: org.apache.spark.sql.types.StructType): Unit = {
    val dataSchema = org.apache.spark.sql.types.StructType(
      schema.fields.filterNot(_.name == BucketCol))
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], dataSchema)
      .repartition(1)
      .write.mode("append").parquet(s"$path/$BucketCol=0")
  }

  /** Filesystem-aware existence check (java.io.File would be always-false
    * on hdfs:// or s3a:// paths, silently turning upserts into full
    * overwrites). Only a genuinely-missing path maps to `false`; any other
    * IO failure propagates — callers branch on this between upsert and a
    * full `mode("overwrite")` write, so swallowing a transient
    * filesystem/S3 error here would silently replace the whole table with
    * just the current batch. */
  def tableExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    try p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
    catch { case _: java.io.FileNotFoundException => false }
  }

  /** NUL-separated key concatenation → xxhash64 → pmod bucket. NUL cannot
    * appear inside real key values, so multi-key concatenations never
    * collide across boundaries. Note `concat_ws` SKIPS null parts, so
    * (null, "x") and ("x", null) land in the same bucket — harmless here
    * (bucketing only needs determinism, not injectivity), but callers
    * doing key-equality on the concatenation should null-guard first. */
  private def withBucket(df: DataFrame, keys: Seq[String], numBuckets: Int): DataFrame =
    df.withColumn(BucketCol,
      pmod(xxhash64(concat_ws("\u0000", keys.map(col): _*)), lit(numBuckets)).cast("int"))

  /** Initial (or full-replace) write of the keyed table. */
  def write(df: DataFrame, path: String, keys: Seq[String], numBuckets: Int): Unit = {
    withBucket(df, keys, numBuckets)
      .repartition(col(BucketCol))
      .write.partitionBy(BucketCol).mode("overwrite").parquet(path)
    writeMeta(df.sparkSession, path, numBuckets)
  }

  /** Append a batch into the keyed layout (streaming-append / batched-
    * load shape): rows land in their key buckets WITHOUT touching
    * existing files, so each batch adds ≥1 file per touched bucket —
    * the small-file accretion [[Compaction]] exists to clean up. Use
    * [[upsert]] when keys may repeat across batches; append trusts the
    * caller's batches to be key-disjoint. */
  def append(df: DataFrame, path: String, keys: Seq[String],
             numBuckets: Int): Unit = {
    validateBuckets(df.sparkSession, path, numBuckets)
    withBucket(df, keys, numBuckets)
      .repartition(col(BucketCol))
      .write.partitionBy(BucketCol).mode("append").parquet(path)
    writeMeta(df.sparkSession, path, numBuckets)
  }

  /** Read the table back (bucket column dropped). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop(BucketCol)

  /** Bucket-pruned POINT READ: scan only the partitions whose bucket
    * contains one of the `wanted` key tuples (a small frame carrying the
    * key columns — e.g. the nprobe cells an IVF search probes). The
    * bucket list is computed through the SAME withBucket hash as the
    * writer (never re-derived driver-side, so it cannot drift) and is
    * bounded by |wanted|, a config-sized frame, never data volume.
    * Rows from co-hashed keys sharing a pruned bucket survive — callers
    * filter the exact key inside; the read itself is
    * |touched buckets| / numBuckets of the table. */
  def readBuckets(spark: SparkSession, path: String, keys: Seq[String],
                  numBuckets: Int, wanted: DataFrame): DataFrame = {
    validateBuckets(spark, path, numBuckets)
    val buckets = withBucket(wanted.select(keys.map(col): _*), keys, numBuckets)
      .select(BucketCol).distinct()
      .collect().map(_.getInt(0)).sorted
    spark.read.parquet(path)
      .where(col(BucketCol).isin(buckets.map(Integer.valueOf): _*))
      .drop(BucketCol)
  }

  /** Write as a BUCKETED catalog table (bucketBy + sortBy on the key):
    * two tables bucketed the same way join WITHOUT any shuffle — the
    * co-located fact-fact join that makes repeated large joins cheap at
    * 100 TB. Requires the session catalog (saveAsTable); plain
    * `write.parquet` cannot persist bucketing metadata. */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
                    numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** MERGE-like upsert: last-write-wins on `keys`, ties between multiple
    * updates for one key broken by `versionCols` descending. Only the
    * partitions containing updated keys are read and rewritten. */
  def upsert(spark: SparkSession, path: String, updates: DataFrame,
             keys: Seq[String], numBuckets: Int,
             versionCols: Seq[String] = Nil): Unit =
    mergeInto(spark, path, updates, keys, numBuckets,
      versionCols = versionCols)

  /** Full MERGE INTO against the stored keyed table — the
    * [[graft.etl.Merge]] semantics (WHEN MATCHED UPDATE / WHEN NOT
    * MATCHED INSERT / WHEN MATCHED AND deleteCond THEN DELETE) applied
    * bucket-pruned: only the partitions the source's keys hash into are
    * read and rewritten, so a daily change batch — including its
    * deletes, which are keyed rows like any other — costs
    * |touched buckets| / numBuckets of the table, never a full rewrite.
    *
    * One small job collects the touched buckets (an empty source is a
    * no-op); the merge and its write then share ONE exchange. The bucket
    * column leads the merge key and the source∪target union is clustered
    * by `repartition(_bucket)`: the bucket is a function of the key, so
    * that exchange satisfies the per-key merge windows and lays the
    * output out one task, one file, per bucket. The surviving buckets
    * come from an observation (`collect_set(_bucket)`) on the write
    * itself — no cache and no second pass over the merge. */
  def mergeInto(spark: SparkSession, path: String, source: DataFrame,
                keys: Seq[String], numBuckets: Int,
                updateMatched: Boolean = true,
                insertUnmatched: Boolean = true,
                deleteCond: Option[org.apache.spark.sql.Column] = None,
                versionCols: Seq[String] = Nil): Unit = {
    validateBuckets(spark, path, numBuckets)
    val up = withBucket(source, keys, numBuckets)
    val touched = up.select(BucketCol).distinct()
      .collect().map(_.getInt(0)).sorted           // bounded by numBuckets
    if (touched.isEmpty) return
    val base = spark.read.parquet(path)
      .where(col(BucketCol).isin(touched.map(Integer.valueOf): _*))
    val merged = graft.etl.Merge.merge(base, up, BucketCol +: keys,
      updateMatched, insertUnmatched, deleteCond, versionCols,
      clusterBy = Seq(BucketCol))
    // unique per call: concurrent merges in one session never share it
    val survivorsObs = new org.apache.spark.sql.Observation(
      s"graft_survivors_${java.util.UUID.randomUUID()}")
    merged.observe(survivorsObs, collect_set(col(BucketCol)).as("b"))
      .write.partitionBy(BucketCol).mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(path)
    val survivors = survivorsObs.get("b")          // bounded by numBuckets
      .asInstanceOf[scala.collection.Seq[Int]].toSet
    // dynamic overwrite only replaces partitions PRESENT in the output:
    // a touched bucket whose rows were ALL deleted writes nothing, so
    // its stale directory would survive and resurrect the deleted keys.
    // Drop those directories explicitly (≤ numBuckets driver-side ops).
    val emptied = touched.filterNot(survivors)
    if (emptied.nonEmpty) {
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      emptied.foreach { b =>
        fs.delete(new org.apache.hadoop.fs.Path(root, s"$BucketCol=$b"), true)
      }
      // a merge that deleted the table's last rows must leave a
      // schema-bearing empty file, or the next read fails inference
      if (survivors.isEmpty && !fs.listStatus(root)
            .exists(_.getPath.getName.startsWith(s"$BucketCol=")))
        keepEmptySchema(spark, path, base.schema)
    }
  }

  /** Row-level DELETE against a NON-unique keyed table (one the MERGE
    * path cannot serve: `keys` here is a layout key like the IVF cell,
    * shared by many rows, so a keyed merge would collapse them). Rows of
    * `victims` identify their targets by `matchCols`; victims must ALSO
    * carry the `keys` columns, which prune the rewrite — only the
    * buckets the victims' keys hash into are read, anti-joined on
    * `matchCols`, and dynamic-partition-overwritten, so an erasure
    * batch costs |touched buckets| / numBuckets of the table, never a
    * full rewrite. A bucket whose rows were ALL victims is dropped
    * explicitly (the same resurrection blind spot mergeInto covers).
    * Untouched bucket directories are never opened or rewritten.
    * Idempotent: re-deleting the same victims matches nothing.
    * Returns the number of rows removed. */
  def deleteMatching(spark: SparkSession, path: String, keys: Seq[String],
                     numBuckets: Int, victims: DataFrame,
                     matchCols: Seq[String]): Long = {
    validateBuckets(spark, path, numBuckets)
    val vb = withBucket(victims, keys, numBuckets)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = vb.select(BucketCol).distinct()
        .collect().map(_.getInt(0)).sorted         // bounded by numBuckets
      if (touched.isEmpty) return 0L
      val base = spark.read.parquet(path)
        .where(col(BucketCol).isin(touched.map(Integer.valueOf): _*))
      val kept = base.join(
          vb.select(matchCols.map(col): _*).distinct(),
          matchCols, "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val beforeN = base.count()
        val keptN = kept.count()
        val survivors = kept.select(BucketCol).distinct()
          .collect().map(_.getInt(0)).toSet         // bounded by numBuckets
        kept.repartition(col(BucketCol))
          .write.partitionBy(BucketCol).mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .parquet(path)
        val emptied = touched.filterNot(survivors)
        if (emptied.nonEmpty) {
          val root = new org.apache.hadoop.fs.Path(path)
          val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
          emptied.foreach { b =>
            fs.delete(new org.apache.hadoop.fs.Path(root, s"$BucketCol=$b"),
              true)
          }
          // an erasure that removed the table's last rows must leave a
          // schema-bearing empty file, or the next locate pass / read
          // fails schema inference instead of returning 0 rows
          if (keptN == 0L && !fs.listStatus(root)
                .exists(_.getPath.getName.startsWith(s"$BucketCol=")))
            keepEmptySchema(spark, path, base.schema)
        }
        beforeN - keptN
      } finally kept.unpersist()
    } finally vb.unpersist()
  }
}
