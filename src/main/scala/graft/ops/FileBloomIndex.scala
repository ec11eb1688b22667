package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.plans.{BloomBuildAgg, BloomBytesContainExpr, BloomKernels}
import graft.sources.{Resident, Sources}

/** Per-FILE Bloom sidecar for point lookups on a high-cardinality key
  * — the file-level complement of parquet's native row-group bloom
  * filters. Parquet footer min/max stats prune nothing for a key
  * that's uniformly spread (every file's [min,max] spans the domain),
  * and native parquet blooms only help AFTER a file is opened. The
  * sidecar holds one bloom bitset per data file (built in ONE grouped
  * pass with the same TypedImperativeAggregate the cross-corpus dedup
  * uses — word-OR partial merge, bounded state per file), so a point
  * lookup consults a file-count-sized table first and opens only the
  * files that might contain the key: O(1 + fpp·files) file opens
  * instead of all of them.
  *
  * The sidecar is ~(files × bits/8) bytes. A sidecar read as a
  * parquet file scan (`spark.read.parquet(sidecarPath)`) within the
  * driver's byte budget ([[graft.sources.Resident.DriverBytes]]) is
  * loaded ONCE per sidecar file set and lives on the DRIVER: a lookup
  * probes every file's bloom there with
  * [[BloomKernels.mightContainBytes]], the kernel the executor filter
  * runs, so pruning is identical and costs no Spark job. Any
  * other sidecar frame (e.g. [[build]]'s output), and at 100 TB — e.g.
  * 100k files × 1.2 MB bitsets for 1M keys/file at 1% fpp — any
  * sidecar, is probed in EXECUTORS ([[candidateFilesDF]]), where the
  * bitsets live; only the surviving file PATHS reach the driver.
  * The data files are
  * untouched (no rewrite, works on any existing parquet layout);
  * combine with [[graft.functions.ZOrder]] for range predicates and
  * with `parquet.bloom.filter.enabled#col` on write for in-file
  * row-group pruning behind the same equality filter.
  *
  * False positives cost one wasted file open; the pushed equality
  * filter inside the scan keeps correctness exact. NULL keys hash
  * like any value under xxhash64's null handling — lookups are for
  * non-null points.
  */
object FileBloomIndex {

  /** Build the sidecar frame for the parquet data at `dataPath`: one
    * row per file — (file, n_rows, bloom BINARY, num_hashes INT).
    * `expectedPerFile` sizes each bitset (over-estimate = more bits,
    * under-estimate = higher fpp, never wrong answers). */
  def build(spark: SparkSession, dataPath: String, key: Column,
            expectedPerFile: Long, fpp: Double = 0.01): DataFrame = {
    require(expectedPerFile >= 1, s"expectedPerFile must be >= 1")
    val numBits = BloomKernels.optimalNumBits(expectedPerFile, fpp)
    val numHashes = BloomKernels.optimalNumHashes(numBits, expectedPerFile)
    val agg = ColumnBridge.column(
      BloomBuildAgg(ColumnBridge.expr(xxhash64(key)), numBits, numHashes)
        .toAggregateExpression())
    Sources.readParquet(spark, dataPath)
      .withColumn("__file", input_file_name())
      .groupBy(col("__file").as("file"))
      .agg(count(lit(1)).as("n_rows"), agg.as("bloom"))
      .withColumn("num_hashes", lit(numHashes))
  }

  /** Build and land the sidecar next to the data
    * (`<dataPath>_bloomidx`). Returns the sidecar path. */
  def writeSidecar(spark: SparkSession, dataPath: String, key: Column,
                   expectedPerFile: Long, fpp: Double = 0.01): String = {
    val out = s"$dataPath" + "_bloomidx"
    build(spark, dataPath, key, expectedPerFile, fpp)
      .coalesce(1).write.mode("overwrite").parquet(out)
    out
  }

  /** Probe-batch ceiling for the OR-chain form: a point-lookup batch is
    * tens-to-hundreds of keys; past this, per-row k-probe chains stop
    * being the right plan — use [[BloomPrune]] (broadcast ONE bloom of
    * the probe set) or a plain semi-join instead. */
  final val MaxProbeBatch = 1024

  /** Spark-compatible xxhash64 of the probe values AS THE KEY COLUMN'S
    * TYPE, projected over a one-row local relation: Catalyst folds the
    * casts and hashes on the driver, so a lookup launches no job and
    * no hash is reimplemented to drift. xxhash64 is type-sensitive — an
    * Int literal probing a LongType key hashes differently and would
    * prune every file even though the row exists — so each literal is
    * cast to `keyType` first, and a probe the cast nulls out fails
    * loudly instead of silently matching nothing. */
  def hashAll(spark: SparkSession, values: Seq[Any],
              keyType: org.apache.spark.sql.types.DataType): Seq[Long] = {
    require(values.nonEmpty, "FileBloomIndex.hashAll: empty probe batch")
    require(values.size <= MaxProbeBatch,
      s"FileBloomIndex.hashAll: ${values.size} probes > MaxProbeBatch=$MaxProbeBatch " +
        "— broadcast one bloom of the probe set (BloomPrune) instead")
    values.foreach(v => require(v != null,
      "FileBloomIndex: lookups are for non-null points"))
    // try_cast: ANSI mode would THROW mid-projection on a malformed
    // probe; the nulled-flag check below turns that into one
    // descriptive failure regardless of the session's ansi setting
    val casts = values.map(v => lit(v).try_cast(keyType))
    val row = oneRow(spark)
      .select(array(casts.map(c => xxhash64(c)): _*).as("h"),
              array(casts.map(_.isNull): _*).as("nulled"))
      .head()
    values.zip(row.getSeq[Boolean](1)).foreach { case (v, nulled) =>
      require(!nulled,
        s"FileBloomIndex: probe value '$v' (${v.getClass.getSimpleName}) does not " +
          s"cast to the key column type $keyType — the sidecar was built from " +
          s"$keyType hashes, so this probe could never match")
    }
    row.getSeq[Long](0)
  }

  /** Back-compat single-value hash. Only correct when the Scala type of
    * `value` matches the key column's Spark type (Long↔LongType etc.);
    * prefer [[hashAll]] with the key type read from the data schema —
    * that's what [[lookup]]/[[lookupMany]] do. */
  def hashOf(spark: SparkSession, value: Any): Long =
    oneRow(spark).select(xxhash64(lit(value))).head().getLong(0)

  /** A one-row, zero-column local relation: a projection of literals
    * over it folds to a local result that collects without a job. */
  private def oneRow(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.List.of(org.apache.spark.sql.Row()),
      new org.apache.spark.sql.types.StructType())

  /** The sidecar rows whose bloom might contain ANY of the probe
    * hashes, projected to the file PATH only — the probe runs in
    * EXECUTORS (BloomBytesContainExpr inside the filter), so the
    * bitsets are tested where they live and never move. This is the
    * probe of a sidecar that is not a parquet file scan or is past
    * the driver's byte budget: at the object
    * scaladoc's 100 TB sizing (100k files × 1.2 MB bitsets) the driver
    * payload of a collect here is a path list, not ~120 GB of
    * bitsets. */
  def candidateFilesDF(sidecar: DataFrame, keyHashes: Seq[Long]): DataFrame = {
    require(keyHashes.nonEmpty && keyHashes.size <= MaxProbeBatch,
      s"FileBloomIndex.candidateFilesDF: probe batch must be 1..$MaxProbeBatch, " +
        s"got ${keyHashes.size}")
    val probe = keyHashes.map { h =>
      ColumnBridge.column(BloomBytesContainExpr(
        ColumnBridge.expr(col("bloom")),
        ColumnBridge.expr(lit(h)),
        ColumnBridge.expr(col("num_hashes"))))
    }.reduce(_ || _)
    sidecar.filter(probe).select("file")
  }

  /** The files a point lookup must open. Paths-only driver payload;
    * see [[candidateFilesDF]]. */
  def candidateFiles(sidecar: DataFrame, keyHash: Long): Seq[String] =
    candidateFilesDF(sidecar, Seq(keyHash)).collect().map(_.getString(0)).toSeq

  /** Point lookup: prune files by the sidecar probe (on the driver
    * when the sidecar is resident, see [[lookupMany]]), then scan
    * only the survivors with the equality filter pushed down (footer +
    * row-group pruning still apply inside them). Returns an empty
    * frame (correct schema) when every file is bloom-negative. */
  def lookup(spark: SparkSession, dataPath: String, sidecar: DataFrame,
             key: Column, value: Any): DataFrame =
    lookupMany(spark, dataPath, sidecar, key, Seq(value))

  /** Batch point lookup: ONE projection hashes every probe (cast to
    * the key column's type — see [[hashAll]]), ONE sidecar probe
    * prunes files for the whole batch, ONE scan of the surviving files
    * with the IN filter pushed down. The data's schema and key type come
    * from [[Sources]]' schema cache, so no relation over the whole data
    * directory is built. The probe runs on the driver against a
    * parquet-scan sidecar's (file, bloom, num_hashes) rows when they are
    * resident ([[graft.sources.Resident]]); a warm lookup then starts no
    * job before the data scan. Otherwise the executor probe
    * [[candidateFilesDF]] runs. */
  def lookupMany(spark: SparkSession, dataPath: String, sidecar: DataFrame,
                 key: Column, values: Seq[Any]): DataFrame = {
    val schema = Sources.parquetSchema(spark, dataPath)
    val empty = spark.createDataFrame(java.util.List.of[Row](), schema)
    val keyType = empty.select(key).schema.head.dataType
    val hashes = hashAll(spark, values, keyType)
    val files = Resident.of(sidecar, Seq("file", "bloom", "num_hashes")) match {
      case Some(side) =>
        // a NULL bloom or NULL num_hashes prunes the file, as the
        // executor filter's NULL does
        side.rows.filter(r => !r.isNullAt(1) && !r.isNullAt(2) && hashes.exists(h =>
          BloomKernels.mightContainBytes(r.getAs[Array[Byte]](1), h, r.getInt(2))))
          .map(_.getString(0)).toSeq
      case None =>
        candidateFilesDF(sidecar, hashes).collect().map(_.getString(0)).toSeq
    }
    if (files.isEmpty) empty
    else spark.read.schema(schema).parquet(files: _*).filter(key.isin(values: _*))
  }
}
