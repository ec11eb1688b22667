package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink surface (reference: `datar_polars/polars.py` re-exports
  * polars IO — read_csv etc.; graft maps the same needs onto Spark's
  * readers/writers with the options that matter at pipeline scale).
  *
  * Scale rules encoded here:
  * - Readers take an EXPLICIT schema wherever possible. `inferSchema`
  *   on CSV/JSON runs a full extra pass over the data — at 100 TB that
  *   is a second scan before the first real one. Schema-on-read also
  *   pins column types across runs (inference can flip types when the
  *   data drifts).
  * - Column pruning + predicate pushdown reach parquet scans
  *   automatically because all downstream operators stay declarative.
  * - Partitioned sinks (`writePartitioned`) give directory-level
  *   partition pruning to every future reader; choose low-cardinality
  *   keys (date, source) — high-cardinality partitioning creates a
  *   small-files problem instead.
  * - Bucketed sinks (`writeBucketed`) pre-shuffle ONCE at write time;
  *   repeated joins/aggregations on the bucket key then plan with no
  *   Exchange at all (asserted in SourcesSpec).
  * - `maxRecordsPerFile` caps output file size so a skewed final task
  *   cannot emit a multi-GB file that breaks downstream split sizing.
  * - [[readParquet]] is graft's only parquet entry point. Spark infers
  *   a parquet schema with a job that opens footers on every read; on
  *   a serving path that job costs more than the answer. The inferred
  *   schema is kept in a driver-side cache of at most
  *   [[SchemaCacheEntries]] schemas (least recently used goes first),
  *   keyed by the roots as given, every leaf file's path, size and
  *   mtime ([[FileSets.fingerprint]], a driver listing with no job) and
  *   the session confs inference reads ([[InferenceConfs]]). A repeat
  *   read of an unchanged file set passes the cached schema to
  *   `spark.read.schema(...)` and runs no inference. Inference runs
  *   again when the file set changes (an overwrite, an append, a
  *   compaction: Spark names every new file uniquely), when one of
  *   those confs changes, after [[FileSets.clearCaches]], or once the entry
  *   has been evicted. A root that does not exist is never cached: the
  *   read goes straight to Spark and fails as it always did. When the
  *   roots are plain data files (a manifested table's file list), a
  *   miss reads the first file's footer on the driver instead of
  *   running the inference job ([[filesSchema]]), so even the first
  *   read of a newly published file set launches no extra job.
  */
object Sources {

  // ---- readers -----------------------------------------------------------
  /** Most parquet schemas the driver keeps; one entry is a file-set
    * fingerprint plus a schema. */
  val SchemaCacheEntries = 512

  /** Session confs parquet schema inference and partition discovery
    * read: part of the schema cache key. */
  private val InferenceConfs = Seq(
    "spark.sql.caseSensitive",
    "spark.sql.files.ignoreCorruptFiles",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.session.timeZone",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  private final case class SchemaKey(roots: Seq[String], merged: Boolean,
                                     confs: Seq[Option[String]],
                                     files: Vector[(String, Long, Long)])

  private val schemas = new FileSets.Lru[SchemaKey, StructType](SchemaCacheEntries)

  /** Read parquet, inferring the schema once per file set (see the
    * object scaladoc for the cache key and when inference runs again). */
  def readParquet(spark: SparkSession, paths: String*): DataFrame =
    readParquetCached(spark, paths, merged = false)

  /** Parquet with schema evolution across files (mergeSchema scans all
    * footers — bounded metadata cost, pay it only when files really
    * have heterogeneous schemas). Cached like [[readParquet]]. */
  def readParquetMerged(spark: SparkSession, paths: String*): DataFrame =
    readParquetCached(spark, paths, merged = true)

  private def readParquetCached(spark: SparkSession, paths: Seq[String],
                                merged: Boolean): DataFrame = {
    // every graft pipeline starts at a parquet read: its session plans
    // with graft's strategies from here on
    graft.plans.GraftExtensions.install(spark)
    def inferred =
      (if (merged) spark.read.option("mergeSchema", "true") else spark.read)
        .parquet(paths: _*)
    FileSets.fingerprint(spark.sessionState.newHadoopConf(), paths) match {
      case None => inferred
      case Some(files) =>
        val key = SchemaKey(paths, merged,
          InferenceConfs.map(spark.conf.getOption), files)
        schemas.get(key).orElse(if (merged) None else filesSchema(spark, paths)) match {
          case Some(schema) =>
            schemas.put(key, schema)
            spark.read.schema(schema).parquet(paths: _*)
          case None =>
            val df = inferred
            schemas.put(key, df.schema)
            df
        }
    }
  }

  /** The schema [[readParquet]] gives `paths` when their file set is
    * `files`, if it is cached: no relation is built. */
  private[graft] def cachedSchema(spark: SparkSession, paths: Seq[String],
                                  files: Vector[(String, Long, Long)]): Option[StructType] =
    schemas.get(SchemaKey(paths, merged = false,
      InferenceConfs.map(spark.conf.getOption), files))

  /** The schema of [[readParquet]]`(paths)`: from the schema cache
    * when the file set is unchanged, so a hit builds no relation. A
    * missing path fails the way Spark fails. */
  private[graft] def parquetSchema(spark: SparkSession, paths: String*): StructType =
    FileSets.fingerprint(spark.sessionState.newHadoopConf(), paths)
      .flatMap(cachedSchema(spark, paths, _))
      .getOrElse(readParquet(spark, paths: _*).schema)

  /** A non-merged read whose roots are all plain data files (a
    * manifested table's file list) has no partition columns, and
    * Spark infers its schema from the FIRST file's footer alone; read
    * that footer on the driver, with no job. None for directories,
    * globs, summary files and unreadable footers: those go to Spark's
    * inference job. */
  private def filesSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    scala.util.Try {
      val sts = paths.map { p =>
        val path = new Path(p)
        path.getFileSystem(conf).getFileStatus(path)
      }
      val plain = !paths.exists(FileSets.isGlob) && sts.forall { st =>
        val name = st.getPath.getName
        st.isFile && !name.startsWith("_") && !name.startsWith(".")
      }
      if (plain && sts.nonEmpty)
        Some(org.apache.spark.sql.graftbridge.ParquetBridge.footerSchema(spark, sts.head))
      else None
    }.toOption.flatten
  }

  def readCsv(spark: SparkSession, path: String, schema: StructType,
              header: Boolean = true, delimiter: String = ",",
              nullValue: String = ""): DataFrame =
    spark.read.schema(schema)
      .option("header", header).option("delimiter", delimiter)
      .option("nullValue", nullValue)
      // malformed rows go to a null-padded row rather than failing the
      // 100 TB job at hour 9; count them via the corrupt-record column
      .option("mode", "PERMISSIVE")
      .csv(path)

  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC — Spark's second columnar format; same pushdown/pruning
    * machinery as parquet (PushedFilters reach the OrcScan). */
  def readOrc(spark: SparkSession, paths: String*): DataFrame =
    spark.read.orc(paths: _*)

  /** Schema inference escape hatch for EXPLORATION — documented extra
    * pass; never in a production pipeline. */
  def readCsvInferred(spark: SparkSession, path: String,
                      header: Boolean = true): DataFrame =
    spark.read.option("header", header).option("inferSchema", "true").csv(path)

  /** Raw text corpus, one row per LINE with the originating file —
    * the standard ingestion shape for line-delimited crawl dumps.
    * Splittable: Spark assigns byte ranges of large files to tasks,
    * so a 100 GB file still fans out. `lineSep` for non-\n delimited
    * dumps (e.g. \0-separated). */
  def readTextLines(spark: SparkSession, path: String,
                    lineSep: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions.input_file_name
    val r = spark.read
    lineSep.foreach(s => r.option("lineSep", s))
    r.text(path).withColumn("file", input_file_name())
  }

  /** Raw text corpus, one row per FILE (wholetext) — for doc-per-file
    * layouts. NOT splittable: each file is read by one task and held
    * in one row, so this is for many-small-files corpora (pair with
    * a repartition after read); a single huge file belongs in
    * [[readTextLines]]. */
  def readTextWhole(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions.input_file_name
    spark.read.option("wholetext", "true").text(path)
      .withColumn("file", input_file_name())
  }

  /** Raw-binary source for multimodal corpora: one row per FILE —
    * (path, modificationTime, length, content BINARY) — which is how
    * image/audio/video blobs enter the opaque-binary + typed-metadata
    * data model ([[graft.ops.Multimodal]] decodes the `content`
    * column). `pathGlobFilter` prunes by extension at FILE-LISTING
    * time (unmatched files are never opened) and `recursiveFileLookup`
    * walks nested layouts. Scale notes: binaryFile caps at
    * `spark.sql.sources.binaryFile.maxLength` (2 GB hard limit — a
    * row must fit in task memory); a 100 TB image corpus should land
    * in this source once, then persist as parquet (content +
    * extracted metadata) so later passes read columnar with pruning
    * instead of re-listing small files. */
  def readBinaryFiles(spark: SparkSession, path: String,
                      glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(path)

  // ---- sinks -------------------------------------------------------------
  def writeParquet(df: DataFrame, path: String,
                   mode: SaveMode = SaveMode.Overwrite,
                   maxRecordsPerFile: Long = 0L): Unit = {
    val w = df.write.mode(mode)
    (if (maxRecordsPerFile > 0)
       w.option("maxRecordsPerFile", maxRecordsPerFile)
     else w).parquet(path)
  }

  /** Hive-style partitioned layout: readers prune whole directories on
    * partition-key predicates. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed + sorted table: the write pays one shuffle so that every
    * subsequent join/agg on `by` plans with ZERO Exchange (both sides
    * bucketed with the same count) — the standard layout for a fact
    * table joined repeatedly on the same key. Bucketed tables go
    * through the catalog (bucket metadata lives there). */
  def writeBucketed(df: DataFrame, table: String, by: Seq[String],
                    nBuckets: Int): Unit =
    graft.core.ScaleJoins.bucketize(df, by, nBuckets, table)

  def writeCsv(df: DataFrame, path: String, header: Boolean = true,
               mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).option("header", header).csv(path)

  def writeJsonl(df: DataFrame, path: String,
                 mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).json(path)

  def writeOrc(df: DataFrame, path: String,
               mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).orc(path)

  /** Per-file column min/max + row counts from parquet FOOTERS ONLY —
    * zero data bytes read. This is the data-skipping audit: what a
    * pruning reader will see per file, which is exactly how you
    * VERIFY a [[graft.functions.ZOrder.zorderWrite]] layout pays off
    * (tight boxes) or diagnose one that doesn't (every file spanning
    * the domain). Driver-side footer walk over the listing — the same
    * cost any table-format manifest pays; file-count-sized output.
    * Numeric columns only (footer stats are typed; non-numeric ask
    * for a different audit). Output: (file, n_rows, column, min,
    * max) — one row per (file, column). */
  def fileStats(spark: SparkSession, path: String,
                cols: Seq[String]): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    require(cols.nonEmpty, "fileStats: no columns requested")
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val files = fs.listStatus(root).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    def asDouble(v: Any): Double = v match {
      case n: java.lang.Number => n.doubleValue()
      case other => throw new IllegalArgumentException(
        s"fileStats: non-numeric footer statistic $other — numeric columns only")
    }
    val rows = files.flatMap { p =>
      val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try {
        val blocks = rdr.getFooter.getBlocks.asScala.toSeq
        val nRows = blocks.map(_.getRowCount).sum
        cols.map { c =>
          val stats = blocks.flatMap(_.getColumns.asScala
            .find(_.getPath.toDotString == c).map(_.getStatistics))
          require(stats.nonEmpty, s"fileStats: column $c not in ${p.getName}")
          (p.getName, nRows, c,
            stats.map(s => asDouble(s.genericGetMin)).min,
            stats.map(s => asDouble(s.genericGetMax)).max)
        }
      } finally rdr.close()
    }
    import spark.implicits._
    rows.toSeq.toDF("file", "n_rows", "column", "min", "max")
  }

  /** Size-targeted parquet write — the small-files/giant-files remedy:
    * pick the output file count from Catalyst's OWN size statistics
    * (`optimizedPlan.stats.sizeInBytes` — no extra scan, no sample
    * job). For a parquet-backed frame the stat IS the on-disk byte
    * total (file lengths from the listing), so the default
    * `compressionRatio = 1` re-lands it at the same density; a frame
    * that explodes or heavily filters its source should pass the
    * observed output/input ratio instead. At 100 TB this is the
    * difference between 128 MB files a reader schedules well and a
    * million 100 KB files that drown the driver in listing + task
    * overhead. Returns the file count chosen. */
  def writeSized(df: DataFrame, path: String, targetFileBytes: Long,
                 compressionRatio: Double = 1.0,
                 mode: SaveMode = SaveMode.Overwrite): Int = {
    require(targetFileBytes >= 1, "writeSized: targetFileBytes must be >= 1")
    require(compressionRatio > 0, "writeSized: compressionRatio must be > 0")
    val planBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val onDisk = (BigDecimal(planBytes) / compressionRatio)
      .setScale(0, BigDecimal.RoundingMode.CEILING).toBigInt
    val n = (onDisk / targetFileBytes).toLong + 1L
    val files = math.max(1L, math.min(n, 1000000L)).toInt
    df.repartition(files).write.mode(mode).parquet(path)
    files
  }

  /** Small-file COMPACTION — the lakehouse `OPTIMIZE` bin-pack for a
    * directory that accumulated undersized files (streaming sinks,
    * frequent small appends, over-partitioned writes): files smaller
    * than `targetFileBytes` are greedily binned in name order until a
    * bin reaches the target, each multi-file bin is rewritten as ONE
    * file, and the originals are deleted; files already at or above
    * the target are NOT touched (no gratuitous rewrite of healthy
    * data). Returns (filesBefore, filesAfter).
    *
    * Scale shape: the listing walk is driver-side manifest cost; each
    * bin rewrite is a bin-sized read+write job (coalesce(1) — one
    * task per bin, bins are independent jobs), so compaction I/O is
    * proportional to the SMALL-file bytes only — at 100 TB with a
    * healthy base and a 1% daily small-file tail, the rewrite touches
    * ~1 TB, never the base. Name-order binning keeps adjacent files
    * (range-partitioned writes emit part numbers in key order)
    * together, so a curve-clustered table's per-file boxes stay
    * near-tight after compaction; the full re-cluster remedy is a
    * fresh zorderWrite/hilbertWrite.
    *
    * Not transactional: a concurrent reader between a bin's write and
    * its deletes can double-count — run under the table's write lock,
    * or use [[compactSmallFilesAtomic]], whose manifest swap gives
    * concurrent [[readManifested]] readers the old-or-new-complete-set
    * guarantee with no lock. */
  def compactSmallFiles(spark: SparkSession, path: String,
                        targetFileBytes: Long): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    require(targetFileBytes >= 1, "compactSmallFiles: targetFileBytes must be >= 1")
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val all = fs.listStatus(root)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    val small = all.filter(_.getLen < targetFileBytes)
    // greedy name-order binning: close a bin once it reaches target
    val bins = scala.collection.mutable.ArrayBuffer.empty[Vector[Path]]
    var cur = Vector.empty[Path]; var curBytes = 0L
    small.foreach { st =>
      cur :+= st.getPath; curBytes += st.getLen
      if (curBytes >= targetFileBytes) { bins += cur; cur = Vector.empty; curBytes = 0L }
    }
    if (cur.nonEmpty) bins += cur
    val toRewrite = bins.filter(_.size >= 2) // singleton bins gain nothing
    toRewrite.foreach { bin =>
      readParquet(spark, bin.map(_.toString): _*)
        .coalesce(1)
        .write.mode(SaveMode.Append).parquet(path)
      bin.foreach(p => fs.delete(p, false))
    }
    val after = fs.listStatus(root)
      .count(_.getPath.getName.endsWith(".parquet"))
    (all.length, after)
  }

  // ---- manifest-pinned tables (atomic maintenance) -----------------------

  /** A `_MANIFEST` file names the table's CURRENT parquet files — the
    * one-file version pointer every table format builds on (Delta's
    * log head, Iceberg's snapshot): maintenance stages new files
    * invisibly (readers pin the file SET from the manifest, so
    * unreferenced arrivals don't exist for them), then publishes by
    * ONE atomic rename of the manifest. A manifested reader therefore
    * sees the old complete set or the new complete set, never a torn
    * mix — the guarantee plain write-then-delete compaction
    * ([[compactSmallFiles]]) cannot give. Old files are NOT deleted at
    * swap time: a reader still holding the previous manifest must be
    * able to finish (the retention contract); [[vacuumUnreferenced]]
    * is the explicit reclaim, to be run after the longest plausible
    * reader has drained. */
  def writeManifest(conf: org.apache.hadoop.conf.Configuration,
                    path: String, names: Seq[String]): Unit =
    writeManifest(conf, path, names, Map.empty)

  /** Manifest publish with metadata riding INSIDE the same atomic
    * rename ('#key value' lines between the header and the names) —
    * the slot [[graft.streaming.ManifestSink]] stores its last
    * folded batch id in and [[addColumnAtomic]] its defaults: state
    * that must advance exactly with the file set cannot live in a
    * second file (a crash between two writes would desync them).
    * Metadata is STICKY: every publish carries the previous head's
    * meta forward, with the caller's entries winning on key clash —
    * a compaction between sink batches must not reset the batch id,
    * and no file-set change removes a declared column default. */
  def writeManifest(conf: org.apache.hadoop.conf.Configuration,
                    path: String, names: Seq[String],
                    meta: Map[String, String]): Unit =
    writeManifestAt(conf, path, names, meta,
      manifestLogVersions(conf, path).lastOption.getOrElse(0L) + 1L)

  private def writeManifestAt(conf: org.apache.hadoop.conf.Configuration,
                              path: String, names: Seq[String],
                              meta: Map[String, String], v: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val merged = readManifestMeta(conf, path) ++ meta
    merged.foreach { case (k, mv) =>
      require(!k.contains('\n') && !mv.contains('\n') && !k.contains(' '),
        s"writeManifest: meta key/value must be single-line, key spaceless: $k")
    }
    val metaLines = merged.toSeq.sortBy(_._1).map { case (k, mv) => s"#$k $mv" }
    val body = (("graft-manifest 1" +: metaLines) ++ names.sorted)
      .mkString("\n").getBytes("UTF-8")
    val fs = new Path(path).getFileSystem(conf)
    // archive FIRST (every head state exists in the log, so any
    // published version is a rollback/time-travel target; a crash
    // between archive and swap leaves a harmless orphan version),
    // then swap the head by one atomic rename
    // WRITER-UNIQUE tmp names: with a shared literal tmp name, a racer
    // overwrites this writer's staged bytes between create and rename,
    // and the archived version can carry the OTHER writer's body while
    // each job proceeds on its own in-memory state — the archive would
    // lie to time travel. Unique tmps leave the version rename as the
    // only shared point, and rename-to-existing refuses atomically.
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val logDir = new Path(path, "_manifest_log")
    val ltmp = new Path(logDir, f"v$v%06d.$tag.tmp")
    val ldst = new Path(logDir, f"v$v%06d")
    val lo = fs.create(ltmp, true)
    try lo.write(body) finally lo.close()
    if (!fs.rename(ltmp, ldst)) {
      // rename-to-existing fails atomically on HDFS/local: if another
      // writer claimed this version number in the window between the
      // log listing and this rename, the collision IS the concurrent-
      // publish signal — the same event the optimistic version check
      // catches for any longer overlap, so it throws the same type
      val concurrent = fs.exists(ldst)
      fs.delete(ltmp, false)
      if (concurrent)
        throw new IllegalStateException(
          s"writeManifest: concurrent publish detected at $path — version " +
            s"v$v was claimed by another writer while this publish staged " +
            "(archive-rename arbiter); re-run the maintenance against the " +
            "new head")
      require(requirement = false, s"writeManifest: rename $ltmp -> $ldst failed")
    }
    val tmp = new Path(path, s"_MANIFEST.$tag.tmp")
    val dst = new Path(path, "_MANIFEST")
    val o = fs.create(tmp, true)
    try o.write(body) finally o.close()
    if (fs.exists(dst)) fs.delete(dst, false)
    require(fs.rename(tmp, dst), s"writeManifest: rename $tmp -> $dst failed")
  }

  /** The current head version number (the last archived manifest),
    * 0 when the table has no version log yet. */
  def manifestVersion(conf: org.apache.hadoop.conf.Configuration,
                      path: String): Long =
    manifestLogVersions(conf, path).lastOption.getOrElse(0L)

  /** Optimistically-checked publish — the enforcement half of the
    * single-writer-per-table contract: a maintenance job records the
    * head version when it reads its snapshot and passes it here; if
    * another job published in between, the write REFUSES instead of
    * silently dropping the other job's files from the manifest
    * (plain last-writer-wins loses work — a compaction racing a
    * MERGE would unpublish the merge's rewrites). The check is
    * read-then-rename, not a CAS: it catches every overlap longer
    * than the publish's instant, and TRUE simultaneous publishes land
    * on the archive-rename arbiter inside [[writeManifest]] (version
    * file names collide; rename-to-existing fails atomically), which
    * throws the same IllegalStateException — so exactly one writer
    * wins any race. The refused job re-runs against the new head. */
  def writeManifest(conf: org.apache.hadoop.conf.Configuration,
                    path: String, names: Seq[String],
                    meta: Map[String, String],
                    expectedVersion: Long): Unit = {
    val head = manifestVersion(conf, path)
    if (head != expectedVersion)
      throw new IllegalStateException(
        s"writeManifest: concurrent publish detected at $path — the head " +
          s"moved v$expectedVersion -> v$head since this job read its " +
          "snapshot; re-run the maintenance against the new head " +
          "(optimistic single-writer check)")
    // claim EXACTLY expectedVersion+1: a racer that passed the same
    // check with the same expected head MUST collide on the archive
    // rename (computing "last archived + 1" here would let it slip
    // past onto a fresh version number and both writers would win)
    writeManifestAt(conf, path, names, meta, expectedVersion + 1L)
  }

  /** Archived manifest versions at `path`, ascending. */
  def manifestLogVersions(conf: org.apache.hadoop.conf.Configuration,
                          path: String): Seq[Long] = {
    import org.apache.hadoop.fs.Path
    val logDir = new Path(path, "_manifest_log")
    val fs = logDir.getFileSystem(conf)
    if (!fs.exists(logDir)) return Seq.empty
    fs.listStatus(logDir).map(_.getPath.getName)
      .collect { case n if n.matches("v\\d{6}") => n.drop(1).toLong }
      .sorted.toSeq
  }

  /** The file names an archived manifest version pins. */
  def readManifestVersion(conf: org.apache.hadoop.conf.Configuration,
                          path: String, version: Long): Seq[String] =
    readVersionFile(conf, path, version, "readManifestVersion")._1

  private def readVersionFile(conf: org.apache.hadoop.conf.Configuration,
                              path: String, version: Long, who: String):
      (Seq[String], Map[String, String]) = {
    import org.apache.hadoop.fs.Path
    val p = new Path(new Path(path, "_manifest_log"), f"v$version%06d")
    val parsed = parseManifestFile(conf, p, who)
    require(parsed.isDefined,
      s"$who: $path has no archived version $version " +
        s"(have: ${manifestLogVersions(conf, path).mkString(",")})")
    parsed.get
  }

  /** One manifest file (the head or an archived version) parsed from
    * ONE read: its file names and its '#key value' metadata. None when
    * the file does not exist. */
  private def parseManifestFile(conf: org.apache.hadoop.conf.Configuration,
                                p: org.apache.hadoop.fs.Path, who: String):
      Option[(Seq[String], Map[String, String])] = {
    val fs = p.getFileSystem(conf)
    val bytes =
      try {
        val in = fs.open(p)
        try Some(in.readAllBytes()) finally in.close()
      } catch { case _: java.io.FileNotFoundException => None }
    bytes.map { b =>
      val lines = new String(b, "UTF-8").split("\n").filter(_.nonEmpty)
      require(lines.nonEmpty && lines.head == "graft-manifest 1",
        s"$who: $p opens with '${lines.headOption.getOrElse("").take(40)}' " +
          "— not a graft manifest (or a newer format); expected 'graft-manifest 1'")
      val (metaLines, names) = lines.tail.partition(_.startsWith("#"))
      (names.toSeq, metaLines.map { l =>
        val sp = l.indexOf(' ')
        (l.substring(1, sp), l.substring(sp + 1))
      }.toMap)
    }
  }

  /** TIME TRAVEL: read the table as archived manifest `version` pinned
    * it. Works as long as [[vacuumUnreferenced]]'s retention has not
    * reclaimed that version's files — reading past the retention
    * window fails on the missing file, loudly, exactly like every
    * expired-snapshot read in a table format. */
  def readManifestedAt(spark: SparkSession, path: String,
                       version: Long): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val names = readManifestVersion(conf, path, version)
    require(names.nonEmpty, s"readManifestedAt: version $version is empty")
    // the ARCHIVED version's schema metadata, not the head's: time
    // travel to a pre-alter version reads the pre-alter schema, and
    // to a post-alter version serves that alter's defaults/drops/
    // renames exactly as a reader of that era did
    readFilesWithMeta(spark, path, names,
      schemaMetaOf(readManifestVersionMeta(conf, path, version)))
  }

  /** The '#key value' metadata of an archived manifest version. */
  def readManifestVersionMeta(conf: org.apache.hadoop.conf.Configuration,
                              path: String,
                              version: Long): Map[String, String] =
    readVersionFile(conf, path, version, "readManifestVersionMeta")._2

  /** Snapshot history as a frame: (version, n_files, is_head) —
    * the audit read behind time travel and rollback. */
  def manifestHistory(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    val head = readManifest(conf, path).map(_.sorted)
    manifestLogVersions(conf, path).map { v =>
      val names = readManifestVersion(conf, path, v)
      (v, names.length.toLong, head.contains(names.sorted))
    }.toDF("version", "n_files", "is_head")
  }

  /** ROLLBACK: re-publish an archived version as the head — recorded
    * as a NEW version (the Iceberg rollback-as-new-snapshot
    * semantics: history only ever appends, so the rolled-back-FROM
    * state stays time-travelable until vacuumed). Old files must
    * still be present — roll back before vacuuming past the target.
    * Returns the new head version. */
  def rollbackManifest(spark: SparkSession, path: String,
                       version: Long): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val v0 = manifestVersion(conf, path)
    val names = readManifestVersion(conf, path, version)
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(conf)
    val missing = names.filterNot(n => fs.exists(new Path(path, n)))
    require(missing.isEmpty,
      s"rollbackManifest: version $version references vacuumed files " +
        s"(${missing.take(3).mkString(", ")}…) — past the retention window")
    writeManifest(conf, path, names, Map.empty, v0)
    manifestLogVersions(conf, path).last
  }

  /** The head manifest's file names and '#key value' metadata, parsed
    * from ONE read of `_MANIFEST`, so both belong to the same version
    * (two opens could straddle a publish and mix one version's names
    * with another's meta). None for an unmanifested table. */
  private def readManifestHead(conf: org.apache.hadoop.conf.Configuration,
                               path: String): Option[(Seq[String], Map[String, String])] =
    parseManifestFile(conf, new org.apache.hadoop.fs.Path(path, "_MANIFEST"),
      "readManifest")

  /** The manifest's file names, or None for an unmanifested table. */
  def readManifest(conf: org.apache.hadoop.conf.Configuration,
                   path: String): Option[Seq[String]] =
    readManifestHead(conf, path).map(_._1)

  /** The head manifest's '#key value' metadata (empty if none / no
    * manifest). */
  def readManifestMeta(conf: org.apache.hadoop.conf.Configuration,
                       path: String): Map[String, String] =
    readManifestHead(conf, path).map(_._2).getOrElse(Map.empty)

  /** Adopt an existing plain-parquet directory into the manifest
    * convention: pin the current listing. Idempotent (an existing
    * manifest is left alone). Returns the pinned names. */
  def publishManifest(spark: SparkSession, path: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    readManifest(conf, path).getOrElse {
      val root = new Path(path)
      val fs = root.getFileSystem(conf)
      val names = fs.listStatus(root).map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).sorted.toSeq
      writeManifest(conf, path, names)
      names
    }
  }

  /** Version-consistent snapshot pin for optimistically-checked
    * maintenance ops: adopt-if-unmanifested, then read the head
    * VERSION first and the file set second. A publish landing between
    * the two reads leaves the file set NEWER than `v0`, so the final
    * checked [[writeManifest]] refuses (head != v0) — fails closed.
    * The reverse order (names first, version second) would pass the
    * optimistic check with a STALE file set and unpublish the racing
    * writer's files — the exact lost update the check exists to
    * refuse. [[graft.streaming.ManifestSink.appendBatch]] reads in
    * this order natively; every maintenance op goes through here.
    * Returns (names, meta, v0): names and meta come from one read of
    * the head, so a rewrite reads its files through the schema
    * metadata of the version it pinned. */
  private def pinSnapshot(spark: SparkSession, path: String):
      (Seq[String], Map[String, String], Long) =
    pinHead(spark.sessionState.newHadoopConf(), path).getOrElse {
      publishManifest(spark, path)
      pinSnapshot(spark, path)
    }

  /** [[pinSnapshot]] without the adoption: the head VERSION first, then
    * the names and meta from one read of the head; None for an
    * unmanifested table (the streaming sinks bootstrap those). */
  private[graft] def pinHead(conf: org.apache.hadoop.conf.Configuration,
                             path: String):
      Option[(Seq[String], Map[String, String], Long)] = {
    val v0 = manifestVersion(conf, path)
    readManifestHead(conf, path).map { case (names, meta) => (names, meta, v0) }
  }

  /** Read a manifested table: exactly the manifest's files, pinned at
    * the moment the manifest was read — concurrent maintenance
    * (compaction, snapshot apply) is invisible until its atomic
    * publish, and never torn. Columns added by [[addColumnAtomic]]
    * materialize here: files whose FOOTER lacks the column predate
    * the alter and read its stored default; files carrying it keep
    * their explicit values, nulls included (the Delta ADD COLUMN
    * semantics — footer presence is the ground truth, so no
    * file-grain bookkeeping can drift). Falls back to the plain
    * directory read when no manifest exists (an unmanifested table
    * has no maintenance guarantee to honor). */
  def readManifested(spark: SparkSession, path: String): DataFrame = {
    readManifestHead(spark.sessionState.newHadoopConf(), path) match {
      case Some((names, meta)) =>
        require(names.nonEmpty, s"readManifested: $path manifest is empty")
        readFilesWithMeta(spark, path, names, schemaMetaOf(meta))
      case None => readParquet(spark, path)
    }
  }

  /** The schema-evolution view a manifest's metadata declares over
    * its physical files: ADD COLUMN defaults (logical name → (type,
    * literal)), DROP COLUMN tombstones (physical names hidden from
    * readers), RENAME mappings (physical name in old footers →
    * current logical name). */
  private final case class SchemaMeta(defaults: Map[String, (String, String)],
                                      drops: Set[String],
                                      renames: Map[String, String]) {
    def isEmpty: Boolean = defaults.isEmpty && drops.isEmpty && renames.isEmpty
  }

  private def schemaMetaOf(meta: Map[String, String]): SchemaMeta = SchemaMeta(
    defaults = meta.collect {
      case (k, v) if k.startsWith("coldefault:") && v != "!" =>
        val sp = v.indexOf(':')
        (k.stripPrefix("coldefault:"), (v.substring(0, sp), v.substring(sp + 1)))
    },
    drops = meta.collect {
      case (k, v) if k.startsWith("coldrop:") && v == "1" =>
        k.stripPrefix("coldrop:")
    }.toSet,
    renames = meta.collect {
      case (k, v) if k.startsWith("colrename:") && v != "!" =>
        (k.stripPrefix("colrename:"), v)
    })

  /** Footer-schema probe: the physical column names of one table file
    * (zero data bytes — the parquet footer only). */
  private def footerCols(conf: org.apache.hadoop.conf.Configuration,
                         path: String, n: String): Set[String] = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val rdr = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path, n), conf))
    try rdr.getFooter.getFileMetaData.getSchema.getFields.asScala
      .map(_.getName).toSet
    finally rdr.close()
  }

  /** Read specific table files through a declared [[SchemaMeta]] —
    * the shared substrate of [[readManifested]], time travel, AND
    * every rewrite path (compaction / DELETE / UPDATE / MERGE bins):
    * a rewrite that read files plainly would land old rows' defaulted
    * columns as NULL, resurrect dropped ones, and fork renamed ones.
    * Per file (footer probe, zero data bytes): drop the tombstoned
    * physical columns it carries, rename old physical names to their
    * current logical names, then add the declared defaults for
    * logical columns the file still lacks. Files are grouped by their
    * transform signature so the whole read stays a handful of scans
    * however many files the manifest pins. */
  private def readFilesWithMeta(spark: SparkSession, path: String,
                                names: Seq[String],
                                sm: SchemaMeta): DataFrame = {
    if (sm.isEmpty)
      readParquet(spark, names.map(n => s"$path/$n"): _*)
    else {
      val conf = spark.sessionState.newHadoopConf()
      val groups = names.groupBy { n =>
        val cols = footerCols(conf, path, n)
        val drops = sm.drops.intersect(cols).toSeq.sorted
        val renames = sm.renames.filter(kv => cols.contains(kv._1))
          .toSeq.sorted
        val visible = (cols -- sm.drops).map(c => sm.renames.getOrElse(c, c))
        val missing = sm.defaults.keys.filterNot(visible.contains).toSeq.sorted
        (drops, renames, missing)
      }
      groups.map { case ((drops, renames, missing), files) =>
        val df = readParquetMerged(spark, files.map(n => s"$path/$n"): _*)
        val dropped = drops.foldLeft(df)(_.drop(_))
        val renamed = renames.foldLeft(dropped) { case (d, (o, n)) =>
          d.withColumnRenamed(o, n)
        }
        missing.foldLeft(renamed) { (d, c) =>
          val (tpe, v) = sm.defaults(c)
          d.withColumn(c, org.apache.spark.sql.functions.lit(v).cast(tpe))
        }
      }.reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  private def readFilesApplyingDefaults(spark: SparkSession, path: String,
                                        names: Seq[String]): DataFrame =
    readFilesWithMeta(spark, path, names,
      schemaMetaOf(readManifestMeta(spark.sessionState.newHadoopConf(), path)))

  /** Metadata-only ALTER TABLE ADD COLUMN ... DEFAULT on a manifested
    * table — the O(1) schema evolution a 100 TB table needs (a data
    * rewrite of the base to add one column is exactly what table
    * formats exist to avoid): the column name, type, and default ride
    * the manifest's metadata through ONE atomic republish of the
    * CURRENT file set; no file is touched. [[readManifested]] serves
    * pre-alter files with the default and post-alter files verbatim
    * (footer presence distinguishes them — explicit nulls written
    * after the alter stay null). Supported default types: bigint,
    * double, string, boolean. Time travel to a pre-alter version
    * reads the pre-alter schema, as it should. */
  def addColumnAtomic(spark: SparkSession, path: String, name: String,
                      dataType: String, default: Any): Unit = {
    require(Set("bigint", "double", "string", "boolean").contains(dataType),
      s"addColumnAtomic: unsupported default type $dataType")
    require(!name.exists(c => c == ' ' || c == '\n' || c == ':'),
      s"addColumnAtomic: column name '$name' must be space/colon-free")
    val conf = spark.sessionState.newHadoopConf()
    val (names, meta, v0) = pinSnapshot(spark, path)
    val smPrev = schemaMetaOf(meta)
    val visible = readFilesWithMeta(spark, path, names, smPrev).columns
    require(!visible.contains(name) && !smPrev.defaults.contains(name),
      s"addColumnAtomic: column '$name' already exists at $path")
    // footer presence is the reader's ground truth for "has an
    // explicit value", so a name a live file still PHYSICALLY carries
    // (a dropped column whose files were never rewritten) would serve
    // the dropped era's values instead of the default — refuse loudly;
    // compaction materializes the drop and frees the name
    val phys = names.find(n => footerCols(conf, path, n).contains(name))
    require(phys.isEmpty,
      s"addColumnAtomic: '$name' is still physically present in " +
        s"${phys.get} (a dropped column's footprint) — compact/rewrite " +
        "the table to materialize the drop before reusing the name")
    // Sticky meta outlives the column: a reused name must neutralize
    // the old era's entries or files appended AFTER the re-add (which
    // carry the column physically, with real values) would have those
    // values dropped by the stale coldrop tombstone — or served under
    // another name by a stale colrename mapping — silently. Safe to
    // neutralize: the footer probe above proved no live file carries
    // the physical name, so the old entries are inert for every
    // pinned file; archived versions keep their own era's meta.
    val neutralized: Map[String, String] =
      (if (smPrev.drops.contains(name)) Map(s"coldrop:$name" -> "0")
       else Map.empty[String, String]) ++
      smPrev.renames.collect {
        case (p, logical) if p == name || logical == name =>
          s"colrename:$p" -> "!"
      }
    // only the changed keys: writeManifest carries the rest forward
    writeManifest(conf, path, names, neutralized +
      (s"coldefault:$name" -> s"$dataType:${String.valueOf(default)}"), v0)
  }

  /** Metadata-only ALTER TABLE DROP COLUMN on a manifested table —
    * the O(1) twin of [[addColumnAtomic]] (rewriting 100 TB to shed
    * one column is the other thing table formats exist to avoid):
    * every physical name serving the logical column (the name itself
    * plus any pre-rename footprints) is tombstoned in the manifest
    * metadata through ONE atomic republish; zero files touched.
    * Readers hide the column from that publish on; rewrites
    * (compaction / DELETE / UPDATE / MERGE bins) read through the
    * tombstone, so rewritten files shed the bytes physically. A
    * stored default for the column is tombstoned with it. Time travel
    * to a pre-drop version still reads the column ([[
    * readManifestedAt]] applies that version's metadata). Re-adding
    * the name later requires the old footprints to be compacted away
    * first — [[addColumnAtomic]] enforces that loudly. */
  def dropColumnAtomic(spark: SparkSession, path: String,
                       name: String): Unit = {
    require(!name.exists(c => c == ' ' || c == '\n' || c == ':'),
      s"dropColumnAtomic: column name '$name' must be space/colon-free")
    val conf = spark.sessionState.newHadoopConf()
    val (names, meta, v0) = pinSnapshot(spark, path)
    val sm = schemaMetaOf(meta)
    val visible = readFilesWithMeta(spark, path, names, sm).columns
    require(visible.contains(name),
      s"dropColumnAtomic: no column '$name' at $path " +
        s"(have: ${visible.mkString(", ")})")
    require(visible.length >= 2,
      s"dropColumnAtomic: refusing to drop the last column of $path")
    val physNames = sm.renames.collect {
      case (p, logical) if logical == name => p
    }.toSeq :+ name
    writeManifest(conf, path, names,
      physNames.map(p => s"coldrop:$p" -> "1").toMap +
        (s"coldefault:$name" -> "!"), v0)
  }

  /** Metadata-only ALTER TABLE RENAME COLUMN on a manifested table:
    * the mapping from the old physical name to the new logical name
    * rides the manifest metadata through ONE atomic republish — zero
    * files touched, existing footers keep the old physical name and
    * readers serve it under the new one; files written AFTER the
    * rename (appends, merge rewrites, compaction) carry the new name
    * physically. Chained renames stay consistent: every stored
    * mapping that pointed at the old logical name is re-pointed at
    * the new one, so a→b then b→c reads a-era, b-era, and c-era
    * files alike. A stored ADD COLUMN default moves to the new name.
    * Time travel to a pre-rename version reads the old name. */
  def renameColumnAtomic(spark: SparkSession, path: String,
                         oldName: String, newName: String): Unit = {
    require(!newName.exists(c => c == ' ' || c == '\n' || c == ':'),
      s"renameColumnAtomic: column name '$newName' must be space/colon-free")
    require(oldName != newName, "renameColumnAtomic: old == new")
    val conf = spark.sessionState.newHadoopConf()
    val (names, meta, v0) = pinSnapshot(spark, path)
    val sm = schemaMetaOf(meta)
    val visible = readFilesWithMeta(spark, path, names, sm).columns
    require(visible.contains(oldName),
      s"renameColumnAtomic: no column '$oldName' at $path " +
        s"(have: ${visible.mkString(", ")})")
    require(!visible.contains(newName),
      s"renameColumnAtomic: column '$newName' already exists at $path")
    // ANY live footer still physically carrying newName — a dropped
    // column's footprint, or a renamed-away column's old-era files —
    // would collide with the files this rename causes to be written
    // under physical newName (their values dropped or forked by the
    // old entries): refuse until compaction sheds the footprint, as
    // addColumnAtomic does
    val phys = names.find(n => footerCols(conf, path, n).contains(newName))
    require(phys.isEmpty,
      s"renameColumnAtomic: '$newName' is still physically present in " +
        s"${phys.getOrElse("")} (an earlier column era's footprint) — " +
        "compact the table before reusing the name")
    val repointed = sm.renames.collect {
      case (p, logical) if logical == oldName => s"colrename:$p" -> newName
    }
    val defaultMove: Map[String, String] = sm.defaults.get(oldName) match {
      case Some((t, v)) => Map(s"coldefault:$newName" -> s"$t:$v",
        s"coldefault:$oldName" -> "!")
      case None => Map.empty
    }
    // neutralize the reused name's stale era (same hazard as
    // addColumnAtomic: files written after this rename carry physical
    // newName with real values — a stale coldrop/colrename entry
    // would silently drop or fork them); safe because the probe above
    // proved no live file carries the physical name
    val neutralized: Map[String, String] =
      (if (sm.drops.contains(newName)) Map(s"coldrop:$newName" -> "0")
       else Map.empty[String, String]) ++
      sm.renames.collect {
        case (p, logical) if (p == newName || logical == newName) &&
            logical != oldName =>
          s"colrename:$p" -> "!"
      }
    writeManifest(conf, path, names, neutralized ++ repointed ++
      defaultMove + (s"colrename:$oldName" -> newName), v0)
  }

  /** The stored ADD COLUMN defaults: name → (type, value). Tombstoned
    * entries (value "!", left by DROP/RENAME of a defaulted column —
    * sticky metadata can never be deleted, only overwritten) are
    * skipped. */
  def columnDefaults(conf: org.apache.hadoop.conf.Configuration,
                     path: String): Map[String, (String, String)] =
    schemaMetaOf(readManifestMeta(conf, path)).defaults

  /** Delete parquet files no retained manifest references — the
    * explicit reclaim half of the manifest protocol (Delta VACUUM).
    * `retainVersions` protects the newest N ARCHIVED versions (plus
    * always the head), keeping them time-travelable; 1 = head-only
    * retention. Run it only after every reader that might hold an
    * expiring manifest has drained; the swap itself never deletes, so
    * the retention window is entirely the caller's policy. Returns
    * the deleted names. */
  def vacuumUnreferenced(spark: SparkSession, path: String,
                         retainVersions: Int = 1): Seq[String] = {
    import org.apache.hadoop.fs.Path
    require(retainVersions >= 1,
      s"vacuumUnreferenced: retainVersions=$retainVersions must be >= 1")
    val conf = spark.sessionState.newHadoopConf()
    val head = readManifest(conf, path).getOrElse(
      throw new IllegalArgumentException(
        s"vacuumUnreferenced: $path has no _MANIFEST — nothing pins the " +
          "live set, so deleting by listing would be guesswork"))
    val retained = manifestLogVersions(conf, path).takeRight(retainVersions)
      .flatMap(v => readManifestVersion(conf, path, v))
    val referenced = (head ++ retained).toSet
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val dead = fs.listStatus(root).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") &&
        !referenced.contains(p.getName))
      .sortBy(_.getName).toSeq
    dead.foreach(p => fs.delete(p, false))
    dead.map(_.getName)
  }

  /** Dry-run of [[vacuumUnreferenced]]: what WOULD be reclaimed at a
    * given retention, as a frame of (file, bytes, referenced) — the
    * pre-flight an operator reads before deleting anything (how many
    * bytes does shrinking retention from 7 to 2 actually buy?).
    * Listing + manifest reads only; zero data bytes, zero deletes. */
  def vacuumReport(spark: SparkSession, path: String,
                   retainVersions: Int = 1): DataFrame = {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    require(retainVersions >= 1,
      s"vacuumReport: retainVersions=$retainVersions must be >= 1")
    val conf = spark.sessionState.newHadoopConf()
    val head = readManifest(conf, path).getOrElse(
      throw new IllegalArgumentException(
        s"vacuumReport: $path has no _MANIFEST"))
    val retained = manifestLogVersions(conf, path).takeRight(retainVersions)
      .flatMap(v => readManifestVersion(conf, path, v))
    val referenced = (head ++ retained).toSet
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    fs.listStatus(root)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
      .map(st => (st.getPath.getName, st.getLen,
        referenced.contains(st.getPath.getName)))
      .toSeq.toDF("file", "bytes", "referenced")
  }

  /** Expire archived manifest versions past the newest
    * `retainVersions` — the log half of the retention policy
    * ([[vacuumUnreferenced]] reclaims data files; this reclaims the
    * version LOG). Without it a high-frequency writer grows
    * `_manifest_log/` without bound — the exactly-once streaming sink
    * publishes one version per micro-batch, and every publish lists
    * the log to number the next version, so an unexpired log makes
    * publish cost O(versions). Time travel and rollback to an expired
    * version refuse loudly (readManifestVersion names what remains);
    * run with the SAME retainVersions as the paired vacuum so the
    * travelable window and the on-disk files agree. Returns the
    * expired version numbers. */
  def expireManifestLog(conf: org.apache.hadoop.conf.Configuration,
                        path: String,
                        retainVersions: Int): Seq[Long] = {
    import org.apache.hadoop.fs.Path
    require(retainVersions >= 1,
      s"expireManifestLog: retainVersions=$retainVersions must be >= 1")
    val versions = manifestLogVersions(conf, path)
    val expired = versions.dropRight(retainVersions)
    val logDir = new Path(path, "_manifest_log")
    val fs = logDir.getFileSystem(conf)
    expired.foreach(v => fs.delete(new Path(logDir, f"v$v%06d"), false))
    expired
  }

  /** Full-table OPTIMIZE ZORDER BY under the manifest protocol — the
    * periodic recluster that [[graft.functions.ZOrder.zorderAppend]]
    * and the streaming clustered sink defer to: the whole manifested
    * table rewrites onto a fresh Z-curve grid sized to the CURRENT
    * key domain (fixing the edge-bucket clamping a drifted domain
    * accumulates), staged invisibly and published by ONE manifest
    * rename — concurrent manifested readers see the old complete
    * layout or the new one, never a mix, and the old files stay
    * time-travelable until [[vacuumUnreferenced]]. The rewrite reads
    * THROUGH the schema metadata, so pending ADD COLUMN defaults
    * materialize and DROP/RENAME tombstones shed physically (the
    * compaction contract). Grid metadata lands in `_zorder_meta.json`
    * for subsequent delta appends. Cost: one range shuffle of the
    * full table — the weekend job, not the ingest path. Returns
    * (replaced file names, new file names). */
  def optimizeClusteredAtomic(spark: SparkSession, path: String,
                              cols: Seq[String], bits: Int,
                              numFiles: Int): (Seq[String], Seq[String]) = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.col
    require(numFiles >= 1, "optimizeClusteredAtomic: numFiles must be >= 1")
    val conf = spark.sessionState.newHadoopConf()
    val (names, meta, v0) = pinSnapshot(spark, path)
    val base = readFilesWithMeta(spark, path, names, schemaMetaOf(meta))
    val bs = graft.functions.ZOrder.bounds(base, cols)
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val staging = new Path(path,
      s"_optimize_staging_${java.util.UUID.randomUUID().toString.take(8)}")
    graft.functions.ZOrder.withZValueBounded(base, cols, bs, bits, "__zv")
      .repartitionByRange(numFiles, col("__zv"))
      .sortWithinPartitions("__zv")
      .drop("__zv")
      .write.mode(SaveMode.Overwrite).parquet(staging.toString)
    val parts = fs.listStatus(staging)
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).toSeq
    val newNames = parts.map { p =>
      val dst = new Path(root, p.getName)
      require(fs.rename(p, dst),
        s"optimizeClusteredAtomic: rename $p -> $dst failed")
      dst.getName
    }
    writeManifest(conf, path, newNames, Map.empty, v0) // the atomic publish
    // grid metadata AFTER the publish succeeds: a refused publish
    // (concurrent head move) must not leave new-grid metadata live
    // against the old layout — later delta appends would place rows
    // on a grid the published table does not have
    graft.functions.CurveMeta.write(conf, path, "_zorder_meta.json",
      "z", cols, bits, bs)
    fs.delete(staging, true)
    (names, newNames)
  }

  /** Targeted DELETE WHERE on a manifested table — the
    * right-to-be-forgotten / bad-batch-purge op at 100 TB: ONE pruned
    * scan (predicate pushed to the parquet footers, so row-group
    * stats skip clean files wholesale) finds the files that actually
    * HOLD matching rows; only those are rewritten without their
    * matches (a purge of one user's rows touches kilobytes of a
    * petabyte table when the layout clusters the key — the
    * z-order/bloom story feeding straight into this); the publish is
    * the usual single manifest rename, so concurrent manifested
    * readers see pre-delete or post-delete in full. DELETE semantics
    * are SQL's: rows where the predicate is TRUE go, rows where it is
    * FALSE **or NULL** stay. Old files stay for time travel until
    * [[vacuumUnreferenced]]. Returns (rewritten file names, deleted
    * row count). */
  def deleteWhereAtomic(spark: SparkSession, path: String,
                        predicate: org.apache.spark.sql.Column):
      (Seq[String], Long) = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.{coalesce => fnCoalesce,
      count, input_file_name, lit, not}
    val conf = spark.sessionState.newHadoopConf()
    val (names, meta, v0) = pinSnapshot(spark, path)
    val sm = schemaMetaOf(meta)
    val hits = readFilesWithMeta(spark, path, names, sm).filter(predicate)
      .groupBy(input_file_name().as("__f"))
      .agg(count(lit(1)).as("__n")).collect()
    if (hits.isEmpty) return (Seq.empty, 0L)
    val affected = hits.map(r =>
      (new Path(r.getString(0)).getName, r.getLong(1))).toMap
    val deleted = affected.values.sum
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val staging = new Path(path,
      s"_delete_staging_${java.util.UUID.randomUUID().toString.take(8)}")
    // ONE job however many files hold matches (a purge hitting a
    // thousand files must not serialize a thousand jobs through the
    // driver); a fully-purged file writes no directory and vanishes
    val keepPred = not(fnCoalesce(predicate, lit(false)))
    val newNames = rewriteFilesOneJob(spark, path, affected.keys.toSeq.sorted,
      sm, staging, "delete")(_.filter(keepPred)).map(_._2)
    val after = names.filterNot(affected.contains) ++ newNames
    writeManifest(conf, path, after, Map.empty, v0) // the atomic publish
    fs.delete(staging, true)
    (newNames, deleted)
  }

  /** Targeted UPDATE WHERE … SET on a manifested table —
    * [[deleteWhereAtomic]]'s sibling with identical scale shape: one
    * pushed-down scan finds the files holding matching rows, only
    * those are rewritten (each row either updated by `assignments`
    * when the predicate is TRUE, or kept verbatim — FALSE/NULL rows
    * pass through, SQL semantics), published by the single manifest
    * rename. Assignments may reference existing columns (`"price" →
    * col("price") * 1.1`); the schema never changes (each assigned
    * column is cast back to its existing type — a type-changing
    * rewrite is a different, full-table operation). Returns
    * (rewritten file names, updated row count). */
  def updateWhereAtomic(spark: SparkSession, path: String,
                        predicate: org.apache.spark.sql.Column,
                        assignments: Map[String, org.apache.spark.sql.Column]):
      (Seq[String], Long) = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.{coalesce => fnCoalesce,
      count, input_file_name, lit, when => fnWhen, col => fnCol}
    require(assignments.nonEmpty, "updateWhereAtomic: no assignments")
    val conf = spark.sessionState.newHadoopConf()
    val (names, meta, v0) = pinSnapshot(spark, path)
    val sm = schemaMetaOf(meta)
    val base = readFilesWithMeta(spark, path, names, sm)
    assignments.keys.foreach { c =>
      require(base.columns.contains(c),
        s"updateWhereAtomic: assigned column '$c' not in table schema " +
          s"(${base.columns.mkString(", ")})")
    }
    val hits = base.filter(predicate)
      .groupBy(input_file_name().as("__f"))
      .agg(count(lit(1)).as("__n")).collect()
    if (hits.isEmpty) return (Seq.empty, 0L)
    val affected = hits.map(r =>
      (new Path(r.getString(0)).getName, r.getLong(1))).toMap
    val updated = affected.values.sum
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val staging = new Path(path,
      s"_update_staging_${java.util.UUID.randomUUID().toString.take(8)}")
    // ONE job however many files hold matches; column order and
    // unmatched rows preserved verbatim
    val hit = fnCoalesce(predicate, lit(false))
    val payload = base.columns.toSeq
    val types = base.schema.fields.map(f => f.name -> f.dataType).toMap
    val newNames = rewriteFilesOneJob(spark, path, affected.keys.toSeq.sorted,
      sm, staging, "update") { src =>
      assignments.foldLeft(src) {
        case (df, (c, expr)) =>
          df.withColumn(c, fnWhen(hit, expr.cast(types(c))).otherwise(fnCol(c)))
      }.select((payload :+ "__src").map(fnCol): _*)
    }.map(_._2)
    val after = names.filterNot(affected.contains) ++ newNames
    writeManifest(conf, path, after, Map.empty, v0) // the atomic publish
    fs.delete(staging, true)
    (newNames, updated)
  }

  /** ATOMIC small-file compaction — [[compactSmallFiles]] with the
    * manifest swap instead of write-then-delete: bins are rewritten
    * into an underscore staging dir (invisible to both manifested and
    * listing readers), moved into the table under their unique
    * part-file names (still unreferenced, still invisible to
    * manifested readers), and published by ONE manifest rename. A
    * concurrent [[readManifested]] sees the pre-compaction set or the
    * post-compaction set, never a gap and never a double-count
    * (SourcesSpec drives a reader loop against a live compaction).
    * Originals stay on disk for late readers; reclaim with
    * [[vacuumUnreferenced]] after the retention window. Returns
    * (filesBefore, filesAfter) at the manifest grain. */
  def compactSmallFilesAtomic(spark: SparkSession, path: String,
                              targetFileBytes: Long): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    require(targetFileBytes >= 1,
      "compactSmallFilesAtomic: targetFileBytes must be >= 1")
    val conf = spark.sessionState.newHadoopConf()
    val (names, meta, v0) = pinSnapshot(spark, path)
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val stats = names.map(n => fs.getFileStatus(new Path(path, n)))
      .sortBy(_.getPath.getName)
    val small = stats.filter(_.getLen < targetFileBytes)
    val bins = scala.collection.mutable.ArrayBuffer.empty[Vector[Path]]
    var cur = Vector.empty[Path]; var curBytes = 0L
    small.foreach { st =>
      cur :+= st.getPath; curBytes += st.getLen
      if (curBytes >= targetFileBytes) { bins += cur; cur = Vector.empty; curBytes = 0L }
    }
    if (cur.nonEmpty) bins += cur
    val toRewrite = bins.filter(_.size >= 2).toSeq
    if (toRewrite.isEmpty) return (names.length, names.length)
    val staging = new Path(path,
      s"_compact_staging_${java.util.UUID.randomUUID().toString.take(8)}")
    // ONE Spark job however many bins there are (a per-bin loop
    // serializes a 10k-small-file table through the driver): every
    // bin member in one scan, each row tagged with its bin via a
    // broadcast (file name -> bin) lookup, one write PARTITIONED by
    // bin — repartition on the bin id lands each bin in exactly one
    // task, preserving the one-file-per-bin layout
    import org.apache.spark.sql.functions.{broadcast, col => fnCol,
      element_at, input_file_name, split}
    val binLookup = spark.createDataFrame(
      toRewrite.zipWithIndex.flatMap { case (bin, i) =>
        bin.map(p => (p.getName, i))
      }).toDF("__name", "__bin")
    val binDir = new Path(staging, "__bins")
    readFilesWithMeta(spark, path, toRewrite.flatten.map(_.getName),
      schemaMetaOf(meta))
      .withColumn("__name", element_at(split(input_file_name(), "/"), -1))
      .join(broadcast(binLookup), Seq("__name")).drop("__name")
      .repartition(fnCol("__bin"))
      .write.partitionBy("__bin").mode(SaveMode.Overwrite)
      .parquet(binDir.toString)
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val newNames = fs.listStatus(binDir).map(_.getPath)
      .filter(_.getName.startsWith("__bin=")).sortBy(_.getName).toSeq
      .zipWithIndex.flatMap { case (d, di) =>
        fs.listStatus(d).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          .zipWithIndex.map { case (p, pi) =>
            val dst = new Path(root, s"compact-$tag-$di-$pi.parquet")
            require(fs.rename(p, dst),
              s"compactSmallFilesAtomic: rename $p -> $dst failed")
            dst.getName
          }
      }
    val replaced = toRewrite.flatten.map(_.getName).toSet
    val after = names.filterNot(replaced.contains) ++ newNames
    writeManifest(conf, path, after, Map.empty, v0) // the atomic publish
    fs.delete(staging, true)
    (names.length, after.length)
  }

  /** Transactional batch INSERT INTO on a manifested table — the
    * batch twin of [[graft.streaming.ManifestSink.appendBatch]]
    * without the batch-id replay guard (a batch caller owns its own
    * idempotence): rows stage invisibly, move in under their unique
    * part names (still unreferenced), and ONE manifest rename appends
    * them to the pinned set. A concurrent [[readManifested]] sees the
    * table without the batch or with it in full. Returns the appended
    * file names. */
  def insertIntoAtomic(spark: SparkSession, path: String, rows: DataFrame,
                       numFiles: Int = 1): Seq[String] = {
    import org.apache.hadoop.fs.Path
    require(numFiles >= 1, s"insertIntoAtomic: numFiles=$numFiles must be >= 1")
    val conf = spark.sessionState.newHadoopConf()
    val (names, _, v0) = pinSnapshot(spark, path)
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val staging = new Path(path,
      s"_insert_staging_${java.util.UUID.randomUUID().toString.take(8)}")
    rows.repartition(numFiles)
      .write.mode(SaveMode.Overwrite).parquet(staging.toString)
    val parts = fs.listStatus(staging)
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).toSeq
    val newNames = parts.map { p =>
      val dst = new Path(root, p.getName) // per-job UUID names: unique
      require(fs.rename(p, dst), s"insertIntoAtomic: rename $p -> $dst failed")
      dst.getName
    }
    writeManifest(conf, path, names ++ newNames, Map.empty, v0) // the atomic publish
    fs.delete(staging, true)
    newNames
  }

  /** ONE-JOB rewrite of a set of table files (DELETE / UPDATE / MERGE
    * share it): all affected files in one scan, read through the
    * snapshot's schema metadata `sm`, tagged by source-file BASENAME
    * (tagging with the full input_file_name URI would make url-encoded
    * `__src=` partition directory names that can exceed the 255-byte
    * filesystem name limit on deep paths), transformed, unioned with
    * the `extra` rows the caller tagged itself (MERGE's replacement
    * payloads and inserts), and written PARTITIONED by the tag —
    * repartition on the tag puts each tag in exactly one task, so
    * every source file is rewritten to one file and every extra tag
    * lands in one file; a tag whose rows all vanish writes no
    * directory and drops out of the result. One Spark job regardless
    * of how many files the predicate/delta touched — a per-file loop
    * would serialize a wide rewrite through the driver. The transform
    * receives the tagged frame and must keep the `__src` column on its
    * output rows. Returns (tag, new file name) per written file. */
  private def rewriteFilesOneJob(spark: SparkSession, path: String,
                                 affected: Seq[String], sm: SchemaMeta,
                                 staging: org.apache.hadoop.fs.Path,
                                 prefix: String,
                                 extra: Option[DataFrame] = None)
                                (transform: DataFrame => DataFrame):
      Seq[(String, String)] = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
    import org.apache.spark.sql.functions.{col => fnCol, element_at,
      input_file_name, split}
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val rewritten =
      if (affected.isEmpty) None
      else Some(transform(readFilesWithMeta(spark, path, affected, sm)
        .withColumn("__src", element_at(split(input_file_name(), "/"), -1))))
    val out = (rewritten ++ extra).reduce(_.unionByName(_))
    val dir = new Path(staging, "__rewrites")
    out.repartition(fnCol("__src"))
      .write.partitionBy("__src").mode(SaveMode.Overwrite)
      .parquet(dir.toString)
    val runTag = java.util.UUID.randomUUID().toString.take(8)
    val dirs =
      if (fs.exists(dir))
        fs.listStatus(dir).map(_.getPath)
          .filter(_.getName.startsWith("__src=")).sortBy(_.getName).toSeq
      else Seq.empty[Path]
    dirs.zipWithIndex.flatMap { case (d, di) =>
      val src = unescapePathName(d.getName.stripPrefix("__src="))
      fs.listStatus(d).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .zipWithIndex.map { case (p, pi) =>
          val dst = new Path(root, s"$prefix-$runTag-$di-$pi.parquet")
          require(fs.rename(p, dst),
            s"$prefix rewrite: rename $p -> $dst failed")
          (src, dst.getName)
        }
    }
  }

  /** What a keyed MERGE did, at the file grain. */
  final case class MergeResult(rewritten: Seq[String], appended: Seq[String],
                               updated: Long, deleted: Long, inserted: Long)

  /** Most delta rows [[mergeAtomic]] collects to the driver, and most
    * table rows holding the delta's keys it collects back. Past either
    * it fails loudly: merge the change set in smaller batches, or
    * rewrite the whole table with
    * [[graft.ops.Snapshot.applyChangesAtomic]]. */
  val MergeDeltaCap = 100000

  /** The `__src` tag prefix of [[mergeAtomic]]'s insert rows; a table
    * file name never starts with an underscore. */
  private val InsertTag = "__insert_"

  /** Keyed MERGE INTO on a manifested table — Delta's MERGE semantics
    * ([[graft.ops.Snapshot.applyChanges]]: op = "upsert" replaces or
    * inserts its key, op = "delete" removes it) executed at the FILE
    * grain instead of [[graft.ops.Snapshot.applyChangesAtomic]]'s
    * full-table rewrite. The delta is delta-sized (a CDC micro-batch),
    * so the merge is planned on the driver and runs at most three
    * Spark jobs however many files it touches:
    *  1. The delta is collected ONCE, projected to the table's columns
    *    and cast to their types (a local relation collects with no
    *    job). More than [[MergeDeltaCap]] rows fail loudly.
    *  1. The driver checks it: every op is upsert or delete (a NULL op
    *    too is rejected — a malformed CDC row must not be silently
    *    skipped) and no key repeats (resolve last-writer-wins
    *    upstream; two NULL keys repeat, as in
    *    [[graft.ops.Snapshot.applyChanges]]).
    *  1. ONE key-pruned scan, `id IN (delta keys)` with no broadcast
    *    and no shuffle, returns (file, key) for every table row holding
    *    a delta key: the affected files and the matched keys together.
    *    The `In` reaches the parquet footers, so row-group stats skip
    *    untouched files wholesale. Each task stops after
    *    [[MergeDeltaCap]] + 1 rows, and more rows than the cap fail
    *    loudly.
    *  1. The inserts are the delta's upsert keys minus the matched
    *    keys, computed on the driver. A NULL key never matches: an
    *    upserted NULL key is inserted, and table rows with a NULL key
    *    survive.
    *  1. ONE partitioned write ([[rewriteFilesOneJob]]): the affected
    *    files keep the rows whose key is NULL or not matched, unioned
    *    with a local relation of the replacement payloads (each tagged
    *    with the file its key was found in) and the inserts (tagged
    *    `insertFiles` ways). A fully deleted file writes nothing and
    *    leaves the manifest.
    *
    * ONE manifest rename publishes rewrites + inserts + untouched
    * files together; a delta that matches and inserts nothing
    * publishes nothing. A delta touching one user's rows rewrites
    * kilobytes of a petabyte table when the layout clusters the key
    * (the z-order/bloom story feeding straight into this). Old files
    * stay for time travel until [[vacuumUnreferenced]]. The payload
    * must carry the full table schema (whole-row upserts, the CDC-feed
    * contract). */
  def mergeAtomic(spark: SparkSession, path: String, changes: DataFrame,
                  id: String, op: String = "op",
                  insertFiles: Int = 1,
                  publishMeta: Map[String, String] = Map.empty): MergeResult =
    mergePinned(spark, path, changes, id, op, insertFiles, publishMeta,
      pinSnapshot(spark, path))

  /** [[mergeAtomic]] into the snapshot `pin` = (names, meta, version)
    * the caller pinned, so [[graft.streaming.ManifestSink.upsertBatch]]
    * checks its batch id against the same head it merges into. */
  private[graft] def mergePinned(spark: SparkSession, path: String,
                                 changes: DataFrame, id: String, op: String,
                                 insertFiles: Int,
                                 publishMeta: Map[String, String],
                                 pin: (Seq[String], Map[String, String], Long)):
      MergeResult = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col => fnCol, input_file_name}
    import org.apache.spark.sql.types.{StringType, StructField}
    import scala.jdk.CollectionConverters._
    require(insertFiles >= 1, s"mergeAtomic: insertFiles=$insertFiles must be >= 1")
    val conf = spark.sessionState.newHadoopConf()
    val (names, meta, v0) = pin
    val sm = schemaMetaOf(meta)
    val base = readFilesWithMeta(spark, path, names, sm)
    val payloadCols = base.columns.toSeq
    val types = base.schema.fields.map(f => f.name -> f.dataType).toMap
    require(payloadCols.contains(id),
      s"mergeAtomic: key '$id' not in table schema (${payloadCols.mkString(", ")})")
    val missingCols = payloadCols.filterNot(changes.columns.contains)
    require(missingCols.isEmpty,
      s"mergeAtomic: delta lacks payload columns ${missingCols.mkString(", ")} " +
        "— upserts are whole-row (the CDC-feed contract)")
    // 1. the delta, collected once in the table's types
    val rows = collectAtMost(
      changes.select(payloadCols.map(c => fnCol(c).cast(types(c)).as(c)) :+
        fnCol(op).cast(StringType): _*), MergeDeltaCap,
      "mergeAtomic: the delta (MergeDeltaCap — merge it in smaller batches, " +
        "or rewrite the table with Snapshot.applyChangesAtomic)")
    // 2. validation on the driver
    val opAt = payloadCols.length
    val keyAt = payloadCols.indexOf(id)
    def keyOf(r: Row): Any = normalizedKey(r.get(keyAt))
    val badOp = rows.map(_.getString(opAt)).find(o => o != "upsert" && o != "delete")
    require(badOp.isEmpty,
      s"mergeAtomic: op column carries a value other than upsert/delete " +
        s"(${badOp.orNull})")
    val seen = scala.collection.mutable.HashSet.empty[Any]
    val dup = rows.iterator.map(keyOf).find(k => !seen.add(k))
    require(dup.isEmpty,
      s"mergeAtomic: delta carries duplicate keys (e.g. ${dup.orNull}) — " +
        "resolve the batch (last-writer-wins upstream) before merging")
    // 3. one key-pruned scan: the affected files and the matched keys
    val keys = rows.map(_.get(keyAt)).filter(_ != null).toSeq
    val hits =
      if (keys.isEmpty) Array.empty[(String, Any)]
      else collectAtMost(base.filter(fnCol(id).isin(keys: _*))
          .select(input_file_name(), fnCol(id)), MergeDeltaCap,
          "mergeAtomic: table rows holding the delta's keys (MergeDeltaCap)")
        .map(r => (new Path(r.getString(0)).getName, r.get(1)))
    val matched = hits.groupBy(h => normalizedKey(h._2))
    val ups = rows.filter(_.getString(opAt) == "upsert")
    val upsertKeys = ups.map(keyOf).toSet
    val updated = hits.count(h => upsertKeys(normalizedKey(h._2))).toLong
    val deleted = hits.length - updated
    val affected = hits.map(_._1).distinct.sorted.toSeq
    // 4. inserts: the upsert keys no table row holds
    val (replacing, inserting) = ups.partition(r => matched.contains(keyOf(r)))
    if (affected.isEmpty && inserting.isEmpty)
      return MergeResult(Seq.empty, Seq.empty, 0L, 0L, 0L)
    def tagged(r: Row, src: String) = Row.fromSeq(r.toSeq.take(opAt) :+ src)
    val extra = replacing.map(r => tagged(r, matched(keyOf(r)).map(_._1).min)) ++
      inserting.zipWithIndex.map { case (r, i) => tagged(r, s"$InsertTag${i % insertFiles}") }
    val extraDf =
      if (extra.isEmpty) None
      else Some(spark.createDataFrame(extra.toSeq.asJava, StructType(
        base.schema.fields.map(_.copy(nullable = true)) :+
          StructField("__src", StringType))))
    // 5. one partitioned write: each affected file minus its matched
    // rows, the replacement payloads, and the inserts
    val matchedKeys = matched.values.map(_.head._2).toSeq
    val keep = fnCol(id).isNull || !fnCol(id).isin(matchedKeys: _*)
    val fs = new Path(path).getFileSystem(conf)
    val staging = new Path(path,
      s"_merge_staging_${java.util.UUID.randomUUID().toString.take(8)}")
    val (appended, rewritten) = rewriteFilesOneJob(spark, path, affected, sm,
      staging, "merge", extraDf)(_.filter(keep)).partition(_._1.startsWith(InsertTag))
    val after = names.filterNot(affected.toSet) ++ rewritten.map(_._2) ++
      appended.map(_._2)
    writeManifest(conf, path, after, publishMeta, v0) // the atomic publish
    fs.delete(staging, true)
    MergeResult(rewritten.map(_._2), appended.map(_._2), updated, deleted,
      inserting.length.toLong)
  }

  /** A key as a driver-side set member: a binary key collects as an
    * array, which compares by identity; Spark's `In` compares it by
    * content. */
  private def normalizedKey(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case other => other
  }

  /** Collect `df` to the driver unless its rows weigh more than `cap`
    * in total; by default every row weighs 1, so `cap` counts rows.
    * A frame that folds to a local relation collects with no job.
    * Otherwise ONE job runs, and each task stops at the first row that
    * takes its running weight past the cap (with unit weights, after
    * cap + 1 rows). The bound on the driver is PER PARTITION: up to
    * partitions × (cap + one row) arrive before the sum is checked, so
    * a caller that needs a total bound collects one partition. `limit`
    * would plan Spark's incremental take, which can run a job per
    * round. None past the cap. */
  private[graft] def collectCapped(df: DataFrame, cap: Long,
                                   weight: org.apache.spark.sql.Row => Long = _ => 1L):
      Option[Array[org.apache.spark.sql.Row]] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, OneRowRelation}
    // the leaf test first: a frame over files is not optimized twice
    val qe = df.queryExecution
    val got =
      if (qe.analyzed.collectLeaves().forall {
            case _: LocalRelation | _: OneRowRelation => true
            case _ => false
          } && qe.optimizedPlan.isInstanceOf[LocalRelation])
        df.collect()
      else df.mapPartitions { (it: Iterator[Row]) =>
        var w = 0L
        it.takeWhile { r => val under = w <= cap; w += weight(r); under }
      }(org.apache.spark.sql.Encoders.row(df.schema)).collect()
    if (got.iterator.map(weight).sum <= cap) Some(got) else None
  }

  /** [[collectCapped]] counting rows, failing loudly past `cap`: for
    * the collects whose callers have no other plan (a merge delta's
    * table hits, a serving operator's query batch). `what` names the
    * operator and the rows in the message. */
  private[graft] def collectAtMost(df: DataFrame, cap: Int, what: String):
      Array[org.apache.spark.sql.Row] = {
    val got = collectCapped(df, cap)
    require(got.isDefined, s"$what: more than $cap rows")
    got.get
  }

  /** Most query rows a serving operator collects to the driver (the
    * query batch is dimension-sized by contract). */
  private[graft] val QueryBatchCap = 100000

  /** File-grain CHANGES between two manifest versions: (added,
    * removed) file names, `toVersion` relative to `fromVersion`. The
    * CDC read every incremental downstream needs: for an APPEND-ONLY
    * table ([[insertIntoAtomic]], [[graft.streaming.ManifestSink]])
    * `removed` is empty and the added files hold exactly the new rows;
    * a non-empty `removed` means maintenance rewrote files in the
    * window (compaction / DELETE / UPDATE / MERGE) and a row-accurate
    * diff needs [[graft.ops.Dedup.corpusDiff]] over the two snapshots
    * instead. */
  def manifestDiff(conf: org.apache.hadoop.conf.Configuration,
                   path: String, fromVersion: Long,
                   toVersion: Long): (Seq[String], Seq[String]) = {
    val from = readManifestVersion(conf, path, fromVersion).toSet
    val to = readManifestVersion(conf, path, toVersion).toSet
    ((to -- from).toSeq.sorted, (from -- to).toSeq.sorted)
  }

  /** Incremental read: ONLY the rows appended between `fromVersion`
    * and `toVersion` (head when omitted) — the downstream
    * resume-where-you-left-off scan that costs the DELTA, not the
    * table. Requires the window to be append-only (no files removed);
    * a rewrite in the window fails loudly with the row-accurate
    * alternative named, because rewritten survivors would otherwise
    * double-count as "new". */
  def readManifestedAdded(spark: SparkSession, path: String,
                          fromVersion: Long,
                          toVersion: Long = -1L): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val toV =
      if (toVersion >= 0L) toVersion
      else manifestLogVersions(conf, path).lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"readManifestedAdded: $path has no manifest log"))
    val (added, removed) = manifestDiff(conf, path, fromVersion, toV)
    require(removed.isEmpty,
      s"readManifestedAdded: window v$fromVersion..v$toV is not append-only " +
        s"(${removed.length} files rewritten, e.g. ${removed.take(2).mkString(", ")}) " +
        "— diff the snapshots with Dedup.corpusDiff instead")
    require(added.nonEmpty,
      s"readManifestedAdded: window v$fromVersion..v$toV added no files")
    readFilesApplyingDefaults(spark, path, added)
  }

  /** INCREMENTAL MATERIALIZED-VIEW maintenance — the daily-report
    * shape at 100 TB: a keyed aggregate table (count + long sum per
    * key) maintained from an APPEND-ONLY manifested source by folding
    * only the CDC window's new rows, never rescanning the corpus.
    * Counts and integer sums commute exactly, so the fold equals the
    * full recompute row for row (the contract a report reader needs;
    * decimal-castable measures ride the same recipe). The view is
    * itself a manifested table whose metadata pins the SOURCE VERSION
    * it reflects, inside the same atomic publish as its file set:
    * - EXACTLY-ONCE: re-running a folded window reads the pinned
    *   version and no-ops (crash after publish = done; before = rerun
    *   folds the same window onto the same standing state).
    * - A non-append-only source window (compaction/DELETE/MERGE
    *   rewrote files) fails LOUDLY via [[readManifestedAdded]] — the
    *   honest signal that the view needs a rebuild, not a quiet
    *   double-count.
    * - The publish is optimistically checked, so a racing fold of the
    *   same view refuses instead of losing an update.
    * Cost per fold: one scan of the window's files + one keyed agg of
    * (standing ∪ delta-agg) — view-sized, not source-sized. Returns
    * the source version the view now reflects. */
  def maintainAggView(spark: SparkSession, sourcePath: String,
                      viewPath: String, keys: Seq[String],
                      sumCol: String, numFiles: Int = 1): Long = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.{col => fnCol, count, lit, sum}
    require(keys.nonEmpty, "maintainAggView: declare at least one key")
    require(numFiles >= 1, "maintainAggView: numFiles must be >= 1")
    val conf = spark.sessionState.newHadoopConf()
    publishManifest(spark, sourcePath)
    val srcV = manifestVersion(conf, sourcePath)
    // view version BEFORE the meta snapshot (the pinSnapshot order):
    // a racing fold publishing in between fails the final check closed
    val viewV0 = manifestVersion(conf, viewPath)
    val viewMeta = readManifestMeta(conf, viewPath)
    val v0 = viewMeta.get("aggview:src_version").map(_.toLong).getOrElse(0L)
    require(v0 <= srcV,
      s"maintainAggView: view at $viewPath reflects source v$v0 but the " +
        s"source head is v$srcV — the view belongs to a different/rolled-" +
        "back source; rebuild it")
    if (srcV == v0) return v0 // window already folded: exactly-once no-op
    // v0 == 0 means a fresh view: the "window" is the whole source
    val added =
      if (v0 == 0L) readManifested(spark, sourcePath)
      else readManifestedAdded(spark, sourcePath, v0, srcV)
    val deltaAgg = added.groupBy(keys.map(fnCol): _*)
      .agg(count(lit(1)).as("n"), sum(fnCol(sumCol)).as(s"sum_$sumCol"))
    val standing = readManifest(conf, viewPath) match {
      case Some(names) if names.nonEmpty =>
        readFilesApplyingDefaults(spark, viewPath, names)
      case _ => deltaAgg.limit(0)
    }
    val merged = standing.unionByName(deltaAgg)
      .groupBy(keys.map(fnCol): _*)
      .agg(sum(fnCol("n")).as("n"),
        sum(fnCol(s"sum_$sumCol")).as(s"sum_$sumCol"))
    val root = new Path(viewPath)
    val fs = root.getFileSystem(conf)
    val staging = new Path(viewPath,
      s"_aggview_staging_${java.util.UUID.randomUUID().toString.take(8)}")
    merged.repartition(numFiles)
      .write.mode(SaveMode.Overwrite).parquet(staging.toString)
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val newNames = fs.listStatus(staging)
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).toSeq.zipWithIndex.map { case (p, i) =>
        val dst = new Path(root, s"aggview-$tag-$i.parquet")
        require(fs.rename(p, dst), s"maintainAggView: rename $p -> $dst failed")
        dst.getName
      }
    // only the advanced key is passed; writeManifest's sticky merge
    // re-reads the rest of the meta fresh at publish time
    writeManifest(conf, viewPath, newNames,
      Map("aggview:src_version" -> srcV.toString), viewV0)
    fs.delete(staging, true)
    srcV
  }
}
