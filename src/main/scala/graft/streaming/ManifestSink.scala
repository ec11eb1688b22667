package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}

/** EXACTLY-ONCE streaming file sink on the manifest protocol — the
  * remedy every foreachBatch file sink's scaladoc here points at
  * ("dedup-on-read or a table format"): foreachBatch re-delivers a
  * batch after a crash between the write and the checkpoint commit,
  * and a plain append then lands the same rows twice. This sink makes
  * the append TRANSACTIONAL instead: batch files stage invisibly
  * (underscore dir → unique part names moved in, unreferenced), and
  * ONE manifest rename publishes the new file set TOGETHER with the
  * batch id it corresponds to (the id rides inside the manifest's
  * '#batch' metadata line — state that must advance exactly with the
  * file set cannot live in a second file, a crash between two writes
  * would desync them). A replayed batch id reads the standing id and
  * no-ops; a crash BEFORE the rename leaves only unreferenced staging
  * files the next vacuum sweeps; a crash AFTER the rename is exactly
  * the replay the id guard absorbs. Readers go through
  * [[graft.sources.Sources.readManifested]] and see whole batches or
  * nothing — never a torn append.
  *
  * Scale shape: per batch one write job (filesPerBatch output files),
  * a driver-side manifest append, one rename. The manifest grows one
  * line per file — compact with
  * [[graft.sources.Sources.compactSmallFilesAtomic]] on the same
  * table, and bound the VERSION log (one archived manifest per batch,
  * listed at every publish) with
  * [[graft.sources.Sources.expireManifestLog]] in the same
  * maintenance loop (both publish through the same one-rename
  * protocol, so they compose; run maintenance jobs sequentially, not
  * concurrently with each other — last-writer-wins between two
  * MAINTENANCE jobs is the standard single-writer table contract). */
object ManifestSink {

  /** The last batch id published into the manifest at `path`, -1 if
    * none. */
  def lastBatchId(conf: org.apache.hadoop.conf.Configuration,
                  path: String): Long =
    standingBatch(graft.sources.Sources.readManifestMeta(conf, path))

  private def standingBatch(meta: Map[String, String]): Long =
    meta.get("batch").map(_.toLong).getOrElse(-1L)

  /** The per-batch half, callable directly for batch-twin testing.
    * Replayed ids (≤ the manifest's standing '#batch') are no-ops. */
  def appendBatch(batch: DataFrame, path: String, batchId: Long,
                  filesPerBatch: Int = 1): Unit = {
    import org.apache.hadoop.fs.Path
    require(filesPerBatch >= 1,
      s"manifestSink: filesPerBatch=$filesPerBatch must be >= 1")
    val spark = batch.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val pin = graft.sources.Sources.pinHead(conf, path)
    val standing = standingBatch(pin.map(_._2).getOrElse(Map.empty))
    if (batchId <= standing) {
      System.err.println(
        s"[manifestSink] skipping replayed batch $batchId (standing " +
          s"cursor $standing) — crash-redelivery idempotence; a FRESH-" +
          "CHECKPOINT restart also lands here and would drop real data: " +
          "point the restarted stream at a fresh table path")
      return
    }
    val (names, _, v0) = pin.getOrElse((Seq.empty[String], Map.empty, 0L))
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) fs.mkdirs(root)
    val staging = new Path(path,
      s"_sink_staging_${java.util.UUID.randomUUID().toString.take(8)}")
    batch.repartition(filesPerBatch)
      .write.mode(SaveMode.Overwrite).parquet(staging.toString)
    val parts = fs.listStatus(staging)
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).toSeq
    val newNames = parts.map { p =>
      val dst = new Path(root, p.getName) // per-job UUID names: unique
      require(fs.rename(p, dst), s"manifestSink: rename $p -> $dst failed")
      dst.getName
    }
    // the atomic publish: file set + batch id advance TOGETHER; the
    // optimistic check aborts the batch if maintenance published in
    // between (foreachBatch retries it against the new head)
    graft.sources.Sources.writeManifest(conf, path, names ++ newNames,
      Map("batch" -> batchId.toString), v0)
    fs.delete(staging, true)
  }

  /** The stream form: start with
    * `.option("checkpointLocation", …).start()`. */
  def sink(stream: DataFrame, path: String, filesPerBatch: Int = 1):
      org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      appendBatch(batch, path, batchId, filesPerBatch)
    }

  /** Read the sink's table (manifest-pinned — whole batches or
    * nothing). */
  def read(spark: SparkSession, path: String): DataFrame =
    graft.sources.Sources.readManifested(spark, path)

  /** The per-batch half of the streaming UPSERT sink — a CDC stream
    * applied to a manifested table by file-pruned MERGE
    * ([[graft.sources.Sources.mergeAtomic]]): each micro-batch carries
    * (payload columns, `op` ∈ upsert/delete) and rewrites only the
    * files holding matched keys, with the batch id riding INSIDE the
    * merge's single manifest rename so the file set and the id advance
    * together (the appendBatch discipline). Replayed ids no-op on the
    * guard. A batch that matches nothing and inserts nothing publishes
    * no version and leaves the id unadvanced — safe, because replaying
    * the identical no-op delta no-ops again deterministically (the
    * checkpointed offsets fix the batch's contents), and any LATER
    * batch's id guard then absorbs older replays. The FIRST batch
    * bootstraps the table: its upserts land as the initial file set
    * (its deletes have nothing to delete). Keys must be unique per
    * batch (mergeAtomic's contract — aggregate the CDC feed to
    * last-writer-wins upstream, e.g. a max_by on a change sequence).
    *
    * Scale shape: the head is pinned once (version, then names and meta
    * from one read of `_MANIFEST`), and the batch guard, the bootstrap
    * check and the merge all use that pin. A merge collects the batch
    * once (at most [[graft.sources.Sources.MergeDeltaCap]] rows, no job
    * for a local batch), runs one key-pruned scan and one partitioned
    * write for its rewrites and inserts (at most three Spark jobs with
    * adaptive execution on), and publishes with one rename. */
  def upsertBatch(batch: DataFrame, path: String, batchId: Long,
                  id: String, op: String = "op",
                  insertFiles: Int = 1): Unit = {
    import org.apache.spark.sql.functions.col
    val spark = batch.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val pin = graft.sources.Sources.pinHead(conf, path)
    val standing = standingBatch(pin.map(_._2).getOrElse(Map.empty))
    if (batchId <= standing) {
      System.err.println(
        s"[manifestSink] skipping replayed upsert batch $batchId " +
          s"(standing cursor $standing) — crash-redelivery idempotence; a " +
          "FRESH-CHECKPOINT restart also lands here and would drop real " +
          "data: point the restarted stream at a fresh table path")
      return
    }
    pin match {
      case None =>
        // bootstrap: the first batch's upserts ARE the table (a
        // delete-only first batch has nothing to create — skip, and let
        // a later batch bootstrap)
        val ups = batch.filter(col(op) === "upsert").drop(op)
        if (!ups.isEmpty) appendBatch(ups, path, batchId, insertFiles)
      case Some(p) =>
        graft.sources.Sources.mergePinned(spark, path, batch, id, op,
          insertFiles, Map("batch" -> batchId.toString), p)
    }
  }

  /** The stream form of the UPSERT sink: start with
    * `.option("checkpointLocation", …).start()`. */
  def upsertSink(stream: DataFrame, path: String, id: String,
                 op: String = "op", insertFiles: Int = 1):
      org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      upsertBatch(batch, path, batchId, id, op, insertFiles)
    }
}
