package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Snapshot
import graft.sources.Sources
import graft.streaming.ManifestSink

/** Differential check of the file-grain MERGE: on seeded random deltas
  * over an 8-file unique-key table, [[Sources.mergeAtomic]]'s table and
  * its [[Sources.MergeResult]] counters must equal a replay through
  * [[Snapshot.applyChanges]] (the relational MERGE semantics) and
  * semi/anti-joins of the delta against the table. */
class MergeReplaySpec extends SparkTestBase {

  private type Change = (Option[Long], Option[Long], Option[Long], String)

  private def conf = spark.sessionState.newHadoopConf()

  /** An 8-file table of unique keys 1..800, range-clustered on `id`
    * (so a file holds a key range), with NULL prices on every 7th key
    * and `nullKeys` extra rows whose key is NULL (they sort first, so
    * they share a file with keys 1..100). */
  private def table(prefix: String, nullKeys: Int = 0): String = {
    import spark.implicits._
    val path = new java.io.File(
      Files.createTempDirectory(prefix).toFile, "tbl").getPath
    val rows = (1L to 800L).map(i =>
        (Option(i), if (i % 7 == 0) None else Some(i * 10L), s"u${i % 5}")) ++
      (1 to nullKeys).map(j => (Option.empty[Long], Some(-j.toLong), s"null$j"))
    rows.toDF("id", "price", "user")
      .repartitionByRange(8, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(path)
    Sources.publishManifest(spark, path)
    assert(Sources.readManifest(conf, path).get.length == 8)
    path
  }

  private def deltaOf(changes: Seq[Change]): DataFrame = {
    import spark.implicits._
    changes.map { case (k, p, u, o) => (k, p, u.map(v => s"s$v"), o) }
      .toDF("id", "price", "user", "op")
  }

  /** Updates and deletes of live keys, deletes of absent keys and
    * inserts of new keys, with NULL payload fields. */
  private def randomChanges(seed: Long, live: Seq[Long]): Seq[Change] = {
    val r = new scala.util.Random(seed)
    def field() = if (r.nextInt(4) == 0) None else Some(r.nextLong(1000L))
    val picked = r.shuffle(live).take(10 + r.nextInt(30))
    val (upd, del) = picked.splitAt(picked.length / 2)
    val absent = Seq.fill(1 + r.nextInt(4))(5000L + r.nextInt(1000)).distinct
    val ins = Seq.fill(1 + r.nextInt(6))(9000L + r.nextInt(1000)).distinct
    r.shuffle(upd.map(k => (Some(k), field(), field(), "upsert")) ++
      del.map(k => (Some(k), field(), None, "delete")) ++
      absent.map(k => (Some(k), None, None, "delete")) ++
      ins.map(k => (Some(k), field(), field(), "upsert")))
  }

  private def liveKeys(path: String): Seq[Long] =
    Sources.readManifested(spark, path).filter(col("id").isNotNull)
      .select("id").collect().map(_.getLong(0)).toSeq.sorted

  private def sortedRows(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Merge `delta` and check the table and the counters against the
    * replay of the same delta over the pinned table. */
  private def checkReplay(path: String, delta: DataFrame,
                          insertFiles: Int = 1): Sources.MergeResult = {
    val base = Sources.readManifested(spark, path)
    val cols = base.columns.toSeq
    val expected = sortedRows(Snapshot.applyChanges(base, delta, "id"), cols)
    val ups = delta.filter(col("op") === "upsert")
    val want = (ups.join(base, Seq("id"), "left_semi").count(),
      delta.filter(col("op") === "delete").join(base, Seq("id"), "left_semi").count(),
      ups.join(base, Seq("id"), "left_anti").count())
    val res = Sources.mergeAtomic(spark, path, delta, "id",
      insertFiles = insertFiles)
    assert((res.updated, res.deleted, res.inserted) == want)
    assert(sortedRows(Sources.readManifested(spark, path), cols) == expected)
    res
  }

  test("mergeAtomic equals the applyChanges replay on seeded random deltas") {
    val path = table("graft_replay")
    (1L to 6L).foreach { seed =>
      val changes = randomChanges(seed, liveKeys(path))
      val res = checkReplay(path, deltaOf(changes))
      assert(res.appended.length == 1, s"seed $seed: $res")
    }
  }

  test("mergeAtomic replay: a delta that empties a whole file; insertFiles = 3") {
    val path = table("graft_replay_empty")
    val byFile = Sources.readManifested(spark, path)
      .select(input_file_name().as("f"), col("id")).collect()
      .groupBy(r => new org.apache.hadoop.fs.Path(r.getString(0)).getName)
    val (victim, rows) = byFile.toSeq.sortBy(_._1).apply(3)
    val emptied = rows.map(r => (Option(r.getLong(1)), Option.empty[Long],
      Option.empty[Long], "delete")).toSeq
    val other = byFile.filter(_._1 != victim).values.head.head.getLong(1)
    val changes = emptied ++
      Seq((Some(other), Some(1L), None, "upsert")) ++
      (1L to 7L).map(k => (Some(20000L + k), Some(k), Some(k), "upsert"))
    val res = checkReplay(path, deltaOf(changes), insertFiles = 3)
    val head = Sources.readManifest(conf, path).get
    assert(!head.contains(victim), "a fully deleted file must leave the manifest")
    assert(res.rewritten.length == 1 && res.appended.length == 3, res.toString)
    assert(head.length == 8 - 1 + 3)
  }

  test("mergeAtomic replay: a table with add, drop and rename column metadata") {
    import spark.implicits._
    val path = table("graft_replay_alter")
    Sources.addColumnAtomic(spark, path, "score", "bigint", 7L)
    Sources.dropColumnAtomic(spark, path, "user")
    Sources.renameColumnAtomic(spark, path, "price", "cost")
    assert(Sources.readManifested(spark, path).columns.toSeq ==
      Seq("id", "cost", "score"))
    (11L to 13L).foreach { seed =>
      val delta = randomChanges(seed, liveKeys(path))
        .toDF("id", "cost", "score", "op")
      checkReplay(path, delta)
    }
    // rewritten files hold the evolved schema physically; untouched
    // rows still read the stored default
    val got = Sources.readManifested(spark, path)
    assert(got.filter(col("score") === 7L).count() > 0)
  }

  test("mergeAtomic replay: NULL keys insert, and NULL-key rows survive a rewrite") {
    val path = table("graft_replay_null", nullKeys = 3)
    // key 5 shares its file with the NULL-key rows: the rewrite filter
    // must keep them (NOT IN alone is NULL for a NULL key and drops it)
    val changes = Seq[Change](
      (Some(5L), Some(55L), Some(5L), "upsert"),
      (Some(6L), None, None, "delete"),
      (None, Some(99L), Some(9L), "upsert"),
      (Some(30000L), Some(1L), None, "upsert"))
    val res = checkReplay(path, deltaOf(changes))
    assert(res.updated == 1L && res.deleted == 1L && res.inserted == 2L)
    assert(Sources.readManifested(spark, path).filter(col("id").isNull)
      .count() == 4, "3 NULL-key rows survive and the upserted one lands")
    // a NULL-key delete matches nothing, as in the replay
    checkReplay(path, deltaOf(Seq((None, None, None, "delete"),
      (Some(7L), Some(1L), None, "upsert"))))
    // two NULL keys repeat a key: both the replay and the merge refuse
    val dupNull = deltaOf(Seq((None, Some(1L), None, "upsert"),
      (None, Some(2L), None, "upsert")))
    intercept[IllegalArgumentException](
      Snapshot.applyChanges(Sources.readManifested(spark, path), dupNull, "id"))
    val e = intercept[IllegalArgumentException](
      Sources.mergeAtomic(spark, path, dupNull, "id"))
    assert(e.getMessage.contains("duplicate keys"), e.getMessage)
  }

  test("mergeAtomic matches binary keys by content") {
    import spark.implicits._
    val path = new java.io.File(
      Files.createTempDirectory("graft_merge_binary").toFile, "tbl").getPath
    (1 to 40).map(i => (Array[Byte](i.toByte, 7), i.toLong)).toDF("id", "v")
      .repartition(2).write.mode("overwrite").parquet(path)
    Sources.publishManifest(spark, path)
    val delta = Seq((Array[Byte](3, 7), 300L, "upsert"),
      (Array[Byte](4, 7), 0L, "delete"), (Array[Byte](99, 7), 9900L, "upsert"))
      .toDF("id", "v", "op")
    val res = Sources.mergeAtomic(spark, path, delta, "id")
    assert((res.updated, res.deleted, res.inserted) == ((1L, 1L, 1L)))
    val got = Sources.readManifested(spark, path)
      .select(hex(col("id")), col("v")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size == 40 && got("0307") == 300L && got("6307") == 9900L &&
      !got.contains("0407"))
  }

  test("a warm upsertBatch of a 15-row local delta runs at most 3 Spark jobs") {
    import spark.implicits._
    val path = new java.io.File(
      Files.createTempDirectory("graft_upsert_jobs").toFile, "tbl").getPath
    ManifestSink.upsertBatch((1L to 1000L).map(i => (i, i * 10L, "upsert"))
      .toDF("id", "v", "op"), path, 0L, "id", insertFiles = 8)
    def delta(b: Long) = ((1L to 10L).map(i => (b * 37L + i, -b, "upsert")) ++
      (1L to 3L).map(i => (b * 41L + 500L + i, 0L, "delete")) ++
      (1L to 2L).map(i => (b * 1000L + 5000L + i, b, "upsert")))
      .toDF("id", "v", "op")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      ManifestSink.upsertBatch(delta(1L), path, 1L, "id") // warm-up
      val jobs = jobsDuring(ManifestSink.upsertBatch(delta(2L), path, 2L, "id"))
      assert(jobs <= 3, s"an upsert must run at most 3 jobs, saw $jobs")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert(ManifestSink.lastBatchId(conf, path) == 2L)
    val got = ManifestSink.read(spark, path)
    assert(got.count() == 1000L - 6L + 4L)
    assert(got.filter(col("id") === 75L).head().getLong(1) == -2L)
  }
}
