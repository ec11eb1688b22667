package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.Sources

/** File-pruned MERGE INTO, transactional INSERT INTO, and the
  * file-grain CDC read (manifestDiff / readManifestedAdded) — the
  * round-15 completion of the manifest protocol. */
class ManifestMergeSpec extends SparkTestBase {

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def conf = spark.sessionState.newHadoopConf()

  test("mergeAtomic: file-pruned upsert/delete/insert under one publish") {
    import spark.implicits._
    val dir = new java.io.File(tmp("graft_merge"))
    val path = new java.io.File(dir, "tbl").getPath
    // range-clustered on id: a keyed delta lands in FEW files — the
    // layout story merge exploits (same as deleteWhereAtomic's)
    (1L to 1000L).map(i => (i, i * 10L, s"u${i % 10}"))
      .toDF("id", "price", "user")
      .repartitionByRange(8, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(path)
    Sources.publishManifest(spark, path)
    val before = Sources.readManifest(conf, path).get
    // delta: update 110..115 (price+1), delete 120..124, insert 2001..2003
    val delta =
      ((110L to 115L).map(i => (i, i * 10L + 1L, s"u${i % 10}", "upsert")) ++
       (120L to 124L).map(i => (i, 0L, "x", "delete")) ++
       (2001L to 2003L).map(i => (i, i * 10L, "new", "upsert")))
        .toDF("id", "price", "user", "op")
    val res = Sources.mergeAtomic(spark, path, delta, "id")
    assert(res.updated == 6L && res.deleted == 5L && res.inserted == 3L)
    // the delta's matched keys cluster into ONE of the 8 files
    assert(res.rewritten.length == 1,
      s"clustered delta must rewrite one file: ${res.rewritten}")
    assert(res.appended.length == 1)
    val after = Sources.readManifest(conf, path).get
    assert(before.toSet.intersect(after.toSet).size == 7,
      "files holding no matched key must keep their identity")
    // row-level semantics
    val got = Sources.readManifested(spark, path)
    assert(got.count() == 1000 - 5 + 3)
    assert(got.filter(col("id").between(120L, 124L)).isEmpty)
    val up = got.filter(col("id").between(110L, 115L))
      .orderBy("id").collect().map(_.getLong(1)).toSeq
    assert(up == (110L to 115L).map(_ * 10 + 1),
      s"matched upserts must carry the whole-row payload: $up")
    val ins = got.filter(col("id") > 2000L).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(ins == (2001L to 2003L).map(i => (i, "new")))
    // untouched rows verbatim
    assert(got.filter(col("id") === 500L).head().getLong(1) == 5000L)
    // pre-merge state stays time-travelable
    val v1 = Sources.manifestLogVersions(conf, path).head
    assert(Sources.readManifestedAt(spark, path, v1).count() == 1000)
    // contract violations fail loudly
    val dup = Seq((1L, 1L, "a", "upsert"), (1L, 2L, "b", "upsert"))
      .toDF("id", "price", "user", "op")
    val e1 = intercept[IllegalArgumentException] {
      Sources.mergeAtomic(spark, path, dup, "id")
    }
    assert(e1.getMessage.contains("duplicate keys"), e1.getMessage)
    val badOp = Seq((1L, 1L, "a", "replace")).toDF("id", "price", "user", "op")
    val e2 = intercept[IllegalArgumentException] {
      Sources.mergeAtomic(spark, path, badOp, "id")
    }
    assert(e2.getMessage.contains("upsert/delete"), e2.getMessage)
  }

  test("mergeAtomic: a fully-deleted file vanishes; no-op delta publishes nothing") {
    import spark.implicits._
    val dir = new java.io.File(tmp("graft_merge2"))
    val path = new java.io.File(dir, "tbl").getPath
    (1L to 100L).map(i => (i, s"v$i"))
      .toDF("id", "v")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(path)
    Sources.publishManifest(spark, path)
    val vBefore = Sources.manifestLogVersions(conf, path).last
    // delete the whole first quarter: its file must vanish, not
    // survive as an empty rewrite
    val delAll = (1L to 25L).map(i => (i, "", "delete")).toDF("id", "v", "op")
    val res = Sources.mergeAtomic(spark, path, delAll, "id")
    assert(res.deleted == 25L && res.rewritten.isEmpty && res.appended.isEmpty)
    assert(Sources.readManifest(conf, path).get.length == 3)
    assert(Sources.readManifested(spark, path).count() == 75)
    // a delta matching nothing and inserting nothing: NO new version
    val vMid = Sources.manifestLogVersions(conf, path).last
    val noop = Seq((9999L, "", "delete")).toDF("id", "v", "op")
    val res2 = Sources.mergeAtomic(spark, path, noop, "id")
    assert(res2.updated == 0 && res2.deleted == 0 && res2.inserted == 0)
    assert(Sources.manifestLogVersions(conf, path).last == vMid,
      "a no-op merge must not publish a new version")
    assert(vMid > vBefore)
  }

  test("insertIntoAtomic appends transactionally; manifestDiff + readManifestedAdded read exactly the delta") {
    import spark.implicits._
    val dir = new java.io.File(tmp("graft_incr"))
    val path = new java.io.File(dir, "tbl").getPath
    (1L to 60L).map(i => (i, s"d$i")).toDF("id", "v")
      .repartition(2).write.mode("overwrite").parquet(path)
    Sources.publishManifest(spark, path)
    val v1 = Sources.manifestLogVersions(conf, path).last
    val added = Sources.insertIntoAtomic(spark, path,
      (61L to 80L).map(i => (i, s"d$i")).toDF("id", "v"), numFiles = 2)
    assert(added.length == 2)
    val v2 = Sources.manifestLogVersions(conf, path).last
    Sources.insertIntoAtomic(spark, path,
      (81L to 90L).map(i => (i, s"d$i")).toDF("id", "v"))
    val v3 = Sources.manifestLogVersions(conf, path).last
    // the full table reads whole
    assert(Sources.readManifested(spark, path).count() == 90)
    // file-grain diff: append-only windows list only additions
    val (a12, r12) = Sources.manifestDiff(conf, path, v1, v2)
    assert(a12.toSet == added.toSet && r12.isEmpty)
    // the incremental read is EXACTLY the window's rows
    val incr = Sources.readManifestedAdded(spark, path, v1, v2)
    assert(incr.select(min("id"), max("id"), count(lit(1))).head().toSeq ==
      Seq(61L, 80L, 20L))
    // from v1 to head: both batches
    assert(Sources.readManifestedAdded(spark, path, v1).count() == 30)
    assert(Sources.readManifestedAdded(spark, path, v2, v3).count() == 10)
    // a rewrite inside the window breaks append-only: loud refusal
    Sources.deleteWhereAtomic(spark, path, col("id") === 1L)
    val e = intercept[IllegalArgumentException] {
      Sources.readManifestedAdded(spark, path, v1)
    }
    assert(e.getMessage.contains("not append-only"), e.getMessage)
    // an empty window is a loud no-data signal, not an empty frame
    val e2 = intercept[IllegalArgumentException] {
      Sources.readManifestedAdded(spark, path, v3, v3)
    }
    assert(e2.getMessage.contains("added no files"), e2.getMessage)
  }

  test("expireManifestLog: bounded version log, travelable window intact, expired refusals loud") {
    import spark.implicits._
    val dir = new java.io.File(tmp("graft_expire"))
    val path = new java.io.File(dir, "tbl").getPath
    (1L to 20L).map(i => (i, i * 2L)).toDF("id", "n")
      .repartition(1).write.mode("overwrite").parquet(path)
    Sources.publishManifest(spark, path)
    // four appends -> five versions
    for (b <- 1 to 4)
      Sources.insertIntoAtomic(spark, path,
        Seq((100L + b, b.toLong)).toDF("id", "n"))
    val all = Sources.manifestLogVersions(conf, path)
    assert(all.length == 5)
    val expired = Sources.expireManifestLog(conf, path, retainVersions = 2)
    assert(expired == all.dropRight(2), expired.toString)
    assert(Sources.manifestLogVersions(conf, path) == all.takeRight(2))
    // head still reads in full; the retained window stays travelable
    assert(Sources.readManifested(spark, path).count() == 24)
    assert(Sources.readManifestedAt(spark, path, all.last).count() == 24)
    assert(Sources.readManifestedAt(spark, path, all(3)).count() == 23)
    // travel/rollback past the window refuse loudly, naming what's left
    val e = intercept[IllegalArgumentException] {
      Sources.readManifestedAt(spark, path, all.head)
    }
    assert(e.getMessage.contains("no archived version"), e.getMessage)
    // vacuum with the SAME retention agrees with the expired log
    val dead = Sources.vacuumUnreferenced(spark, path, retainVersions = 2)
    assert(dead.isEmpty, // append-only: every old file is still referenced
      s"append-only history must keep all files: $dead")
    // publishes keep working after expiry (version numbering survives)
    Sources.insertIntoAtomic(spark, path, Seq((999L, 9L)).toDF("id", "n"))
    assert(Sources.manifestLogVersions(conf, path).last == all.last + 1)
    assert(Sources.readManifested(spark, path).count() == 25)
  }

  test("optimizeClusteredAtomic: full recluster under one publish; boxes tighten; alters materialize") {
    import spark.implicits._
    val dir = new java.io.File(tmp("graft_opt"))
    val path = new java.io.File(dir, "tbl").getPath
    // scattered 2-d keys: row-order layout has full-domain boxes
    val n = 4096
    (0 until n).map { i => (i.toLong, (i * 2654435761L) % 64L,
      (i * 40503L) % 64L) }
      .toDF("id", "x", "y")
      .repartition(8).write.mode("overwrite").parquet(path)
    Sources.publishManifest(spark, path)
    Sources.addColumnAtomic(spark, path, "tag", "string", "t0")
    val before = Sources.readManifest(conf, path).get
    val vPre = Sources.manifestLogVersions(conf, path).last
    val (replaced, fresh) =
      Sources.optimizeClusteredAtomic(spark, path, Seq("x", "y"),
        bits = 6, numFiles = 8)
    assert(replaced.toSet == before.toSet && fresh.length == 8)
    assert(Sources.readManifest(conf, path).get.sorted == fresh.sorted)
    // answers preserved, pending default materialized physically
    val got = Sources.readManifested(spark, path)
    assert(got.count() == n)
    assert(got.agg(sum("x")).head().getLong(0) ==
      (0 until n).map(i => (i * 2654435761L) % 64L).sum)
    assert(got.filter(col("tag") === "t0").count() == n)
    assert(fresh.forall(f => footerHas(path, f, "tag")),
      "optimize must materialize the pending default into new footers")
    // clustering actually tightened the per-file boxes: total box
    // area well under files x full domain (row-order would be ~full)
    val spans = Sources.fileStats(spark, path, Seq("x", "y"))
      .filter(col("file").isin(fresh: _*))
      .collect()
      .groupBy(r => (r.getAs[String]("file"), r.getAs[String]("column")))
      .map { case (k, rs) =>
        k -> (rs.map(_.getAs[Double]("min")).min,
          rs.map(_.getAs[Double]("max")).max)
      }
    assert(spans.size == 16, spans.keys.toString) // 8 files x 2 cols
    val area = fresh.map { f =>
      val (x0, x1) = spans((f, "x")); val (y0, y1) = spans((f, "y"))
      (x1 - x0 + 1) * (y1 - y0 + 1)
    }.sum
    assert(area < 8 * 64 * 64 * 0.5,
      s"z-layout must tighten footer boxes: total area $area")
    // old layout stays travelable until vacuum; then reclaims
    assert(Sources.readManifestedAt(spark, path, vPre).count() == n)
    // the dry-run names exactly what the real vacuum then deletes
    val report = Sources.vacuumReport(spark, path, retainVersions = 1)
      .filter(!col("referenced")).collect()
    assert(report.map(_.getString(0)).toSet == before.toSet)
    assert(report.forall(_.getLong(1) > 0L))
    val dead = Sources.vacuumUnreferenced(spark, path, retainVersions = 1)
    assert(dead.toSet == before.toSet)
  }

  private def footerHas(path: String, n: String, c: String): Boolean = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path, n), conf))
    try rdr.getFooter.getFileMetaData.getSchema.getFields.asScala
      .exists(_.getName == c)
    finally rdr.close()
  }

  test("optimistic publish: a stale snapshot refuses instead of dropping the other job's files") {
    import spark.implicits._
    val dir = new java.io.File(tmp("graft_occ"))
    val path = new java.io.File(dir, "tbl").getPath
    (1L to 10L).map(i => (i, i)).toDF("id", "n")
      .repartition(1).write.mode("overwrite").parquet(path)
    Sources.publishManifest(spark, path)
    // job A reads its snapshot (head v1)...
    val vA = Sources.manifestVersion(conf, path)
    val namesA = Sources.readManifest(conf, path).get
    // ...job B publishes in between (an append)
    Sources.insertIntoAtomic(spark, path, Seq((11L, 11L)).toDF("id", "n"))
    // job A's publish against the stale head REFUSES — last-writer-
    // wins would silently unpublish B's file
    val e = intercept[IllegalStateException] {
      Sources.writeManifest(conf, path, namesA, Map.empty, vA)
    }
    assert(e.getMessage.contains("concurrent publish"), e.getMessage)
    // B's append survives intact
    assert(Sources.readManifested(spark, path).count() == 11)
    // the re-run against the current head succeeds
    val vB = Sources.manifestVersion(conf, path)
    Sources.writeManifest(conf, path,
      Sources.readManifest(conf, path).get, Map.empty, vB)
    assert(Sources.readManifested(spark, path).count() == 11)
  }

  test("mergeAtomic: a delta touching 100+ files rewrites in O(1) Spark jobs") {
    import spark.implicits._
    val dir = new java.io.File(tmp("graft_merge_wide"))
    val path = new java.io.File(dir, "tbl").getPath
    // UNCLUSTERED layout, 120 files: the adversarial case for a
    // per-file rewrite loop (one Spark job per file = 120 jobs)
    (0L until 1200L).map(i => (i, i * 2L)).toDF("id", "v")
      .repartition(120, col("id"))
      .write.mode("overwrite").parquet(path)
    Sources.publishManifest(spark, path)
    assert(Sources.readManifest(conf, path).get.length == 120)
    val delta = (0L until 1200L by 3L)
      .map(i => (i, -i, "upsert")).toDF("id", "v", "op")
    var res: Sources.MergeResult = null
    val jobs = jobsDuring { res = Sources.mergeAtomic(spark, path, delta, "id") }
    assert(res.updated == 400L && res.deleted == 0L && res.inserted == 0L)
    assert(res.rewritten.length >= 100,
      s"the spread delta must touch 100+ files: ${res.rewritten.length}")
    // THE SCALE CONTRACT: one key-pruned scan + one partitioned write
    // regardless of how many files the delta touches — a per-file loop
    // would launch 100+ jobs here and serialize a wide delta through
    // the driver at 100 TB. The other two jobs are Spark's parallel
    // listing of a read over more than 32 files (the table, then the
    // affected files).
    assert(jobs <= 4,
      s"mergeAtomic must rewrite in O(1) jobs, saw $jobs")
    // answers unchanged by the one-job shape
    val got = Sources.readManifested(spark, path)
    assert(got.count() == 1200)
    assert(got.filter(col("id") % 3L === 0L).agg(sum("v")).head().getLong(0)
      == (0L until 1200L by 3L).map(-_).sum)
    assert(got.filter(col("id") % 3L =!= 0L).agg(sum("v")).head().getLong(0)
      == (0L until 1200L).filter(_ % 3 != 0).map(_ * 2).sum)
    // one-file-per-source layout preserved: file count stays 120
    assert(Sources.readManifest(conf, path).get.length == 120)
    // DELETE and UPDATE share the one-job rewrite: a predicate
    // touching all 120 files must also stay O(1) jobs
    var upd: (Seq[String], Long) = null
    val jobs2 = jobsDuring {
      upd = Sources.updateWhereAtomic(spark, path, col("id") % 5L === 1L,
        Map("v" -> (col("v") + 1L)))
    }
    val (updNames, nUpd) = upd
    assert(nUpd == 240L && updNames.length >= 100)
    assert(jobs2 <= 10,
      s"updateWhereAtomic must rewrite in O(1) jobs, saw $jobs2")
    val (delNames, nDel) = Sources.deleteWhereAtomic(spark, path,
      col("id") % 5L === 2L)
    assert(nDel == 240L && delNames.length >= 100)
    val fin = Sources.readManifested(spark, path)
    assert(fin.count() == 960L)
    assert(fin.filter(col("id") % 5L === 1L).agg(sum("v")).head().getLong(0)
      == (0L until 1200L).filter(_ % 5 == 1)
        .map(i => (if (i % 3 == 0) -i else i * 2) + 1).sum)
  }

  test("mergeAtomic rejects a NULL op — a malformed CDC batch must not partially apply") {
    import spark.implicits._
    val dir = new java.io.File(tmp("graft_merge_nullop"))
    val path = new java.io.File(dir, "tbl").getPath
    (1L to 10L).map(i => (i, i)).toDF("id", "v")
      .repartition(1).write.mode("overwrite").parquet(path)
    Sources.publishManifest(spark, path)
    val delta = Seq((1L, 100L, "upsert"), (2L, 200L, null))
      .toDF("id", "v", "op")
    val e = intercept[IllegalArgumentException] {
      Sources.mergeAtomic(spark, path, delta, "id")
    }
    assert(e.getMessage.contains("upsert/delete"), e.getMessage)
    // nothing applied
    assert(Sources.readManifested(spark, path)
      .filter(col("id") === 1L).head().getLong(1) == 1L)
  }

  test("optimistic contract under a GENUINE two-writer thread race: one wins, no file loss") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = new java.io.File(tmp("graft_occ_race"))
    val path = new java.io.File(dir, "tbl").getPath
    (1L to 1000L).map(i => (i, i)).toDF("id", "n")
      .repartition(4).write.mode("overwrite").parquet(path)
    Sources.publishManifest(spark, path)
    val base = Sources.readManifest(conf, path).get.toSet
    // both writers pin their snapshot within ms of the barrier; each
    // then spends 100s of ms staging parquet before publishing — the
    // slower publisher MUST land on a moved head and refuse
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def writer(lo: Long): Future[Either[Throwable, Seq[String]]] = Future {
      barrier.await()
      try Right(Sources.insertIntoAtomic(spark, path,
        (lo until lo + 10L).map(i => (i, i)).toDF("id", "n")))
      catch { case t: Throwable => Left(t) }
    }
    val (ra, rb) = (writer(9000L), writer(9500L))
    val results = Seq(Await.result(ra, 120.seconds),
      Await.result(rb, 120.seconds))
    val wins = results.collect { case Right(names) => names }
    val losses = results.collect { case Left(t) => t }
    assert(wins.length == 1 && losses.length == 1,
      s"exactly one publish must win the race: $results")
    assert(losses.head.isInstanceOf[IllegalStateException] &&
      losses.head.getMessage.contains("concurrent publish"),
      s"the loser must refuse loudly: ${losses.head}")
    // NO FILE LOSS: the head manifest carries every base file plus
    // exactly the winner's files, and each referenced file exists
    val head = Sources.readManifest(conf, path).get
    assert(base.subsetOf(head.toSet), "the race must never unpublish base files")
    assert(head.toSet -- base == wins.head.toSet,
      "the head must carry exactly the winner's appends")
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    head.foreach(n => assert(
      fs.exists(new org.apache.hadoop.fs.Path(path, n)), s"missing $n"))
    // the archived head version must BE the head — a shared tmp name
    // once let the loser overwrite the winner's staged archive bytes,
    // so v-head referenced the loser's files while _MANIFEST carried
    // the winner's (the archive lying to time travel)
    val vHead = Sources.manifestVersion(conf, path)
    assert(Sources.readManifestVersion(conf, path, vHead).toSet == head.toSet,
      "the archived head version must reference exactly the head's files")
    val afterRace = Sources.readManifested(spark, path)
    assert(afterRace.count() == 1010, "base + exactly one batch")
    // the loser's orphaned staging renames are UNREFERENCED, not
    // published — vacuum reclaims them without touching live files
    val reclaimed = Sources.vacuumUnreferenced(spark, path)
    assert(reclaimed.nonEmpty, "the losing writer's orphans must be vacuumable")
    assert(Sources.readManifested(spark, path).count() == 1010)
    // the refused writer re-runs against the new head and lands
    Sources.insertIntoAtomic(spark, path,
      (9990L until 10000L).map(i => (i, i)).toDF("id", "n"))
    assert(Sources.readManifested(spark, path).count() == 1020)
  }

  test("CDC read refuses the window a racing OPTIMIZE published into") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = new java.io.File(tmp("graft_cdc_race"))
    val path = new java.io.File(dir, "tbl").getPath
    (1L to 100L).map(i => (i, i * 2L)).toDF("id", "k")
      .repartition(4).write.mode("overwrite").parquet(path)
    Sources.publishManifest(spark, path)
    // the incremental reader pins its resume point (head version)...
    val fromV = Sources.manifestVersion(conf, path)
    Sources.insertIntoAtomic(spark, path,
      (101L to 110L).map(i => (i, i * 2L)).toDF("id", "k"))
    // ...and a maintenance OPTIMIZE publishes INSIDE the reader's
    // window, on a racing thread (rewrites every pinned file)
    val optimize = Future {
      Sources.optimizeClusteredAtomic(spark, path,
        Seq("id", "k"), bits = 8, numFiles = 2)
    }
    Await.result(optimize, 120.seconds)
    // the resume read MUST refuse: rewritten survivors would double-
    // count as \"new rows\" in any append-only interpretation
    val e = intercept[IllegalArgumentException] {
      Sources.readManifestedAdded(spark, path, fromV)
    }
    assert(e.getMessage.contains("not append-only") &&
      e.getMessage.contains("corpusDiff"), e.getMessage)
    // the named row-accurate alternative DOES serve the delta
    val diff = graft.ops.Dedup.corpusDiff(
      Sources.readManifestedAt(spark, path, fromV)
        .withColumn("__t", col("k").cast("string")),
      Sources.readManifested(spark, path)
        .withColumn("__t", col("k").cast("string")),
      "id", "__t")
    assert(diff.filter(col("status") === "added").count() == 10)
  }

  test("maintainAggView: delta-only folds equal the full recompute, exactly-once, loud on rewrites") {
    import spark.implicits._
    val dir = new java.io.File(tmp("graft_aggview"))
    val src = new java.io.File(dir, "src").getPath
    val view = new java.io.File(dir, "view").getPath
    val day1 = (1L to 600L).map(i => (i, s"k${i % 3}", i))
      .toDF("id", "k", "v")
    day1.repartition(3).write.mode("overwrite").parquet(src)
    Sources.publishManifest(spark, src)
    val v1 = Sources.maintainAggView(spark, src, view, Seq("k"), "v")
    val after1 = Sources.readManifested(spark, view)
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(after1.map(_._2).sum == 600L)
    // day 2 appends and folds incrementally
    Sources.insertIntoAtomic(spark, src,
      (601L to 1000L).map(i => (i, s"k${i % 3}", i)).toDF("id", "k", "v"),
      numFiles = 2)
    val v2 = Sources.maintainAggView(spark, src, view, Seq("k"), "v")
    assert(v2 > v1)
    val got = Sources.readManifested(spark, view)
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // equals the full recompute (counts and integer sums commute)
    val expect = (1L to 1000L).map(i => (s"k${i % 3}", i))
      .groupBy(_._1).map { case (k, xs) => (k, xs.size.toLong, xs.map(_._2).sum) }
      .toSeq.sortBy(_._1)
    assert(got == expect, s"$got vs $expect")
    // exactly-once: replaying the fold no-ops (no new view version)
    val headBefore = Sources.manifestVersion(conf, view)
    assert(Sources.maintainAggView(spark, src, view, Seq("k"), "v") == v2)
    assert(Sources.manifestVersion(conf, view) == headBefore)
    // day 3: the fold must read ONLY the window's files — proven by
    // deleting every already-folded byte out from under it (the
    // manifest still pins them; a corpus-rescan fold would crash)
    Sources.insertIntoAtomic(spark, src,
      (1001L to 1200L).map(i => (i, s"k${i % 3}", i)).toDF("id", "k", "v"))
    val fs = new org.apache.hadoop.fs.Path(src).getFileSystem(conf)
    Sources.readManifestVersion(conf, src, v2).foreach { n =>
      fs.delete(new org.apache.hadoop.fs.Path(src, n), false)
    }
    Sources.maintainAggView(spark, src, view, Seq("k"), "v")
    val got3 = Sources.readManifested(spark, view)
      .agg(sum("n"), sum("sum_v")).head()
    assert(got3.getLong(0) == 1200L &&
      got3.getLong(1) == (1L to 1200L).sum,
      "the day-3 fold must land without touching the deleted history")
    // a rewrite in the source window refuses loudly: the view needs a
    // rebuild, not a silent double-count (fresh table, intact bytes)
    val src2 = new java.io.File(dir, "src2").getPath
    val view2 = new java.io.File(dir, "view2").getPath
    (1L to 50L).map(i => (i, "k", i)).toDF("id", "k", "v")
      .repartition(2).write.mode("overwrite").parquet(src2)
    Sources.publishManifest(spark, src2)
    Sources.maintainAggView(spark, src2, view2, Seq("k"), "v")
    Sources.insertIntoAtomic(spark, src2,
      Seq((51L, "k", 5L)).toDF("id", "k", "v"))
    Sources.deleteWhereAtomic(spark, src2, col("id") === 7L)
    val e = intercept[IllegalArgumentException] {
      Sources.maintainAggView(spark, src2, view2, Seq("k"), "v")
    }
    assert(e.getMessage.contains("not append-only"), e.getMessage)
  }

  test("mergeAtomic composes with addColumnAtomic: defaults survive the rewrite") {
    import spark.implicits._
    val dir = new java.io.File(tmp("graft_merge3"))
    val path = new java.io.File(dir, "tbl").getPath
    (1L to 40L).map(i => (i, i * 2L)).toDF("id", "n")
      .repartitionByRange(2, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(path)
    Sources.publishManifest(spark, path)
    Sources.addColumnAtomic(spark, path, "score", "bigint", 7L)
    // delta carries the evolved schema (whole-row contract)
    val delta = Seq((5L, 555L, 9L, "upsert"), (41L, 82L, 1L, "upsert"))
      .toDF("id", "n", "score", "op")
    val res = Sources.mergeAtomic(spark, path, delta, "id")
    assert(res.updated == 1L && res.inserted == 1L)
    val got = Sources.readManifested(spark, path).orderBy("id")
    assert(got.filter(col("id") === 5L).head().toSeq == Seq(5L, 555L, 9L))
    assert(got.filter(col("id") === 41L).head().toSeq == Seq(41L, 82L, 1L))
    // untouched old-file rows still read the stored default
    assert(got.filter(col("id") === 30L).head().toSeq == Seq(30L, 60L, 7L))
    // rewritten file's unmatched rows materialized the default too
    assert(got.filter(col("id") === 6L).head().toSeq == Seq(6L, 12L, 7L))
  }
}
