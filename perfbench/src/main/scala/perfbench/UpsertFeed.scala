package perfbench

import graft.ingest.Ingest
import graft.lake.{ChangeFeed, LakeTable}
import graft.model.Schemas
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** A base table of about a million keys takes a long series of small,
  * skewed update/delete batches through copy-on-write `Ingest.applyBatch`
  * (closed loop, one client thread). After each batch, a derived-table
  * consumer reads the change feed of the window that batch committed. */
object UpsertFeed {
  val Repos = 1024
  val PathsPerRepo = 256
  val BaseFiles = 16
  val LogPartitions = 4
  val BatchEvents = 24
  /** Pre-generated batches; a run applies as many as fit in its time. */
  val Batches = 300
  /** Rows per data file: small files let a batch rewrite only the files
    * holding its keys. */
  val TargetFileRows = 1024L
  def stream(seed: Long): Stream =
    Stream(seed, nRepos = Repos, pathsPerRepo = PathsPerRepo, skew = 4.0,
      pInsert = 0.05, pUpdate = 0.8)
  def nKeys: Long = Repos.toLong * PathsPerRepo
  def partitionOf(repoIdx: Int): Int = repoIdx % LogPartitions

  /** Batch event `j` of batch `b` (seq and offset continue after the base). */
  def batchEvent(s: Stream, b: Long, j: Int): Ev = {
    val seq = nKeys + b * BatchEvents + j
    val u = Gen.uniform(s.seed, 1, seq)
    val repoIdx = math.min(Repos - 1, (Repos * math.pow(u, s.skew)).toInt)
    Gen.rowEvent(s, partitionOf(repoIdx), seq, seq, repoIdx, Gen.below(s.seed, 2, seq, PathsPerRepo))
  }

  final case class Change(op: String, seq: Long, sha: String)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val s = stream(ctx.seed)
    val baseDir = ctx.dir("base")
    // base: one insert per key. Repo r belongs to log partition r % 4; file
    // f holds the (f / 4)-th quarter of partition f % 4's repos, so offsets
    // (= seq = key index) rise within each partition.
    val reposPerFile = Repos / BaseFiles
    Gen.writeFiles(spark, baseDir, BaseFiles) { f =>
      val p = (f % LogPartitions).toInt
      val q = (f / LogPartitions).toInt
      (0 until reposPerFile).iterator.map(i => (q * reposPerFile + i) * LogPartitions + p)
        .flatMap(r => (0 until PathsPerRepo).iterator.map { path =>
          val k = r.toLong * PathsPerRepo + path
          Gen.rowEvent(s, p, k, k, r, path, forceOp = "insert")
        })
    }
    // the fence the base load must leave: the last key of each partition
    val baseFence = (0 until LogPartitions).map(p =>
      p -> ((Repos - LogPartitions + p).toLong * PathsPerRepo + PathsPerRepo - 1)).toMap
    val batchRoot = ctx.dir("batches")
    Gen.writeSegments(spark, batchRoot, Batches, byPartition = false) { b =>
      (0 until BatchEvents).iterator.map(j => batchEvent(s, b, j))
    }
    val table = LakeTable.create(spark, ctx.dir("table"), numBuckets = 64, targetFileRows = TargetFileRows)
    Ingest.replayLog(table, spark.read.schema(Schemas.changeEvent).parquet(baseDir))

    // the checker's running state: keys whose state a batch changed, as
    // Some(seq) while live and None once deleted; every other key holds its
    // base row
    val changed = mutable.HashMap.empty[(String, String), Option[Long]]
    def live(k: (String, String)): Boolean = changed.getOrElse(k, Some(0L)).isDefined

    /** The net change batch `b` must show in the feed, updating the state. */
    def expectedChanges(b: Int): Map[(String, String), Change] = {
      val winners = (0 until BatchEvents).map(j => batchEvent(s, b, j))
        .groupBy(e => (e.repo, e.path)).map { case (k, es) => k -> es.maxBy(_.seq) }
      winners.flatMap { case (k, e) =>
        val was = live(k)
        changed(k) = if (e.op == "delete") None else Some(e.seq)
        if (e.op == "delete") { if (was) Some(k -> Change("delete", e.seq, null)) else None }
        else Some(k -> Change(if (was) "update" else "insert", e.seq, sha256(e.after.get.content)))
      }
    }

    val fence = mutable.HashMap.empty[Int, Long]
    var applied = 0
    val applyMs = ArrayBuffer.empty[Double]
    val feedMs = ArrayBuffer.empty[Double]
    val filesRewritten = ArrayBuffer.empty[Double]
    val feedFiles = ArrayBuffer.empty[Double]
    val feedRowsRead = ArrayBuffer.empty[Double]
    val feedChanges = ArrayBuffer.empty[Double]
    val applyWindows = ArrayBuffer.empty[(Long, Long)]
    val commitBytes = ArrayBuffer.empty[Double]
    var measuring = false

    /** Apply the next batch, read its change-feed window, check both. */
    def step(): (Double, Double) = {
      val b = applied
      val batch = spark.read.schema(Schemas.changeEvent).parquet(s"$batchRoot/seg=$b")
      val before = table.refresh()
      val t0 = System.nanoTime(); val w0 = System.currentTimeMillis()
      Tracer.phase(spark, "write")(Ingest.applyBatch(table, batch, before.committedBatchId + 1))
      val aMs = (System.nanoTime() - t0) / 1e6
      val w1 = System.currentTimeMillis()
      val after = table.refresh()
      val t1 = System.nanoTime()
      val (feed, stats) = Tracer.phase(spark, "feed") {
        val (df, st) = ChangeFeed.changesBetweenWithStats(table, before.version, after.version)
        (df.withColumn("sha", sha2(col("content"), 256))
          .select(col("repo"), col("path"), col(ChangeFeed.OpColName), col("_seq"), col("sha"))
          .collect(), st)
      }
      val fMs = (System.nanoTime() - t1) / 1e6
      applied += 1
      (0 until BatchEvents).foreach { j =>
        val e = batchEvent(s, b, j)
        fence(e.partition) = math.max(fence.getOrElse(e.partition, -1L), e.offset)
      }
      val exp = expectedChanges(b)
      val got = feed.map(r => (r.getString(0), r.getString(1)) ->
        Change(r.getString(2), if (r.isNullAt(3)) -1L else r.getLong(3),
          if (r.getString(2) == "delete") null else r.getString(4))).toMap
      if (measuring) {
        ctx.op(after.fence == baseFence ++ fence, s"batch $b: fence ${after.fence}")
        ctx.op(got == exp && feed.length == got.size,
          s"feed window $b: ${got.size} changes, expected ${exp.size}; " +
            s"differ on ${(got.keySet ++ exp.keySet).count(k => got.get(k) != exp.get(k))} keys")
        val oldPaths = before.files.iterator.map(_.path).toSet
        val newPaths = after.files.iterator.map(_.path).toSet
        filesRewritten += oldPaths.count(p => !newPaths.contains(p)).toDouble
        feedFiles += (stats.oldFilesRead + stats.newFilesRead).toDouble
        feedRowsRead += stats.rowsInScope.toDouble
        feedChanges += got.size.toDouble
        applyWindows += ((w0, w1))
        commitBytes += Layers.commitMetadataBytes(table, before, after).toDouble
      }
      (aMs, fMs)
    }

    val warm = Warmup.until(minRounds = 10, maxRounds = 40)(step()._1)
    ctx.log(f"warm-up ${warm.size} batches: ${warm.map(x => f"$x%.0f").mkString(" ")} ms")

    ctx.startTimed()
    measuring = true
    val gc0 = Tracer.gcSeconds()
    val tMeasure = System.currentTimeMillis()
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    while (System.nanoTime() < deadline && applied < Batches) {
      val (a, f) = step()
      applyMs += a; feedMs += f
    }
    val tEnd = System.currentTimeMillis()
    val gcS = Tracer.gcSeconds() - gc0
    ctx.require(applied < Batches, s"ran out of pre-generated batches ($Batches)")

    // final check: the table against the checker over base + applied batches
    val snap = table.refresh()
    val evs = Checker.events(spark.read.parquet(baseDir)).unionByName(
      Checker.events(spark.read.parquet(batchRoot).filter(col("seg") < applied)))
    val exp = Checker.expected(evs)
    Checker.diff(table.read(), snap.fence, exp).foreach(e => ctx.require(false, e))
    val tableBytes = Layers.referencedBytes(table, snap)
    val spaceAmp = tableBytes.toDouble / exp.logicalBytes
    val events = applyMs.size.toLong * BatchEvents

    val e2e = Seq(
      ("events_per_s", BatchEvents / (Stats.median(applyMs.toSeq) / 1e3), "1/s"),
      ("space_amp", spaceAmp, "ratio"),
      ("write_p50_ms", Stats.median(applyMs.toSeq), "ms"),
      ("read_p50_ms", Stats.median(feedMs.toSeq), "ms"))
    val layers = ctx.tracer.toSeq.flatMap { tr =>
      val st = tr.stageList.filter(x => x.startMs >= tMeasure && x.endMs <= tEnd)
      val jobs = tr.jobList.filter(j => j.startMs >= tMeasure && j.endMs <= tEnd)
      val writeJobs = jobs.filter(_.phase == "write")
      Stats.ingestLayers(st.filter(_.phase == "write"), events) ++ Seq(
        ("ingest.merge_files_rewritten_p50", Stats.median(filesRewritten.toSeq), "count"),
        ("ingest.jobs_per_batch", writeJobs.size.toDouble / applyMs.size, "count"),
        ("ingest.driver_ms_p50", Stats.median(applyWindows.toSeq.map { case (a, b) =>
          Stats.idleMs(writeJobs, a, b) }), "ms"),
        ("lake.snapshot_files", (snap.files.size + snap.deltaFiles.size).toDouble, "count"),
        ("lake.manifest_bytes_per_commit", Stats.median(commitBytes.toSeq), "B"),
        ("lake.table_bytes", tableBytes.toDouble, "B"),
        ("lake.changefeed_rows_read_per_change", feedRowsRead.sum / math.max(1.0, feedChanges.sum), "ratio"),
        ("lake.changefeed_files_read_p50", Stats.median(feedFiles.toSeq), "count"),
        ("jvm.gc_s", gcS, "s"))
    }
    ctx.log(f"batches=${applyMs.size} apply median=${Stats.median(applyMs.toSeq)}%.0f ms " +
      f"feed median=${Stats.median(feedMs.toSeq)}%.0f ms rows=${exp.rows} spaceAmp=$spaceAmp%.3f " +
      f"filesRewritten=${Stats.median(filesRewritten.toSeq)}%.0f")
    Outcome(e2e, layers)
  }

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
}
