package perfbench

import graft.ingest.Mor
import graft.lake.LakeTable
import graft.streaming.StreamIngest
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer

/** A live merge-on-read tail under an open-loop publisher, with a reader
  * beside it. A publisher thread moves pre-generated log segments into the
  * log directory at a fixed rate; `StreamIngest.tail` applies them with the
  * shipped streaming default (MOR appends, async partial folds); the main
  * thread runs a full-table aggregate read of the live table on a fixed
  * schedule. Two threads call the engine: the tail and the reader. */
object TailMor {
  val Repos = 256
  val PathsPerRepo = 256
  val LogPartitions = 4
  /** Segments published before the tail starts (one per log partition, of
    * BacklogEvents each) form the catch-up backlog; live segments that
    * follow carry SegEvents each. */
  val BacklogSegs = LogPartitions
  val BacklogEvents = 8000
  val SegEvents = 3000
  /** Measured pace: one segment and one read per period. */
  val PeriodMs = 1500L
  val WarmupSeconds = 18
  /** A 36k-row table in 8 buckets keeps each bucket near 5k rows. */
  val Buckets = 8
  def stream(seed: Long): Stream =
    Stream(seed, nRepos = Repos, pathsPerRepo = PathsPerRepo, skew = 3.0,
      pInsert = 0.3, pUpdate = 0.6)

  /** First offset (= seq) of segment k. */
  def segStart(k: Long): Long =
    if (k < BacklogSegs) k * BacklogEvents
    else BacklogSegs.toLong * BacklogEvents + (k - BacklogSegs) * SegEvents
  def segMaxOffset(k: Int): Long = segStart(k + 1L) - 1

  /** Segment k belongs to log partition k % 4. */
  def segEvents(s: Stream, k: Long): Iterator[Ev] = {
    val p = (k % LogPartitions).toInt
    (segStart(k) until segStart(k + 1)).iterator.map(i => Gen.skewedEvent(s, p, i, i))
  }

  final case class Published(seg: Int, scheduledMs: Long, lateMs: Long)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val s = stream(ctx.seed)
    val liveSegs = ((WarmupSeconds + ctx.seconds) * 1000L / PeriodMs).toInt + 2
    val nSegs = BacklogSegs + liveSegs
    val staging = ctx.dir("staging")
    Gen.writeSegments(spark, staging, nSegs, byPartition = true)(k => segEvents(s, k))
    val logDir = ctx.dir("log")
    val tableDir = ctx.dir("table")
    val ckpt = ctx.dir("ckpt")
    LakeTable.create(spark, tableDir, numBuckets = Buckets)

    /** Atomically publish segment k: stamp its mtime, then rename it in. */
    def publish(k: Int): Unit = {
      val p = k % LogPartitions
      val src = Gen.parquetFiles(Paths.get(staging, s"partition=$p", s"seg=$k")).head
      val dst = Paths.get(logDir, s"partition=$p", f"seg-$k%06d.parquet")
      Files.createDirectories(dst.getParent)
      Files.setLastModifiedTime(src, java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
      Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
    }
    (0 until BacklogSegs).foreach(publish)

    @volatile var tailFailure: Throwable = null
    val tailThread = new Thread(() =>
      try StreamIngest.tail(spark, logDir, tableDir, ckpt)
      catch { case e: Throwable => tailFailure = e }, "perfbench-tail")
    tailThread.start()
    def fenceCovers(fence: Map[Int, Long], k: Int): Boolean =
      fence.getOrElse(k % LogPartitions, -1L) >= segMaxOffset(k)
    def waitCovered(upTo: Int, timeoutS: Int): Boolean = {
      val deadline = System.nanoTime() + timeoutS * 1000000000L
      var ok = false
      while (!ok && System.nanoTime() < deadline && tailFailure == null) {
        val f = LakeTable.peekSnapshot(tableDir).map(_.fence).getOrElse(Map.empty)
        ok = (math.max(0, upTo - LogPartitions) until upTo).forall(k => fenceCovers(f, k))
        if (!ok) Thread.sleep(50)
      }
      ok
    }
    // The schedule, warm-up and measured window alike: segment i is due at
    // pubDue(i), read j half a period later, so a read meets the table
    // between appends (async folds may still run beside it).
    val startMs = System.currentTimeMillis() + 200
    val warmN = (WarmupSeconds * 1000L / PeriodMs).toInt
    val tm0 = startMs + warmN * PeriodMs
    val tm1 = tm0 + ctx.seconds * 1000L
    def pubDue(i: Int): Long = startMs + i * PeriodMs
    def readDue(j: Int): Long = pubDue(j) + PeriodMs / 2

    // open-loop publisher
    val published = new java.util.concurrent.ConcurrentLinkedQueue[Published]()
    val publisher = new Thread(() => {
      var i = 0
      while (i < liveSegs && pubDue(i) < tm1) {
        val d = pubDue(i)
        val wait = d - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        publish(BacklogSegs + i)
        published.add(Published(BacklogSegs + i, d, System.currentTimeMillis() - d))
        i += 1
      }
    }, "perfbench-publisher")
    publisher.start()

    // the reader: a full-table aggregate on the schedule, timed from its due
    // time; a key returned twice fails the read
    final case class ReadRec(dueMs: Long, ms: Double, rows: Long, deltaRows: Long, ok: Boolean)
    def read(due: Long): ReadRec = {
      val t = LakeTable.load(spark, tableDir)
      val r = Tracer.phase(spark, "read")(
        t.read().agg(count(lit(1)), count_distinct(col("repo"), col("path"))).collect()(0))
      ReadRec(due, (System.currentTimeMillis() - due).toDouble, r.getLong(0), t.snapshot.deltaRows,
        r.getLong(0) == r.getLong(1))
    }
    def readBetween(from: Int, endMs: Long): Seq[ReadRec] = {
      val out = ArrayBuffer.empty[ReadRec]
      var j = from
      while (readDue(j) < endMs && tailFailure == null) {
        val wait = readDue(j) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        out += read(readDue(j))
        j += 1
      }
      out.toSeq
    }
    val warm = readBetween(0, tm0)
    ctx.log(f"warm-up ${warm.size} reads, median ${Stats.median(warm.map(_.ms))}%.0f ms")

    ctx.startTimed()
    val gc0 = Tracer.gcSeconds()
    val folds0 = LakeTable.load(spark, tableDir).snapshot.metrics.getOrElse("morFolds", 0L)
    val reads = readBetween(warmN, tm1)
    val gcS = Tracer.gcSeconds() - gc0
    publisher.join()
    val windowSnap = LakeTable.load(spark, tableDir).snapshot
    val pubs = { import scala.jdk.CollectionConverters._; published.asScala.toSeq.sortBy(_.seg) }
    val lastSeg = (BacklogSegs +: pubs.map(_.seg + 1)).max
    ctx.require(waitCovered(lastSeg, 60), "tail did not apply every published segment")
    // stop an idle tail: let the last micro-batch submit its cadence fold,
    // wait that fold out, then stop (a stop that lands during an async fold
    // cancels the fold's jobs, and the tail then fails)
    Thread.sleep(500)
    graft.ingest.MorFolds.drain(tableDir)
    StreamIngest.requestStop(tableDir)
    tailThread.join(120000)
    ctx.require(!tailThread.isAlive, "tail did not stop")
    if (tailFailure != null) ctx.require(false, s"tail failed: $tailFailure")
    val table = LakeTable.load(spark, tableDir)
    Mor.fold(table)
    val snap = table.refresh()

    // freshness: scheduled publish time to the first snapshot whose fence
    // covers the segment, walking the snapshot log in version order
    // (and the metadata bytes each commit of the window wrote)
    val covered = Array.fill(nSegs)(-1L)
    val commitBytes = ArrayBuffer.empty[Double]
    (1L to snap.version).foldLeft(table.snapshotAt(0L)) { (prev, v) =>
      val sv = table.snapshotAt(v)
      pubs.foreach(p => if (covered(p.seg) < 0 && fenceCovers(sv.fence, p.seg)) covered(p.seg) = sv.tsMillis)
      if (sv.tsMillis >= tm0 && sv.tsMillis < tm1)
        commitBytes += Layers.commitMetadataBytes(table, prev, sv).toDouble
      sv
    }
    val inWindow = pubs.filter(p => p.scheduledMs >= tm0 && p.scheduledMs < tm1)
    inWindow.foreach(p => ctx.op(covered(p.seg) >= 0, s"segment ${p.seg} never became visible"))
    reads.foreach(r => ctx.op(r.ok, s"read due at ${r.dueMs} returned a key twice"))
    val freshness = inWindow.filter(p => covered(p.seg) >= 0).map(p => (covered(p.seg) - p.scheduledMs).toDouble)

    val exp = Checker.expected(spark, logDir)
    Checker.diff(table.read(), snap.fence, exp).foreach(e => ctx.require(false, e))
    val tableBytes = Layers.referencedBytes(table, snap)
    val spaceAmp = tableBytes.toDouble / exp.logicalBytes

    val batches = ctx.progress.list.filter(b => b.tsMs >= tm0 && b.tsMs < tm1 && b.rows > 0)
    def dur(b: ProgressRec, k: String): Double = b.durations.getOrElse(k, 0L).toDouble
    val e2e = Seq(
      ("events_per_s", Stats.median(batches.map(b => b.rows / math.max(1.0, dur(b, "triggerExecution")) * 1e3)), "1/s"),
      ("space_amp", spaceAmp, "ratio"),
      ("write_p50_ms", Stats.median(freshness), "ms"),
      ("read_p50_ms", Stats.median(reads.map(_.ms)), "ms"))
    val layers = ctx.tracer.toSeq.flatMap { tr =>
      val st = tr.stageList.filter(x => x.startMs >= tm0 && x.endMs <= tm1)
      val jobs = tr.jobList.filter(j => j.startMs >= tm0 && j.endMs <= tm1)
      val batchIds = batches.map(_.batchId).toSet
      val streamJobs = jobs.filter(j => !j.fold && batchIds.contains(j.streamBatch))
      val streamStages = st.filter(x => !x.fold && batchIds.contains(x.streamBatch))
      val readStages = st.filter(_.phase == "read")
      val rows = batches.map(_.rows).sum
      // publish times in the window against the times their segments became visible
      val backlog = inWindow.map { p =>
        pubs.count(q => q.scheduledMs <= p.scheduledMs && (covered(q.seg) < 0 || covered(q.seg) > p.scheduledMs))
      }
      val folds1 = windowSnap.metrics.getOrElse("morFolds", 0L)
      Stats.ingestLayers(streamStages, rows) ++ Seq(
        ("log.list_ms_p50", Stats.median(batches.map(b => dur(b, "latestOffset") + dur(b, "getBatch"))), "ms"),
        ("ingest.jobs_per_batch", streamJobs.size.toDouble / math.max(1, batches.size), "count"),
        ("ingest.driver_ms_p50", Stats.median(batches.map { b =>
          dur(b, "addBatch") - Stats.busyMs(streamJobs.filter(_.streamBatch == b.batchId)) }), "ms"),
        ("ingest.mor_append_ms_p50", Stats.median(batches.map(dur(_, "addBatch"))), "ms"),
        ("ingest.mor_folds", (folds1 - folds0).toDouble, "count"),
        ("ingest.mor_fold_task_s", st.filter(_.fold).map(_.runS).sum, "s"),
        ("lake.snapshot_files", (windowSnap.files.size + windowSnap.deltaFiles.size).toDouble, "count"),
        ("lake.manifest_bytes_per_commit", Stats.median(commitBytes.toSeq), "B"),
        ("lake.table_bytes", tableBytes.toDouble, "B"),
        ("lake.morread_delta_rows_p50", Stats.median(reads.map(_.deltaRows.toDouble)), "rows"),
        ("lake.morread_shuffle_bytes_per_read", readStages.map(_.shWrite).sum.toDouble / math.max(1, reads.size), "B"),
        ("lake.morread_rows_scanned_per_row",
          readStages.map(_.inRecords).sum.toDouble / math.max(1L, reads.map(_.rows).sum), "ratio"),
        ("streaming.trigger_ms_p50", Stats.median(batches.map(dur(_, "triggerExecution"))), "ms"),
        ("streaming.trigger_ms_p75", Stats.p75(batches.map(dur(_, "triggerExecution"))), "ms"),
        ("streaming.wal_ms_p50", Stats.median(batches.map(b => dur(b, "walCommit") + dur(b, "commitOffsets"))), "ms"),
        ("streaming.rows_per_batch_p50", Stats.median(batches.map(_.rows.toDouble)), "rows"),
        ("streaming.backlog_segments_max", if (backlog.isEmpty) 0.0 else backlog.max.toDouble, "count"),
        ("bench.publish_late_ms_max", if (inWindow.isEmpty) 0.0 else inWindow.map(_.lateMs).max.toDouble, "ms"),
        ("jvm.gc_s", gcS, "s"))
    }
    ctx.log("freshness ms: " + freshness.map(_.toLong).mkString(" ") +
      "; read ms: " + reads.map(_.ms.toLong).mkString(" "))
    ctx.log(f"segments=${inWindow.size} freshness p50=${Stats.median(freshness)}%.0f p75=${Stats.p75(freshness)}%.0f ms " +
      f"reads=${reads.size} p50=${Stats.median(reads.map(_.ms))}%.0f p75=${Stats.p75(reads.map(_.ms))}%.0f ms " +
      f"batches=${batches.size} late max=${if (inWindow.isEmpty) 0 else inWindow.map(_.lateMs).max} ms " +
      f"rows=${exp.rows} spaceAmp=$spaceAmp%.3f")
    Outcome(e2e, layers)
  }
}
