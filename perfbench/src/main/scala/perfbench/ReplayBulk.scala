package perfbench

import graft.ingest.Ingest
import graft.lake.LakeTable
import graft.log.ChangeLog
import scala.collection.mutable.ArrayBuffer

/** Repeated catch-up replays of one pre-written changelog into a fresh
  * 64-bucket copy-on-write table (closed loop, one client thread). Each
  * replay is followed by one full-table aggregate read of the table it
  * produced; both are timed, neither overlaps the other. */
object ReplayBulk {
  val Events = 300000L
  val LogPartitions = 4
  val FilesPerPartition = 4
  def stream(seed: Long): Stream =
    Stream(seed, nRepos = 1000, pathsPerRepo = 64, skew = 3.0, pInsert = 0.6, pUpdate = 0.25)

  /** Global event indices that carry the DDL script, evenly spaced. */
  def ddlAt(n: Long): Map[Long, Ddl] =
    Gen.DdlScript.zipWithIndex.map { case (d, i) => (n * (i + 1) / (Gen.DdlScript.size + 1)) -> d }.toMap

  def writeLog(ctx: Ctx, dir: String, n: Long): Unit = {
    val s = stream(ctx.seed)
    val nFiles = LogPartitions * FilesPerPartition
    val per = n / nFiles
    val ddls = ddlAt(n)
    Gen.writeFiles(ctx.spark, dir, nFiles) { f =>
      val p = (f % LogPartitions).toInt
      (f * per until (f + 1) * per).iterator.map { i =>
        ddls.get(i) match {
          case Some(d) => Gen.ddlEvent(p, i, i, d)
          case None => Gen.skewedEvent(s, p, i, i)
        }
      }
    }
  }


  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val logDir = ctx.dir("log")
    writeLog(ctx, logDir, Events)
    // the checker's expected state, computed beside the (untimed) warm-up
    val expected = scala.concurrent.Future(Checker.expected(spark, logDir))(
      scala.concurrent.ExecutionContext.global)
    val log = ChangeLog.readDF(spark, logDir)
    var n = 0
    def freshTable(): LakeTable = {
      n += 1
      LakeTable.create(spark, ctx.dir(s"tables/t$n"), numBuckets = 64)
    }
    def drop(t: LakeTable): Unit =
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t.dir))
    def replay(): (LakeTable, Double) = {
      val t = freshTable()
      val t0 = System.nanoTime()
      Tracer.phase(spark, "write")(Ingest.replayLog(t, log))
      (t, (System.nanoTime() - t0) / 1e6)
    }
    // the read a consumer makes: one full-table aggregate, whose row count
    // and fingerprint are checked against the checker
    def read(t: LakeTable): ((Long, Long), Double) = {
      val t0 = System.nanoTime()
      val r = Tracer.phase(spark, "read")(Checker.fingerprint(LakeTable.load(spark, t.dir).read()))
      (r, (System.nanoTime() - t0) / 1e6)
    }
    def metadataOk(t: LakeTable, exp: Expected): Boolean = {
      val s = t.refresh()
      s.fence == exp.fence && t.read().schema.fields.map(f => f.name -> f.dataType).toSeq == exp.columns
    }

    // warm-up: untimed replay + read until replay times level off
    val warm = Warmup.until(minRounds = 5, maxRounds = 6) {
      val (t, ms) = replay(); read(t); drop(t); ms
    }
    ctx.log(f"warm-up ${warm.size} rounds: ${warm.map(x => f"$x%.0f").mkString(" ")} ms")

    val exp = scala.concurrent.Await.result(expected, scala.concurrent.duration.Duration.Inf)
    ctx.startTimed()
    val replayMs = ArrayBuffer.empty[Double]
    val readMs = ArrayBuffer.empty[Double]
    val gc0 = Tracer.gcSeconds()
    val tMeasure = System.currentTimeMillis()
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var last: LakeTable = null
    while (System.nanoTime() < deadline) {
      if (last != null) drop(last)
      val (t, ms) = replay()
      val (r, rms) = read(t)
      replayMs += ms; readMs += rms
      ctx.op(metadataOk(t, exp), s"replay ${replayMs.size}: fence or schema differs from the checker")
      ctx.op(r == (exp.rows, exp.keyHashSum), s"read ${readMs.size}: rows or fingerprint differ")
      last = t
    }
    val gcS = Tracer.gcSeconds() - gc0
    val tEnd = System.currentTimeMillis()

    // full check of the last replay, and the checker's self-test against it
    val snap = last.refresh()
    val table = last.read()
    Checker.diff(table, snap.fence, exp).foreach(e => ctx.require(false, e))
    // the checker's self-test rides the traced run: its corruptions of this
    // table must each be rejected
    if (ctx.tracer.isDefined) Checker.selfTest(table, snap.fence, exp)
      .foreach(c => ctx.require(false, s"checker accepted a corrupted table ($c)"))
    val tableBytes = Layers.referencedBytes(last, snap)
    val spaceAmp = tableBytes.toDouble / exp.logicalBytes

    val e2e = Seq(
      ("events_per_s", Events / (Stats.median(replayMs.toSeq) / 1e3), "1/s"),
      ("space_amp", spaceAmp, "ratio"),
      ("write_p50_ms", Stats.median(replayMs.toSeq), "ms"),
      ("read_p50_ms", Stats.median(readMs.toSeq), "ms"))
    val layers = ctx.tracer.toSeq.flatMap { tr =>
      val st = tr.stageList.filter(s => s.startMs >= tMeasure && s.endMs <= tEnd)
      val writes = st.filter(_.phase == "write")
      val jobs = tr.jobList.filter(j => j.startMs >= tMeasure && j.endMs <= tEnd && j.phase == "write")
      Stats.ingestLayers(writes, Events * replayMs.size) ++ Seq(
        ("ingest.jobs_per_batch", jobs.size.toDouble / replayMs.size, "count"),
        ("lake.snapshot_files", (snap.files.size + snap.deltaFiles.size).toDouble, "count"),
        ("lake.table_bytes", tableBytes.toDouble, "B"),
        ("jvm.gc_s", gcS, "s"))
    }
    ctx.log(f"replays=${replayMs.size} median=${Stats.median(replayMs.toSeq)}%.0f ms " +
      f"read median=${Stats.median(readMs.toSeq)}%.0f ms rows=${exp.rows} spaceAmp=$spaceAmp%.3f")
    Outcome(e2e, layers)
  }
}
