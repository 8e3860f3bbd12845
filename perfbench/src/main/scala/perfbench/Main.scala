package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Everything a workload needs: the session, its seed and run length, a work
  * directory inside the checkout, and the tracer when the run is traced. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val work: String, val tracer: Option[Tracer], val progress: ProgressLog) {

  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  /** Set-up seconds: process start to the first timed operation. */
  var setupS: Double = Double.NaN
  def startTimed(): Unit = if (setupS.isNaN) setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

  val checks = ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; checks += what }
  }
  /** A check of the final state: a failure makes the run incorrect. */
  def require(ok: Boolean, what: => String): Unit = if (!ok) checks += s"FINAL: $what"
  def correct: Boolean = !checks.exists(_.startsWith("FINAL: "))

  def log(msg: String): Unit = System.err.println(
    f"[perfbench ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%6.1fs] $msg")

  def dir(name: String): String = {
    val p = java.nio.file.Paths.get(work, name)
    java.nio.file.Files.createDirectories(p.getParent)
    p.toString
  }
}

/** A run's outcome: end-to-end metrics (untraced run) and per-layer metrics
  * (traced run), each as name -> (value, unit). */
final case class Outcome(e2e: Seq[(String, Double, String)], layers: Seq[(String, Double, String)])

object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a.getOrElse("trace", "0") == "1"
    val work = a("work")
    val result = a("result")
    val cpus = "4" // the benchmark's fixed parallelism: local[4]
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", "33554432")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.io.compression.codec", "zstd")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val ctx = new Ctx(spark, seed, seconds, work, tracer, progress)
    val out =
      try workload match {
        case "replay_bulk" => ReplayBulk.run(ctx)
        case "tail_mor" => TailMor.run(ctx)
        case "upsert_feed" => UpsertFeed.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } finally spark.stop()
    ctx.checks.foreach(c => ctx.log(s"check failed: $c"))
    val e2e = ("setup_s", ctx.setupS, "s") +: out.e2e
    def obj(ms: Seq[(String, Double, String)]): String =
      ms.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
        .mkString("{", ", ", "}")
    val json = s"""{"correct": ${ctx.correct}, "attempted": ${ctx.attempted}, """ +
      s""""failed": ${ctx.failed}, "e2e": ${obj(e2e)}, "layers": ${obj(Layers.complete(out.layers))}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(result), json)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

object Stats {
  /** Linear-interpolated quantile of `xs` at `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def p75(xs: Seq[Double]): Double = quantile(xs, 0.75)

  /** Per-layer figures from the stages of ingest calls (folds excluded):
    * rows the log scans read, CPU and shuffle bytes of the dedup map stages
    * (shuffle writers that read no shuffle), CPU of the merge stages
    * (shuffle readers) and what they wrote. `events` is the number of events
    * those stages applied. */
  def ingestLayers(stages: Seq[StageRec], events: Long): Seq[(String, Double, String)] = {
    val ev = math.max(1L, events).toDouble
    val ingest = stages.filter(!_.fold)
    val map = ingest.filter(s => s.shWrite > 0 && s.shRead == 0)
    val merge = ingest.filter(s => s.shRead > 0)
    Seq(
      ("log.scan_rows_per_event", ingest.map(_.inRecords).sum / ev, "rows"),
      ("ingest.map_cpu_s_per_mevent", map.map(_.cpuS).sum / ev * 1e6, "s"),
      ("ingest.dedup_shuffle_bytes_per_event", map.map(_.shWrite).sum / ev, "B"),
      ("ingest.merge_cpu_s_per_mevent", merge.map(_.cpuS).sum / ev * 1e6, "s"),
      ("ingest.merge_bytes_written_per_event", ingest.map(_.outBytes).sum / ev, "B"),
      ("ingest.merge_rows_rewritten_per_event", ingest.map(_.outRecords).sum / ev, "rows"))
  }

  /** Milliseconds during which at least one job of `jobs` was running. */
  def busyMs(jobs: Seq[JobRec]): Double =
    if (jobs.isEmpty) 0.0 else {
      val t0 = jobs.map(_.startMs).min; val t1 = jobs.map(_.endMs).max
      (t1 - t0) - idleMs(jobs, t0, t1)
    }

  /** Milliseconds of [t0, t1] during which no job of `jobs` was running. */
  def idleMs(jobs: Seq[JobRec], t0: Long, t1: Long): Double = {
    val iv = jobs.filter(j => j.endMs >= t0 && j.startMs <= t1)
      .map(j => (math.max(t0, j.startMs), math.min(t1, j.endMs))).sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    (t1 - t0 - busy).toDouble
  }
}

object Warmup {
  /** Repeat `f` (which returns a duration) at least `minRounds` times, then
    * until the last three durations lie within 10% of their median, or
    * `maxRounds` is reached. Returns the durations. */
  def until(minRounds: Int, maxRounds: Int)(f: => Double): Seq[Double] = {
    val xs = scala.collection.mutable.ArrayBuffer.empty[Double]
    def level: Boolean = xs.size >= math.max(3, minRounds) && {
      val l = xs.takeRight(3)
      (l.max - l.min) <= 0.1 * Stats.median(l.toSeq)
    }
    while (xs.size < maxRounds && !level) xs += f
    xs.toSeq
  }
}
