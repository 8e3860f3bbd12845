package perfbench

import graft.lake.{LakeTable, Snapshot}

object Layers {
  /** Every per-layer metric of the benchmark's workloads, in report order,
    * with its unit. A workload whose layers do not run reports 0 for it;
    * metrics a workload reports beyond these follow them. */
  val All: Seq[(String, String)] = Seq(
    "log.scan_rows_per_event" -> "rows",
    "log.list_ms_p50" -> "ms",
    "ingest.map_cpu_s_per_mevent" -> "s",
    "ingest.dedup_shuffle_bytes_per_event" -> "B",
    "ingest.merge_cpu_s_per_mevent" -> "s",
    "ingest.merge_bytes_written_per_event" -> "B",
    "ingest.merge_rows_rewritten_per_event" -> "rows",
    "ingest.jobs_per_batch" -> "count",
    "ingest.driver_ms_p50" -> "ms",
    "ingest.mor_append_ms_p50" -> "ms",
    "ingest.mor_folds" -> "count",
    "ingest.mor_fold_task_s" -> "s",
    "lake.snapshot_files" -> "count",
    "lake.manifest_bytes_per_commit" -> "B",
    "lake.table_bytes" -> "B",
    "lake.morread_delta_rows_p50" -> "rows",
    "lake.morread_shuffle_bytes_per_read" -> "B",
    "lake.morread_rows_scanned_per_row" -> "ratio",
    "streaming.trigger_ms_p50" -> "ms",
    "streaming.trigger_ms_p75" -> "ms",
    "streaming.wal_ms_p50" -> "ms",
    "streaming.rows_per_batch_p50" -> "rows",
    "streaming.backlog_segments_max" -> "count",
    "bench.publish_late_ms_max" -> "ms",
    "jvm.gc_s" -> "s")

  def complete(got: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val m = got.map(x => x._1 -> x._2).toMap
    All.map { case (n, u) => (n, m.getOrElse(n, 0.0), u) } ++
      got.filterNot(x => All.exists(_._1 == x._1))
  }

  /** Bytes on disk of the data files snapshot `s` references. */
  def referencedBytes(t: LakeTable, s: Snapshot): Long =
    (s.files ++ s.deltaFiles).iterator.map { f =>
      if (f.bytes > 0) f.bytes else java.nio.file.Files.size(java.nio.file.Paths.get(t.resolve(f.path)))
    }.sum

  /** Bytes of metadata commit `v` wrote: its snapshot file plus the manifest
    * files it references that its parent did not. */
  def commitMetadataBytes(t: LakeTable, parent: Snapshot, s: Snapshot): Long = {
    val old = parent.manifests.iterator.map(_.path).toSet
    val snapFile = java.nio.file.Paths.get(t.dir, "snapshots", f"v${s.version}%012d.json")
    val snapBytes = if (java.nio.file.Files.exists(snapFile)) java.nio.file.Files.size(snapFile) else 0L
    snapBytes + s.manifests.filterNot(m => old.contains(m.path)).map(m =>
      if (m.bytes > 0) m.bytes else java.nio.file.Files.size(java.nio.file.Paths.get(t.dir, m.path))).sum
  }
}
