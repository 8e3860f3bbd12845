package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Row image and DDL payload of a generated change event. Field names and
  * types follow the change-log file contract the engine reads
  * (`repo, path, commit, lang, content`; `kind, column, newName, fromType,
  * toType`). */
final case class Img(repo: String, path: String, commit: String, lang: String, content: String)
final case class Ddl(kind: String, column: String, newName: String, fromType: String, toType: String)

/** One change event as written to a log file. */
final case class Ev(
    partition: Int, offset: Long, seq: Long, ts: java.sql.Timestamp, op: String,
    repo: String, path: String, before: Option[Img], after: Option[Img], ddl: Option[Ddl])

/** Key universe and draw rules of one generated stream. Every event is a pure
  * function of (seed, seq), so the same seed gives byte-identical log files
  * under any Spark parallelism.
  *
  * @param nRepos       repos in the key universe
  * @param pathsPerRepo paths per repo (keys = nRepos * pathsPerRepo)
  * @param skew         hot-repo skew: repo = floor(nRepos * u^skew)
  * @param pInsert      share of inserts; pUpdate updates; the rest deletes
  * @param contentLen   approximate content length in characters
  */
final case class Stream(
    seed: Long, nRepos: Int, pathsPerRepo: Int, skew: Double,
    pInsert: Double, pUpdate: Double, contentLen: Int = 160)

object Gen {
  private val langs = Array("scala", "go", "py", "rs", "java", "md", "c", "ts")
  private val words = Array(
    "def", "val", "match", "case", "class", "object", "import", "return",
    "stream", "merge", "commit", "offset", "schema", "table", "event",
    "partition", "replay", "upsert", "lineage", "fence", "snapshot", "fold")

  /** SplitMix64 finalizer. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def draw(seed: Long, stream: Long, i: Long): Long =
    mix64(mix64(seed * 31 + stream) ^ i)
  def uniform(seed: Long, stream: Long, i: Long): Double =
    (draw(seed, stream, i) >>> 11) * 1.1102230246251565e-16
  def below(seed: Long, stream: Long, i: Long, n: Int): Int =
    java.lang.Long.remainderUnsigned(draw(seed, stream, i), n.toLong).toInt

  private def pad(i: Int, width: Int): String = {
    val s = Integer.toString(i)
    if (s.length >= width) s else "0" * (width - s.length) + s
  }
  def repoName(i: Int): String = "org/project-" + pad(i, 5)
  def pathName(i: Int): String = "src/dir" + pad(i % 16, 2) + "/file-" + pad(i, 5) + ".txt"
  private def hex16(z: Long): String = {
    val s = java.lang.Long.toHexString(z)
    "0" * (16 - s.length) + s
  }

  /** Epoch of generated event timestamps (2024-01-01 UTC). */
  val Epoch = 1704067200000L

  def content(s: Stream, repo: String, path: String, seq: Long): String = {
    val sb = new StringBuilder(s.contentLen + 48)
    sb.append("// ").append(repo).append('/').append(path).append(" @").append(seq).append('\n')
    var i = 0L
    while (sb.length < s.contentLen) {
      sb.append(words(below(s.seed, 9, seq * 64 + i, words.length))).append(' ')
      i += 1
    }
    sb.result()
  }

  private def image(s: Stream, repo: String, path: String, seq: Long, stream: Long): Img =
    Img(repo, path, hex16(draw(s.seed, stream, seq)),
      langs(math.abs((repo + path).hashCode % langs.length)), content(s, repo, path, seq))

  /** Row event at `seq` for key (repoIdx, pathIdx) with op drawn from the mix
    * (or forced by `forceOp`). */
  def rowEvent(s: Stream, partition: Int, offset: Long, seq: Long,
      repoIdx: Int, pathIdx: Int, forceOp: String = null): Ev = {
    val repo = repoName(repoIdx)
    val path = pathName(pathIdx)
    val op = if (forceOp != null) forceOp else {
      val u = uniform(s.seed, 3, seq)
      if (u < s.pInsert) "insert" else if (u < s.pInsert + s.pUpdate) "update" else "delete"
    }
    val ts = new java.sql.Timestamp(Epoch + seq)
    val after = if (op == "delete") None else Some(image(s, repo, path, seq, 4))
    // key-only before-image, as a source that logs only the replica identity
    // sends it; keyed merges need nothing more
    val before = if (op == "insert") None else Some(Img(repo, path, null, null, null))
    Ev(partition, offset, seq, ts, op, repo, path, before, after, None)
  }

  /** Skewed random key: hot repos by the power law, paths uniform. */
  def skewedEvent(s: Stream, partition: Int, offset: Long, seq: Long): Ev = {
    val u = uniform(s.seed, 1, seq)
    val repoIdx = math.min(s.nRepos - 1, (s.nRepos * math.pow(u, s.skew)).toInt)
    rowEvent(s, partition, offset, seq, repoIdx, below(s.seed, 2, seq, s.pathsPerRepo))
  }

  def ddlEvent(partition: Int, offset: Long, seq: Long, op: Ddl): Ev =
    Ev(partition, offset, seq, new java.sql.Timestamp(Epoch + seq), "ddl",
      null, null, None, None, Some(op))

  /** The scripted schema evolution replay logs carry, in order: add an int
    * column, widen it to long, rename it. */
  val DdlScript: Seq[Ddl] = Seq(
    Ddl("add_column", "x0", null, null, "int"),
    Ddl("widen_type", "x0", null, "int", "long"),
    Ddl("rename_column", "x0", "y0", null, null))

  private val imgType = StructType(Seq("repo", "path", "commit", "lang", "content")
    .map(StructField(_, StringType)))
  /** The change-log file schema. Events go to Spark as plain rows under it,
    * so writing them needs no reflection-derived encoder. */
  val schema: StructType = StructType(Seq(
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("ts", TimestampType),
    StructField("op", StringType),
    StructField("repo", StringType),
    StructField("path", StringType),
    StructField("before", imgType),
    StructField("after", imgType),
    StructField("ddl", StructType(Seq("kind", "column", "newName", "fromType", "toType")
      .map(StructField(_, StringType))))))

  def toRow(e: Ev): Row = {
    def img(i: Option[Img]): Row = i.map(x => Row(x.repo, x.path, x.commit, x.lang, x.content)).orNull
    Row(e.partition, e.offset, e.seq, e.ts, e.op, e.repo, e.path, img(e.before), img(e.after),
      e.ddl.map(d => Row(d.kind, d.column, d.newName, d.fromType, d.toType)).orNull)
  }

  /** Events of `n` groups, group g generated by one task. */
  private def frame(spark: SparkSession, n: Int, slices: Int)(events: Long => Iterator[Ev]): DataFrame = {
    val rows = spark.sparkContext.range(0L, n.toLong, 1L, slices)
      .flatMap(g => events(g).map(e => Row.fromSeq(toRow(e).toSeq :+ g)))
    spark.createDataFrame(rows, schema.add(StructField("g", LongType, nullable = false)))
  }

  /** Write one log file per index f < nFiles: events `events(f)` all belong
    * to one log partition and carry increasing offsets. One task per file
    * writes exactly one Parquet file under `dir/partition=N/`. */
  def writeFiles(spark: SparkSession, dir: String, nFiles: Int)(events: Long => Iterator[Ev]): Unit =
    frame(spark, nFiles, nFiles)(events).drop("g")
      .write.mode("overwrite").partitionBy("partition").parquet(dir)

  /** Write many small segments in one job: segment k's events land in
    * `dir/partition=N/seg=k/` when `byPartition` (the log partition moves
    * into the path, as in a log directory), else in `dir/seg=k/` (it stays a
    * data column). */
  def writeSegments(spark: SparkSession, dir: String, nSegs: Int, byPartition: Boolean)(
      events: Long => Iterator[Ev]): Unit = {
    val cols = if (byPartition) Seq("partition", "seg") else Seq("seg")
    frame(spark, nSegs, 8)(events).withColumnRenamed("g", "seg")
      .write.mode("overwrite").partitionBy(cols: _*).parquet(dir)
  }

  /** The Parquet files of segment directory `dir`. */
  def parquetFiles(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(java.nio.file.Files.list(dir))(
      _.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList)
  }
}
