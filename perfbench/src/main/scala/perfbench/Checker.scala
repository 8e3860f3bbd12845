package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Expected table state, computed with plain Spark from the generated log
  * files alone, with no call into the engine: the last-writer-wins winner
  * per (repo, path) by `seq` with deleted keys dropped, the schema the log's
  * DDL events evolve, and the per-partition maximum offset (the fence). */
final case class Expected(
    winners: DataFrame, // repo, path, seq, sha, h, rowBytes
    columns: Seq[(String, DataType)],
    fence: Map[Int, Long],
    rows: Long,
    logicalBytes: Long,
    keyHashSum: Long,
    /** a key whose last event is a delete, if the log has one */
    deletedKey: Option[(String, String)])

object Checker {

  val BaseColumns: Seq[(String, DataType)] =
    Seq("repo", "path", "commit", "lang", "content").map(_ -> StringType)

  private val ddlType: Map[String, DataType] = Map(
    "int" -> IntegerType, "long" -> LongType, "string" -> StringType,
    "double" -> DoubleType)

  /** Fold DDL events (in `seq` order) over the base columns. */
  def evolve(ddls: Seq[Ddl]): Seq[(String, DataType)] =
    ddls.foldLeft(BaseColumns) { (cols, d) =>
      d.kind match {
        case "add_column" => cols :+ (d.column -> ddlType(d.toType))
        case "widen_type" => cols.map { case (n, t) => if (n == d.column) n -> ddlType(d.toType) else n -> t }
        case "rename_column" => cols.map { case (n, t) => if (n == d.column) d.newName -> t else n -> t }
        case other => throw new IllegalArgumentException(s"unknown DDL kind $other")
      }
    }

  /** Per-row hash whose sum over a row set is an order-independent
    * fingerprint (40 bits per row, so sums of 2^20 rows cannot overflow). */
  def rowHash(repo: org.apache.spark.sql.Column, path: org.apache.spark.sql.Column,
      content: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    shiftrightunsigned(xxhash64(repo, path, content), 24)

  /** The columns of generated events the checker uses, from a read of log
    * files (the log partition may be a path or a data column). */
  def events(files: DataFrame): DataFrame =
    files.select(col("partition").cast(IntegerType).as("partition"), col("offset"), col("seq"),
      col("op"), col("repo"), col("path"), col("after"), col("ddl"))

  def expected(spark: SparkSession, dir: String): Expected =
    expected(events(spark.read.parquet(dir)))

  def expected(ev: DataFrame): Expected = {
    val last = ev.filter(col("op").isin("insert", "update", "delete"))
      .groupBy(col("repo"), col("path"))
      .agg(max_by(struct(col("seq"), col("op"), col("after.content").as("content"),
        col("after.commit").as("commit"), col("after.lang").as("lang")), col("seq")).as("w"))
      .select(col("repo"), col("path"), col("w.seq").as("seq"), col("w.op").as("op"),
        sha2(col("w.content"), 256).as("sha"),
        rowHash(col("repo"), col("path"), col("w.content")).as("h"),
        (octet_length(col("repo")) + octet_length(col("path")) + octet_length(col("w.commit")) +
          octet_length(col("w.lang")) + octet_length(col("w.content"))).as("rowBytes"))
      .localCheckpoint(true)
    val live = col("op") =!= "delete"
    val a = last.agg(
      count_if(live), sum(when(live, col("rowBytes"))), sum(when(live, col("h"))),
      min(when(!live, struct(col("repo"), col("path"))))).collect()(0)
    val n = a.getLong(0)
    val deletedKey = Option(a.getStruct(3)).map(r => r.getString(0) -> r.getString(1))
    // one scan for the fence and the DDL script
    val perPartition = ev.groupBy(col("partition")).agg(max(col("offset")),
      collect_list(when(col("op") === "ddl", struct(col("seq"), col("ddl"))))).collect()
    val ddls = perPartition.flatMap(_.getSeq[org.apache.spark.sql.Row](2)).sortBy(_.getLong(0))
      .map { r => val d = r.getStruct(1)
        Ddl(d.getString(0), d.getString(1), d.getString(2), d.getString(3), d.getString(4)) }
    Expected(last.filter(live).drop("op"), evolve(ddls.toSeq),
      perPartition.map(r => r.getInt(0) -> r.getLong(1)).toMap, n,
      if (n == 0) 0L else a.getLong(1), if (n == 0) 0L else a.getLong(2), deletedKey)
  }

  /** Every difference between `table` (the rows a reader sees) with `fence`
    * and the expected state; empty means the table matches. */
  def diff(table: DataFrame, fence: Map[Int, Long], exp: Expected): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val cols = table.schema.fields.map(f => f.name -> f.dataType).toSeq
    if (cols != exp.columns)
      errs += s"columns ${fmt(cols)} != expected ${fmt(exp.columns)}"
    if (fence != exp.fence) errs += s"fence $fence != expected ${exp.fence}"
    if (table.columns.contains("content")) {
      val got = table.select(col("repo"), col("path"), sha2(col("content"), 256).as("sha"))
      val j = got.as("g").join(exp.winners.as("e"),
        col("g.repo") === col("e.repo") && col("g.path") === col("e.path"), "full_outer")
      val r = j.agg(
        count(lit(1)).as("n"),
        sum(when(col("e.repo").isNull, 1L).otherwise(0L)).as("extra"),
        sum(when(col("g.repo").isNull, 1L).otherwise(0L)).as("missing"),
        sum(when(col("g.repo").isNotNull && col("e.repo").isNotNull &&
          col("g.sha") =!= col("e.sha"), 1L).otherwise(0L)).as("shaDiff")).collect()(0)
      val dups = got.groupBy(col("repo"), col("path")).count().filter(col("count") > 1).count()
      if (!r.isNullAt(1) && r.getLong(1) > 0) errs += s"${r.getLong(1)} keys present that should not be"
      if (!r.isNullAt(2) && r.getLong(2) > 0) errs += s"${r.getLong(2)} expected keys missing"
      if (!r.isNullAt(3) && r.getLong(3) > 0) errs += s"${r.getLong(3)} rows with wrong content"
      if (dups > 0) errs += s"$dups keys returned more than once"
    } else errs += "no content column"
    errs.result()
  }

  private def fmt(c: Seq[(String, DataType)]): String =
    c.map { case (n, t) => s"$n:${t.simpleString}" }.mkString("[", ",", "]")

  /** Count and fingerprint of a table's rows — the cheap per-operation check
    * (one aggregate job) used between full [[diff]]s. */
  def fingerprint(table: DataFrame): (Long, Long) = {
    val r = table.agg(count(lit(1)), sum(rowHash(col("repo"), col("path"), col("content"))))
      .collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** The checker's self-test: three corruptions of a table that matches
    * `exp` must each be rejected. Returns the corruptions the checker failed
    * to reject. */
  def selfTest(table: DataFrame, fence: Map[Int, Long], exp: Expected): Seq[String] = {
    val evolved = exp.columns.map(_._1).filterNot(n => BaseColumns.exists(_._1 == n))
    require(evolved.nonEmpty && exp.deletedKey.nonEmpty,
      "self-test needs a log with an evolved column and a deleted key")
    val deletedKey = exp.deletedKey.get
    val one = table.orderBy(col("repo"), col("path")).limit(1)
      .select(col("repo"), col("path")).collect()(0)
    val isOne = col("repo") === one.getString(0) && col("path") === one.getString(1)
    val altered = table.withColumn("content",
      when(isOne, concat(col("content"), lit("!"))).otherwise(col("content")))
    val template = table.limit(1)
    val resurrected = table.unionByName(template
      .withColumn("repo", lit(deletedKey._1)).withColumn("path", lit(deletedKey._2)))
    val corruptions = Seq("altered content" -> altered,
      "resurrected deleted key" -> resurrected,
      "evolved column missing" -> table.drop(evolved.head))
    corruptions.collect { case (name, df) if diff(df, fence, exp).isEmpty => name }
  }
}
