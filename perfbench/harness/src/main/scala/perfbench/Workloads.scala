package perfbench

import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{ProfileReport, SparkEntry}
import graft.profiler.{ProfileStore, TableProfile}
import graft.report.HtmlReport

/** One timed call into the program. */
final case class Op(pass: Int, kind: String, name: String, rows: Long,
    wallS: Double, ok: Boolean, err: String)

/** What a workload pass needs: the session, the tracer and the op log. */
final class Ctx(val spark: SparkSession, val tracer: Tracer) {
  val ops = mutable.ArrayBuffer.empty[Op]
  var pass = 0

  def span[T](name: String, attrs: (String, Any)*)(body: => T): T =
    tracer.span(name, attrs: _*)(body)

  /** Time one call; a throwing call is recorded as failed, not fatal. */
  def op(kind: String, name: String, rows: Long)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    val (ok, err) =
      try { span(kind, "name" -> name, "rows" -> rows)(body); (true, "") }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $kind $name failed: $e")
        (false, String.valueOf(e.getMessage).take(500))
      }
    val wallS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] pass $pass $kind $name $wallS%.3f s")
    ops += Op(pass, kind, name, rows, wallS, ok, err)
  }
}

abstract class Workload {
  /** The op kind whose latency is the workload's per-op metric. */
  def primary: String
  /** Per-run input preparation (seeded splits, row counts); untimed. */
  def prepare(spark: SparkSession): Unit = ()
  /** One pass of the workload's calls. */
  def pass(ctx: Ctx): Unit
  /** One warm-up pass, part of set-up (`ctx.pass` is negative). */
  def warm(ctx: Ctx): Unit = pass(ctx)
  /** Extra spans for a traced pass, outside the pass's wall time. */
  def traceExtras(ctx: Ctx): Unit = ()
  /** Data for the output checks, gathered after the timed passes. */
  def checks(spark: SparkSession): Map[String, Any]
}

object Workloads {
  val Tables = Seq("region", "nation", "supplier", "customer",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** `small` runs every workload on the sf0.001 tier (the self-test);
    * otherwise each runs on its own tier. */
  def apply(name: String, seed: Long, data: String, out: String,
      small: Boolean): Workload = {
    val smallTier = s"$data/sf0.001"
    val tier = if (small) smallTier else s"$data/sf0.01"
    name match {
      case "report_lineitem" =>
        if (small)
          new ReportWorkload("lineitem", s"$smallTier/lineitem.parquet")
        else
          new ReportWorkload("lineitem", s"$data/sf0.1/lineitem.parquet",
            Some((Fixtures.LargeRows, s"$data/sf0.01/lineitem.parquet")))
      case "store_ingest" =>
        new StoreWorkload(seed, if (small) s"$smallTier/lineitem.parquet"
          else s"$data/sf0.1/lineitem.parquet", out)
      case "registry_sample" =>
        new RegistryWorkload(seed, tier, out)
      case other =>
        throw new IllegalArgumentException(s"unknown workload '$other'")
    }
  }

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The profile fields that must equal a plain aggregate over the
    * same input: n, and per column count, missing, exact distinct and
    * the exact numeric / date statistics. */
  def exactFields(p: TableProfile): Map[String, Any] = Map(
    "n" -> p.n,
    "columns" -> p.columns.map { c =>
      Map("name" -> c.name, "kind" -> c.kind, "count" -> c.count,
        "missing" -> c.missing, "distinct" -> c.distinct,
        "stats" -> c.stats.filter { case (k, _) =>
          Set("min", "max", "sum", "dmn", "dmx")(k) })
    })

  def rowCount(spark: SparkSession, path: String): Long =
    spark.read.parquet(path).count()

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.startsWith(".") || f.getName == "_SUCCESS") 0L
    else f.length()

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** A noop-sink full scan of one input: the floor under any pass that
    * reads it. */
  def scan(ctx: Ctx, table: String, path: String, rows: Long): Unit =
    ctx.span("scan", "table" -> table, "rows" -> rows) {
      ctx.spark.read.parquet(path).write.format("noop").mode("overwrite")
        .save()
    }
}

/** `ProfileReport(df).html` of one table; `expect` is the (row count,
  * schema source) the table must match. */
final class ReportWorkload(table: String, path: String,
    expect: Option[(Long, String)] = None) extends Workload {
  def primary = "report"
  private var rows = 0L
  private var frame: DataFrame = _
  private var lastDesc: Option[TableProfile] = None
  private var digests = Set.empty[String]
  private var exact = Map.empty[String, Any]
  private var htmlBytes = 0L

  override def prepare(spark: SparkSession): Unit = {
    expect.foreach { case (n, schemaOf) =>
      Fixtures.requireLarge(spark, path, n, schemaOf) }
    rows = Workloads.rowCount(spark, path)
    frame = spark.read.parquet(path)
  }

  def pass(ctx: Ctx): Unit = ctx.op("report", table, rows) {
    val r = ProfileReport(frame)
    val desc = ctx.span("describe", "table" -> table)(r.getDescription)
    val html = ctx.span("html", "table" -> table)(r.html)
    lastDesc = Some(desc)
    digests += Workloads.sha256(html)
    htmlBytes = html.getBytes("UTF-8").length.toLong
    if (exact.isEmpty) exact = Workloads.exactFields(desc)
  }

  override def traceExtras(ctx: Ctx): Unit = {
    Workloads.scan(ctx, table, path, rows)
    lastDesc.foreach { d =>
      ctx.span("render", "table" -> table,
        "bytes" -> htmlBytes)(HtmlReport.render(d, "perfbench"))
    }
  }

  def checks(spark: SparkSession): Map[String, Any] = Map(
    "kind" -> "report", "table" -> table,
    "path" -> new File(path).getAbsolutePath, "rows" -> rows,
    "digests" -> digests.toSeq, "exact" -> exact)
}

/** The `ProfileStore` lifecycle over one table split by a seeded hash
  * into 4 batches: create from the first, append the other three, then
  * merge, render and drift (first two batches against the last two)
  * from stored state only. */
final class StoreWorkload(seed: Long, source: String, out: String)
    extends Workload {
  def primary = "append"
  private val Batches = 4
  private val batchDir = s"$out/batches"
  private val batchRows = mutable.Map.empty[Int, Long]
  private var batches = Seq.empty[DataFrame]
  private var merged: Option[TableProfile] = None
  private val stateBytes = mutable.Map.empty[Int, Long]

  private def split(df: DataFrame, n: Int): Column =
    pmod(xxhash64(df.columns.map(col).toSeq :+ lit(seed): _*), lit(n))

  /** The lifecycle over `batches`, each call a timed op. */
  private def lifecycle(ctx: Ctx, path: String): Option[TableProfile] = {
    def step[T](kind: String, name: String, rows: Long)(f: => T): Option[T] = {
      var r: Option[T] = None
      ctx.op(kind, name, rows)({ r = Some(f) })
      r
    }
    val spark = ctx.spark
    val ids = batches.indices.map(i => f"b$i%02d")
    step("create", ids(0), batchRows(0)) {
      ProfileStore.writeSnapshot(batches(0), path, ids(0)) }
    batches.indices.tail.foreach { i =>
      step("append", ids(i), batchRows(i)) {
        ProfileStore.appendSnapshot(batches(i), path, ids(i)) }
    }
    val p = step("merge", "storeProfile", 0L) {
      ProfileStore.storeProfile(spark, path) }
    step("store_render", "htmlFromStore", 0L) {
      ProfileStore.htmlFromStore(spark, path) }
    val (a, b) = ids.splitAt(ids.size / 2)
    step("drift", "driftReport", 0L) {
      ProfileStore.driftReport(spark, path, a, b).collect() }
    p
  }

  override def prepare(spark: SparkSession): Unit = {
    val df = spark.read.parquet(source)
    df.withColumn("__b", split(df, Batches)).repartition(1)
      .write.mode("overwrite").partitionBy("__b").parquet(batchDir)
    batches = (0 until Batches).map(i =>
      spark.read.parquet(s"$batchDir/__b=$i"))
    batches.zipWithIndex.foreach { case (b, i) => batchRows(i) = b.count() }
  }

  def pass(ctx: Ctx): Unit = {
    val path = s"$out/store-${ctx.pass}"
    val p = lifecycle(ctx, path)
    if (merged.isEmpty) merged = p
    stateBytes(ctx.pass) = Workloads.dirBytes(new File(path))
    Workloads.deleteTree(new File(path))
  }

  override def traceExtras(ctx: Ctx): Unit =
    Workloads.scan(ctx, "lineitem", source, batchRows.values.sum)

  def checks(spark: SparkSession): Map[String, Any] = Map(
    "kind" -> "store", "path" -> new File(source).getAbsolutePath,
    "rows" -> batchRows.values.sum,
    "state_bytes" -> stateBytes.map { case (k, v) => k.toString -> v },
    "exact" -> merged.map(Workloads.exactFields).getOrElse(Map.empty))
}

/** One query from each registry family that has its own per-layer
  * metric (the middle one in name order), each built and then
  * `collect()`ed; the seed sets the order they run in. */
final class RegistryWorkload(seed: Long, tier: String, out: String)
    extends Workload {
  def primary = "query"
  private val queries = SparkEntry.queries
  private val oracle = SparkEntry.oracleSql

  val sample: Seq[String] = {
    val names = queries.keys.toSeq.sorted
    new scala.util.Random(seed).shuffle(RegistryWorkload.Families.map { f =>
      val qs = names.filter(_.takeWhile(_ != '_') == f)
      qs(qs.size / 2)
    })
  }
  private val inputTables = mutable.Map.empty[String, Set[String]]
  private val tableRows = mutable.Map.empty[String, Long]
  private val results = mutable.Map.empty[String, (StructType, Array[Row])]

  /** Tables a query's plan reads, by file name. */
  private def tablesOf(df: DataFrame): Set[String] =
    df.queryExecution.analyzed.collectWithSubqueries {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation =>
          h.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
        case _ => Nil
      }
    }.flatten.toSet

  override def prepare(spark: SparkSession): Unit =
    Workloads.Tables.foreach { t =>
      tableRows(t) = Workloads.rowCount(spark, s"$tier/$t.parquet") }

  def pass(ctx: Ctx): Unit =
    sample.foreach { q =>
      // input rows: the rows of the tables the query's plan scans
      val rows = inputTables.getOrElse(q, Set.empty).toSeq
        .map(tableRows.getOrElse(_, 0L)).sum
      ctx.op("query", q, rows) {
        val df = ctx.span("build", "name" -> q)(queries(q)(ctx.spark, tier))
        val result = ctx.span("collect", "name" -> q)(df.collect())
        if (!results.contains(q)) results(q) = (df.schema, result)
      }
    }

  /** The warm-up pass runs the sample one query per thread: it mostly
    * compiles plans, and so uses every core. */
  override def warm(ctx: Ctx): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(sample.size)
    try {
      sample.map { q =>
        q -> pool.submit(new java.util.concurrent.Callable[DataFrame] {
          def call(): DataFrame = {
            val df = queries(q)(ctx.spark, tier)
            df.collect()
            df
          }
        })
      }.foreach { case (q, f) =>
        ctx.op("query", q, 0L) { inputTables(q) = tablesOf(f.get()) } }
    } finally pool.shutdown()
  }

  override def traceExtras(ctx: Ctx): Unit =
    inputTables.values.flatten.toSeq.distinct.sorted.foreach { t =>
      Workloads.scan(ctx, t, s"$tier/$t.parquet", tableRows(t)) }

  def checks(spark: SparkSession): Map[String, Any] = {
    val cases = sample.filter(q => oracle.contains(q) && results.contains(q))
      .map { q =>
        val (schema, rows) = results(q)
        val path = s"$out/results/$q"
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(path)
        Map("query" -> q, "path" -> new File(path).getAbsolutePath,
          "sql" -> oracle(q))
      }
    Map("kind" -> "registry", "tier" -> new File(tier).getAbsolutePath,
      "tables" -> Workloads.Tables, "sample" -> sample,
      "oracle" -> cases)
  }
}

object RegistryWorkload {
  /** Families with their own per-layer wall-time metric. */
  val Families = Seq("text", "dedup", "embed", "pipeline", "corpus")
}
