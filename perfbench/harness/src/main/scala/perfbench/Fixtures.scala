package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One-time input tiers, generated by the program's own `graft.GenSf`
  * into the benchmark's data directory:
  *  - `sf0.01`: all ten tables (the catalog and registry tier);
  *  - `sf0.1`: lineitem, 600k rows (the report_lineitem and store tier);
  *  - `sf0.001`: a key-range cut of `sf0.01` (the self-test tier; GenSf's
  *    smallest scale is sf0.01). Orders and lineitem are cut on the same
  *    order keys, so joins between them keep their matches. */
object Fixtures {
  val LargeRows = 600000L

  /** Key predicates cutting each sf0.01 table to its sf0.001 size. */
  private val Cut: Map[String, String] = Map(
    "customer" -> "c_custkey < 150", "supplier" -> "s_suppkey < 10",
    "part" -> "p_partkey < 200", "orders" -> "o_orderkey < 1500",
    "lineitem" -> "l_orderkey < 1500", "events" -> "event_id < 1000")

  def generate(data: String): Unit = {
    graft.GenSf.main(Array(s"$data/sf0.01", "1", "closed"))
    graft.GenSf.main(Array(s"$data/sf0.1", "10", "closed", "lineitem"))
    val spark = Main.session("perfbench-fixtures")
    try {
      Workloads.Tables.foreach { t =>
        val df = spark.read.parquet(s"$data/sf0.01/$t.parquet")
        Cut.get(t).fold(df)(p => df.where(p)).coalesce(1)
          .write.mode("overwrite").parquet(s"$data/sf0.001/$t.parquet")
      }
      requireLarge(spark, s"$data/sf0.1/lineitem.parquet", LargeRows,
        s"$data/sf0.01/lineitem.parquet")
    } finally spark.stop()
  }

  /** Refuse, loudly, a large tier that is missing or not what the
    * report_lineitem workload is defined on. */
  def requireLarge(spark: SparkSession, path: String, rows: Long,
      schemaOf: String): Unit = {
    if (!new java.io.File(path).exists())
      throw new IllegalStateException(
        s"report_lineitem: fixture tier $path is missing")
    val df: DataFrame = spark.read.parquet(path)
    val want = spark.read.parquet(schemaOf).schema
    if (df.schema != want)
      throw new IllegalStateException(s"report_lineitem: $path schema " +
        s"${df.schema.simpleString} differs from ${want.simpleString}")
    val n = df.select(col(df.columns.head)).count()
    if (n != rows)
      throw new IllegalStateException(
        s"report_lineitem: $path has $n rows, expected $rows")
  }
}
