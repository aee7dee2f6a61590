package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point (driven by perfbench/run.py).
  *
  *   --mode fixtures --data DIR
  *       generate the input tiers once (see [[Fixtures]]).
  *   --mode train --data DIR --out DIR
  *       run one pass of each workload on the sf0.001 tier (the JVM's
  *       class-data archive is recorded from this run).
  *   --mode run --workload W --seed N --seconds S --trace 0|1
  *       --data DIR --out DIR [--setups K] [--small 1]
  *       start a session K times (the last one is kept), run one
  *       warm-up pass, then run workload passes in a closed loop until
  *       S seconds have passed (at least two passes; three when traced).
  *       With --trace 1, untraced and traced passes alternate so the
  *       tracing overhead can be read off.
  *       Writes result.json (and spans.json when traced) to --out.
  */
object Main {
  def cores: Int = Runtime.getRuntime.availableProcessors

  def session(app: String): SparkSession = {
    val s = SparkSession.builder().appName(app)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def loadAvg: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Executor storage still held by cached or checkpointed RDDs. */
  def storageMb(s: SparkSession): Double =
    s.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    a.getOrElse("mode", "run") match {
      case "fixtures" => Fixtures.generate(a("data"))
      case "train" =>
        Seq("report_lineitem", "store_ingest", "registry_sample").foreach {
          name =>
            val spark = session("perfbench-train")
            val w = Workloads(name, 0L, a("data"), s"${a("out")}/$name",
              small = true)
            w.prepare(spark)
            w.pass(new Ctx(spark, new Tracer(spark)))
            stopSession(spark)
        }
      case "run" => run(a)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }

  def run(a: Map[String, String]): Unit = {
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val out = a("out")
    new File(out).mkdirs()
    val w = Workloads(a("workload"), seed, a("data"), out,
      small = a.getOrElse("small", "0") == "1")
    val loadBefore = loadAvg

    // set-up: K session starts (each up to its first job), then one
    // warm-up pass in the last session
    val sessionS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to a.getOrElse("setups", "3").toInt).foreach { _ =>
      if (spark != null) stopSession(spark)
      val t0 = System.nanoTime()
      spark = session("perfbench")
      spark.range(1).count()
      sessionS += secondsSince(t0)
    }
    w.prepare(spark)
    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, tracer)
    ctx.pass = -1
    val warm0 = System.nanoTime()
    w.warm(ctx)
    val warmS = secondsSince(warm0)

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val storage0 = storageMb(spark)
    val gc0 = gcSeconds
    val t0 = System.nanoTime()
    // traced runs alternate untraced and traced passes, starting and
    // ending untraced, so a drift in pass time cancels in the overhead.
    // Untraced runs time at least two passes: the pass after the warm-up
    // is still the slowest (JIT), and a run whose pass count depends on
    // the box's speed of the moment reports a median that jumps.
    val minPasses = if (trace) 3 else 2
    while (passes.size < minPasses || secondsSince(t0) < seconds) {
      val traced = trace && passes.size % 2 == 1
      tracer.setActive(traced)
      ctx.pass = passes.size
      val start = tracer.now
      val p0 = System.nanoTime()
      tracer.span("pass", "index" -> ctx.pass)(w.pass(ctx))
      passes += Map("index" -> ctx.pass, "traced" -> traced,
        "wall_s" -> secondsSince(p0), "start" -> start, "end" -> tracer.now)
      if (traced) tracer.span("extras", "index" -> ctx.pass)(w.traceExtras(ctx))
    }
    tracer.setActive(false)
    val measuredS = secondsSince(t0)
    val gcS = gcSeconds - gc0
    val retained = storageMb(spark) - storage0
    val checks = w.checks(spark)

    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    def write(name: String, v: Any): Unit = Files.writeString(
      Paths.get(out, name), mapper.writeValueAsString(v))
    write("result.json", Map(
      "workload" -> a("workload"), "seed" -> seed, "trace" -> trace,
      "primary" -> w.primary, "session_s" -> sessionS.toSeq,
      "warm_s" -> warmS,
      "measured_s" -> measuredS, "passes" -> passes.toSeq,
      "ops" -> ctx.ops.toSeq.map(o => Map("pass" -> o.pass,
        "kind" -> o.kind, "name" -> o.name, "rows" -> o.rows,
        "wall_s" -> o.wallS, "ok" -> o.ok, "err" -> o.err)),
      "retained_storage_mb" -> retained, "checks" -> checks,
      "env" -> Map("cores" -> cores,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "spark_version" -> spark.version, "gc_s" -> gcS,
        "load_avg_1m_before" -> loadBefore,
        "load_avg_1m_after" -> loadAvg)))
    if (trace) write("spans.json", tracer.toJson)
    stopSession(spark)
  }
}
