package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What every workload gets: the session, the recorder, its seed and a
  * scratch root inside the run directory. */
final class Ctx(val spark: SparkSession, val rec: Recorder, val seed: Long,
    val root: String) {
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  /** Workload-specific end-to-end figures, such as bytes per row. */
  val extras = mutable.LinkedHashMap.empty[String, Double]
  /** Directories a check outside the JVM reads. */
  val paths = mutable.LinkedHashMap.empty[String, String]

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))

  /** Old-generation occupancy after the latest collection, in MB; after
    * a full collection this is the live heap. */
  def oldGenAfterGcMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        p.getName.contains("Old"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed / 1048576.0)
      .sum
}

/** One closed-loop workload. `setup` builds everything the timed loop
  * reads into a fresh `dir` and is repeated to measure set-up time;
  * `prepare` resets per-pass state outside the timed region; `pass` runs
  * one fixed sequence of timed operations; `check` verifies outputs. */
trait Workload {
  /** Input sizes and shares, recorded with every result. */
  def inputs: Map[String, Any]
  def setup(ctx: Ctx, dir: String): Unit
  def warmup(ctx: Ctx): Unit
  def prepare(ctx: Ctx): Unit = ()
  /** Timed passes a run makes at least, whatever `--seconds` says. */
  def minPasses: Int = 1
  def pass(ctx: Ctx): Unit
  def check(ctx: Ctx): Unit
}

/** perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --root DIR --out FILE
  * Runs one workload and writes its raw record (operations, checks,
  * environment and, when tracing, spans and listener events) to FILE. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val name = a("--workload")
    val seed = a("--seed").toLong
    val seconds = a("--seconds").toDouble
    val trace = a("--trace") == "1"
    val root = a("--root")
    val cpus = Runtime.getRuntime.availableProcessors()
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadBefore = os.getSystemLoadAverage

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.sql.catalog.g", classOf[graft.catalog.GraftCatalog].getName)
      .config("spark.sql.catalog.g.warehouse", s"$root/catalog")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(spark)
    val ctx = new Ctx(spark, rec, seed, root)
    val w: Workload = name match {
      case "curate_batch" => new CurateBatch
      case "manifest_rw" => new ManifestRw
      case other => sys.error(s"unknown workload $other")
    }

    def secs(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    // set-up runs three times into fresh directories, so its median is
    // steady; the last one serves
    val setupS = (1 to 3).map(i => secs(w.setup(ctx, s"$root/setup$i")))
    val jobs0 = rec.jobCount.get
    val warmupS = secs(w.warmup(ctx))
    val warmupJobs = rec.jobCount.get - jobs0

    // timed region: whole passes until `seconds` have been spent
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    def runPass(traced: Boolean): Map[String, Any] = {
      w.prepare(ctx)
      val j0 = rec.jobCount.get
      val first = rec.ops.length
      rec.tracing = traced
      val t0 = Clock.ms
      val c0 = Clock.cpuS
      rec.span(s"$name.pass")(_ => w.pass(ctx))
      val t1 = Clock.ms
      val cpu = Clock.cpuS - c0
      rec.tracing = false
      Map("start_ms" -> t0, "wall_s" -> (t1 - t0) / 1e3, "cpu_s" -> cpu,
        "jobs" -> (rec.jobCount.get - j0), "traced" -> traced,
        "ops" -> rec.ops.slice(first, rec.ops.length).map(o => Seq(o.kind,
          o.span, o.name, (o.endMs - o.startMs) / 1e3, o.ok)))
    }
    val timed0 = System.nanoTime()
    while (passes.size < w.minPasses || (System.nanoTime() - timed0) / 1e9 < seconds)
      passes += runPass(traced = false)
    System.gc() // a full collection: what stays is what the timed region kept live
    val heapMb = ctx.oldGenAfterGcMb
    if (trace) passes += runPass(traced = true)

    w.check(ctx)
    val env = Map("nproc" -> cpus, "loadavg_before" -> loadBefore,
      "loadavg_after" -> os.getSystemLoadAverage,
      "spark_version" -> spark.version,
      "jvm_version" -> System.getProperty("java.vm.version"),
      "seed" -> seed, "seconds" -> seconds, "trace" -> trace)
    spark.stop() // drains the listener bus before the trace is read
    val record = Map("workload" -> name, "env" -> env, "inputs" -> w.inputs,
      "setup_s" -> setupS, "warmup_s" -> warmupS, "warmup_jobs" -> warmupJobs,
      "heap_after_gc_mb" -> heapMb, "passes" -> passes,
      "checks" -> ctx.checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "extras" -> ctx.extras, "paths" -> ctx.paths,
      "trace" -> (if (trace) rec.traceJson else null))
    val out = new java.io.PrintWriter(a("--out"), "UTF-8")
    try out.write(Json(record)) finally out.close()
  }
}
