package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** JVM side of the workload benchmark.
  *
  * `Harness <manifest.json> <run.json> <out.json>`: the manifest is the
  * generated input (tables, request plan or landing batches), `run.json`
  * holds the run settings. The harness sets up, measures for the given
  * number of seconds, runs the workload's correctness gate outside the
  * timed region, and writes raw samples to `out.json`. Percentiles and the
  * per-layer tables are computed by `perfbench/stats.py`.
  */
object Harness {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val manifest = mapper.readTree(new File(args(0)))
    val run = mapper.readTree(new File(args(1)))
    // The deployment shape: no oracle-canonicalization sort (see Core.canonSort).
    System.setProperty("graft.canon.sort", "false")
    val ctx = new Ctx(run, manifest)
    val workload: Workload = manifest.get("workload").asText match {
      case "api_mix" => new ApiMix(ctx)
      case "dex_ingest_rollup" => new DexIngestRollup(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    // Set-up, three times: the first from JVM start (class loading, JIT),
    // the next two from a stopped session. Each ends after the workload's
    // warm-up operation. stats.py reports the median.
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      if (i > 1) ctx.restart()
      workload.warmup()
      if (i == 1) (System.currentTimeMillis() - jvmStartMs) / 1e3
      else (System.nanoTime() - t0) / 1e9
    }
    out("setup_s") = setups
    out("host") = ctx.host()
    val phases = scala.collection.mutable.LinkedHashMap("setup_end" -> ctx.now())
    workload.prime()
    phases("prime_end") = ctx.now()
    out ++= workload.measure()
    phases("measure_end") = ctx.now()
    ctx.drainListener()
    if (ctx.traced) {
      out("spans") = ctx.tracer.spans.asScala.toSeq.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "req" -> s.req, "name" -> s.name,
        "start" -> ctx.rel(s.startNs), "end" -> ctx.rel(s.endNs)))
      out("layer_counts") = ctx.listener.snapshot
    }
    out("peak_rss_mb") = Host.peakRssMb()
    out ++= workload.gate()
    phases("gate_end") = ctx.now()
    out("phases") = phases
    ctx.spark.stop()
    Files.write(new File(args(2)).toPath,
      Json.write(out.toMap).getBytes(StandardCharsets.UTF_8))
  }
}

/** One workload: warm-up (part of set-up), priming, measurement, gate. */
trait Workload {
  def warmup(): Unit
  def prime(): Unit
  def measure(): Map[String, Any]
  def gate(): Map[String, Any]
}

/** Session, tracer and listener shared by a workload's phases. */
final class Ctx(val run: JsonNode, val manifest: JsonNode) {
  val nproc: Int = run.get("nproc").asInt
  val seconds: Double = run.get("seconds").asDouble
  val traced: Boolean = run.get("trace").asInt == 1
  val runDir: String = run.get("run_dir").asText
  val dataDir: String = manifest.get("data").asText
  val t0Ns: Long = System.nanoTime()
  var spark: SparkSession = newSession()
  val tracer = new Tracer(() => spark.sparkContext)
  val listener = new LayerListener
  attach()

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def attach(): Unit =
    if (traced) spark.sparkContext.addSparkListener(listener)

  def restart(): Unit = {
    spark.stop()
    spark = newSession()
    attach()
  }

  def drainListener(): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Seconds since the harness started. */
  def rel(ns: Long): Double = (ns - t0Ns) / 1e9
  def now(): Double = rel(System.nanoTime())

  /** Dispatch-floor sentinel, as in `graft.Bench`: a 5-row scan plus a
    * scalar count through the noop sink, min of two after one warm call. */
  def sentinel(): Double = {
    def once(): Double = {
      val t = System.nanoTime()
      graft.Tables.region(spark, dataDir).agg(count(lit(1)))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t) / 1e9
    }
    once()
    math.min(once(), once())
  }

  def host(): Map[String, Any] = Map(
    "nproc" -> nproc,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
    "jdk" -> System.getProperty("java.version"),
    "spark" -> spark.version,
    "sentinel_s" -> sentinel())

  /** `f` over `items` on nproc threads, results in input order. */
  def par[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nproc)
    try items.map(a => pool.submit(new java.util.concurrent.Callable[B] {
      def call(): B = f(a)
    })).map(_.get())
    finally pool.shutdown()
  }

  /** Time `body` as layer call `name` of the current request. */
  def layer[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** The read path of one request: build → plan → execute → driver.
    * The driver step renders the rows as the response body and digests
    * it, order-insensitively; returns (row count, digest). */
  def collect(build: => DataFrame): (Int, String) = {
    val df = layer("queries.build")(build)
    layer("plans.plan")(df.queryExecution.executedPlan)
    val rows = layer("exec")(df.collect())
    layer("driver.collect")((rows.length, Ctx.digest(rows.map(_.mkString("\u0001")))))
  }
}

object Ctx {
  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)

  def digest(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.sorted.foreach { r =>
      md.update(r.getBytes(StandardCharsets.UTF_8)); md.update(0.toByte)
    }
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }
}

object Host {
  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Minimal JSON writer for the raw result (maps, sequences, scalars). */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb.append('"')
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"')
    }
    def go(x: Any): Unit = x match {
      case null => sb.append("null")
      case s: String => str(s)
      case b: Boolean => sb.append(b)
      case d: Double =>
        if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
      case n: Number => sb.append(n.toString)
      case m: scala.collection.Map[_, _] =>
        sb.append('{')
        m.zipWithIndex.foreach { case ((k, y), i) =>
          if (i > 0) sb.append(',')
          str(k.toString); sb.append(':'); go(y)
        }
        sb.append('}')
      case s: Iterable[_] =>
        sb.append('[')
        s.zipWithIndex.foreach { case (y, i) => if (i > 0) sb.append(','); go(y) }
        sb.append(']')
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
