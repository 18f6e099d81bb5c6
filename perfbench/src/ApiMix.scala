package perfbench

import java.util.concurrent.{Callable, Executors, Future, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, max, max_by, unix_micros}

import graft.{SparkEntry, Tables}
import graft.operators.{Ohlcv, Relational}
import graft.plans.AsOf

/** Serving traffic. Independent users page through trades and candles: the
  * parameterised requests built from the public operators arrive as an
  * open loop at a fixed rate. Dashboard clients refresh the catalog's
  * serving entries and pages: the full mix runs as a closed loop with
  * `nproc` clients.
  */
final class ApiMix(ctx: Ctx) extends Workload {
  private def nodes(key: String): IndexedSeq[JsonNode] =
    ctx.manifest.get(key).elements().asScala.toIndexedSeq
  // Both plans are sequences of shuffled rounds holding every request type
  // in the same proportion; each phase sends whole rounds, so every seed
  // measures the same mix.
  private val plan = nodes("requests")
  private val openPlan = nodes("open_requests")
  private val openRate = ctx.run.get("open_rate").asDouble
  private val openRequests = ctx.run.get("open_requests").asInt
  private val round = ctx.run.get("round").asInt
  private val closedRequests = round * ctx.run.get("closed_rounds").asInt
  private val maxReplays = ctx.run.get("max_replays").asInt
  private val catalog: Seq[String] =
    ctx.run.get("catalog").elements().asScala.map(_.asText).toSeq
  /** Request ids of the open loop, apart from the closed loop's plan indexes. */
  private val openIds = 1000000

  /** One request's frame. Parameterised types follow the serving routes:
    * a keyset page of trades, one pool's candles at a timeframe, and a
    * page of trades enriched by the as-of join. */
  private def build(r: JsonNode): DataFrame = {
    val (s, d) = (ctx.spark, ctx.dataDir)
    r.get("type").asText match {
      case "keyset" =>
        Relational.keysetPage(
          Tables.events(s, d).select(col("event_id"), col("user_id"),
            col("event_type"), col("value")),
          "event_id", r.get("last_seen").asLong, r.get("n").asInt)
      case "candles" =>
        val ticks = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .withColumn("pool_id", col("user_id") % r.get("pools").asLong)
          .filter(col("pool_id") === r.get("pool").asLong)
        Ohlcv.candles(ticks, Seq("pool_id"), col("ts"), col("event_id"),
          col("value"), col("value"), r.get("tf").asLong)
          .orderBy(col("bucket_ts").desc).limit(300)
      case "asof_page" =>
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id").as("c_user"), col("ts").as("click_ts"))
          .agg(max(col("event_id")).as("click_id"),
            max_by(col("value"), col("event_id")).as("click_value"))
        AsOf.joinBackward(purchases, clicks, Seq("user_id"), Seq("c_user"),
            "ts", "click_ts")
          .filter(col("event_id") >= r.get("lo").asLong &&
            col("event_id") < r.get("hi").asLong)
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
            col("event_id"), col("value"), col("click_id"),
            unix_micros(col("click_ts")).as("click_ts_us"), col("click_value"))
      case name => SparkEntry.queries(name)(s, d)
    }
  }

  private final case class Sample(
      r: JsonNode, id: Int, phase: String, traced: Boolean, due: Double,
      submit: Double, start: Double, end: Double, rows: Int, digest: String,
      error: String) {
    def toMap: Map[String, Any] = Map(
      "id" -> id, "type" -> r.get("type").asText, "key" -> r.toString,
      "phase" -> phase, "traced" -> traced, "due" -> due, "submit" -> submit,
      "start" -> start, "end" -> end, "rows" -> rows, "digest" -> digest,
      "error" -> error)
  }

  /** Runs request `r`; never throws — a failure is a sample. */
  private def execute(r: JsonNode, id: Int, phase: String, traced: Boolean,
                      due: Double, submit: Double): Sample = {
    val start = ctx.now()
    try {
      val (n, dg) = ctx.tracer.request(id.toLong, "op", traced)(ctx.collect(build(r)))
      Sample(r, id, phase, traced, due, submit, start, ctx.now(), n, dg, null)
    } catch {
      case e: Throwable =>
        Sample(r, id, phase, traced, due, submit, start, ctx.now(), -1, null,
          Ctx.describe(e))
    }
  }

  private def first(t: String): JsonNode = plan.find(_.get("type").asText == t).get

  def warmup(): Unit = execute(first(catalog.head), 0, "warmup", false, 0, 0)

  /** One round from the end of the plan on nproc clients, so JIT and
    * codegen caches are warm before the timed phases: with one request
    * per type instead, the first timed round ran about 40% slower than
    * the second. */
  def prime(): Unit = {
    val from = new AtomicInteger((plan.size / round - 1) * round)
    ctx.par(0 until ctx.nproc) { _ =>
      var i = from.getAndIncrement()
      while (i < plan.size) {
        execute(plan(i), i, "prime", false, 0, 0)
        i = from.getAndIncrement()
      }
    }
  }

  def measure(): Map[String, Any] = {
    val pool = Executors.newFixedThreadPool(ctx.nproc)
    try {
      // Open loop: request k is due at t0 + k / rate whatever the state of
      // earlier requests; at most nproc run at once, the rest queue.
      val t0 = ctx.now() + 0.05
      val futures = (0 until openRequests).map { k =>
        val due = t0 + k / openRate
        val wait = due - ctx.now()
        if (wait > 0) Thread.sleep((wait * 1000).toLong, ((wait * 1e9) % 1e6).toInt)
        val submit = ctx.now()
        pool.submit(new Callable[Sample] {
          def call(): Sample =
            execute(openPlan(k), openIds + k, "open", ctx.traced, due, submit)
        })
      }
      val open = futures.map(_.get(120, TimeUnit.SECONDS))
      // Closed loop: nproc clients, each sends the plan's next request when
      // its previous one returns, until the closed rounds are sent. In a
      // traced run every other request is untraced, which is what
      // trace.overhead_frac compares against.
      val next = new AtomicInteger(0)
      val c0 = ctx.now()
      val clients: Seq[Future[Seq[Sample]]] = (0 until ctx.nproc).map { _ =>
        pool.submit(new Callable[Seq[Sample]] {
          def call(): Seq[Sample] = {
            val out = Seq.newBuilder[Sample]
            var i = next.getAndIncrement()
            while (i < closedRequests) {
              val now = ctx.now()
              out += execute(plan(i), i, "closed", ctx.traced && i % 2 == 0, now, now)
              i = next.getAndIncrement()
            }
            out.result()
          }
        })
      }
      val closed = clients.flatMap(_.get(180, TimeUnit.SECONDS))
      Map("open_rate" -> openRate, "open_planned" -> openRequests,
        "closed_start" -> c0, "clients" -> ctx.nproc,
        "requests" -> (open ++ closed).map(_.toMap))
    } finally {
      pool.shutdown()
      pool.awaitTermination(180, TimeUnit.SECONDS)
    }
  }

  /** Outside the timed region: every catalog entry's output goes to a
    * parquet dir for the DuckDB oracle; parameterised requests seen in the
    * timed phases are replayed alone and must return the same digest. */
  def gate(): Map[String, Any] = {
    val seen = (openPlan.take(openRequests) ++ plan.take(closedRequests)).distinct
    // A failed gate run leaves no output dir, which check.py counts as a
    // failed oracle check, and a replay error, which it counts as well.
    val catalogRuns = ctx.par(catalog) { name =>
      val dir = s"${ctx.runDir}/gate/$name"
      val replay = try {
        val df = SparkEntry.queries(name)(ctx.spark, ctx.dataDir)
        val rows = df.collect()
        ctx.spark.createDataFrame(rows.toSeq.asJava, df.schema)
          .coalesce(1).write.mode("overwrite").parquet(dir)
        Map("rows" -> rows.length, "error" -> null,
          "digest" -> Ctx.digest(rows.toSeq.map(_.mkString("\u0001"))))
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          Map("rows" -> -1, "digest" -> null, "error" -> Ctx.describe(e))
      }
      (name, dir, replay + ("key" -> first(name).toString))
    }
    val replays = ctx.par(seen.filterNot(r => catalog.contains(r.get("type").asText))
      .take(maxReplays)) { r =>
        val s = execute(r, 0, "replay", false, 0, 0)
        Map("key" -> r.toString, "rows" -> s.rows, "digest" -> s.digest,
          "error" -> s.error)
      }
    Map("gate" -> Map(
      "catalog_outputs" -> catalogRuns.map(c => c._1 -> c._2).toMap,
      "oracle_sql" -> catalog.map(n => n -> SparkEntry.oracleSql(n)).toMap,
      "replays" -> (replays ++ catalogRuns.map(_._3))))
  }
}
