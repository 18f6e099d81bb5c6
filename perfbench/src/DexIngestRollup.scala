package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.sources.Sinks
import graft.streaming.Streams

/** Indexer and jobs process in one closed loop. Each cycle lands
  * `batches_per_cycle` block batches one at a time — each ingested by a
  * watermarked-dedup stream under an AvailableNow trigger into the fact
  * table — then runs the rollup set over the accumulated facts and writes
  * every result with a snapshot replace.
  */
final class DexIngestRollup(ctx: Ctx) extends Workload {
  private val batches: IndexedSeq[JsonNode] =
    ctx.manifest.get("batches").elements().asScala.toIndexedSeq
  private val delaySec = ctx.manifest.get("watermark_delay_s").asLong
  private val rollupSet: Seq[String] =
    ctx.run.get("rollup_queries").elements().asScala.map(_.asText).toSeq
  private val perCycle = ctx.run.get("batches_per_cycle").asInt
  private val landing = s"${ctx.runDir}/landing"
  private val checkpoint = s"${ctx.runDir}/checkpoint"
  private val facts = s"${ctx.dataDir}/events.parquet"
  private val rollups = s"${ctx.runDir}/rollups"
  private var nextBatch = 0
  private var nextReq = 0L
  private val landed = Seq.newBuilder[String]
  Files.createDirectories(Paths.get(landing))

  private def dataFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))

  @volatile private var batchParent: Option[(Long, Long)] = None

  /** Fact append of one micro-batch. `ts` goes back to the producer's
    * physical form (TIMESTAMP without zone) so the fact table keeps one
    * timestamp encoding and the batch loaders read it unchanged. */
  private def appendFacts(df: DataFrame): Unit =
    ctx.tracer.spanUnder(batchParent, "sources.write") {
      df.withColumn("ts", col("ts").cast("timestamp_ntz"))
        .write.mode("append").parquet(facts)
    }

  /** Land the next batch and run the stream until it is committed. */
  private def ingest(phase: String, traced: Boolean): Map[String, Any] = {
    val b = batches(nextBatch)
    nextBatch += 1
    nextReq += 1
    val before = dataFiles(facts)
    val src = Paths.get(b.get("path").asText)
    val land = ctx.now()
    val (progress, error) = try ctx.tracer.request(nextReq, "ingest", traced) {
      ctx.layer("gen.land") {
        Files.move(src, Paths.get(landing, src.getFileName.toString),
          StandardCopyOption.ATOMIC_MOVE)
      }
      val q = ctx.layer("streaming.start") {
        val deduped = Streams.dedupeKeysWatermarked(
          Streams.eventsStream(ctx.spark, landing), "ts", s"$delaySec seconds",
          Seq("event_id"))
        deduped.writeStream
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", checkpoint)
          .foreachBatch((df: Dataset[Row], _: Long) => appendFacts(df))
          .start()
      }
      ctx.layer("streaming.run") {
        batchParent = ctx.tracer.current
        try q.awaitTermination() finally batchParent = None
      }
      (q.recentProgress.toSeq.map(_.json), null)
    } catch { case e: Throwable => (Nil, Ctx.describe(e)) }
    val commit = ctx.now()
    landed += src.getFileName.toString
    val written = dataFiles(facts).filterNot(before.contains)
    Map("req" -> nextReq, "batch" -> (nextBatch - 1), "phase" -> phase,
      "traced" -> traced, "land" -> land, "commit" -> commit,
      "input_rows" -> b.get("rows").asLong, "input_bytes" -> b.get("bytes").asLong,
      "files_written" -> written.size,
      "bytes_written" -> written.map(_.length).sum,
      "progress" -> progress, "error" -> error)
  }

  /** One rollup cycle over the accumulated facts: the rollup set runs on
    * nproc threads, as the jobs process runs its rollups concurrently. */
  private def rollup(phase: String, traced: Boolean): Map[String, Any] = {
    nextReq += 1
    val start = ctx.now()
    val ops = ctx.tracer.request(nextReq, "rollup", traced) {
      val parent = ctx.tracer.current
      ctx.par(rollupSet) { q =>
        val t = ctx.now()
        val (files, error) = try ctx.tracer.spanUnder(parent, "op") {
          val df = ctx.layer("queries.build")(SparkEntry.queries(q)(ctx.spark, ctx.dataDir))
          ctx.layer("plans.plan")(df.queryExecution.executedPlan)
          val scanned = df.inputFiles.length
          ctx.layer("exec") {
            Sinks.snapshotReplace(df.withColumn("rollup", lit(q)), s"$rollups/$q", "rollup")
          }
          (scanned, null)
        } catch { case e: Throwable => (0, Ctx.describe(e)) }
        Map("type" -> q, "start" -> t, "end" -> ctx.now(), "files_scanned" -> files,
          "error" -> error)
      }
    }
    Map("req" -> nextReq, "phase" -> phase, "traced" -> traced,
      "start" -> start, "end" -> ctx.now(), "ops" -> ops)
  }

  def warmup(): Unit = ingest("warmup", traced = false)

  def prime(): Unit = {
    rollup("prime", traced = false)
    ingest("prime", traced = false)
  }

  def measure(): Map[String, Any] = {
    val t0 = ctx.now()
    val deadline = t0 + ctx.seconds
    val ingests = Seq.newBuilder[Map[String, Any]]
    val cycles = Seq.newBuilder[Map[String, Any]]
    var cycle = 0
    // Whole cycles only, so the last rollup covers every committed batch.
    // In a traced run every other cycle is untraced (trace.overhead_frac).
    var last = 0.0
    // A cycle starts only if it should end within half a cycle of the deadline.
    while (ctx.now() + last / 2 < deadline && nextBatch + perCycle <= batches.size) {
      val traced = ctx.traced && cycle % 2 == 0
      val c0 = ctx.now()
      (1 to perCycle).foreach(_ => ingests += ingest("measure", traced))
      val r = rollup("measure", traced)
      last = ctx.now() - c0
      cycles += Map("start" -> c0, "end" -> ctx.now(), "traced" -> traced,
        "rollup" -> r)
      cycle += 1
    }
    val cs = cycles.result()
    Map("measure_start" -> t0, "measure_end" -> ctx.now(),
      "batches_available" -> batches.size, "ingests" -> ingests.result(),
      "cycles" -> cs)
  }

  /** Outside the timed region: a batch-written copy of the facts, with the
    * same dimension tables, and the rollup set run over it. stats.py
    * compares these outputs with the last snapshots, and the facts with
    * the de-duplicated landed batches. */
  def gate(): Map[String, Any] = {
    val copy = s"${ctx.runDir}/batch_copy"
    ctx.spark.read.parquet(facts).write.mode("overwrite").parquet(s"$copy/events.parquet")
    new File(ctx.dataDir).listFiles().filter(_.getName != "events.parquet").foreach { f =>
      Files.copy(f.toPath, Paths.get(copy, f.getName), StandardCopyOption.REPLACE_EXISTING)
    }
    val outputs = ctx.par(rollupSet) { q =>
      val dir = s"${ctx.runDir}/gate/$q"
      SparkEntry.queries(q)(ctx.spark, copy).coalesce(1)
        .write.mode("overwrite").parquet(dir)
      q -> Map("batch" -> dir, "snapshot" -> s"$rollups/$q/rollup=$q")
    }.toMap
    Map("gate" -> Map("rollups" -> outputs, "landed" -> landed.result(),
      "landing" -> landing, "facts" -> facts))
  }
}
