package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** [[Tables.parquet]] resolves a table's schema from one driver-side
  * footer read; these pin that it is the schema Spark's inference gives,
  * on every layout it mirrors, that the others fall back, and that no job
  * runs.
  */
class TablesSpec extends AnyFunSuite {

  import SparkTestSession.{spark, sfDir}

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** The footer path was taken, and it agrees with inference. */
  private def assertMirrors(path: String): Unit = {
    assert(Tables.footerSchema(spark, path).isDefined, path)
    assert(Tables.parquet(spark, path).schema ==
      spark.read.parquet(path).schema, path)
  }

  /** A one-row file with `event_id` and `ts` written by parquet-hadoop
    * itself, so the footer carries no Spark schema and the converter runs. */
  private def writeTsFile(file: String, tsType: String, ts: Long): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"message events { required int64 event_id; required int64 ts ($tsType); }")
    val w = ExampleParquetWriter.builder(new Path(file))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", ts))
    finally w.close()
  }

  test("footer schema equals inference for every fixture table") {
    Tables.names.foreach(n => assertMirrors(s"$sfDir/$n.parquet"))
  }

  test("TIMESTAMP(NANOS) resolves to LongType under nanosAsLong") {
    val dir = tmpDir("graft-tables-nanos")
    writeTsFile(s"$dir/part-0.parquet", "TIMESTAMP(NANOS,false)",
      1704067200123456789L)
    assertMirrors(dir)
    assert(Tables.parquet(spark, dir).schema("ts").dataType == LongType)
    // without the legacy conf the footer cannot convert: fall back, so
    // inference raises its own error
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    try {
      assert(Tables.footerSchema(spark, dir).isEmpty)
      intercept[Exception](Tables.parquet(spark, dir))
    } finally spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
  }

  test("UTC-adjusted TIMESTAMP(MICROS) resolves to TimestampType") {
    val dir = tmpDir("graft-tables-micros")
    writeTsFile(s"$dir/part-0.parquet", "TIMESTAMP(MICROS,true)",
      1704067200123456L)
    assertMirrors(dir)
    assert(Tables.parquet(spark, dir).schema("ts").dataType == TimestampType)
    assert(Tables.parquet(spark, dir).select(unix_micros(col("ts")))
      .head().getLong(0) == 1704067200123456L)
  }

  test("multi-file dir resolves from a summary file, else the first " +
      "data file by path") {
    val dir = tmpDir("graft-tables-multi")
    val narrow = s"$dir/narrow"
    val wide = s"$dir/wide"
    spark.range(3).write.parquet(narrow)
    spark.range(3).withColumn("name", col("id").cast("string"))
      .repartition(2).write.parquet(wide)
    val narrowParts = Files.list(Paths.get(narrow)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("part-")).sorted
    val mixed = tmpDir("graft-tables-mixed")
    Files.list(Paths.get(wide)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("part-"))
      .zipWithIndex.foreach { case (f, i) =>
        Files.copy(f, Paths.get(mixed, s"part-1-$i.parquet"))
      }
    Files.copy(narrowParts.head, Paths.get(mixed, "part-0.parquet"))
    Files.createFile(Paths.get(mixed, "_SUCCESS"))
    assertMirrors(wide)
    assertMirrors(mixed)
    assert(Tables.parquet(spark, mixed).schema.fieldNames.toSeq == Seq("id"))
    Files.copy(narrowParts.head, Paths.get(wide, "_common_metadata"))
    assertMirrors(wide)
    assert(Tables.parquet(spark, wide).schema.fieldNames.toSeq == Seq("id"))
  }

  test("partitioned dir falls back to inference") {
    val dir = s"${tmpDir("graft-tables-part")}/t"
    spark.range(6).withColumn("k", col("id") % 2).write.partitionBy("k")
      .parquet(dir)
    assert(Tables.footerSchema(spark, dir).isEmpty)
    assert(Tables.parquet(spark, dir).schema == spark.read.parquet(dir).schema)
    assert(Tables.parquet(spark, dir).schema.fieldNames.toSeq == Seq("id", "k"))
  }

  test("Tables.events launches no Spark job") {
    val sc = spark.sparkContext
    val group = s"tables-footer-${System.nanoTime}"
    val control = s"$group-inference"
    sc.setJobGroup(group, "footer-resolved load", interruptOnCancel = false)
    try Tables.events(spark, sfDir).schema
    finally sc.clearJobGroup()
    // positive control: inference does launch a job. The status tracker is
    // fed by the listener bus in order, so once the control's job shows,
    // any job of the first group would have shown too.
    sc.setJobGroup(control, "inferred load", interruptOnCancel = false)
    try spark.read.parquet(s"$sfDir/events.parquet").schema
    finally sc.clearJobGroup()
    val deadline = System.nanoTime + 30L * 1000000000L
    while (sc.statusTracker.getJobIdsForGroup(control).isEmpty &&
        System.nanoTime < deadline) Thread.sleep(20)
    assert(sc.statusTracker.getJobIdsForGroup(control).nonEmpty)
    assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty)
  }
}
