package perfbench

import java.io.File
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.sources.FrameSource
import graft.streaming.{EventRouter, EventSink}

/** The lifecycle steps the workloads share: staging generated frames as
  * files, routing a backlog through the streaming router, closing and
  * compacting days, and reading the typed tables back.
  */
object Lifecycle {

  val frameSchema: StructType = StructType(Seq(
    StructField("value", BinaryType, nullable = false),
    StructField("offset", LongType, nullable = false)))

  /** The backlog ingest_heuristics catches up on: four days of downtime,
    * one file per day, one micro-batch per file.
    */
  val BacklogConfig: Generator.Config = Generator.Config(frames = 60000, files = 4, days = 4)

  /** The backlog dashboard_panels' set-up routes into the tables it serves:
    * shaped like [[BacklogConfig]], smaller, because each of the several
    * set-ups runs a whole ingest.
    */
  val ServedConfig: Generator.Config = Generator.Config(frames = 40000, files = 4, days = 4)

  /** Parquet row-group size of the staged frame files: small enough that a
    * file splits into a task per core, as a reader over several topic
    * partitions does.
    */
  val StagedRowGroupBytes: Int = 2 << 20

  /** Compaction threshold passed to `EventSink.compactPartition`: a closed
    * day is rewritten once it holds more than this many files. The four
    * micro-batches leave a closed day of a type about three files, below
    * the API's default of 8, so the benchmark lowers it to keep compaction
    * in the measured lifecycle.
    */
  val CompactAboveFiles = 2

  val Lateness = "26 hours"
  val LatenessMs: Long = 26L * 3600 * 1000

  /** Write the traffic as one parquet file per backlog file, in offset
    * order, with modification times increasing in file order so a file
    * source with one file per trigger reads them in that order.
    */
  def stageFrames(spark: SparkSession, t: Generator.Traffic, dir: File): Unit = {
    dir.mkdirs()
    val byFile = t.frames.indices.groupBy(i => t.fileOf(i))
    val mtime0 = System.currentTimeMillis() - 3600 * 1000L
    (0 until t.config.files).foreach { f =>
      val rows = byFile.getOrElse(f, Nil).map(i => Row(t.frames(i), i.toLong))
      val tmp = new File(dir.getParentFile, s"${dir.getName}.tmp-$f")
      spark.createDataFrame(rows.asJava, frameSchema).coalesce(1)
        .write.option("parquet.block.size", StagedRowGroupBytes.toLong).parquet(tmp.getPath)
      val part = tmp.listFiles().filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet")).head
      val dst = new File(dir, f"frames-$f%05d.parquet")
      require(part.renameTo(dst), s"could not move $part to $dst")
      dst.setLastModified(mtime0 + f * 1000L)
      deleteRecursively(tmp)
    }
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Live parquet data files and their bytes under a table partition dir. */
  def dataFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet") && !f.getName.startsWith("."))

  final case class IngestOutcome(
      batchMs: Seq[Double],
      watermarkMs: Long,
      closed: Seq[(String, String)],
      compacted: Seq[((String, String), Boolean)],
      written: Map[(String, String), (Int, Long)])

  /** (type, day) → (data files, bytes) of every partition under `base`. */
  def layout(base: File, types: Seq[String] = Generator.types): Map[(String, String), (Int, Long)] =
    (for {
      tpe <- types
      dayDir <- Option(new File(base, tpe).listFiles()).toSeq.flatten
      if dayDir.getName.startsWith("day=")
      files = dataFiles(dayDir)
    } yield (tpe, dayDir.getName.stripPrefix("day=")) -> (files.length, files.map(_.length).sum)).toMap

  private def partitionOf(marker: String): (String, String) = {
    val p = new org.apache.hadoop.fs.Path(marker).getParent
    (p.getParent.getName, p.getName.stripPrefix("day="))
  }

  /** Route a staged backlog through `EventRouter.routeTyped` (one file per
    * micro-batch, `Trigger.AvailableNow`) into a table per type of `types`,
    * close the days the watermark passed, and compact every closed day of
    * every type.
    */
  def ingest(spark: SparkSession, tracer: Tracer, inputDir: File, base: File,
             checkpoint: File, types: Seq[String] = Generator.types): IngestOutcome = {
    val progress = tracer.span("router.stream") {
      val raw = spark.readStream.schema(frameSchema).option("maxFilesPerTrigger", 1)
        .parquet(inputDir.getPath)
      val q = EventRouter.routeTyped(raw, base.getPath, checkpoint.getPath,
        types = types, lateness = Lateness, trigger = Trigger.AvailableNow()).start()
      q.awaitTermination()
      val ps = q.recentProgress.toSeq
      ps.foreach { p =>
        val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
        tracer.record("router.batch", start, start + p.durationMs.get("triggerExecution").doubleValue)
      }
      ps
    }
    val batchMs = progress.filter(_.numInputRows > 0)
      .map(_.durationMs.get("triggerExecution").doubleValue)
    val watermarkMs = progress.reverse.iterator
      .flatMap(p => Option(p.eventTime.get("watermark")))
      .map(w => Instant.parse(w).toEpochMilli).nextOption()
      .getOrElse(throw new IllegalStateException("router reported no watermark"))
    val closed = tracer.span("sink.close_days") {
      EventRouter.closeDays(spark, base.getPath, types, watermarkMs)
    }.map(partitionOf)
    // the pre-compaction layout is listed only when traced: it is the
    // sink's input, gone once compaction rewrites it
    val written =
      if (!tracer.enabled) Map.empty[(String, String), (Int, Long)]
      else tracer.span("bench.list")(layout(base, types))
    val compacted = tracer.span("sink.compact") {
      closed.map { case p @ (tpe, day) =>
        p -> EventSink.compactPartition(spark, new File(base, tpe).getPath, Map("day" -> day),
          maxFiles = CompactAboveFiles)
      }
    }
    IngestOutcome(batchMs, watermarkMs, closed, compacted, written)
  }

  /** The typed tables under `base`, read through the compaction manifest. */
  def readTables(spark: SparkSession, base: File,
                 types: Seq[String] = Generator.types): Map[String, DataFrame] =
    types.map(t => t -> EventSink.readIsolated(spark, new File(base, t).getPath)).toMap

  /** Rows, offset sum and distinct offsets per (type, day) of routed tables. */
  def tableCensus(tables: Map[String, DataFrame]): Map[(String, String), (Long, Long, Long)] =
    tables.toSeq.flatMap { case (tpe, df) =>
      df.groupBy(date_format(col("day"), "yyyy-MM-dd").as("d"))
        .agg(count(lit(1)), sum(col("kafka_offset")), countDistinct(col("kafka_offset")))
        .collect().map(r => (tpe, r.getString(0)) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
    }.toMap

  /** Census checks shared by the workloads that route: every valid frame
    * of a routed type routed once to its (type, day), none twice.
    */
  def checkRouted(checks: Checks, t: Generator.Traffic, tables: Map[String, DataFrame]): Unit = {
    val census = tableCensus(tables)
    val expected = Expected.routed(t)
    tables.keys.toSeq.sorted.foreach { tpe =>
      checks.same(s"routed rows $tpe",
        census.collect { case ((`tpe`, d), c) => d -> (c._1, c._2) },
        expected.collect { case ((`tpe`, d), c) => d -> c })
    }
    checks.check("no kafka_offset routed twice")(census.values.forall(c => c._1 == c._3))
  }

  /** Envelope decode of the staged frames, as the router's first step:
    * (frames in, corrupt, unknown marker).
    */
  def decodeCensus(spark: SparkSession, framesDir: File): (Long, Long, Long) = {
    val raw = spark.read.schema(frameSchema).parquet(framesDir.getPath)
    val byType = FrameSource.decodeFramesFast(raw).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val framesIn = raw.count()
    val decoded = byType.values.sum
    (framesIn, framesIn - decoded, byType.collect { case (k, n) if k.startsWith("UNKNOWN_") => n }.sum)
  }
}
