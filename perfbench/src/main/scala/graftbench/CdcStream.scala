package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{median => _, _}
import org.apache.spark.sql.streaming.{OutputMode, StateOperatorProgress, StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.operators.{Cdc, EnrichmentJoin}
import graft.streaming.CdcPipeline
import graft.streaming.CdcPipeline.Change
import Main._

/** The reference CDC job as one Structured Streaming query on the
  * RocksDB state store: envelope decode (`parse_sqdata_ts` inside) →
  * customer ⋈ latest nation image → orders ⋈ latest customer image →
  * 10-minute tumbling totals under a 10-minute watermark → parquet.
  *
  * One running query goes through both phases. `backlog`: a chunk of
  * order files is staged at once and drained at a fixed
  * `maxFilesPerTrigger`; the first two chunks warm up, each later one
  * is a timed drain. `paced`: an
  * open-loop pacer process then moves small order files in on a fixed,
  * seeded schedule. A flush order closes every window, and the drained totals are
  * compared with the batch twin (`Cdc.latestImage` +
  * `EnrichmentJoin.enrich` + tumble) over the same envelopes. */
final class CdcStream(cfg: Cfg, spans: Spans, var spark: SparkSession) {
  private val RocksDb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val WarmChunks = 2
  private val FilesPerTrigger = 4L
  private val in = Paths.get(cfg("data"))
  private val work = Paths.get(cfg.out, "stream")
  private val nationSchema = StructType(Seq(
    StructField("n_nationkey", LongType), StructField("n_name", StringType)))
  private val customerSchema = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_nationkey", LongType),
    StructField("c_mktsegment", StringType)))
  private val orderSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_totalprice", DoubleType)))
  private def filesIn(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
  private val chunks: Seq[Seq[Path]] = filesIn(in.resolve("backlog")).map(filesIn)
  private val pacedFiles = filesIn(in.resolve("paced"))
  private val flushFile = in.resolve("flush").resolve("part-99999.json")
  private val rowsIn: Map[String, Long] = pacedFiles.map(p =>
    p.getFileName.toString -> Files.lines(p).count()).toMap

  type Totals = Map[(java.sql.Timestamp, String), Long]

  private def source(dir: String): DataFrame =
    spark.readStream.schema(StructType(Seq(StructField("value", StringType))))
      .option("maxFilesPerTrigger", FilesPerTrigger).text(dir)

  private def ems = unix_millis(col("op_ts")).as("eventTimeMs")
  private def sq = coalesce(col("seq"), lit(0)).as("seq")

  /** The streaming topology, reading orders from `ordersDir`. */
  private def topology(ordersDir: String): DataFrame = {
    val session = spark
    import session.implicits._
    val nations = CdcPipeline.decodeEnvelope(source(in.resolve("nation").toString), nationSchema)
      .select(col("after_image.n_nationkey").as("key"), ems,
        col("after_image.n_name").as("payload"), lit(true).as("isEnrichment"), col("manip"), sq)
      .as[Change]
    val customers = CdcPipeline.decodeEnvelope(source(in.resolve("customer").toString), customerSchema)
    // customer images join nations (stage-1 stream side); customer
    // deletes skip stage 1 and tombstone the customer in stage 2
    val custImages = customers.filter(col("manip") =!= "D")
      .select(col("after_image.c_nationkey").as("key"), ems,
        concat(col("after_image.c_custkey"), lit("|"), col("after_image.c_mktsegment")).as("payload"),
        lit(false).as("isEnrichment"), col("manip"), sq).as[Change]
    val custDeletes = customers.filter(col("manip") === "D")
      .select(col("after_image.c_custkey").as("key"), ems, lit("").as("payload"),
        lit(true).as("isEnrichment"), col("manip"), sq).as[Change]
    val orders = CdcPipeline.decodeEnvelope(source(ordersDir), orderSchema)
      .select(col("after_image.o_custkey").as("key"), ems,
        col("after_image.o_orderkey").cast("string").as("payload"),
        lit(false).as("isEnrichment"), col("manip"), sq).as[Change]
    val stage1 = CdcPipeline.enrichLatest(nations.union(custImages))
    val stage2Enrich = stage1.map { e =>
      val Array(custKey, segment) = e.payload.split("\\|", 2)
      Change(custKey.toLong, e.eventTimeMs, s"$segment|${e.enrichPayload}", isEnrichment = true)
    }
    val enriched = CdcPipeline.enrichLatest(stage2Enrich.union(custDeletes).union(orders))
    CdcPipeline.windowedTotals(enriched, "10 minutes", "10 minutes")
  }

  private def totals(df: DataFrame): Totals =
    df.collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap

  /** The batch twin over the same envelopes, flush file excluded. */
  private def twin(orderFiles: Seq[Path]): Totals = {
    def decoded(files: Seq[String], schema: StructType) =
      CdcPipeline.decodeEnvelope(spark.read.text(files: _*), schema)
        .select(col("after_image.*"), col("op_ts"), col("seq"), col("manip"))
    val nations = Cdc.latestImage(decoded(Seq(in.resolve("nation").toString), nationSchema), "n_nationkey")
      .select(col("n_nationkey").as("c_nationkey"), col("n_name"))
    val customers = Cdc.latestImage(decoded(Seq(in.resolve("customer").toString), customerSchema), "c_custkey")
      .drop("op_ts", "seq", "manip")
    val orders = decoded(orderFiles.map(_.toString), orderSchema)
      .select(col("o_custkey").as("c_custkey"), col("op_ts"))
    val enriched = EnrichmentJoin.enrich(EnrichmentJoin.enrich(orders, customers, "c_custkey"),
      nations, "c_nationkey")
    totals(enriched
      .groupBy(window(col("op_ts"), "10 minutes"),
        concat(col("c_mktsegment"), lit("|"), col("n_name")).as("group_key"))
      .agg(count(lit(1)).as("n_rows"))
      .select(col("window.start"), col("group_key"), col("n_rows")))
  }

  /** Events whose window total differs from the twin's. */
  private def mismatched(got: Totals, want: Totals): Long =
    (got.keySet ++ want.keySet).toSeq.map(k => math.abs(got.getOrElse(k, 0L) - want.getOrElse(k, 0L))).sum

  private def endMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble + p.durationMs.get("triggerExecution").toDouble

  private def lateDropped(ps: Seq[StreamingQueryProgress]): Long =
    ps.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum

  /** File name → the file source's log id that listed it, from the
    * source logs in the checkpoint. */
  private def logIdOfFile(ckpt: Path): Map[String, Long] =
    Files.walk(ckpt.resolve("sources")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala)
      .filter(_.startsWith("{")) // the first line is the log version
      .map { l =>
        val e = json.readTree(l)
        Paths.get(new java.net.URI(e.get("path").asText)).getFileName.toString -> e.get("batchId").asLong
      }.toMap

  /** The pacer log: (file, due ms, written ms) per file and the max lateness. */
  private def pacerLog(log: Path): (Seq[(String, Double, Double)], Double) = {
    val t = json.readTree(log.toFile)
    (t.get("files").asScala.map(f =>
      (f.get("file").asText, f.get("due_ms").asDouble, f.get("written_ms").asDouble)).toSeq,
      t.get("late_ms_max").asDouble)
  }

  case class Drain(wallS: Double, rows: Long, progress: Seq[StreamingQueryProgress])
  case class Paced(latencyMs: Seq[Double], files: Int, lateMsMax: Double, backlogFilesEnd: Int,
                   progress: Seq[StreamingQueryProgress])
  case class Run(drains: Seq[Drain], paced: Option[Paced], events: Long, failed: Long,
                 progress: Seq[StreamingQueryProgress])

  /** One query: dimensions, timed backlog drains, then (when `full`)
    * the paced phase, the flush and the check against the twin. */
  private def runQuery(name: String, minDrains: Int, full: Boolean): Run = {
    val dir = work.resolve(name)
    val orders = dir.resolve("orders")
    val hidden = orders.resolve(".staging") // the file source skips dot entries
    Files.createDirectories(hidden)
    var mtime = System.currentTimeMillis()
    // copies files in with ascending modification times, the order the
    // file source reads them in; each lands whole by an atomic move
    def prepare(files: Seq[Path], into: Path): Unit = files.foreach { p =>
      val tmp = hidden.resolve(p.getFileName)
      Files.copy(p, tmp)
      mtime += 10
      Files.setLastModifiedTime(tmp, FileTime.fromMillis(mtime))
      Files.move(tmp, into.resolve(p.getFileName), StandardCopyOption.ATOMIC_MOVE)
    }
    val q: StreamingQuery = spans("streaming.start") {
      topology(orders.toString).writeStream.format("parquet")
        .option("checkpointLocation", dir.resolve("ckpt").toString)
        .option("path", dir.resolve("sink").toString)
        .outputMode(OutputMode.Append).start()
    }
    try {
      spans("streaming.dimensions")(q.processAllAvailable())
      val staged = mutable.ArrayBuffer.empty[Path]
      def drain(chunk: Seq[Path]): Drain = {
        val before = q.lastProgress.batchId
        val d0 = System.nanoTime()
        prepare(chunk, orders)
        spans("streaming.drain")(q.processAllAvailable())
        val ps = q.recentProgress.toSeq.filter(_.batchId > before)
        staged ++= chunk
        val d = Drain(elapsed(d0), ps.map(_.numInputRows).sum, ps)
        LiveHeap.sample()
        d
      }
      // untimed: the first chunks warm the JIT on the streaming path
      chunks.take(WarmChunks).foreach(drain)
      val drains = mutable.ArrayBuffer.empty[Drain]
      val t0 = System.nanoTime()
      while (drains.size + WarmChunks < chunks.size &&
        (drains.size < minDrains || elapsed(t0) < cfg.seconds / 2))
        drains += drain(chunks(drains.size + WarmChunks))
      if (!full) return Run(drains.toSeq, None, 0L, 0L, q.recentProgress.toSeq)

      val before = q.lastProgress.batchId
      val pacerIn = dir.resolve("pacer")
      Files.createDirectories(pacerIn)
      prepare(pacedFiles, pacerIn)
      val log = dir.resolve("pacer.json")
      val pacer = new ProcessBuilder(cfg("python"), cfg("gen"), "pace", pacerIn.toString,
        orders.toString, in.resolve("paced.json").toString, log.toString).inheritIO().start()
      val exit = spans("gen.pace")(pacer.waitFor())
      require(exit == 0, s"pacer exited with $exit")
      q.processAllAvailable()
      staged ++= pacedFiles
      val pacedProgress = q.recentProgress.toSeq.filter(_.batchId > before)
      prepare(Seq(flushFile), orders)
      spans("streaming.flush")(q.processAllAvailable())
      LiveHeap.sample()
      val all = q.recentProgress.toSeq
      val logId = logIdOfFile(dir.resolve("ckpt"))
      // a batch that moved the orders source from log id a to b read the
      // files listed under ids a+1..b
      def logOffset(offset: String): Long =
        Option(offset).map(json.readTree(_).get("logOffset").asLong).getOrElse(-1L)
      val batchOfLogId = all.flatMap { p =>
        p.sources.filter(_.description.contains(orders.toString)).flatMap(src =>
          (logOffset(src.startOffset) + 1 to logOffset(src.endOffset)).map(_ -> p.batchId))
      }.toMap
      val byFile = (f: String) => batchOfLogId(logId(f))
      q.stop()

      val (due, lateMs) = pacerLog(log)
      val batchEnd = all.map(p => p.batchId -> endMs(p)).toMap
      val lastWritten = due.map(_._3).max
      // one latency sample per event, from when its file was due to the
      // end of the micro-batch that emitted its enriched row
      val lat = due.flatMap { case (f, dueMs, _) =>
        Seq.fill(rowsIn(f).toInt)(batchEnd(byFile(f)) - dueMs)
      }
      val backlogEnd = due.count { case (f, _, _) => batchEnd(byFile(f)) > lastWritten }
      val want = spans("twin")(twin(staged.toSeq))
      val got = totals(spark.read.parquet(dir.resolve("sink").toString))
      Run(drains.toSeq, Some(Paced(lat, due.size, lateMs, backlogEnd, pacedProgress)),
        want.values.sum, mismatched(got, want) + lateDropped(all), all)
    } finally q.stop()
  }

  private def dataBatches(ps: Seq[StreamingQueryProgress]) = ps.filter(_.numInputRows > 0)
  private def phase(ps: Seq[StreamingQueryProgress], k: String): Seq[Double] =
    dataBatches(ps).map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
  private def stateSum(pr: StreamingQueryProgress, f: StateOperatorProgress => Double): Double =
    pr.stateOperators.map(f).sum

  private def streamLayers(r: Run): Map[String, Double] = {
    val backlog = r.drains.flatMap(_.progress)
    val p = r.paced.get
    val pp = dataBatches(p.progress)
    val last = r.progress.last
    Map(
      "sources.latest_offset_ms" -> median(phase(p.progress, "latestOffset")),
      "sources.backlog_files_end" -> p.backlogFilesEnd.toDouble,
      "streaming.query_planning_ms" -> median(phase(p.progress, "queryPlanning")),
      "streaming.wal_commit_ms" -> median(phase(p.progress, "walCommit")),
      "streaming.commit_offsets_ms" -> median(phase(p.progress, "commitOffsets")),
      "streaming.state_commit_ms" -> median(pp.map(stateSum(_, _.commitTimeMs.toDouble))),
      "streaming.add_batch_ms" -> median(phase(backlog, "addBatch")),
      "streaming.rows_per_batch" -> median(dataBatches(backlog).map(_.numInputRows.toDouble)),
      "streaming.batches" -> median(r.drains.map(_.progress.size.toDouble)),
      "streaming.batch_ms_p50" -> median(phase(p.progress, "triggerExecution")),
      "streaming.batch_ms_max" -> phase(p.progress, "triggerExecution").max,
      "streaming.state_rows" -> stateSum(last, _.numRowsTotal.toDouble),
      "streaming.state_mem_mb" -> stateSum(last, _.memoryUsedBytes / 1e6),
      "streaming.watermark_lag_ms" -> median(pp.flatMap { pr =>
        val et = pr.eventTime
        if (et.containsKey("max") && et.containsKey("watermark"))
          Some((java.time.Instant.parse(et.get("max")).toEpochMilli -
            java.time.Instant.parse(et.get("watermark")).toEpochMilli).toDouble)
        else None
      }),
      "streaming.late_dropped" -> lateDropped(r.progress).toDouble,
      "gen.late_ms_max" -> p.lateMsMax)
  }

  /** Probes of single layers over the generated envelopes, as batches. */
  private def probes(): Map[String, Double] = {
    val files = (Seq(in.resolve("nation"), in.resolve("customer")) ++ chunks.flatten ++ pacedFiles)
      .map(_.toString)
    val t0 = System.nanoTime()
    spans("sources.read")(spark.read.text(files: _*).count())
    val readS = elapsed(t0)
    val ts = spark.read.text(files: _*)
      .select(get_json_object(col("value"), "$.sv_op_timestamp").as("ts")).cache()
    ts.count()
    val t1 = System.nanoTime()
    spans("functions.parse_sqdata_ts") {
      val parsed = graft.GraftFunctions.parse_sqdata_ts(col("ts"))
      ts.agg(count(parsed), max(parsed)).head()
    }
    val parseS = elapsed(t1)
    ts.unpersist()
    val t2 = System.nanoTime()
    spans("streaming.decode") {
      checksum(CdcPipeline.decodeEnvelope(spark.read.text(chunks.flatten.map(_.toString): _*), orderSchema))
    }
    Map("sources.read_s" -> readS, "functions.parse_sqdata_ts_s" -> parseS,
      "streaming.decode_s" -> elapsed(t2))
  }

  private def configure(): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", RocksDb)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
  }

  def run(res: mutable.LinkedHashMap[String, Any]): SparkSession = {
    configure()
    val main = if (!cfg.trace) runQuery("main", Main.MinPasses, full = true) else {
      val layers = res("layers").asInstanceOf[mutable.LinkedHashMap[String, Double]]
      val untraced = runQuery("untraced", Main.minPasses(cfg), full = false)
      val tracing = new Tracing(spark)
      tracing.attach()
      val traced = spans("traced")(runQuery("traced", untraced.drains.size, full = true))
      tracing.settle()
      // micro-batches as spans, from the listener's progress reports
      tracing.progress.take().foreach(pr => spans.record(s"streaming.batch:${pr.batchId}",
        java.time.Instant.parse(pr.timestamp).toEpochMilli.toDouble, endMs(pr)))
      val c = tracing.counters.snapshot.withDefaultValue(0.0)
      tracing.detach()
      for (k <- Seq("queries.jobs", "queries.stages", "queries.tasks", "queries.task_s", "queries.gc_s",
        "queries.shuffle_read_mb", "queries.shuffle_write_mb", "queries.spill_mb",
        "queries.peak_exec_mem_mb", "sources.scan_mb", "sources.scan_rows"))
        layers(k) = c(k)
      val tracedS = median(traced.drains.map(_.wallS))
      val untracedS = median(untraced.drains.map(_.wallS))
      // summed task time over the query's busy (trigger) time
      layers("queries.parallelism") = c("queries.task_s") /
        (traced.progress.map(_.durationMs.get("triggerExecution").toDouble).sum / 1000.0)
      layers ++= streamLayers(traced)
      layers ++= probes()
      layers("traced.pass_s") = tracedS
      layers("stream_rows_per_s") = traced.drains.map(_.rows).sum / traced.drains.map(_.wallS).sum
      layers("trace_overhead.pass_s") = tracedS - untracedS
      layers("trace_overhead.share") = tracedS / untracedS - 1.0
      // single-thread baseline: traced drains on local[1]
      Main.stop(spark)
      spark = spans("GraftSession.create")(Main.session("local[1]", 1))
      configure()
      val t1 = new Tracing(spark)
      t1.attach()
      val one = runQuery("local1", untraced.drains.size, full = false)
      t1.settle()
      val c1 = t1.counters.snapshot.withDefaultValue(0.0)
      t1.detach()
      layers("local1.pass_s") = median(one.drains.map(_.wallS))
      layers("local1.queries.task_s") = c1("queries.task_s")
      layers("local1.streaming.add_batch_ms") = median(phase(one.drains.flatMap(_.progress), "addBatch"))
      traced
    }
    val p = main.paced.get
    res("passes") = main.drains.map(_.wallS)
    res("stream_rows_per_s") = main.drains.map(d => d.rows / d.wallS)
    res("latency_ms") = Seq(quantile(p.latencyMs, 0.5), quantile(p.latencyMs, 0.99))
    res("latency_samples") = Map("events" -> p.latencyMs.size, "paced files" -> p.files)
    res("gen_late_ms_max") = p.lateMsMax
    res("backlog_files_end") = p.backlogFilesEnd
    res("attempted") = main.events
    res("failed") = main.failed
    spark
  }
}
