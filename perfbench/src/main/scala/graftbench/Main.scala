package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftFunctions, GraftSession, SparkEntry}

/** The benchmark's JVM side. `perfbench/run.py` builds it, generates
  * the inputs and launches it with `key=value` arguments; it writes
  * `result.json` (and `spans.jsonl` when tracing) into `out`.
  *
  * End-to-end numbers come from untraced work. With `trace=1` the run
  * attaches the listeners for separate passes and reports per-layer
  * numbers, the tracing overhead and a `local[1]` baseline. */
object Main {
  case class Cfg(a: Map[String, String]) {
    def apply(k: String): String = a.getOrElse(k, sys.error(s"missing argument $k"))
    def workload: String = this("workload")
    def out: String = this("out")
    def seconds: Double = this("seconds").toDouble
    def trace: Boolean = this("trace") == "1"
  }

  val Cores: Int = Runtime.getRuntime.availableProcessors
  val WarmKeys = Seq("q1_pricing")
  // The JIT keeps warming over the first passes, so every run times at
  // least this many and reports their median: runs stay comparable.
  val MinPasses = 3
  /** Traced runs alternate untraced and traced work, two of each. */
  def minPasses(cfg: Cfg): Int = if (cfg.trace) 2 else MinPasses

  /** JSON in and out, through the Jackson that Spark ships. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def session(master: String, cores: Int): SparkSession = {
    val s = GraftSession.builder(master, cores).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftFunctions.register(s)
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Row count and an order-insensitive checksum over every column. */
  def checksum(df: DataFrame): (Long, BigDecimal) = {
    val h = xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*)
    val r = df.select(h.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The heap the program holds live between passes: a full
    * collection after each timed pass (outside its time), then the
    * heap in use. State, caches and memos kept across passes show here;
    * a peak read after ordinary collections instead moved with when the
    * collector happened to run (a spread of 0.18 over 10 seeds). */
  object LiveHeap {
    private var peak = 0L
    def sample(): Unit = {
      System.gc()
      peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    }
    def peakMb: Double = peak / 1048576.0
  }

  /** VmHWM: this JVM's peak resident set so far. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val cfg = Cfg(args.map(_.split("=", 2)).map(kv => kv(0) -> kv(1)).toMap)
    val spans = new Spans(cfg.trace)

    // set-up, once and cold as a user meets it: build the session (the
    // JVM's first, so Spark's classes load here), register graft's
    // functions, warm up on the small table set
    val t0 = System.nanoTime()
    val spark = spans("GraftSession.create")(session(s"local[$Cores]", Cores))
    val created = elapsed(t0)
    spans("GraftSession.warmup") {
      WarmKeys.foreach(k => checksum(SparkEntry.queries(k)(spark, cfg("warm"))))
    }
    val setupS = elapsed(t0)
    val res = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      "layers" -> mutable.LinkedHashMap[String, Double](
        "GraftSession.create_s" -> created,
        "GraftSession.warmup_s" -> (setupS - created)))

    val last = cfg.workload match {
      case "cdc_stream" => new CdcStream(cfg, spans, spark).run(res)
      case _ => new BatchKeys(cfg, spans, spark).run(res)
    }
    res("peak_rss_mb") = peakRssMb()
    res("peak_heap_mb") = LiveHeap.peakMb
    json.writeValue(Paths.get(cfg.out, "result.json").toFile, res)
    if (cfg.trace) Files.writeString(Paths.get(cfg.out, "spans.jsonl"), spans.toJsonLines)
    stop(last)
  }
}
