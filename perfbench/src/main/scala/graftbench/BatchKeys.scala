package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import Main._

/** The batch workloads: cold passes over a list of `SparkEntry.queries`
  * keys. A pass builds each key's frame (iterative operators do their
  * eager work here) and then runs the final action, a count plus an
  * order-insensitive checksum over every column. The first pass also
  * writes each result as parquet for the DuckDB oracle and fixes the
  * answer every later pass must reproduce; a second, untimed pass
  * warms up before the timed ones. */
final class BatchKeys(cfg: Cfg, spans: Spans, var spark: SparkSession) {
  private val Keys = Seq("graph_reach", "dedup_clusters")
  case class KeyRun(key: String, builderS: Double, writeS: Double, ok: Boolean, error: String)
  case class Pass(wallS: Double, runs: Seq[KeyRun])

  private val data = cfg("data")
  private val verified = mutable.Map.empty[String, (Long, BigDecimal)]
  private val errors = mutable.Map.empty[String, String]
  private var links = 0

  /** A path to the inputs that no pass has read through yet. graft
    * keeps some work per data path for the JVM's lifetime (the MinHash
    * signature table behind `dedup_clusters`), so every pass reads
    * through a fresh link and pays for that work as a cold run does. */
  private def freshData(): String = {
    links += 1
    val dir = Files.createDirectories(Paths.get(cfg.out, "data"))
    Files.createSymbolicLink(dir.resolve(s"pass-$links"), Paths.get(data).toAbsolutePath).toString
  }

  private def verifyPass(): Unit = {
    val d = freshData()
    Keys.foreach { key =>
      val path = Paths.get(cfg.out, "verify", key).toString
      try {
        SparkEntry.queries(key)(spark, d).write.mode("overwrite").parquet(path)
        verified(key) = checksum(spark.read.parquet(path))
      } catch {
        case e: Throwable => errors(key) = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      }
    }
  }

  private def pass(): Pass = {
    spark.catalog.clearCache()
    val d = freshData()
    val t0 = System.nanoTime()
    val runs = Keys.map { key =>
      val k0 = System.nanoTime()
      try {
        val df = spans(s"queries.builder:$key")(SparkEntry.queries(key)(spark, d))
        val built = elapsed(k0)
        val got = spans(s"queries.write:$key")(checksum(df))
        val ok = verified.get(key).contains(got)
        KeyRun(key, built, elapsed(k0) - built, ok, if (ok) "" else s"answer $got differs from the verified one")
      } catch {
        case e: Throwable => KeyRun(key, elapsed(k0), 0.0, ok = false, e.getClass.getSimpleName)
      }
    }
    val p = Pass(elapsed(t0), runs)
    LiveHeap.sample()
    p
  }

  /** Per-layer values of one traced pass. */
  private def layersOf(p: Pass, tracing: Tracing): Map[String, Double] = {
    tracing.settle()
    val c = tracing.counters.snapshot.withDefaultValue(0.0)
    val names = Seq("queries.jobs", "queries.stages", "queries.tasks", "queries.task_s",
      "queries.gc_s", "queries.shuffle_read_mb", "queries.shuffle_write_mb", "queries.spill_mb",
      "queries.peak_exec_mem_mb", "queries.analysis_ms", "queries.optimization_ms",
      "queries.planning_ms", "sources.scan_mb", "sources.scan_rows",
      "operators.ckpt_jobs", "operators.ckpt_s", "operators.Graph.jobs",
      "operators.Graph.task_s", "operators.Dedup.jobs", "operators.Dedup.task_s")
    names.map(n => n -> c(n)).toMap ++ Map(
      "traced.pass_s" -> p.wallS,
      "queries.builder_s" -> p.runs.map(_.builderS).sum,
      "queries.write_s" -> p.runs.map(_.writeS).sum,
      "queries.parallelism" -> c("queries.task_s") / p.wallS)
  }

  private def tracedPass(tracing: Tracing): Map[String, Double] = {
    tracing.counters.reset()
    tracing.attach()
    val p = spans("pass")(pass())
    val l = layersOf(p, tracing)
    tracing.detach()
    l
  }

  def run(res: mutable.LinkedHashMap[String, Any]): SparkSession = {
    spans("verify_pass")(verifyPass())
    // untimed: the iterative keys' many small jobs still warm the JIT
    // well after the verifying pass
    val warm = pass()
    val passes = mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    if (!cfg.trace) {
      while (passes.size < Main.minPasses(cfg) || elapsed(t0) < cfg.seconds) passes += pass()
    } else {
      // generator-input read through graft's sources layer
      val read0 = System.nanoTime()
      for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents"))
        spans(s"sources.read:$t")(graft.sources.Tables.load(spark, data, t).count())
      val readS = elapsed(read0)
      val tracing = new Tracing(spark)
      val traced = mutable.ArrayBuffer.empty[Map[String, Double]]
      while (traced.size < Main.minPasses(cfg) || elapsed(t0) < cfg.seconds) {
        passes += pass()
        traced += tracedPass(tracing)
      }
      val layers = res("layers").asInstanceOf[mutable.LinkedHashMap[String, Double]]
      traced.head.keys.toSeq.sorted.foreach(k => layers(k) = median(traced.map(_(k)).toSeq))
      layers("sources.read_s") = readS
      val untracedS = median(passes.map(_.wallS).toSeq)
      layers("trace_overhead.pass_s") = layers("traced.pass_s") - untracedS
      layers("trace_overhead.share") = layers("traced.pass_s") / untracedS - 1.0
      // single-thread baseline: the same traced pass on local[1]
      Main.stop(spark)
      spark = spans("GraftSession.create")(Main.session("local[1]", 1))
      val one = tracedPass(new Tracing(spark))
      layers("local1.pass_s") = one("traced.pass_s")
      for (k <- Seq("queries.task_s", "queries.builder_s", "queries.write_s"))
        layers(s"local1.$k") = one(k)
    }
    val runs = passes.flatMap(_.runs)
    res("passes") = passes.map(_.wallS)
    // a key's latency is its median over the timed passes
    val latency = Keys.map(k => median(runs.filter(_.key == k).map(r => (r.builderS + r.writeS) * 1000.0).toSeq))
    res("latency_ms") = Seq(quantile(latency, 0.5), quantile(latency, 0.99))
    res("latency_samples") = Map("keys" -> Keys.size, "timed passes each" -> passes.size)
    // every key run is one operation, the verifying and warm-up runs included
    res("keys") = Keys.map { k =>
      val mine = (warm.runs ++ runs).filter(_.key == k)
      k -> Map("runs" -> (mine.size + 1),
        "failed" -> (mine.count(!_.ok) + (if (verified.contains(k)) 0 else 1)),
        "error" -> errors.get(k).orElse(mine.find(!_.ok).map(_.error)).getOrElse(""))
    }.toMap
    res("oracle_sql") = Keys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap
    spark
  }
}
