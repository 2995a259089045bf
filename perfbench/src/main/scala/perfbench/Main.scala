package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** The one Spark session every workload runs in. */
object BenchSession {
  /** `SPARK_GRAFT_CPUS` when set — it must be a positive integer (`*` and
    * other non-numeric values are rejected) — else every available core. */
  def cores(env: Map[String, String]): Int = env.get("SPARK_GRAFT_CPUS") match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) =>
      val n = if (v.matches("[0-9]{1,6}")) v.toInt else 0
      require(n > 0, s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'")
      n
  }

  def build(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "300")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Everything one run reports. `e2e` holds the contract's end-to-end
  * metrics, `report` the workload's named end-to-end metrics, `layers` the
  * per-layer metrics of a traced run, `untraced` the end-to-end metrics of
  * a traced run's untraced window. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val report = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val untraced = mutable.LinkedHashMap.empty[String, (Double, String)]
  val problems = mutable.ArrayBuffer.empty[String]
  /** (query, result directory, oracle SQL) for the DuckDB comparison. */
  val oracle = mutable.ArrayBuffer.empty[(String, String, String)]

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { failed += 1; if (problems.size < 50) problems += what }

  def layer(name: String, value: Double): Unit = {
    require(Layers.units.contains(name), s"unknown layer metric $name")
    layers(name) = (value, Layers.units(name))
  }
}

final case class Ctx(spark: SparkSession, tracer: Tracer, events: Option[SparkEvents],
                     seed: Long, seconds: Int, work: Path, sfDir: String) {
  /** Runs the measured window, numbered from 0. A traced run (`events`
    * set) runs it three times in this JVM: untraced to warm up (numbers
    * dropped, checks kept; the first window in a JVM is the slow one even
    * after set-up's warm-up), untraced again as the baseline of the tracing
    * overhead, then with spans and Spark listeners on. */
  def windows(res: Result)(window: Int => Unit): Unit =
    if (events.isEmpty) window(0)
    else {
      window(0)
      res.e2e.clear()
      window(1)
      res.untraced ++= res.e2e
      res.e2e.clear()
      events.foreach(spark.sparkContext.addSparkListener(_))
      tracer.start()
      window(2)
    }

  @volatile var gcAtStart = 0L

  @volatile var gcWindowMs = 0L
  @volatile var heapPeakMb = 0.0

  /** Start of the measured window, after set-up: GC time counts from
    * here, and the live heap is taken for the first time. */
  def startWindow(): Unit = {
    heapPeakMb = LiveHeap.mb()
    gcAtStart = Stats.gcMs()
  }

  /** End of the measured window, before any correctness check runs: the
    * live heap is taken again and the larger of the two is reported. */
  def endWindow(): Unit = {
    gcWindowMs = Stats.gcMs() - gcAtStart
    heapPeakMb = math.max(heapPeakMb, LiveHeap.mb())
  }

  /** True for the warm-up window of a traced run. */
  def isWarmUp(window: Int): Boolean = events.nonEmpty && window == 0

  /** True in the traced window of a traced run. */
  def trace: Boolean = tracer.on
}

/** Per-layer metric names and units, in report order. */
object Layers {
  /** The registry slice: the text family's gram and char paths and language
    * id, the dedup joins that slow down as cores are added, one graph
    * iteration and a relational baseline. All are DuckDB-oracled. */
  val registrySlice: Seq[String] = Seq(
    "text_exact_runs", "text_langid_margin", "text_char_dedup", "dedup_keep_best",
    "dedup_prefix_join", "mm_crossmodal_dedup", "graph_pagerank", "f1_agg_pricing")

  val traced: Seq[String] = Seq("codec", "transform", "state", "ingest", "streaming", "query", "registry")

  val units: ListMap[String, String] = ListMap(
    (Seq(
      "codec.parse_us_per_block" -> "us", "codec.bytes_per_block" -> "bytes",
      "transform.flatten_us_per_block" -> "us", "transform.delta_us_per_block" -> "us",
      "transform.rows_per_block" -> "count",
      "state.merge_ms_per_batch" -> "ms", "state.bytes_rewritten_per_batch" -> "bytes",
      "state.rows_rewritten_per_delta_row" -> "ratio", "state.store_bytes_per_txn" -> "bytes",
      "ingest.batch_ms_p50" -> "ms", "ingest.jobs_per_batch" -> "count",
      "ingest.stages_per_batch" -> "count", "ingest.tasks_per_batch" -> "count",
      "ingest.prepass_ms_per_batch" -> "ms", "ingest.append_ms_per_batch" -> "ms",
      "ingest.index_ms_per_batch" -> "ms", "ingest.commit_ms_per_batch" -> "ms",
      "ingest.compact_ms_per_batch" -> "ms", "ingest.sched_delay_ms_per_batch" -> "ms",
      "ingest.shuffle_bytes_per_batch" -> "bytes", "ingest.spill_bytes_per_batch" -> "bytes",
      "ingest.manifest_files" -> "count", "ingest.meta_read_ms_p50" -> "ms",
      "streaming.overhead_ms_per_batch" -> "ms", "streaming.blocks_per_batch" -> "count",
      "query.build_ms_p50" -> "ms", "query.plan_ms_p50" -> "ms", "query.exec_ms_p50" -> "ms",
      "query.jobs_per_op" -> "count", "query.files_per_op" -> "count",
      "query.bloom_candidate_ratio" -> "ratio", "query.rows_scanned_per_row_returned" -> "ratio") ++
      registrySlice.map(q => s"registry.${q}_s" -> "s") ++
      Seq("registry.plan_ms" -> "ms", "registry.codegen_compile_ms" -> "ms",
        "registry.executor_run_ms" -> "ms", "registry.shuffle_bytes" -> "bytes",
        "registry.spill_bytes" -> "bytes", "registry.tasks" -> "count",
        "jvm.gc_ms" -> "ms", "jvm.heap_live_peak_mb" -> "MB") ++
      traced.map(l => s"trace.${l}_self_ms" -> "ms") ++
      Seq("trace.spans" -> "count", "trace.overhead_pct" -> "%",
        "trace.throughput_loss_pct" -> "%")): _*)
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S --trace
  * 0|1 --work DIR [--sf-dir DIR] [--trace-out FILE]`. Prints one
  * `PERFBENCH {json}` line. */
object Main {
  val workloads: Map[String, (Ctx, Result) => Double] = Map(
    "indexer" -> WriteWorkloads.indexer,
    "registry" -> RegistryWorkload.registry)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = arg("workload")
    require(workloads.contains(workload), s"unknown workload '$workload'")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    require(seconds > 0, "--seconds must be positive")
    val trace = arg("trace") == "1"
    val work = Paths.get(arg("work")).toAbsolutePath
    val sfDir = kv.get("sf-dir").map(p => Paths.get(p).toAbsolutePath.toString).getOrElse("")
    val cores = BenchSession.cores(sys.env)

    val t0 = System.nanoTime()
    Files.createDirectories(work)
    val spark = BenchSession.build(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer
    val events = if (trace) Some(new SparkEvents) else None
    val res = new Result
    val ctx = Ctx(spark, tracer, events, seed, seconds, work, sfDir)
    try {
      // A workload returns its set-up seconds (the median of its repeated
      // set-ups), runs its measurement in ctx.windows and brackets it with
      // ctx.startWindow() and ctx.endWindow().
      val setupS = workloads(workload)(ctx, res)
      System.err.println(f"[perfbench] session ${sessionS}%.1f s, set-up median $setupS%.1f s, " +
        f"whole run ${(System.nanoTime() - t0) / 1e9}%.1f s")
      res.e2e("setup_s") = (sessionS + setupS, "s")
      res.report("setup_s") = res.e2e("setup_s")
      res.report("heap_live_peak_mb") = (ctx.heapPeakMb, "MB")
      if (trace) {
        res.layer("jvm.gc_ms", ctx.gcWindowMs.toDouble)
        res.layer("jvm.heap_live_peak_mb", ctx.heapPeakMb)
        val self = tracer.selfMsByLayer
        Layers.traced.foreach(l => res.layer(s"trace.${l}_self_ms", self.getOrElse(l, 0.0)))
        res.layer("trace.spans", tracer.all.size.toDouble)
        // Tracing overhead: the traced window against the untraced one
        // that ran just before it in this JVM (see Ctx.windows).
        def change(k: String) = {
          val base = res.untraced(k)._1
          100.0 * (res.e2e(k)._1 - base) / base
        }
        res.layer("trace.overhead_pct", change("latency_ms_p50"))
        res.layer("trace.throughput_loss_pct", -change("work_per_s"))
        Layers.units.keys.foreach(k => if (!res.layers.contains(k)) res.layer(k, 0.0))
        kv.get("trace-out").foreach(p => tracer.write(Paths.get(p)))
      }
    } catch {
      case e: Throwable =>
        res.failed += 1
        res.problems += s"workload aborted: $e"
        e.printStackTrace()
    } finally {
      spark.stop()
    }
    res.problems.foreach(p => System.err.println(s"[perfbench] check failed: $p"))
    println("PERFBENCH " + render(res))
  }

  private def render(res: Result): String = {
    def obj(m: collection.Map[String, (Double, String)]): String =
      m.map { case (k, (v, u)) => s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
        .mkString("{", ",", "}")
    val oracle = res.oracle.map { case (q, p, sql) => Seq(q, p, sql).map(Json.str).mkString("[", ",", "]") }
      .mkString("[", ",", "]")
    s"""{"attempted":${res.attempted},"failed":${res.failed},"e2e":${obj(res.e2e)},""" +
      s""""report":${obj(res.report)},"layers":${obj(res.layers)},"oracle":$oracle}"""
  }
}
