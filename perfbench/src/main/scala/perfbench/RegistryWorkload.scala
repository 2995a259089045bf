package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** The `registry` workload: a fixed slice of `SparkEntry.queries`, each
  * timed by full materialization. It touches neither `TableStore` nor
  * `Api`, so it is the bypass workload for both. */
object RegistryWorkload {
  /** One query in this many is checked against its oracle per run; the
    * seed rotates which, so consecutive seeds cover the whole slice. */
  val OracleShare = 3

  /** The timed action: every row of the full plan, stored nowhere. A
    * `count()` would let Catalyst prune the projections it does not need. */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Drops what a query left cached so the next one starts clean. */
  def clear(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** Empties Spark's cache of compiled generated classes, so a second
    * window compiles its code again as the first did. The cache is
    * private to Spark; a changed Spark fails here loudly. */
  def clearCodegenCache(): Unit = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val cache = m.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  /** Planning time of every query execution Spark finishes (traced runs). */
  final class PlanLog extends QueryExecutionListener {
    val planMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planMs.add(qe.tracker.phases.values.map(_.durationMs.toDouble).sum)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val registry: (Ctx, Result) => Double = (ctx, res) => {
    val spark = ctx.spark
    require(ctx.sfDir.nonEmpty, "the registry workload needs --sf-dir")
    val slice = Layers.registrySlice.map(q => q -> SparkEntry.queries(q))
    val tr = ctx.tracer

    // Set-up: warm the engine (JIT, parquet footers, collation support)
    // on a query outside the slice. Each query's own planning and codegen
    // stay in its timed run, as a batch job pays them on every run.
    val (_, setupMs) = Stats.timed {
      SparkEntry.entry(spark).count()
      import spark.implicits._
      import org.apache.spark.sql.functions._
      Seq("warm up", "the jvm").toDF("s")
        .select(col("s"), explode(split(col("s"), " ")).as("w"))
        .filter(lower(col("w")).contains("a") || col("w").rlike("u"))
        .select(md5(col("w")), base64(encode(col("w"), "UTF-8")))
        .count()
    }

    ctx.windows(res) { pass =>
      if (pass > 0) clearCodegenCache()
      val plans = new PlanLog
      if (ctx.trace) spark.listenerManager.register(plans)
      val times = mutable.LinkedHashMap(slice.map(_._1 -> mutable.ArrayBuffer.empty[Double]): _*)
      var passes = 0
      ctx.startWindow()
      val compile1 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      val deadline = t0 + ctx.seconds * 1000000000L
      while (passes == 0 || System.nanoTime() < deadline) {
        slice.foreach { case (q, fn) =>
          val ref = s"$q-$passes"
          spark.sparkContext.setLocalProperty("perfbench.op", ref)
          try {
            val (ok, ms) = Stats.timed {
              try { tr.span("registry", q, ref)(materialize(fn(spark, ctx.sfDir))); true }
              catch { case e: Exception => res.check(false, s"$ref failed: $e"); false }
            }
            res.attempted += 1
            if (ok) times(q) += ms
          } finally spark.sparkContext.setLocalProperty("perfbench.op", null)
          clear(spark)
        }
        passes += 1
      }
      val wallS = (System.nanoTime() - t0) / 1e9
      val compileMs = (CodeGenerator.compileTime - compile1) / 1e6
      ctx.endWindow()
      if (ctx.trace) spark.listenerManager.unregister(plans)

      val med = times.map { case (q, xs) => q -> Stats.median(xs.toSeq) }
      res.e2e("work_per_s") = (times.values.map(_.size).sum / wallS, "1/s")
      res.e2e("latency_ms_p50") = (Stats.geomean(med.values.toSeq), "ms")
      res.report("registry_s") = (med.values.sum / 1000, "s")
      res.report("registry_geomean_ms") = (Stats.geomean(med.values.toSeq), "ms")
      res.report("registry_passes") = (passes.toDouble, "count")
      if (ctx.trace) {
        val ev = ctx.events.get
        WriteWorkloads.settle(ev)
        val jobs = ev.all.filter(_.op.nonEmpty)
        val runs = tr.all.filter(_.layer == "registry").map(s => s.ref -> s.id).toMap
        jobs.foreach(j => tr.add(Span(tr.newId(), runs.getOrElse(j.op, 0L), "registry", "job", j.op,
          tr.msToNs(j.startMs), tr.msToNs(j.endMs))))
        val tot = ev.totals(jobs)
        med.foreach { case (q, ms) => res.layer(s"registry.${q}_s", ms / 1000) }
        res.layer("registry.plan_ms", plans.planMs.toArray.map(_.asInstanceOf[Double]).sum / passes)
        res.layer("registry.codegen_compile_ms", compileMs / passes)
        res.layer("registry.executor_run_ms", tot("run_ms") / passes)
        res.layer("registry.shuffle_bytes", tot("shuffle_bytes") / passes)
        res.layer("registry.spill_bytes", tot("spill_bytes") / passes)
        res.layer("registry.tasks", tot("tasks") / passes)
      }
    }

    // Outside the window: a third of the slice, rotating with the seed,
    // writes its result for the DuckDB oracle comparison.
    slice.zipWithIndex.filter { case (_, i) => (i + ctx.seed) % OracleShare == 0 }.foreach { case ((q, fn), _) =>
      val out = ctx.work.resolve("registry-results").resolve(q).toString
      fn(spark, ctx.sfDir).write.mode("overwrite").parquet(out)
      res.oracle += ((q, out, SparkEntry.oracleSql(q)))
      clear(spark)
    }

    setupMs / 1000
  }
}
