package perfbench

import graft.codec.BlockCodec
import graft.ingest.{BlockIngest, TableStore}
import graft.model.Block
import graft.streaming.StreamIngest
import graft.transform.{BlockTransforms, DeltaTransforms}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._

/** The workload that writes: `indexer` catches up over a pre-written chain
  * through `StreamIngest.start` (AvailableNow) and then serves API reads. */
object WriteWorkloads {
  /** Backfill shape: chain length per measured second (sized so that on 4
    * cores the backfill takes about `--seconds`), rounds per batch, genesis
    * accounts (the account set grows during the run), and the rounds of the
    * set-up warm-up chain. */
  val BackfillRoundsPerSecond = 50
  val BackfillBatchRounds = 100
  val BackfillAccounts = 20000
  val WarmRounds = 12
  val TxnsPerRound = 20
  val SetupReps = 3

  /** One streaming micro-batch as Spark reported it. */
  final case class Batch(id: Long, startMs: Long, triggerMs: Long, addBatchMs: Long, blocks: Long) {
    def endMs: Long = startMs + triggerMs
  }

  def batches(q: org.apache.spark.sql.streaming.StreamingQuery): Seq[Batch] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      val d = p.durationMs
      Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        d.getOrDefault("triggerExecution", 0L), d.getOrDefault("addBatch", 0L), p.numInputRows)
    }

  /** Write one block file so the file source sees it whole and in round
    * order: hidden temp name, modification time, then an atomic rename. */
  def writeBlock(dir: Path, b: Block, json: String, mtimeMs: Long): Unit = {
    val tmp = dir.resolve(f".tmp-${b.round}%010d")
    Files.write(tmp, json.getBytes("UTF-8"))
    Files.setLastModifiedTime(tmp, FileTime.fromMillis(mtimeMs))
    Files.move(tmp, dir.resolve(f"block-${b.round}%010d.json"), StandardCopyOption.ATOMIC_MOVE)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p)) {
        _.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.foreach(Files.delete)
      }

  def dirBytes(p: Path): Long =
    scala.util.Using.resource(Files.walk(p)) {
      _.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    }

  /** Run `body` SetupReps times in fresh directories and keep the last
    * result; returns it with the median seconds. A traced run, which does
    * not report set-up time, runs it once. */
  def repeatedSetup[T](ctx: Ctx, name: String)(body: Path => T): (T, Double) = {
    var last: Option[T] = None
    val secs = (1 to (if (ctx.events.isEmpty) SetupReps else 1)).map { rep =>
      val dir = ctx.work.resolve(s"$name-$rep")
      val (v, ms) = Stats.timed(body(dir))
      last.foreach(_ => deleteTree(ctx.work.resolve(s"$name-${rep - 1}")))
      last = Some(v)
      System.err.println(f"[perfbench] $name set-up $rep: ${ms / 1000}%.2f s")
      ms / 1000
    }
    (last.get, Stats.median(secs))
  }

  // ── indexer ─────────────────────────────────────────────────────────

  /** Ingests a short chain into a scratch store, so JIT compilation and
    * codegen of the write path land in set-up, not in the measured batches.
    * Returns the seconds it took. */
  def warmUp(ctx: Ctx): Double = Stats.timed {
    val dir = ctx.work.resolve("warm-up")
    val gen = new Gen(ctx.seed + 1, BackfillAccounts, BackfillAccounts * 2, TxnsPerRound)
    val chain = Files.createDirectories(dir.resolve("chain"))
    val t0 = System.currentTimeMillis() - WarmRounds
    (0 until WarmRounds).foreach { _ =>
      val b = gen.next()
      writeBlock(chain, b, BlockCodec.blockToJson(b), t0 + b.round)
    }
    val store = new TableStore(ctx.spark, dir.resolve("store").toString)
    BlockIngest.initGenesis(store, gen.allocations, gen.network)
    StreamIngest.start(ctx.spark, store, chain.toString, dir.resolve("checkpoint").toString)
      .awaitTermination()
    deleteTree(dir)
  }._2 / 1000

  /** A store holding only the genesis allocations. */
  def genesisStore(ctx: Ctx, gen: Gen, dir: Path): TableStore = {
    val store = new TableStore(ctx.spark, dir.toString)
    BlockIngest.initGenesis(store, gen.allocations, gen.network)
    store
  }

  /** The `indexer` workload: backfill a pre-written chain through
    * `StreamIngest.start`, then serve the API mix over the store it built
    * (see [[ReadWorkload.serve]]). Blocks/s is the write side's number,
    * API latency the read side's: a change to one side predicts no change
    * in the other's. A traced run backfills the same chain once per
    * window (see [[Ctx.windows]]), each time into a fresh store from
    * genesis. */
  val indexer: (Ctx, Result) => Double = (ctx, res) => {
    val rounds = BackfillRoundsPerSecond * ctx.seconds
    // A traced run's warm-up window (see Ctx.windows) does the warm-up
    // chain's work.
    val warmS = if (ctx.events.isEmpty) warmUp(ctx) else 0.0
    val ((gen, blocks, firstStore, dir), setupS) = repeatedSetup(ctx, "indexer") { dir =>
      val gen = new Gen(ctx.seed, BackfillAccounts, BackfillAccounts * 3, TxnsPerRound)
      val blocks = Vector.fill(rounds)(gen.next())
      val chain = Files.createDirectories(dir.resolve("chain"))
      val t0 = System.currentTimeMillis() - rounds
      blocks.foreach(b => writeBlock(chain, b, BlockCodec.blockToJson(b), t0 + b.round))
      (gen, blocks, genesisStore(ctx, gen, dir.resolve("store-0")), dir)
    }
    val exp = new Expect(gen.allocations)
    blocks.foreach(exp.apply)

    ctx.windows(res) { pass =>
      val store = if (pass == 0) firstStore else genesisStore(ctx, gen, dir.resolve(s"store-$pass"))
      ctx.startWindow()
      val t0 = System.nanoTime()
      val q = StreamIngest.start(ctx.spark, store, dir.resolve("chain").toString,
        dir.resolve(s"checkpoint-$pass").toString, maxFilesPerTrigger = BackfillBatchRounds)
      q.awaitTermination()
      val wallS = (System.nanoTime() - t0) / 1e9
      // The reads warm up in every window; a warm-up window only backfills.
      val (ops, readS) =
        if (ctx.isWarmUp(pass)) (Nil, 0.0) else ReadWorkload.serve(ctx, store, gen, exp)
      ctx.endWindow()
      val bs = batches(q)
      res.attempted += rounds

      Checks.store(store, exp, res)
      if (ops.nonEmpty) ReadWorkload.report(ctx, res, store, exp, ops, readS)
      val batchMs = bs.map(_.triggerMs.toDouble)
      val storeBytes = dirBytes(Paths.get(store.root)).toDouble
      // The median batch's rate: one batch may meet a burst of load from
      // outside the process.
      res.e2e("work_per_s") = (Stats.median(bs.map(b => b.blocks * 1000.0 / b.triggerMs)), "1/s")
      res.report("blocks_per_s") = (rounds / wallS, "1/s")
      res.report("store_bytes_per_txn") = (storeBytes / exp.txnRows, "bytes")
      res.report("batch_ms_p50") = (Stats.median(batchMs), "ms")
      res.report("batches") = (bs.size.toDouble, "count")
      if (ctx.trace) {
        blockLayers(ctx, res, blocks)
        ingestLayers(ctx, res, store, bs)
        res.layer("state.store_bytes_per_txn", storeBytes / exp.txnRows)
      }
    }
    warmS + setupS
  }

  // ── per-layer metrics of the write path (traced runs) ───────────────

  /** Waits until the listener has seen every job end. */
  def settle(ev: SparkEvents): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    var last = -1
    while (System.currentTimeMillis() < deadline &&
      (ev.jobs.size != last || ev.all.exists(_.endMs < 0))) {
      last = ev.jobs.size
      Thread.sleep(200)
    }
  }

  /** Streaming, ingest and state metrics from the batches Spark reported
    * and the jobs it ran in them. Reader jobs carry a `perfbench.op` and
    * are left out. Each batch becomes a `streaming` span (the trigger)
    * holding an `ingest` span (first job start to last job end) holding
    * one span per job: `state` for merge jobs, `ingest` for the rest. */
  def ingestLayers(ctx: Ctx, res: Result, store: TableStore, bs: Seq[Batch]): Unit = {
    val ev = ctx.events.get
    settle(ev)
    val tr = ctx.tracer
    val ingestJobs = ev.all.filter(_.op.isEmpty)
    val commits = metaRecordTimes(store)
    val per = bs.map { b =>
      val js = ingestJobs.filter(j => j.startMs >= b.startMs && j.startMs <= b.endMs)
      val trig = Span(tr.newId(), 0, "streaming", "trigger", s"batch-${b.id}",
        tr.msToNs(b.startMs), tr.msToNs(b.endMs))
      tr.add(trig)
      if (js.nonEmpty) {
        val ing = Span(tr.newId(), trig.id, "ingest", "applyBlocks", s"batch-${b.id}",
          tr.msToNs(js.map(_.startMs).min), tr.msToNs(js.map(_.endMs).max))
        tr.add(ing)
        js.foreach { j =>
          val ph = j.phase
          tr.add(Span(tr.newId(), ing.id, if (ph == "merge") "state" else "ingest", s"job-$ph",
            s"batch-${b.id}", tr.msToNs(j.startMs), tr.msToNs(j.endMs)))
        }
      }
      val byPhase = js.groupBy(j => j.phase)
      def busy(ph: String): Double = byPhase.get(ph).map(x => ev.totals(x)("run_ms")).getOrElse(0.0)
      // The metadata commit is driver work between the last index job and
      // the commit record it writes.
      val lastIndexEnd = byPhase.get("index").map(_.map(_.endMs).max)
      val commitMs = lastIndexEnd.flatMap(e => commits.find(t => t >= e && t <= b.endMs).map(_ - e))
        .getOrElse(0L).toDouble
      val merge = byPhase.getOrElse("merge", Nil)
      (ev.totals(js), busy("prepass"), busy("append"), busy("index"), commitMs, busy("compact"),
        ev.totals(merge), b)
    }
    def avg(f: ((Map[String, Double], Double, Double, Double, Double, Double, Map[String, Double], Batch)) => Double) =
      Stats.mean(per.map(f))
    res.layer("ingest.batch_ms_p50", Stats.median(bs.map(_.addBatchMs.toDouble)))
    res.layer("ingest.jobs_per_batch", avg(_._1("jobs")))
    res.layer("ingest.stages_per_batch", avg(_._1("stages")))
    res.layer("ingest.tasks_per_batch", avg(_._1("tasks")))
    res.layer("ingest.prepass_ms_per_batch", avg(_._2))
    res.layer("ingest.append_ms_per_batch", avg(_._3))
    res.layer("ingest.index_ms_per_batch", avg(_._4))
    res.layer("ingest.commit_ms_per_batch", avg(_._5))
    res.layer("ingest.compact_ms_per_batch", avg(_._6))
    res.layer("ingest.sched_delay_ms_per_batch", avg(_._1("sched_delay_ms")))
    res.layer("ingest.shuffle_bytes_per_batch", avg(_._1("shuffle_bytes")))
    res.layer("ingest.spill_bytes_per_batch", avg(_._1("spill_bytes")))
    res.layer("state.merge_ms_per_batch", avg(_._7("run_ms")))
    res.layer("state.bytes_rewritten_per_batch", avg(_._7("out_bytes")))
    val rewritten = per.map(_._7("out_records")).sum
    res.layer("state.rows_rewritten_per_delta_row", rewritten / math.max(1.0, deltaRows.toDouble))
    res.layer("ingest.manifest_files",
      Seq("txn", "txn_participation", "block_header").map(t => store.manifest(t).size).sum.toDouble)
    res.layer("streaming.overhead_ms_per_batch", Stats.mean(bs.map(b => (b.triggerMs - b.addBatchMs).toDouble)))
    res.layer("streaming.blocks_per_batch", Stats.mean(bs.map(_.blocks.toDouble)))
  }

  /** Delta rows of the blocks measured by [[blockLayers]]. */
  @volatile private var deltaRows = 0L

  /** Commit instants (epoch ms) of the store's metadata-log records. */
  private def metaRecordTimes(store: TableStore): Seq[Long] = {
    val meta = java.nio.file.Paths.get(store.root, "_meta")
    if (!Files.exists(meta)) Nil
    else scala.util.Using.resource(Files.list(meta)) {
      _.iterator().asScala.filter(_.getFileName.toString.endsWith(".json"))
        .map(p => Files.getLastModifiedTime(p).toMillis).toSeq.sorted
    }
  }

  /** Codec and transform cost per block: the benchmark calls the same
    * functions the executors run, on the run's blocks, one span each,
    * after the measured window so nothing else competes for the core. */
  def blockLayers(ctx: Ctx, res: Result, blocks: Seq[Block]): Unit = {
    val tr = ctx.tracer
    val jsons = blocks.map(BlockCodec.blockToJson)
    var parseNs, flattenNs, deltaNs, rows, delta = 0L
    blocks.zip(jsons).foreach { case (b, json) =>
      val ref = s"round-${b.round}"
      var t = System.nanoTime()
      val parsed = tr.span("codec", "blockFromJson", ref)(BlockCodec.blockFromJson(json))
      parseNs += System.nanoTime() - t
      t = System.nanoTime()
      val flat = tr.span("transform", "flatten", ref) {
        BlockTransforms.flattenBlock(parsed).size + BlockTransforms.participationRows(parsed).size + 1
      }
      flattenNs += System.nanoTime() - t
      t = System.nanoTime()
      val d = tr.span("transform", "deltas", ref) {
        DeltaTransforms.accountDeltaRows(parsed).size + DeltaTransforms.assetDeltaRows(parsed).size +
          DeltaTransforms.accountAssetDeltaRows(parsed).size + DeltaTransforms.appDeltaRows(parsed).size +
          DeltaTransforms.accountAppDeltaRows(parsed).size + DeltaTransforms.appBoxDeltaRows(parsed).size
      }
      deltaNs += System.nanoTime() - t
      rows += flat + d
      delta += d
    }
    deltaRows = delta
    val n = math.max(1, blocks.size).toDouble
    res.layer("codec.parse_us_per_block", parseNs / 1e3 / n)
    res.layer("codec.bytes_per_block", jsons.map(_.length.toLong).sum / n)
    res.layer("transform.flatten_us_per_block", flattenNs / 1e3 / n)
    res.layer("transform.delta_us_per_block", deltaNs / 1e3 / n)
    res.layer("transform.rows_per_block", rows / n)
  }
}
