package perfbench

import graft.codec.Codecs
import graft.ingest.TableStore
import graft.query.Api
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import scala.collection.mutable

/** The read side: one closed-loop client running a weighted Indexer-API
  * mix with Zipf-skewed keys and a share of misses — the read phase of the
  * `indexer` workload. */
object ReadWorkload {
  val PageSize = 20
  /** Share of address and txid keys that name nothing in the store. */
  val MissShare = 0.1

  sealed trait Kind { def name: String }
  final case class AddrSearch(addr: String, after: Option[(Long, Int)]) extends Kind {
    def name: String = if (after.isEmpty) "addr_search" else "addr_page2"
  }
  final case class TxidLookup(txid: String, want: Option[(Long, Int)]) extends Kind {
    def name = "point_lookup"
  }
  final case class Filtered(f: Api.TransactionFilter) extends Kind { def name = "filtered_search" }
  final case class AccountLookup(addr: String) extends Kind { def name = "accounts" }
  final case class Balances(asset: Long) extends Kind { def name = "asset_balances" }
  final case class GetBlock(round: Long) extends Kind { def name = "get_block" }
  final case class Boxes(app: Long) extends Kind { def name = "app_boxes" }

  /** One API call: build (until the DataFrame is returned) and collect
    * (every row materialized on the driver). The plan figures are taken
    * in traced runs only. */
  final case class Op(kind: Kind, ref: String, buildMs: Double, collectMs: Double, rows: Seq[Row],
                      asOf: Long, error: Option[String], planMs: Double = 0, optPlanMs: Double = 0,
                      files: Double = 0, scanRows: Double = 0) {
    def name: String = kind.name
    def totalMs: Double = buildMs + collectMs
  }

  def filter(k: Kind): Api.TransactionFilter = k match {
    case AddrSearch(a, after) =>
      Api.TransactionFilter(address = Some(a), limit = Some(PageSize),
        nextToken = after.map { case (r, i) => Codecs.pageTokenEncode(r, i) })
    case TxidLookup(t, _) => Api.TransactionFilter(txid = Some(t))
    case Filtered(f) => f
    case other => throw new IllegalArgumentException(s"$other is not a transactions call")
  }

  private def build(store: TableStore, k: Kind): (DataFrame, Long) = k match {
    case AddrSearch(_, _) | TxidLookup(_, _) | Filtered(_) => Api.transactions(store, filter(k))
    case AccountLookup(a) =>
      Api.accounts(store, Api.AccountQueryOptions(equalToAddress = Some(a), includeAssetHoldings = true))
    case Balances(aid) =>
      Api.assetBalances(store, Api.AssetBalanceQuery(assetId = Some(aid), limit = Some(50)))
    case GetBlock(r) =>
      val asOf = store.nextRound - 1
      (Api.getBlock(store, r).transactions.get, asOf)
    case Boxes(app) =>
      Api.applicationBoxes(store, Api.ApplicationBoxQuery(app, limit = Some(50)))
  }

  def run(ctx: Ctx, store: TableStore, k: Kind, ref: String): Op = {
    val sc = ctx.spark.sparkContext
    sc.setLocalProperty("perfbench.op", ref)
    val tr = ctx.tracer
    try tr.span("query", k.name, ref) {
      val ((df, asOf), buildMs) = Stats.timed(tr.span("query", "build", ref)(build(store, k)))
      val (rows, collectMs) = Stats.timed(tr.span("query", "collect", ref)(df.collect().toSeq))
      if (!ctx.trace) Op(k, ref, buildMs, collectMs, rows, asOf, None)
      else {
        val qe = df.queryExecution
        val ph = qe.tracker.phases
        def phase(n: String) = ph.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
        val scans = fileScans(qe.executedPlan)
        def metric(s: FileSourceScanExec, m: String) = s.metrics.get(m).map(_.value.toDouble).getOrElse(0.0)
        Op(k, ref, buildMs, collectMs, rows, asOf, None,
          planMs = phase("analysis") + phase("optimization") + phase("planning"),
          optPlanMs = phase("optimization") + phase("planning"),
          files = scans.map(metric(_, "numFiles")).sum,
          scanRows = scans.map(metric(_, "numOutputRows")).sum)
      }
    } catch {
      case e: Exception => Op(k, ref, 0, 0, Nil, -1, Some(e.toString))
    } finally sc.setLocalProperty("perfbench.op", null)
  }

  def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => (other.children ++ other.subqueries).flatMap(fileScans)
  }

  private def roundIntra(r: Row): (Long, Int) = (r.getAs[Long]("round"), r.getAs[Int]("intra"))

  /** The generator's newest-first rows a filtered search must return, up
    * to `asOf`, for the filter fields the mix sets (round range, type,
    * asset, note prefix, payment amount, limit). */
  def expectFiltered(f: Api.TransactionFilter, exp: Expect, asOf: Long): Seq[(Long, Int)] = {
    def ok(t: Expect.TxnRow) = t.round <= asOf &&
      f.minRound.forall(t.round >= _) && f.maxRound.forall(t.round <= _) &&
      f.typeEnum.forall(_ == t.typeEnum) && f.assetId.forall(_ == t.asset) &&
      f.notePrefix.forall(p => t.note.startsWith(p)) &&
      f.algosGT.forall(v => t.typeEnum == 1 && t.amount > v)
    exp.txns.reverseIterator.filter(ok).map(t => (t.round, t.intra))
      .take(f.limit.getOrElse(Int.MaxValue)).toSeq
  }

  /** Checks one call against the generator; with `compareRaw` a
    * transactions call is also compared with the same call at
    * `skipOptimization = true`. Transactions pages are compared as of the
    * snapshot the call read. */
  def verify(store: TableStore, op: Op, exp: Expect, res: Result, compareRaw: Boolean): Unit = {
    lazy val got = op.rows.map(roundIntra)
    lazy val asOf = (op.asOf +: got.map(_._1)).max
    op.kind match {
      case AddrSearch(a, after) =>
        val want = exp.addressRows(a, asOf)
          .filter { case (r, i) => after.forall { case (ar, ai) => r < ar || r == ar && i < ai } }
          .take(PageSize)
        res.check(got == want, s"${op.name} ${op.ref}: ${got.take(3)}… != ${want.take(3)}…")
      case TxidLookup(_, want) =>
        res.check(got == want.toSeq, s"point lookup ${op.ref}: $got != $want")
      case Filtered(f) =>
        val want = expectFiltered(f, exp, asOf)
        res.check(got == want, s"${op.name} ${op.ref}: ${got.take(3)}… != ${want.take(3)}…")
      case AccountLookup(a) =>
        val want = exp.accounts.get(a).filter(!_.deleted)
        val ok = op.rows.size == want.size && op.rows.headOption.forall { r =>
          val held = Option(r.getAs[Seq[Row]]("asset_holdings")).getOrElse(Nil)
            .map(h => h.getAs[Long]("assetid") -> h.getAs[java.math.BigDecimal]("amount").toBigInteger.toString)
            .toMap
          val wantHeld = exp.holdings.collect {
            case ((addr, aid), w) if addr == a && !w.deleted => aid -> w.value.takeWhile(_ != '/')
          }.toMap
          r.getAs[Long]("microalgos").toString == want.get.value && held == wantHeld
        }
        res.check(ok, s"accounts ${op.ref} for $a differs from the fold")
      case Balances(aid) =>
        val got = op.rows.map(r => r.getAs[String]("addr") -> r.getAs[java.math.BigDecimal]("amount").toBigInteger.toString)
        val want = exp.holdings.collect {
          case ((addr, id), w) if id == aid && !w.deleted => addr -> w.value.takeWhile(_ != '/')
        }.toSeq.sortBy(_._1).take(50)
        res.check(got == want, s"assetBalances ${op.ref} for $aid differs from the fold")
      case GetBlock(r) =>
        res.check(op.rows.size == exp.txnRowsByRound.getOrElse(r, -1) &&
          op.rows.forall(_.getAs[Long]("round") == r), s"getBlock ${op.ref} for round $r")
      case Boxes(app) =>
        val got = op.rows.map(r => new String(r.getAs[Array[Byte]]("name"), "UTF-8"))
        val want = exp.boxes.keys.collect { case (a, n) if a == app => n }.toSeq.sorted.take(50)
        res.check(got == want, s"applicationBoxes ${op.ref} for app $app")
    }
    // The same transactions call with every filter rewrite and pruning
    // switched off must return the same rows.
    if (compareRaw) op.kind match {
      case AddrSearch(_, _) | TxidLookup(_, _) | Filtered(_) =>
        val raw = Api.transactions(store, filter(op.kind).copy(skipOptimization = true))._1.collect().toSeq
        val key = (r: Row) => (r.getAs[Long]("round"), r.getAs[Int]("intra"), r.getAs[String]("txid"))
        res.check(raw.map(key) == op.rows.map(key), s"${op.name} ${op.ref} differs from skipOptimization")
      case _ =>
    }
  }

  /** Query-layer metrics over the API calls of a traced run. */
  def queryLayers(ctx: Ctx, res: Result, store: TableStore, ops: Seq[Op]): Unit = {
    val ev = ctx.events.get
    WriteWorkloads.settle(ev)
    val jobsByOp = ev.all.groupBy(_.op)
    val tr = ctx.tracer
    val collects = tr.all.filter(s => s.layer == "query" && s.name == "collect").map(s => s.ref -> s.id).toMap
    ops.foreach { op =>
      jobsByOp.getOrElse(op.ref, Nil).foreach(j => tr.add(Span(tr.newId(), collects.getOrElse(op.ref, 0L),
        "query", "job", op.ref, tr.msToNs(j.startMs), tr.msToNs(j.endMs))))
    }
    val ok = ops.filter(_.error.isEmpty)
    res.layer("query.build_ms_p50", Stats.median(ok.map(_.buildMs)))
    res.layer("query.plan_ms_p50", Stats.median(ok.map(_.planMs)))
    res.layer("query.exec_ms_p50", Stats.median(ok.map(o => math.max(0.0, o.collectMs - o.optPlanMs))))
    res.layer("query.jobs_per_op", ok.map(o => jobsByOp.getOrElse(o.ref, Nil).size).sum.toDouble / math.max(1, ok.size))
    res.layer("query.files_per_op", Stats.mean(ok.map(_.files)))
    val lookups = ok.map(_.kind).collect { case TxidLookup(t, _) => t }
    val manifest = math.max(1, store.manifest("txn").size).toDouble
    res.layer("query.bloom_candidate_ratio", Stats.mean(lookups.map(t => store.txidCandidateFiles(t).size / manifest)))
    val addr = ok.filter(_.kind.isInstanceOf[AddrSearch])
    res.layer("query.rows_scanned_per_row_returned",
      addr.map(_.scanRows).sum / math.max(1, addr.map(_.rows.size).sum))
  }

  // ── the read phase of the indexer workload ─────────────────────────

  /** Untimed calls before the read window, so JIT and codegen of the read
    * path land outside it. */
  val WarmOps = 20

  /** The read phase: [[WarmOps]] untimed calls, then one closed-loop client
    * for `ctx.seconds` over the store the backfill phase built. Returns the
    * timed calls and the window's seconds. */
  def serve(ctx: Ctx, store: TableStore, gen: Gen, exp: Expect): (Seq[Op], Double) = {
    val txids = store.read("txn").where("txid IS NOT NULL").select("round", "intra", "txid")
      .collect().map(r => (r.getString(2), (r.getLong(0), r.getInt(1)))).sortBy(_._2)
    val kinds = mix(ctx.seed, gen, exp, txids)
    kinds.take(WarmOps).foreach(k => run(ctx, store, k, "warm"))
    val ops = mutable.ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    val deadline = t0 + ctx.seconds * 1000000000L
    while (System.nanoTime() < deadline) {
      val op = run(ctx, store, kinds.next(), s"op-${ops.size}")
      ops += op
      // A second page follows half of the first pages that came back full.
      if (op.name == "addr_search" && op.rows.size == PageSize && ops.size % 2 == 0) {
        val AddrSearch(a, _) = op.kind
        ops += run(ctx, store, AddrSearch(a, Some(roundIntra(op.rows.last))), s"op-${ops.size}")
      }
    }
    (ops.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  /** Checks every timed call against the generator (the first two
    * transactions calls of each kind also against skipOptimization) and
    * reports the read metrics. */
  def report(ctx: Ctx, res: Result, store: TableStore, exp: Expect, ops: Seq[Op], wallS: Double): Unit = {
    res.attempted += ops.size
    ops.foreach(op => res.check(op.error.isEmpty, s"${op.name} ${op.ref} failed: ${op.error.getOrElse("")}"))
    val raw = mutable.HashMap.empty[String, Int]
    ops.filter(_.error.isEmpty).foreach { op =>
      val n = raw.getOrElse(op.name, 0)
      raw(op.name) = n + 1
      verify(store, op, exp, res, compareRaw = n < 2)
    }
    val ms = ops.map(_.totalMs)
    def p50(names: String*) = Stats.median(ops.filter(o => names.contains(o.name)).map(_.totalMs))
    // Median per call kind, then the geomean across kinds: the kinds differ
    // by 5x in cost, and a median over the pooled calls would move with
    // where the window happens to end in the cycle.
    res.e2e("latency_ms_p50") =
      (Stats.geomean(ops.groupBy(_.name).values.map(k => Stats.median(k.map(_.totalMs))).toSeq), "ms")
    res.report("api_ms_p50") = (Stats.median(ms), "ms")
    res.report("api_ms_p90") = (Stats.pct(ms, 90), "ms")
    res.report("api_calls_per_s") = (ops.size / wallS, "1/s")
    res.report("api_samples") = (ms.size.toDouble, "count")
    res.report("addr_search_ms_p50") = (p50("addr_search", "addr_page2"), "ms")
    res.report("point_lookup_ms_p50") = (p50("point_lookup"), "ms")
    if (ctx.trace) {
      queryLayers(ctx, res, store, ops)
      val metaMs = (1 to 20).map(_ => Stats.timed(ctx.tracer.span("ingest", "meta_read", "")(store.nextRound))._2)
      res.layer("ingest.meta_read_ms_p50", Stats.median(metaMs))
    }
  }

  /** The operation mix (assumed weights, not measured on a deployed
    * indexer): a fixed cycle of 20 call kinds, so every run has the same
    * composition, with seeded keys:
    *   6 transactions by address (Zipf; 10 % unknown addresses),
    *   3 txid point lookups (10 % unknown txids),
    *   3 filtered searches (type, note prefix or amount over a round range,
    *     or one asset over the whole chain),
    *   3 accounts with asset holdings (Zipf; 10 % unknown),
    *   2 asset balances, 2 getBlock, 1 application boxes.
    * Half of the full first address pages are followed by a second page. */
  val Cycle: Seq[String] = Seq("addr", "point", "filter", "accounts", "addr", "balances",
    "block", "addr", "point", "filter", "accounts", "addr", "boxes", "addr", "point",
    "filter", "accounts", "balances", "block", "addr")

  /** Draws in [0, 1) that cover the interval evenly in any window (the
    * golden-ratio sequence from a seeded start): a run of ~70 calls then
    * sees the same spread of Zipf ranks, misses and round ranges whatever
    * the seed, while the keys themselves still come from the seed. */
  final class Even(seed: Long) {
    private var x = new SplittableRandom(seed).nextDouble()
    def next(): Double = { x = (x + 0.6180339887498949) % 1.0; x }
  }

  def mix(seed: Long, gen: Gen, exp: Expect, txids: Array[(String, (Long, Int))]): Iterator[Kind] = {
    val maxRound = exp.rounds - 1
    val assets = exp.assetIds.toSeq.sorted
    val apps = exp.appIds.toSeq.sorted
    val Seq(addrU, acctU, missU, txidU, rangeU, assetU, roundU, appU, variantU) = (1 to 9).map(i => new Even(seed * 31 + i))
    def miss(): Option[String] =
      if (missU.next() < MissShare) Some(s"miss-$seed-${missU.next()}") else None
    def zipfAddr(u: Even): String = miss() match {
      case Some(m) => Codecs.addressEncode(Codecs.sha512_256(m.getBytes))
      case None => gen.addr(math.min(gen.nAccounts - 1, (math.pow(gen.nAccounts + 1.0, u.next()) - 1).toInt))
    }
    def pick[T](xs: Seq[T], u: Even): T = xs((u.next() * xs.size).toInt)
    Iterator.continually(Cycle).flatten.map {
      case "addr" => AddrSearch(zipfAddr(addrU), None)
      case "point" => miss() match {
        case Some(m) => TxidLookup(Codecs.base32NoPad(Codecs.sha512_256(m.getBytes)), None)
        case None => val (t, at) = pick(txids.toSeq, txidU); TxidLookup(t, Some(at))
      }
      case "filter" =>
        val lo = 1 + (rangeU.next() * math.max(1L, maxRound - 100)).toLong
        Filtered((variantU.next() * 4).toInt match {
          case 0 => Api.TransactionFilter(typeEnum = Some(pick(Seq(1, 4, 6), assetU)),
            minRound = Some(lo), maxRound = Some(lo + 49), limit = Some(PageSize))
          case 1 => Api.TransactionFilter(notePrefix = Some(s"tag${(lo % 8).toInt}:".getBytes("UTF-8")),
            minRound = Some(lo), maxRound = Some(lo + 99), limit = Some(PageSize))
          case 2 => Api.TransactionFilter(algosGT = Some(50000L),
            minRound = Some(lo), maxRound = Some(lo + 49), limit = Some(PageSize))
          case _ => Api.TransactionFilter(assetId = Some(pick(assets, assetU)), limit = Some(PageSize))
        })
      case "accounts" => AccountLookup(zipfAddr(acctU))
      case "balances" => Balances(pick(assets, assetU))
      case "block" => GetBlock((roundU.next() * (maxRound + 1)).toLong)
      case _ => Boxes(pick(apps, appU))
    }
  }
}
