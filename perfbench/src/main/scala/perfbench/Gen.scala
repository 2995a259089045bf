package perfbench

import graft.codec.Codecs
import graft.model._
import java.nio.ByteBuffer
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded, Algorand-shaped block stream. The program only ever sees the
  * blocks (as per-round JSON files or genesis allocations); everything the
  * generator remembers about them is what the correctness checks compare
  * against.
  *
  * Traffic properties (see perfbench/README.md). The shares are assumed
  * round numbers that exercise every table and delete path, not figures
  * measured on Algorand mainnet:
  *   - address popularity is Zipf (s = 1) over the allocated accounts, so
  *     account 0 is the hottest and new accounts land in the cold tail;
  *   - root transaction mix: pay 50 %, axfer 22 %, appl 16 % (60 % carry an
  *     inner-txn tree, 30 % of those two levels deep), acfg 7 %, afrz 5 %;
  *   - 3 % of payments fund a brand-new account, 1 % close the sender
  *     (account soft delete), 10 % of asset transfers are opt-out closes
  *     (holding soft delete);
  *   - 35 % of app calls create a box and 25 % delete one (hard delete).
  *
  * Round 0 bootstraps 16 assets and 8 apps. Accounts below `Protected`
  * create assets and apps and are never closed.
  */
final class Gen(val seed: Long, val genesisAccounts: Int, val maxAccounts: Int,
                val txnsPerRound: Int) {
  require(genesisAccounts > Gen.Protected && maxAccounts >= genesisAccounts)
  private val rng = new SplittableRandom(seed)

  val genesisId = "perfbench-v1"
  val genesisHash: Array[Byte] = Codecs.sha512_256(s"perfbench-genesis-$seed".getBytes("UTF-8"))
  val network = s"perfbench-$seed"
  val feeSink: String = Codecs.addressEncode(Codecs.sha512_256(s"fee-$seed".getBytes("UTF-8")))
  val rewardsPool: String = Codecs.addressEncode(Codecs.sha512_256(s"pool-$seed".getBytes("UTF-8")))

  private val addrs = new Array[String](maxAccounts)
  def addr(i: Int): String = {
    if (addrs(i) == null) {
      val pk = ByteBuffer.allocate(32).putLong(seed).putLong(0x5eedL).putInt(i).array()
      addrs(i) = Codecs.addressEncode(pk)
    }
    addrs(i)
  }

  // ── world state ────────────────────────────────────────────────────
  private val balance = new Array[Long](maxAccounts)
  var nAccounts: Int = genesisAccounts
  private val holdings = mutable.HashMap.empty[(Int, Long), (BigInt, Boolean)]
  private val holders = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Int]]
  private val assets = mutable.ArrayBuffer.empty[(Long, Int)] // (id, creator)
  private val apps = mutable.ArrayBuffer.empty[(Long, Int)]
  private val boxes = mutable.HashMap.empty[Long, mutable.ArrayBuffer[String]]
  private val optedIn = mutable.HashSet.empty[(Int, Long)]
  private var nextId = 1000L
  private var boxSeq = 0L
  private var txnCounter = 0L
  var nextRound: Long = 0L

  (0 until genesisAccounts).foreach(i => balance(i) = 1000000000000L + i)

  /** Genesis allocations in the shape `BlockIngest.initGenesis` takes. */
  def allocations: Seq[(String, Long, String)] =
    (0 until genesisAccounts).map(i => (addr(i), balance(i), "{}"))

  // ── sampling ───────────────────────────────────────────────────────
  /** Zipf(s = 1) rank over [0, n) by the continuous inverse CDF. */
  private def zipf(n: Int): Int =
    math.min(n - 1, (math.pow(n + 1.0, rng.nextDouble()) - 1.0).toInt)
  private def chance(p: Double): Boolean = rng.nextDouble() < p
  private def pickAny(): Int = zipf(nAccounts)
  private def pickAlive(): Int = {
    var i = pickAny(); var tries = 0
    while (balance(i) == 0 && tries < 8) { i = pickAny(); tries += 1 }
    if (balance(i) == 0) 0 else i
  }
  private def pickProtected(): Int = rng.nextInt(Gen.Protected)
  private def sig(): Array[Byte] = {
    val b = new Array[Byte](64); rng.nextBytes(b); b
  }

  // ── one block ──────────────────────────────────────────────────────
  private final class Delta(round: Long) {
    val accts = mutable.LinkedHashSet.empty[Int]
    val assetRecs = mutable.LinkedHashMap.empty[(Int, Long), AssetResourceRecord]
    val appRecs = mutable.LinkedHashMap.empty[(Int, Long), AppResourceRecord]
    val kv = Vector.newBuilder[KvMod]
    def move(from: Int, to: Int, amt: Long): Unit = {
      balance(from) -= amt; balance(to) += amt; accts += from; accts += to
    }
    def fee(from: Int): Unit = { balance(from) -= 1000; accts += from }
    def holding(a: Int, aid: Long): Unit = {
      val rec = assetRecs.getOrElse((a, aid), AssetResourceRecord(addr(a), aid))
      assetRecs((a, aid)) = holdings.get((a, aid)) match {
        case Some((amt, frz)) => rec.copy(holdingDeleted = false, holding = Some(AssetHolding(amt, frz)))
        case None => rec.copy(holdingDeleted = true, holding = None)
      }
    }
    def result: LedgerDelta = LedgerDelta(
      accounts = accts.toVector.map(i =>
        AccountDelta(addr(i), balance(i), accountDataJson = if (balance(i) == 0) "{}" else s"""{"r":$round}""")),
      assetResources = assetRecs.values.toVector,
      appResources = appRecs.values.toVector,
      kvMods = kv.result())
  }

  private def note(round: Long, j: Int): Array[Byte] =
    (if (chance(0.3)) s"tag${rng.nextInt(8)}:$round/$j" else s"r$round/$j").getBytes("UTF-8")

  private def base(t: String, sender: Int, round: Long, j: Int): Txn =
    Txn(txType = t, sender = addr(sender), fee = 1000, firstValid = round,
      lastValid = round + 1000, note = note(round, j))

  private def createAsset(d: Delta, creator: Int, round: Long, j: Int): SignedTxnWithAD = {
    val id = nextId; nextId += 1
    val total = BigInt(1000000000000000L)
    val params = AssetParams(total = total, unitName = s"U$id", assetName = s"Asset $id",
      manager = addr(creator))
    assets += ((id, creator))
    holdings((creator, id)) = (total, false)
    holders.getOrElseUpdate(id, mutable.ArrayBuffer.empty) += creator
    d.fee(creator)
    d.assetRecs((creator, id)) = AssetResourceRecord(addr(creator), id,
      paramsJson = Some(s"""{"an":"Asset $id","t":$total,"un":"U$id"}"""),
      holding = Some(AssetHolding(total, frozen = false)))
    SignedTxnWithAD(base("acfg", creator, round, j).copy(assetParams = Some(params)), sig = sig(),
      applyData = ApplyData(configAsset = id))
  }

  private def createApp(d: Delta, creator: Int, round: Long, j: Int): SignedTxnWithAD = {
    val id = nextId; nextId += 1
    apps += ((id, creator))
    d.fee(creator)
    d.appRecs((creator, id)) = AppResourceRecord(addr(creator), id,
      paramsJson = Some(s"""{"approval":"app$id"}"""))
    SignedTxnWithAD(base("appl", creator, round, j), sig = sig(),
      applyData = ApplyData(applicationId = id))
  }

  private def pay(d: Delta, round: Long, j: Int): SignedTxnWithAD = {
    val s = pickAlive()
    val r =
      if (chance(0.03) && nAccounts < maxAccounts) { nAccounts += 1; nAccounts - 1 }
      else { var x = pickAny(); if (x == s) x = (s + 1) % nAccounts; x }
    val amt =
      if (r >= genesisAccounts && balance(r) == 0) 10000000L
      else math.min(1000L + rng.nextInt(100000), math.max(0L, (balance(s) - 2000) / 2))
    d.fee(s); d.move(s, r, amt)
    if (s >= Gen.Protected && chance(0.01)) {
      var c = pickAlive(); if (c == s) c = 0
      val rest = balance(s)
      d.move(s, c, rest)
      SignedTxnWithAD(base("pay", s, round, j).copy(receiver = addr(r), amount = amt,
        closeRemainderTo = addr(c)), sig = sig(), applyData = ApplyData(closeAmount = rest))
    } else
      SignedTxnWithAD(base("pay", s, round, j).copy(receiver = addr(r), amount = amt), sig = sig())
  }

  private def aliveHolder(aid: Long): Option[Int] = {
    val hs = holders(aid)
    (0 until 4).iterator.map(_ => hs(rng.nextInt(hs.size)))
      .find(h => holdings.get((h, aid)).exists(_._1 > 0))
  }

  /** Opt-in: a receiver must hold an asset (possibly 0) before a transfer. */
  private def optIn(d: Delta, x: Int, aid: Long, round: Long, j: Int): SignedTxnWithAD = {
    if (!holdings.contains((x, aid))) {
      holdings((x, aid)) = (BigInt(0), false)
      holders.getOrElseUpdate(aid, mutable.ArrayBuffer.empty) += x
    }
    d.fee(x); d.holding(x, aid)
    SignedTxnWithAD(base("axfer", x, round, j).copy(assetReceiver = addr(x), xferAsset = aid),
      sig = sig())
  }

  private def axfer(d: Delta, round: Long, j: Int): SignedTxnWithAD = {
    val (aid, creator) = assets(rng.nextInt(assets.size))
    val u = rng.nextDouble()
    val x = pickAlive()
    if (u < 0.3 || !holdings.contains((x, aid)) && u < 0.9) optIn(d, x, aid, round, j)
    else if (u < 0.9) {
      val s = if (chance(0.5)) creator else aliveHolder(aid).getOrElse(creator)
      val (sAmt, sFrz) = holdings((s, aid))
      val (rAmt, rFrz) = holdings((x, aid))
      val amt = if (s == x) BigInt(0) else BigInt(1 + rng.nextInt(1000)).min(sAmt)
      holdings((s, aid)) = (sAmt - amt, sFrz)
      holdings((x, aid)) = (holdings((x, aid))._1 + amt, rFrz)
      d.fee(s); d.holding(s, aid); d.holding(x, aid)
      SignedTxnWithAD(base("axfer", s, round, j).copy(assetReceiver = addr(x), xferAsset = aid,
        assetAmount = amt), sig = sig())
    } else aliveHolder(aid).filter(_ != creator) match {
      case None => optIn(d, x, aid, round, j)
      case Some(h) =>
      // opt-out: close the whole holding back to the creator
      val amt = holdings((h, aid))._1
      holdings.remove((h, aid))
      val (cAmt, cFrz) = holdings((creator, aid))
      holdings((creator, aid)) = (cAmt + amt, cFrz)
      d.fee(h); d.holding(h, aid); d.holding(creator, aid)
      SignedTxnWithAD(base("axfer", h, round, j).copy(assetReceiver = addr(creator), xferAsset = aid,
        assetCloseTo = addr(creator)), sig = sig(), applyData = ApplyData(assetClosingAmount = amt))
    }
  }

  private def appl(d: Delta, round: Long, j: Int): SignedTxnWithAD = {
    val (app, creator) = apps(rng.nextInt(apps.size))
    val s = pickAlive()
    val other = pickAny()
    d.fee(s)
    val inners =
      if (!chance(0.6)) Vector.empty
      else {
        d.move(creator, s, 1000)
        val innerPay = SignedTxnWithAD(Txn(txType = "pay", sender = addr(creator),
          receiver = addr(s), amount = 1000))
        if (!chance(0.3)) Vector(innerPay)
        else {
          val (app2, creator2) = apps(rng.nextInt(apps.size))
          d.move(creator2, other, 500)
          Vector(innerPay, SignedTxnWithAD(
            Txn(txType = "appl", sender = addr(creator), applicationId = app2,
              accounts = Vector(addr(other))),
            applyData = ApplyData(evalDelta = EvalDelta(innerTxns = Vector(
              SignedTxnWithAD(Txn(txType = "pay", sender = addr(creator2),
                receiver = addr(other), amount = 500)))))))
        }
      }
    if (!optedIn.contains((s, app)) && chance(0.5) || optedIn.contains((s, app)) && chance(0.2)) {
      optedIn += ((s, app))
      d.appRecs((s, app)) = AppResourceRecord(addr(s), app, localStateJson = Some(s"""{"n":$round}"""))
    }
    val live = boxes.getOrElseUpdate(app, mutable.ArrayBuffer.empty)
    val u = rng.nextDouble()
    if (u < 0.35) {
      val name = s"b$boxSeq"; boxSeq += 1
      live += name
      d.kv += KvMod(Codecs.boxKeyMake(app, name.getBytes("UTF-8")), Some(s"v$round/$j".getBytes("UTF-8")))
    } else if (u < 0.6 && live.nonEmpty) {
      val name = live.remove(rng.nextInt(live.size))
      d.kv += KvMod(Codecs.boxKeyMake(app, name.getBytes("UTF-8")), None)
    }
    SignedTxnWithAD(base("appl", s, round, j).copy(applicationId = app, accounts = Vector(addr(other))),
      sig = sig(), applyData = ApplyData(evalDelta = EvalDelta(innerTxns = inners)))
  }

  private def acfg(d: Delta, round: Long, j: Int): SignedTxnWithAD =
    if (chance(0.7)) createAsset(d, pickProtected(), round, j)
    else {
      val (aid, creator) = assets(rng.nextInt(assets.size))
      d.fee(creator)
      val rec = d.assetRecs.getOrElse((creator, aid), AssetResourceRecord(addr(creator), aid))
      d.assetRecs((creator, aid)) =
        rec.copy(paramsJson = Some(s"""{"an":"Asset $aid","un":"U$aid","url":"r$round"}"""))
      SignedTxnWithAD(base("acfg", creator, round, j).copy(configAsset = aid,
        assetParams = Some(AssetParams(total = BigInt(1000000000000000L), unitName = s"U$aid",
          assetName = s"Asset $aid", url = s"r$round", manager = addr(creator)))), sig = sig())
    }

  private def afrz(d: Delta, round: Long, j: Int): SignedTxnWithAD = {
    val (aid, creator) = assets(rng.nextInt(assets.size))
    val h = aliveHolder(aid).getOrElse(creator)
    val (amt, frz) = holdings((h, aid))
    holdings((h, aid)) = (amt, !frz)
    d.fee(creator); d.holding(h, aid)
    SignedTxnWithAD(base("afrz", creator, round, j).copy(freezeAccount = addr(h), freezeAsset = aid,
      assetFrozen = !frz), sig = sig())
  }

  /** The next block of the chain. */
  def next(): Block = {
    val round = nextRound
    nextRound += 1
    val d = new Delta(round)
    val payset: Vector[SignedTxnWithAD] =
      if (round == 0)
        (0 until 16).map(i => createAsset(d, i, round, i)).toVector ++
          (0 until 8).map(i => createApp(d, 16 + i, round, 16 + i))
      else (0 until txnsPerRound).map { j =>
        val u = rng.nextInt(100)
        if (u < 50) pay(d, round, j)
        else if (u < 72) axfer(d, round, j)
        else if (u < 88) appl(d, round, j)
        else if (u < 95) acfg(d, round, j)
        else afrz(d, round, j)
      }.toVector
    txnCounter += payset.size
    Block(round = round, timestamp = 1700000000L + round * 3, rewardsLevel = round,
      genesisId = genesisId, genesisHash = genesisHash, feeSink = feeSink,
      rewardsPool = rewardsPool, txnCounter = txnCounter, payset = payset, delta = d.result)
  }
}

object Gen {
  val Protected = 64
}
