package perfbench

import graft.codec.Codecs
import graft.model._
import scala.collection.mutable

/** What the store must hold after a prefix of the generated chain, folded
  * from the generated blocks alone (last writer wins per key, in round and
  * delta order; `created_at` from the first write, `closed_at` from the last
  * delete, a re-create keeps `closed_at`; box deletes remove the row).
  * Nothing here calls the program's transforms or merges. */
final class Expect(genesis: Seq[(String, Long, String)]) {
  import Expect.{Row, TxnRow}

  val accounts = mutable.HashMap.empty[String, Row]
  val holdings = mutable.HashMap.empty[(String, Long), Row]
  val assetIds = mutable.HashSet.empty[Long]
  val appIds = mutable.HashSet.empty[Long]
  val appLocal = mutable.HashSet.empty[(String, Long)]
  val boxes = mutable.HashMap.empty[(Long, String), String]
  /** (round, intra) of every txn row an address participates in. */
  val participation = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Int)]]
  /** Every txn row (roots and inner txns), in round and intra order. */
  val txns = mutable.ArrayBuffer.empty[TxnRow]
  /** round → number of txn rows (roots + inner txns). */
  val txnRowsByRound = mutable.HashMap.empty[Long, Int]
  var participationRows = 0L
  var rounds = 0L

  genesis.foreach { case (a, algos, _) => accounts(a) = Row(algos.toString, deleted = false, 0L, None) }

  private def put[K](m: mutable.HashMap[K, Row], k: K, value: String, delete: Boolean, round: Long): Unit =
    m(k) = m.get(k) match {
      case None => Row(value, delete, round, if (delete) Some(round) else None)
      case Some(r) => Row(value, delete, r.createdAt, if (delete) Some(round) else r.closedAt)
    }

  private def direct(t: Txn): Seq[String] =
    (Seq(t.sender) ++ (t.txType match {
      case "pay" => Seq(t.receiver, t.closeRemainderTo)
      case "axfer" => Seq(t.assetSender, t.assetReceiver, t.assetCloseTo)
      case "afrz" => Seq(t.freezeAccount)
      case "appl" => t.accounts
      case _ => Nil
    })).filter(_.nonEmpty).distinct

  private def subtree(s: SignedTxnWithAD): Seq[String] =
    (direct(s.txn) ++ s.applyData.evalDelta.innerTxns.flatMap(subtree)).distinct

  def apply(b: Block): Unit = {
    rounds += 1
    var intra = 0
    def note(s: SignedTxnWithAD, addrs: Seq[String]): Unit = {
      addrs.foreach(a => participation.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += ((b.round, intra)))
      participationRows += addrs.size
      txns += TxnRow(b.round, intra, Expect.TypeEnum(s.txn.txType), Expect.asset(s), s.txn.note,
        s.txn.amount)
      intra += 1
    }
    def inner(s: SignedTxnWithAD): Unit = s.applyData.evalDelta.innerTxns.foreach { i =>
      note(i, direct(i.txn)); inner(i)
    }
    b.payset.foreach { s => note(s, subtree(s)); inner(s) }
    txnRowsByRound(b.round) = intra

    b.delta.accounts.foreach(a =>
      put(accounts, a.addr, a.microAlgos.toString, a.microAlgos == 0, b.round))
    b.delta.assetResources.foreach { r =>
      if (r.paramsJson.isDefined) assetIds += r.aidx
      if (r.holdingDeleted) put(holdings, (r.addr, r.aidx), "0", delete = true, b.round)
      else r.holding.foreach(h =>
        put(holdings, (r.addr, r.aidx), s"${h.amount}/${h.frozen}", delete = false, b.round))
    }
    b.delta.appResources.foreach { r =>
      if (r.paramsJson.isDefined) appIds += r.aidx
      if (r.localStateJson.isDefined) appLocal += ((r.addr, r.aidx))
    }
    b.delta.kvMods.foreach { kv =>
      val (app, name) = Codecs.boxKeySplit(kv.key)
      val k = (app, new String(name, "UTF-8"))
      kv.value match {
        case Some(v) => boxes(k) = new String(v, "UTF-8")
        case None => boxes.remove(k)
      }
    }
  }

  def txnRows: Long = txnRowsByRound.values.map(_.toLong).sum

  /** Newest-first (round, intra) list of an address's txn rows up to `asOf`. */
  def addressRows(a: String, asOf: Long): Seq[(Long, Int)] =
    participation.get(a).map(_.filter(_._1 <= asOf).distinct
      .sortBy { case (r, i) => (-r, -i) }.toSeq).getOrElse(Nil)
}

object Expect {
  /** One key's expected state; `value` is the payload as text. */
  final case class Row(value: String, deleted: Boolean, createdAt: Long, closedAt: Option[Long])

  /** What a filtered transactions search sees of one txn row. */
  final case class TxnRow(round: Long, intra: Int, typeEnum: Int, asset: Long, note: Array[Byte],
                          amount: BigInt)

  /** The Indexer's numbering of the transaction types the generator writes. */
  val TypeEnum: Map[String, Int] = Map("pay" -> 1, "acfg" -> 3, "axfer" -> 4, "afrz" -> 5, "appl" -> 6)

  /** The asset or app a txn names; a create names the id it was given. */
  def asset(s: SignedTxnWithAD): Long = {
    val t = s.txn
    t.txType match {
      case "appl" => if (t.applicationId != 0) t.applicationId else s.applyData.applicationId
      case "acfg" => if (t.configAsset != 0) t.configAsset else s.applyData.configAsset
      case "axfer" => t.xferAsset
      case "afrz" => t.freezeAsset
      case _ => 0L
    }
  }
}
