package perfbench

import graft.ingest.TableStore

/** Store contents against the generator's fold ([[Expect]]). Runs after
  * the measured window; each mismatching table counts as one failure. */
object Checks {
  def store(store: TableStore, exp: Expect, res: Result): Unit = {
    def count(t: String, want: Long): Unit = {
      val got = store.read(t).count()
      res.check(got == want, s"$t has $got rows, the generator wrote $want")
    }
    count("txn", exp.txnRows)
    count("txn_participation", exp.participationRows)
    count("block_header", exp.rounds)
    res.check(store.nextRound == exp.rounds, s"next round ${store.nextRound} != ${exp.rounds}")

    def lineage(want: Expect.Row, deleted: Boolean, created: Long, closed: Option[Long]): Boolean =
      want.deleted == deleted && want.createdAt == created && want.closedAt == closed
    def closedAt(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getLong(i))

    val accounts = store.readState("account")
      .select("addr", "microalgos", "deleted", "created_at", "closed_at").collect()
    val badAccounts = accounts.count { r =>
      !exp.accounts.get(r.getString(0)).exists(w =>
        w.value == r.getLong(1).toString && lineage(w, r.getBoolean(2), r.getLong(3), closedAt(r, 4)))
    }
    res.check(accounts.length == exp.accounts.size && badAccounts == 0,
      s"account: ${accounts.length} rows (want ${exp.accounts.size}), $badAccounts differ")

    val holdings = store.readState("account_asset")
      .select("addr", "assetid", "amount", "frozen", "deleted", "created_at", "closed_at").collect()
    val badHoldings = holdings.count { r =>
      val deleted = r.getBoolean(4)
      !exp.holdings.get((r.getString(0), r.getLong(1))).exists(w =>
        (deleted || w.value == s"${r.getDecimal(2).toBigInteger}/${r.getBoolean(3)}") &&
          lineage(w, deleted, r.getLong(5), closedAt(r, 6)))
    }
    res.check(holdings.length == exp.holdings.size && badHoldings == 0,
      s"account_asset: ${holdings.length} rows (want ${exp.holdings.size}), $badHoldings differ")

    val assets = store.readState("asset").select("id").collect().map(_.getLong(0)).toSet
    res.check(assets == exp.assetIds, s"asset ids: ${assets.size} stored, ${exp.assetIds.size} created")
    val apps = store.readState("app").select("id").collect().map(_.getLong(0)).toSet
    res.check(apps == exp.appIds, s"app ids: ${apps.size} stored, ${exp.appIds.size} created")
    val local = store.readState("account_app").select("addr", "app").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    res.check(local == exp.appLocal, s"account_app: ${local.size} keys, want ${exp.appLocal.size}")

    val boxes = store.readState("app_box").select("app", "name", "value").collect()
      .map(r => (r.getLong(0), new String(r.getAs[Array[Byte]](1), "UTF-8")) ->
        new String(r.getAs[Array[Byte]](2), "UTF-8")).toMap
    res.check(boxes == exp.boxes, s"app_box: ${boxes.size} boxes, want ${exp.boxes.size} (deleted boxes must be gone)")
  }
}
