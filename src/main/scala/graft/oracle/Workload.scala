package graft.oracle

/** Deterministic workload generator — the engine-side analog of the
  * reference's faker ingest script (`s1_data_ingest.py:132-162`): a 90/10
  * transaction/account event mix where each family is itself a 90/10
  * new/update mix; updates mutate only the mutable columns (`note`/`email`)
  * and `update_at` (`s1_data_ingest.py:111-126`), never `create_at` — the
  * invariant the partitioned merge exploits.
  *
  * Timestamps are ISO-8601 strings with microseconds + UTC offset, matching
  * the reference's at-rest representation (`db_orm.py:21-22`,
  * `s1_data_ingest.py:31-32`): lexicographic order == chronological order.
  */
object Workload {

  final case class Account(
      id: String, email: String, create_at: String, update_at: String)

  final case class Txn(
      id: String, account_id: String, create_at: String, update_at: String,
      entity: String, amount: Int, is_credit: Int, note: String)

  /** One generated CDC stream: interleaved full-row images, insert-or-update
    * (no deletes — `README.rst:53`). */
  final case class Log(accounts: Seq[Account], txns: Seq[Txn])

  private val entities = Vector("grocery", "fuel", "rent", "salary", "misc")

  def iso(epochMicros: Long): String = {
    val secs = java.lang.Math.floorDiv(epochMicros, 1000000L)
    val micros = java.lang.Math.floorMod(epochMicros, 1000000L)
    val dt = java.time.LocalDateTime.ofEpochSecond(secs, micros.toInt * 1000,
      java.time.ZoneOffset.UTC)
    dt.format(java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss")) + f".$micros%06d+0000"
  }

  /** Generate `n` events deterministically from `seed`. Each event gets a
    * strictly increasing timestamp (1–999 ms apart), so `update_at` is a
    * total order and latest-wins is unambiguous without a tiebreak. */
  def generate(seed: Long, n: Int): Log = {
    val rnd = new scala.util.Random(seed)
    var clock = 1704067200000000L // 2024-01-01T00:00:00Z in micros
    val accounts = scala.collection.mutable.ArrayBuffer.empty[Account]
    val txns = scala.collection.mutable.ArrayBuffer.empty[Txn]
    val accountIds = scala.collection.mutable.ArrayBuffer.empty[(String, String)] // id -> create_at
    val txnIds = scala.collection.mutable.ArrayBuffer.empty[(String, (String, String, Int, Int, String))]

    def tick(): String = { clock += (1 + rnd.nextInt(999)) * 1000L; iso(clock) }

    def newAccount(now: String): Unit = {
      val id = f"acc-${accountIds.size}%06d"
      accounts += Account(id, s"$id@example.com", now, now)
      accountIds += id -> now
    }

    (0 until n).foreach { _ =>
      val now = tick()
      val wantTxn = rnd.nextInt(10) != 0 // 90% transaction events
      if (wantTxn && accountIds.nonEmpty) {
        if (txnIds.nonEmpty && rnd.nextInt(10) == 0) {
          // 10% of txn events: update an existing transaction's note
          // (only `note` and `update_at` change — s1_data_ingest.py:111-119)
          val (tid, (accId, createAt, amount, isCredit, entity)) =
            txnIds(rnd.nextInt(txnIds.size))
          txns += Txn(tid, accId, createAt, now, entity, amount, isCredit,
            s"updated@$now")
        } else {
          // 90% of txn events: brand-new transaction
          val (accId, _) = accountIds(rnd.nextInt(accountIds.size))
          val id = s"$accId=$now" // synthetic key, s1_data_ingest.py:97
          val amount = 1 + rnd.nextInt(500)
          val isCredit = if (rnd.nextInt(2) == 0) 1 else 0
          val entity = entities(rnd.nextInt(entities.size))
          txns += Txn(id, accId, now, now, entity, amount, isCredit, s"new@$now")
          txnIds += id -> ((accId, now, amount, isCredit, entity))
        }
      } else if (accountIds.nonEmpty && rnd.nextInt(10) == 0) {
        // 10% of account events: email update (create_at unchanged)
        val (aid, createAt) = accountIds(rnd.nextInt(accountIds.size))
        accounts += Account(aid, s"$aid+$now@example.com", createAt, now)
      } else {
        newAccount(now)
      }
    }
    Log(accounts.toSeq, txns.toSeq)
  }

  /** Ground-truth final state of a log: last writer per id (the source
    * database's row after applying the log in order). */
  def expectedTxnState(log: Log): Seq[Txn] =
    log.txns.groupBy(_.id).map { case (_, vs) => vs.last }.toSeq
}
