package graft.sink

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.oracle.{CompareTables, Workload}

/** Both lake tables merge a batch by the same rule: the reference's
  * precombine upsert, where the latest version wins and, on a tie, the
  * incoming row wins unless a `tieBreak` orders the tied versions. */
class KeyedMergeSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def spec(prefix: String, tieBreak: Seq[String]) = LakeTableSpec(
    path = tmpDir(prefix), recordKeys = Seq("id"), precombine = "update_at",
    partitionSource = "create_at", tieBreak = tieBreak)

  private val log = Workload.generate(seed = 71, n = 400)
  private val cdc = log.txns.grouped(100).toSeq
  // the table's current rows at the same precombine value, another payload
  // (`tied-` sorts between the log's `new@` and `updated@` notes)
  private val tied = Workload.expectedTxnState(log).sortBy(_.id).take(40)
    .map(t => t.copy(amount = t.amount + 1, note = s"tied-${t.note}"))
  private val batches = cdc ++ Seq(tied, cdc(1)) // then replay batch 1

  Seq(Nil -> "no tieBreak", Seq("note") -> "a tieBreak").foreach {
    case (tieBreak, label) =>
      test(s"a KeyedLakeTable and a VersionedLakeTable merge one CDC log " +
        s"to equal tables after every batch, with $label") {
        val keyed = new KeyedLakeTable(spark, spec("merge-keyed", tieBreak))
        val versioned = new VersionedLakeTable(spark, spec("merge-versioned", tieBreak))
        batches.zipWithIndex.foreach { case (b, i) =>
          keyed.upsert(b.toDF())
          versioned.upsert(b.toDF())
          val d = CompareTables.compare(keyed.read(), versioned.read())
          assert(d.isEqual, s"after batch $i: $d")
          if (b eq tied) {
            // the tie rule is exercised, not vacuously equal: without a
            // tieBreak every tied row wins; with `note` desc only those
            // that tie a `new@` row do
            val won = keyed.read().filter($"note".startsWith("tied-")).count()
            val want = if (tieBreak.isEmpty) tied.size
              else tied.count(_.note.startsWith("tied-new@"))
            assert(won === want, s"tied rows that won, $label")
            if (tieBreak.nonEmpty)
              assert(want > 0 && want < tied.size, "the tieBreak must split the tied batch")
          }
        }
        assert(keyed.read().count() === Workload.expectedTxnState(log).size)
      }
  }
}
