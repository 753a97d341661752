package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.sink.{KeyedLakeTable, LakeTableSpec}

private[ops] case class JvFact(id: String, create_at: String,
    update_at: String, fk: String, amount: Long, is_deleted: Boolean)
private[ops] case class JvDim(dkey: String, label: String)

class JoinViewSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._
  private type Fact = JvFact
  private type Dim = JvDim
  private def Fact(id: String, create_at: String, update_at: String,
      fk: String, amount: Long, is_deleted: Boolean) =
    JvFact(id, create_at, update_at, fk, amount, is_deleted)
  private def Dim(dkey: String, label: String) = JvDim(dkey, label)

  private def f(id: String, v: Int, fk: String, amount: Long,
      deleted: Boolean = false) =
    Fact(id, "2024-01-01 00:00:00.000000",
      f"2024-01-01 00:00:0$v%d.000000", fk, amount, deleted)

  private def factTable(): KeyedLakeTable =
    new KeyedLakeTable(spark, LakeTableSpec(
      tmpDir("jv_fact"), recordKeys = Seq("id"),
      precombine = "update_at", partitionSource = "create_at",
      softDeleteCol = Some("is_deleted")))

  private def newView(): JoinView = {
    val base = tmpDir("jv")
    new JoinView(spark, s"$base/view", s"$base/orphans",
      factKeys = Seq("id"), fkCol = "fk",
      factPrecombine = "update_at", partitionSource = "create_at")
  }

  /** Expected live view: live latest-wins facts INNER JOIN current dims. */
  private def expected(facts: Map[String, Fact], dims: Map[String, String])
      : Set[(String, String, Long, String)] =
    facts.values.filterNot(_.is_deleted)
      .flatMap(fa => dims.get(fa.fk).map(l => (fa.id, fa.fk, fa.amount, l)))
      .toSet

  private def liveSet(jv: JoinView): Set[(String, String, Long, String)] =
    jv.readLive().select("id", "fk", "amount", "label")
      .as[(String, String, Long, String)].collect().toSet

  private def dimsDf(ds: Seq[Dim]): DataFrame = ds.toDF()

  test("orphans buffer late dims; retarget, delete, refresh, resurrection " +
      "all reconcile to the from-scratch join") {
    val ft = factTable()
    val jv = newView()
    var dims = Map.empty[String, String]
    var dimSnap = dimsDf(Nil)

    // cycle 1: facts arrive BEFORE any dim — everything orphans
    val c1 = ft.upsertChanges(Seq(
      f("a", 1, "d1", 10), f("b", 1, "d2", 20), f("c", 1, "d1", 30)).toDF())
    jv.applyCycle(c1, dimsDf(Nil), dimSnap, "dkey")
    assert(liveSet(jv).isEmpty, "no dims yet — view must be empty")
    assert(jv.readOrphans().count() === 3)

    // cycle 2: d1 lands — a and c promote, b stays orphaned
    dims += ("d1" -> "L1"); dimSnap = dimsDf(Seq(Dim("d1", "L1")))
    jv.applyCycle(c1.limit(0), dimsDf(Seq(Dim("d1", "L1"))), dimSnap, "dkey")
    val facts2 = Map("a" -> f("a", 1, "d1", 10), "b" -> f("b", 1, "d2", 20),
      "c" -> f("c", 1, "d1", 30))
    assert(liveSet(jv) === expected(facts2, dims))
    assert(jv.readOrphans().as[Fact].collect().map(_.id).toSet === Set("b"))

    // cycle 3: a retargets to missing d3 (leaves view, orphans), c deleted,
    // d2 lands (b promotes), new fact d arrives matched
    val batch3 = Seq(f("a", 2, "d3", 11), f("c", 2, "d1", 30, deleted = true),
      f("d", 2, "d2", 40))
    dims += ("d2" -> "L2"); dimSnap = dimsDf(Seq(Dim("d1", "L1"), Dim("d2", "L2")))
    jv.applyCycle(ft.upsertChanges(batch3.toDF()),
      dimsDf(Seq(Dim("d2", "L2"))), dimSnap, "dkey")
    val facts3 = facts2 ++ batch3.map(x => x.id -> x).toMap
    assert(liveSet(jv) === expected(facts3, dims))
    assert(jv.readOrphans().as[Fact].collect().map(_.id).toSet === Set("a"))

    // cycle 4: d3 lands (a promotes with its RETARGETED amount), d1
    // updates its label (c is dead — only a/…-rows referencing d1 refresh),
    // c resurrects live
    val batch4 = Seq(f("c", 3, "d1", 31))
    dims += ("d3" -> "L3"); dims += ("d1" -> "L1x")
    dimSnap = dimsDf(Seq(Dim("d1", "L1x"), Dim("d2", "L2"), Dim("d3", "L3")))
    jv.applyCycle(ft.upsertChanges(batch4.toDF()),
      dimsDf(Seq(Dim("d3", "L3"), Dim("d1", "L1x"))), dimSnap, "dkey")
    val facts4 = facts3 ++ batch4.map(x => x.id -> x).toMap
    assert(liveSet(jv) === expected(facts4, dims))
    assert(jv.readOrphans().count() === 0)
  }

  test("the cycle counter survives a restart and later cycles still win") {
    val ft = factTable()
    val base = tmpDir("jv_restart")
    def make() = new JoinView(spark, s"$base/view", s"$base/orphans",
      Seq("id"), "fk", "update_at", "create_at")
    val jv1 = make()
    val snap1 = dimsDf(Seq(Dim("d1", "L1")))
    jv1.applyCycle(ft.upsertChanges(Seq(f("a", 1, "d1", 10)).toDF()),
      snap1, snap1, "dkey")
    assert(liveSet(jv1) === Set(("a", "d1", 10L, "L1")))
    // a fresh handle (new process analog) continues the counter from the
    // _cycle file, so its writes stay monotonically ahead of every row
    // already in the table
    val jv2 = make()
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$base/view_cycle")).trim === "1")
    val snap2 = dimsDf(Seq(Dim("d1", "L1y")))
    val empty = ft.upsertChanges(Seq(f("a", 1, "d1", 10)).toDF()).limit(0)
    jv2.applyCycle(empty, snap2, snap2, "dkey")
    assert(liveSet(jv2) === Set(("a", "d1", 10L, "L1y")))
  }

  test("dim attribute name collisions fail loudly") {
    val ft = factTable()
    val jv = newView()
    val badDim = Seq(("d1", 5L)).toDF("dkey", "amount") // clashes with fact
    val e = intercept[IllegalArgumentException] {
      jv.applyCycle(ft.upsertChanges(Seq(f("a", 1, "d1", 10)).toDF()),
        badDim, badDim, "dkey")
    }
    assert(e.getMessage.contains("collide"))
  }
}
