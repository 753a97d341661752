package graft.oracle

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Profile, SparkSpec}
import graft.ops.LakeOps
import graft.sink.{KeyedLakeTable, LakeTableSpec}

/** The one-pass equality oracle, pinned against `exceptAll`: every count
  * is checked against the two-way `exceptAll` this spec computes itself
  * over the same normalized, column-aligned sides. */
class CompareTablesSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** (leftCount, rightCount, onlyLeft, onlyRight) the `exceptAll` way. */
  private def reference(left: DataFrame, right: DataFrame) = {
    val l = LakeOps.normalizeForCompare(left)
    val r = LakeOps.normalizeForCompare(right).select(l.columns.map(col): _*)
    (l.count(), r.count(), l.exceptAll(r).count(), r.exceptAll(l).count())
  }

  private def counts(d: CompareTables.Diff) =
    (d.leftCount, d.rightCount, d.onlyLeftCount, d.onlyRightCount)

  private def checked(left: DataFrame, right: DataFrame,
      sample: Int = 10): CompareTables.Diff = {
    val d = CompareTables.compare(left, right, sample)
    assert(counts(d) === reference(left, right))
    d
  }

  private val kv = Seq("k", "v")

  test("duplicates count by multiplicity: 3x left vs 1x right leaves 2") {
    val left = Seq((1, "a"), (1, "a"), (1, "a"), (2, "b")).toDF(kv: _*)
    val right = Seq((1, "a"), (2, "b")).toDF(kv: _*)
    val d = checked(left, right)
    assert(counts(d) === ((4L, 2L, 2L, 0L)))
    assert(!d.isEqual)
    assert(d.sampleOnlyLeft === Seq(Row(1, "a"), Row(1, "a")))
    assert(d.sampleOnlyRight.isEmpty)
    // the same multiset in another order is equal
    assert(checked(left, left.orderBy(col("v").desc)).isEqual)
  }

  test("nulls in key and value columns group with nulls") {
    val left = Seq[(Option[Int], Option[String])](
      (None, Some("x")), (Some(1), None), (None, None), (None, None),
      (Some(2), Some("y"))).toDF(kv: _*)
    val right = Seq[(Option[Int], Option[String])](
      (None, Some("x")), (Some(1), None), (None, None), (Some(2), None))
      .toDF(kv: _*)
    val d = checked(left, right)
    assert(counts(d) === ((5L, 4L, 2L, 1L)))
    assert(d.sampleOnlyLeft.toSet === Set(Row(null, null), Row(2, "y")))
    assert(d.sampleOnlyRight === Seq(Row(2, null)))
    assert(checked(left, left).isEqual)
  }

  test("both sides empty, and one side empty") {
    val empty = Seq.empty[(Int, String)].toDF(kv: _*)
    val some = Seq((1, "a"), (1, "a"), (2, "b")).toDF(kv: _*)
    val none = checked(empty, empty)
    assert(none.isEqual && counts(none) === ((0L, 0L, 0L, 0L)))
    assert(counts(checked(some, empty)) === ((3L, 0L, 3L, 0L)))
    val d = checked(empty, some)
    assert(counts(d) === ((0L, 3L, 0L, 3L)))
    assert(d.sampleOnlyLeft.isEmpty && d.sampleOnlyRight.size === 3)
  }

  test("sides with different column order are aligned by name") {
    val left = Seq((1, "a", 10L), (2, "b", 20L)).toDF("k", "v", "n")
    val d = checked(left, left.select("n", "k", "v"))
    assert(d.isEqual)
    val drifted = left.select(col("n"), col("k"),
      when(col("k") === 2, lit("z")).otherwise(col("v")).as("v"))
    val bad = checked(left, drifted)
    assert(counts(bad) === ((2L, 2L, 1L, 1L)))
    // samples keep the left side's column order
    assert(bad.sampleOnlyRight === Seq(Row(2, "z", 20L)))
  }

  test("partition and _hoodie meta columns are dropped before the diff") {
    val base = Seq((1, "a"), (2, "b")).toDF(kv: _*)
    val lake = LakeOps.partitionCols.foldLeft(base)((d, c) =>
      d.withColumn(c, concat(lit(c), col("v"))))
      .withColumn("_hoodie_commit_time", monotonically_increasing_id())
    assert(checked(base, lake).isEqual)
    assert(checked(lake, base).isEqual)
  }

  test("samples hold at most `sample` rows, only from the side with the excess") {
    val right = Seq((0, "r")).toDF(kv: _*)
    val left = (1 to 6).flatMap(k => Seq.fill(k)((k, s"l$k"))).toDF(kv: _*)
      .union(right)
    val d = checked(left, right, sample = 4)
    assert(counts(d) === ((22L, 1L, 21L, 0L)))
    assert(d.sampleOnlyLeft.size === 4)
    assert(d.sampleOnlyRight.isEmpty)
    val excess = left.exceptAll(right).collect().groupBy(identity)
    d.sampleOnlyLeft.groupBy(identity).foreach { case (row, got) =>
      assert(excess.get(row).exists(_.length >= got.size), s"$row not in excess")
    }
    // and from the other side only when the excess is there
    val flipped = checked(right, left, sample = 2)
    assert(flipped.sampleOnlyLeft.isEmpty && flipped.sampleOnlyRight.size === 2)
    assert(checked(left, right, sample = 0).sampleOnlyLeft.isEmpty)
  }

  test("seeded random multisets match exceptAll on every count") {
    (1 to 4).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      def side(n: Int) = Seq.fill(n)((
        if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(4)),
        if (rnd.nextInt(6) == 0) None else Some(s"v${rnd.nextInt(3)}")))
        .toDF(kv: _*)
      val (l, r) = (side(20 + rnd.nextInt(20)), side(20 + rnd.nextInt(20)))
      val d = checked(l, r, sample = 3)
      assert(d.sampleOnlyLeft.size.toLong === math.min(3L, d.onlyLeftCount))
      assert(d.sampleOnlyRight.size.toLong === math.min(3L, d.onlyRightCount))
    }
  }

  test("a column on only one side fails the compare instead of being dropped") {
    val log = Workload.generate(seed = 9, n = 120)
    val lake = new KeyedLakeTable(spark, LakeTableSpec(
      path = tmpDir("lake-cmp-cols"), recordKeys = Seq("id"),
      precombine = "update_at", partitionSource = "create_at"))
    lake.overwrite(log.txns.toDF())
    val source = Workload.expectedTxnState(log).toDF()
    assert(CompareTables.compare(source, lake.read()).isEqual)

    // a leaked CDC `Op` on the lake side must not compare equal
    val leaked = intercept[IllegalArgumentException](
      CompareTables.compare(source, lake.read().withColumn("Op", lit("U"))))
    assert(leaked.getMessage.contains("only right: [Op]"), leaked.getMessage)
    // nor may a column the lake lost
    val lost = intercept[IllegalArgumentException](
      CompareTables.compare(source, lake.read().drop("note")))
    assert(lost.getMessage.contains("only left: [note]"), lost.getMessage)
  }

  test("an equal compare runs one action, an unequal one at most three") {
    val left = (1 to 200).map(i => (i % 50, s"v$i")).toDF(kv: _*)
    val (eq, equal) = Profile.profile(spark)(CompareTables.compare(left, left))
    assert(eq.isEqual)
    assert(equal.plans.size === 1, equal.render("equal compare"))
    val right = left.where(col("k") =!= 3).union(Seq((99, "x")).toDF(kv: _*))
    val (ne, unequal) = Profile.profile(spark)(CompareTables.compare(left, right))
    assert(counts(ne) === ((200L, 197L, 4L, 1L)))
    assert(unequal.plans.size <= 3, unequal.render("unequal compare"))
  }
}
