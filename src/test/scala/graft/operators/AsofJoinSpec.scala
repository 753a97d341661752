package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions.floor

import graft.SparkSpec

/** Contract of the as-of join: latest at-or-before state per key, equal
  * timestamps include the dim, keys without history get nulls, and every
  * fact row survives exactly once. */
class AsofJoinSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def dims = Seq(
    (1L, 10L, "v1"), (1L, 20L, "v2"), (2L, 15L, "w1"))
    .toDF("k", "ts", "state")

  private def facts = Seq(
    (100L, 1L, 5L),   // before any dim version -> null
    (101L, 1L, 10L),  // equal ts -> v1 (at-or-before includes equal)
    (102L, 1L, 19L),  // between versions -> v1
    (103L, 1L, 25L),  // after both -> v2
    (104L, 2L, 14L),  // before the only version -> null
    (105L, 3L, 99L))  // key with no dims at all -> null
    .toDF("fid", "k", "ts")

  private lazy val out = AsofJoin
    .asof(facts, dims, "k", "ts", Seq("state"))
    .orderBy("fid").collect()
    .map(r => (r.getLong(0), Option(r.getString(3)))).toMap

  test("latest at-or-before version is attached per fact") {
    assert(out(100L).isEmpty)
    assert(out(101L).contains("v1"))
    assert(out(102L).contains("v1"))
    assert(out(103L).contains("v2"))
    assert(out(104L).isEmpty)
    assert(out(105L).isEmpty)
  }

  test("every fact row survives exactly once with its own columns") {
    val rows = AsofJoin.asof(facts, dims, "k", "ts", Seq("state")).collect()
    assert(rows.length == 6)
    assert(rows.map(_.getLong(0)).sorted.toSeq == (100L to 105L).toSeq)
  }

  test("a fact stream never leaks into another key's history") {
    // key 2's w1 (ts 15) must not serve key 1's fact at ts 19
    assert(out(102L).contains("v1"))
  }

  test("bucketed as-of matches plain as-of on the contract cases") {
    val got = AsofJoin
      .asofBucketed(facts, dims, "k", "ts", Seq("state"),
        ts => floor(ts / 7)) // arbitrary width, misaligned on purpose
      .orderBy("fid").collect()
      .map(r => (r.getLong(0), Option(r.getString(3)))).toMap
    assert(got === out)
  }

  test("bucketed as-of: carry-in crosses empty buckets; boundary ties hold") {
    val d = Seq((1L, 0L, "v0"), (1L, 70L, "v7")).toDF("k", "ts", "state")
    val f = Seq(
      (1L, 1L, 35L),  // bucket 3 (width 10): key's dims live in buckets 0/7
      (2L, 1L, 70L),  // equal ts at a bucket boundary -> at-or-before = v7
      (3L, 1L, 69L),  // last row of bucket 6 -> still v0
      (4L, 1L, 0L))   // equal ts in the very first bucket -> v0
      .toDF("fid", "k", "ts")
    val got = AsofJoin
      .asofBucketed(f, d, "k", "ts", Seq("state"), ts => floor(ts / 10))
      .collect().map(r => (r.getLong(0), r.getString(3))).toMap
    assert(got === Map(1L -> "v0", 2L -> "v7", 3L -> "v0", 4L -> "v0"))
  }

  test("seeded fuzz: bucketed as-of equals plain as-of, hot key included") {
    val rnd = new scala.util.Random(23)
    // one HOT key (0) holds half of all dim versions — the regime the
    // bucketed variant exists for
    val dimRows = ((0L until 400L).map(i => (0L, i * 3 + 1, s"hot-$i")) ++
      (1L to 8L).flatMap(k =>
        rnd.shuffle((0L until 200L).toList).take(50)
          .map(ts => (k, ts, s"s$k-$ts")))).toList
    val factRows = (0 until 600).map { i =>
      val k = if (i % 2 == 0) 0L else 1L + rnd.nextInt(9).toLong
      (i.toLong, k, rnd.nextInt(1300).toLong)
    }
    val fDf = factRows.toDF("fid", "k", "ts")
    val dDf = dimRows.toDF("k", "ts", "state")
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), Option(r.getString(3)))).toMap
    val plain = toMap(AsofJoin.asof(fDf, dDf, "k", "ts", Seq("state")))
    val bucketed = toMap(AsofJoin.asofBucketed(fDf, dDf, "k", "ts",
      Seq("state"), ts => floor(ts / 37)))
    assert(bucketed === plain)
  }

  test("the streaming-carry operator equals the window spelling " +
      "(contract cases + fuzz, null-state dims included)") {
    // the carry plan (AsofCarryExec) must be output-identical to the
    // pure-DataFrame window spelling it replaced, including a dim whose
    // payload VALUE is null (still newer state — it must overwrite v1)
    val d = dims.unionByName(Seq((2L, Option.empty[String], 30L))
      .toDF("k", "state", "ts").select($"k", $"ts", $"state"))
    val f = facts.unionByName(Seq((106L, 2L, 31L)).toDF("fid", "k", "ts"))
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), Option(r.getString(3)))).toMap
    val win = toMap(AsofJoin.asofWindow(f, d, "k", "ts", Seq("state")))
    val carry = toMap(AsofJoin.asof(f, d, "k", "ts", Seq("state")))
    assert(carry === win)
    assert(carry(106L).isEmpty, "a null-payload dim still replaces state")
    val rnd = new scala.util.Random(31)
    val dimRows = (0L until 10L).flatMap(k =>
      rnd.shuffle((0L until 50L).toList).take(12).map(ts =>
        (k, ts, s"s$k-$ts"))).toList
    val factRows = (0 until 300).map { i =>
      (i.toLong, rnd.nextInt(12).toLong, rnd.nextInt(55).toLong)
    }
    val fDf = factRows.toDF("fid", "k", "ts")
    val dDf = dimRows.toDF("k", "ts", "state")
    assert(toMap(AsofJoin.asof(fDf, dDf, "k", "ts", Seq("state"))) ===
      toMap(AsofJoin.asofWindow(fDf, dDf, "k", "ts", Seq("state"))))
  }

  test("the carry plan contains AsofCarryExec and exactly one exchange") {
    val plan = AsofJoin.asof(facts, dims, "k", "ts", Seq("state"))
      .queryExecution.executedPlan
    val s = plan.toString
    assert(s.contains("AsofCarry"), s)
    assert("Exchange".r.findAllIn(s).length == 1,
      s"expected exactly one exchange:\n$s")
  }

  test("a downstream groupBy on the as-of key reuses the carry's exchange") {
    // enrichment-then-rollup: the carry forwards the child's hash
    // partitioning (the key IS a fact column), so the aggregate plans
    // partial+final WITHOUT a second shuffle
    val s = AsofJoin.asof(facts, dims, "k", "ts", Seq("state"))
      .groupBy($"k").count()
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(s).length == 1,
      s"expected the aggregate to consume the carry's partitioning:\n$s")
  }

  test("the merge operator equals the carry operator (contract + fuzz)") {
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), Option(r.getString(3)))).toMap
    assert(toMap(AsofJoin.asofMerge(facts, dims, "k", "ts", Seq("state")))
      === out)
    val rnd = new scala.util.Random(47)
    val dimRows = (0L until 10L).flatMap(k =>
      rnd.shuffle((0L until 50L).toList).take(12).map(ts =>
        (k, ts, s"s$k-$ts"))).toList
    val factRows = (0 until 300).map { i =>
      (i.toLong, rnd.nextInt(12).toLong, rnd.nextInt(55).toLong)
    }
    val fDf = factRows.toDF("fid", "k", "ts")
    val dDf = dimRows.toDF("k", "ts", "state")
    assert(toMap(AsofJoin.asofMerge(fDf, dDf, "k", "ts", Seq("state"))) ===
      toMap(AsofJoin.asof(fDf, dDf, "k", "ts", Seq("state"))))
  }

  test("merge on bucketed (key, ts)-sorted tables: zero exchanges, zero sorts") {
    // the ingest-paid layout: both sides bucket-written on the key and
    // sorted by (key, ts), one file per bucket — the merge must consume
    // the layout scan-side, the as-of analog of q94's co-located join
    def ensure(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      if (!spark.catalog.tableExists(name)) {
        df.repartition(4, $"k").write.mode("overwrite")
          .bucketBy(4, "k").sortBy("k", "ts").saveAsTable(name)
      }
    ensure("asof_facts_bkt", facts)
    ensure("asof_dims_bkt", dims)
    // Spark ≥3.1 hides bucketed scans' sort order behind a legacy conf
    // (the multi-file-per-bucket case made it rarely usable; the
    // one-file-per-bucket writer here is exactly the usable case)
    assertScanOrdering()
    val plan = AsofJoin.asofMerge(spark.table("asof_facts_bkt"),
        spark.table("asof_dims_bkt"), "k", "ts", Seq("state"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsofMerge"), plan)
    assert(!plan.contains("Exchange"), s"expected zero exchanges:\n$plan")
    assert(!plan.contains("Sort"), s"expected zero sorts:\n$plan")
    // and the layout-consuming plan still produces the exact answer
    val got = AsofJoin.asofMerge(spark.table("asof_facts_bkt"),
        spark.table("asof_dims_bkt"), "k", "ts", Seq("state"))
      .collect().map(r => (r.getLong(0), Option(r.getString(3)))).toMap
    assert(got === out)
  }

  test("asof auto-detects the bucketed layout: the SAME user call plans " +
      "merge on bucketed inputs, carry otherwise") {
    def ensure(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      if (!spark.catalog.tableExists(name)) {
        df.repartition(4, $"k").write.mode("overwrite")
          .bucketBy(4, "k").sortBy("k", "ts").saveAsTable(name)
      }
    ensure("asof_facts_bkt", facts)
    ensure("asof_dims_bkt", dims)
    assertScanOrdering()
    // bucketed scans (with a pass-through filter/projection in the
    // way): asof() itself must plan the zero-exchange merge
    val auto = AsofJoin.asof(
      spark.table("asof_facts_bkt").filter($"fid" >= 0L),
      spark.table("asof_dims_bkt").select($"k", $"ts", $"state"),
      "k", "ts", Seq("state"))
    val plan = auto.queryExecution.executedPlan.toString
    assert(plan.contains("AsofMerge"),
      s"asof() on bucketed inputs must plan the merge:\n$plan")
    assert(!plan.contains("Exchange"), s"expected zero exchanges:\n$plan")
    val got = auto.collect()
      .map(r => (r.getLong(0), Option(r.getString(3)))).toMap
    assert(got === out)
    // raw in-memory inputs: the same call keeps the carry form
    val rawPlan = AsofJoin.asof(facts, dims, "k", "ts", Seq("state"))
      .queryExecution.executedPlan.toString
    assert(rawPlan.contains("AsofCarry"),
      s"asof() on raw inputs must keep the carry:\n$rawPlan")
    // mismatched bucket counts: co-partitioning is lost — carry
    if (!spark.catalog.tableExists("asof_dims_bkt8"))
      dims.repartition(8, $"k").write.mode("overwrite")
        .bucketBy(8, "k").sortBy("k", "ts").saveAsTable("asof_dims_bkt8")
    val mixedPlan = AsofJoin.asof(spark.table("asof_facts_bkt"),
        spark.table("asof_dims_bkt8"), "k", "ts", Seq("state"))
      .queryExecution.executedPlan.toString
    assert(mixedPlan.contains("AsofCarry"),
      s"mismatched bucket counts must fall back to carry:\n$mixedPlan")
  }

  /** The bucketed-merge tests plan with the engine's own setting, which
    * `GraftSession.configure` fixes on every session, this one included;
    * they neither set nor reset it, so later suites in the JVM plan as the
    * engine does. */
  private def assertScanOrdering(): Unit =
    assert(spark.conf.get(
      "spark.sql.legacy.bucketedTableScan.outputOrdering") === "true")

  test("seeded fuzz: distributed as-of equals the in-memory reference") {
    val rnd = new scala.util.Random(11)
    // dims unique per (key, ts) — the operator's determinism contract
    val dimRows = rnd.shuffle((0L until 10L).flatMap(k =>
      rnd.shuffle((0L until 50L).toList).take(12).map(ts =>
        (k, ts, s"s$k-$ts")))).toList
    val factRows = (0 until 300).map { i =>
      (i.toLong, rnd.nextInt(12).toLong, rnd.nextInt(55).toLong)
    }
    val got = AsofJoin
      .asof(factRows.toDF("fid", "k", "ts"), dimRows.toDF("k", "ts", "state"),
        "k", "ts", Seq("state"))
      .collect()
      .map(r => (r.getLong(0), Option(r.getString(3)))).toMap
    val byKey = dimRows.groupBy(_._1)
    for ((fid, k, ts) <- factRows) {
      val want = byKey.getOrElse(k, Nil).filter(_._2 <= ts) match {
        case Nil => None
        case hs  => Some(hs.maxBy(_._2)._3)
      }
      assert(got(fid) == want, s"fact $fid (k=$k ts=$ts)")
    }
  }
}
