package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.text.LineClean

/** Contract of the C4/RefinedWeb line-cleaning family: each per-line rule
  * fires exactly where specified (including the terminal-punctuation rule
  * the corpus q-entry configures off), document-level minimums drop whole
  * docs, cleaning is idempotent, and the corpus-global repeated-line
  * removal drops ALL occurrences (first included) while never reordering
  * surviving lines. */
class LineCleanSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  private def textOf(df: DataFrame, id: Long): Option[String] =
    df.where(col("doc_id") === id).collect().headOption.map(_.getString(1))

  // ------------------------------------------------------- per-doc rules

  test("minWords rule drops short lines, keeps long ones") {
    val d = docs((1L, "one two three.\nalpha beta gamma delta epsilon."))
    val out = LineClean.cleanDocs(d, "text", minWords = 5)
    assert(textOf(out, 1L).contains("alpha beta gamma delta epsilon."))
  }

  test("terminal punctuation rule: unpunctuated lines drop when required") {
    val d = docs((1L,
      "a sentence that ends properly today.\n" +
        "a nav bar fragment with no period\n" +
        "did this one end with a question mark?\n" +
        "a quoted ending works too she said\""))
    val out = LineClean.cleanDocs(d, "text", minWords = 3)
    assert(textOf(out, 1L).contains(
      "a sentence that ends properly today.\n" +
        "did this one end with a question mark?\n" +
        "a quoted ending works too she said\""))
    val keptAll = LineClean.cleanDocs(d, "text", minWords = 3,
      requirePunct = false)
    assert(textOf(keptAll, 1L).contains(
      d.collect().head.getString(1)))
  }

  test("blocklist rule is a case-insensitive substring match") {
    val d = docs((1L,
      "enable JavaScript to view this content please.\n" +
        "Lorem Ipsum dolor sit amet placeholder text.\n" +
        "an actual sentence a human wrote down here.\n" +
        "function f() { return 1; } code dump line."))
    val out = LineClean.cleanDocs(d, "text", minWords = 3)
    assert(textOf(out, 1L).contains(
      "an actual sentence a human wrote down here."))
  }

  test("minKeptLines drops the whole document, not just lines") {
    val d = docs(
      (1L, "short\nalso short\nstill short"),
      (2L, "a full sentence with enough words here.\n" +
        "and a second full sentence also survives."))
    val out = LineClean.cleanDocs(d, "text", minWords = 5, minKeptLines = 2)
    assert(out.count() === 1L)
    assert(textOf(out, 1L).isEmpty)
  }

  test("audit columns count total and kept lines") {
    val d = docs((1L, "tiny\na full sentence with enough words here."))
    val row = LineClean.cleanDocs(d, "text", minWords = 5)
      .select("n_lines_total", "n_lines_kept").collect().head
    assert((row.getInt(0), row.getInt(1)) === ((2, 1)))
  }

  test("cleanDocs is idempotent") {
    val d = docs(
      (1L, "drop me\nalpha beta gamma delta epsilon stays here.\n" +
        "zeta eta theta iota kappa also stays fine."),
      (2L, "enable javascript now\nanother proper sentence with words enough.\n" +
        "and one more proper sentence to keep around."))
    val once = LineClean.cleanDocs(d, "text", minWords = 5)
    val twice = LineClean.cleanDocs(
      once.select("doc_id", "text"), "text", minWords = 5)
    assert(twice.orderBy("doc_id").collect().toSeq ===
      once.select("doc_id", "text", "n_lines_total", "n_lines_kept")
        .withColumn("n_lines_total", col("n_lines_kept"))
        .orderBy("doc_id").collect().toSeq)
  }

  // ------------------------------------------------- global line dedup

  test("repeated lines are removed from EVERY document, first included") {
    val d = docs(
      (1L, "cookie banner text\nunique line in doc one"),
      (2L, "cookie banner text\nunique line in doc two"),
      (3L, "only unique content lives here"))
    val out = LineClean.dropRepeatedLines(d, "doc_id", "text")
    assert(textOf(out, 1L).contains("unique line in doc one"))
    assert(textOf(out, 2L).contains("unique line in doc two"))
    assert(textOf(out, 3L).contains("only unique content lives here"))
  }

  test("a line repeated WITHIN one doc does not trip the cross-doc rule") {
    val d = docs((1L, "la la la\nla la la\nsomething else"),
      (2L, "unrelated content"))
    val out = LineClean.dropRepeatedLines(d, "doc_id", "text")
    assert(textOf(out, 1L).contains("la la la\nla la la\nsomething else"))
  }

  test("docs losing every line are dropped; survivors keep line order") {
    val d = docs(
      (1L, "shared one\nshared two"),
      (2L, "shared two\nshared one"),
      (3L, "keep a\nshared one\nkeep b\nshared two\nkeep c"))
    val out = LineClean.dropRepeatedLines(d, "doc_id", "text")
    assert(out.count() === 1L)
    assert(textOf(out, 3L).contains("keep a\nkeep b\nkeep c"))
  }

  test("maxDocs threshold: below it nothing is removed") {
    val d = docs(
      (1L, "shared line\nmine"),
      (2L, "shared line\nyours"))
    val out = LineClean.dropRepeatedLines(d, "doc_id", "text", maxDocs = 3)
    assert(textOf(out, 1L).contains("shared line\nmine"))
  }

  test("extra columns pass through the global dedup") {
    val d = Seq((1L, "en", "shared\nkeep one"), (2L, "de", "shared\nkeep two"))
      .toDF("doc_id", "lang", "text")
    val out = LineClean.dropRepeatedLines(d, "doc_id", "text")
    assert(out.columns.toSeq === Seq("doc_id", "lang", "text"))
    assert(out.where(col("doc_id") === 2L).select("lang", "text")
      .collect().head.toSeq === Seq("de", "keep two"))
  }

  /** Plain-Scala statement of the global line-dedup contract: split with
    * trailing empties kept, drop lines present in >= `maxDocs` distinct
    * docs, drop docs left with no line. */
  private def lineDedupReference(rows: Seq[(Long, String)],
      maxDocs: Int): Map[Long, String] = {
    val split = rows.map { case (id, t) => id -> t.split("\n", -1).toSeq }
    val docsPerLine = split.flatMap { case (id, ls) => ls.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (l, ids) => l -> ids.map(_._2).distinct.size }
    split.map { case (id, ls) => id -> ls.filter(docsPerLine(_) < maxDocs) }
      .collect { case (id, ls) if ls.nonEmpty => id -> ls.mkString("\n") }
      .toMap
  }

  private def dedupedMap(df: DataFrame, maxDocs: Int): Map[Long, String] =
    LineClean.dropRepeatedLines(df, "doc_id", "text", maxDocs = maxDocs)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("dropRepeatedLines equals the line-count reference on every fixture") {
    val fixtures = Seq(
      Seq((1L, "cookie banner text\nunique line in doc one"),
        (2L, "cookie banner text\nunique line in doc two"),
        (3L, "only unique content lives here")),
      Seq((1L, "la la la\nla la la\nsomething else"),
        (2L, "unrelated content")),
      Seq((1L, "shared one\nshared two"),
        (2L, "shared two\nshared one"),
        (3L, "keep a\nshared one\nkeep b\nshared two\nkeep c")),
      // no repeated line at all: nothing is removed
      Seq((1L, "alpha"), (2L, "beta")),
      // empty-text docs: the single "" line counts like any other line,
      // and so does the trailing "" after a final newline
      Seq((1L, ""), (2L, ""), (3L, "real content\n")))
    for (rows <- fixtures; maxDocs <- Seq(2, 3))
      assert(dedupedMap(docs(rows: _*), maxDocs) ===
        lineDedupReference(rows, maxDocs), s"maxDocs=$maxDocs rows=$rows")
  }

  test("dropRepeatedLines on the corpus-lined fixture equals the reference") {
    val lined = graft.queries.PipelineQueries.linedDocs(
      spark, "/root/testdata/sf0.001")
    val rows = lined.collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    for (maxDocs <- Seq(2, 3)) {
      val want = lineDedupReference(rows, maxDocs)
      assert(want != rows.toMap, s"maxDocs=$maxDocs removes nothing")
      assert(dedupedMap(lined, maxDocs) === want, s"maxDocs=$maxDocs")
    }
  }

  // --------------------------------------------------------- plan shape

  test("cleanDocs plans no exchange (narrow projection at scan speed)") {
    val d = docs((1L, "alpha beta gamma delta epsilon line one."))
    val plan = LineClean.cleanDocs(d, "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }
}
