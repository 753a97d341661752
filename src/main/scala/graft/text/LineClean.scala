package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Line-level corpus cleaning — the C4 (Raffel et al. 2020 §2.2) /
  * RefinedWeb (Penedo et al. 2023) recipe: documents are cleaned LINE BY
  * LINE before any document-level filter sees them, because web boilerplate
  * (nav bars, cookie banners, share buttons) contaminates otherwise-good
  * pages and document-level dedup cannot remove a bad third of a page.
  *
  * Two layers, deliberately separate because they have different scale
  * shapes:
  *
  *  1. [[cleanDocs]] — the PER-DOCUMENT rules (line ends in terminal
  *     punctuation, line has >= minWords words, line matches no blocklist
  *     term, document keeps >= minKeptLines lines). A pure narrow
  *     projection: split → filter lambda → rejoin, zero shuffles, runs at
  *     scan speed inside one stage at any corpus size.
  *
  *  2. [[dropRepeatedLines]] — the CORPUS-GLOBAL rule (a line occurring in
  *     >= maxDocs distinct documents is boilerplate and is removed from
  *     every document, RefinedWeb's line-dedup). This one must see the
  *     whole corpus; the design keeps the exchanges metadata-narrow: the
  *     frequency aggregate shuffles (md5, doc_id) pairs — 16-byte
  *     fingerprints, never line text (same discipline as
  *     [[graft.dedup.SpanDedup]]) — and the hot-line set that joins back
  *     is output-of-aggregate sized (boilerplate lines only), so AQE
  *     broadcasts it in the common case. Document reassembly is one
  *     groupBy(doc) of (pos, line) pairs, the unavoidable width.
  *
  * Exactness contract: every rule is expressed with engine-portable
  * semantics (regex classes, integer comparisons, md5 as the portable
  * fingerprint) so the DuckDB oracles in
  * [[graft.queries.PipelineQueries]] (q159/q160) pin results bit-for-bit.
  *
  * Reference scope: the reference engine has no text-curation layer at
  * all (it is a CDC/lake toolkit); this family is part of the
  * training-data-pipeline surface the brief adds on top.
  */
object LineClean {

  /** Lines of `text` under a LITERAL delimiter (regex-quoted). */
  def lines(text: Column, delim: String = "\n"): Column =
    split(text, java.util.regex.Pattern.quote(delim))

  /** The C4 keep-predicate for one line:
    *   - at least `minWords` whitespace words;
    *   - if `requirePunct`, ends with terminal punctuation (`.!?"'`);
    *   - contains no `blocklist` term (case-insensitive substring).
    * Composable inside a `filter(...)` lambda, so the whole rule set stays
    * one codegen projection. */
  def keepLine(line: Column, minWords: Int, requirePunct: Boolean,
               blocklist: Seq[String]): Column = {
    val words = size(split(trim(line), "\\s+"))
    val enough = words >= minWords
    val punct =
      if (requirePunct) line.rlike("[.!?\"']$") else lit(true)
    val clean = blocklist.foldLeft(lit(true)) { (acc, term) =>
      acc && !contains(lower(line), lit(term.toLowerCase))
    }
    enough && punct && clean
  }

  /** Per-document C4 line cleaning: drop failing lines, rebuild the text,
    * and drop documents left with fewer than `minKeptLines` lines. Adds
    * `n_lines_total` / `n_lines_kept` so callers can audit the cut. Zero
    * shuffles — survives any corpus size at scan speed. */
  def cleanDocs(df: DataFrame, textCol: String, delim: String = "\n",
                minWords: Int = 5, requirePunct: Boolean = true,
                blocklist: Seq[String] = Seq("javascript", "lorem ipsum", "{"),
                minKeptLines: Int = 1): DataFrame = {
    val ls = lines(col(textCol), delim)
    df.withColumn("__lines", ls)
      .withColumn("__kept",
        filter(col("__lines"),
          l => keepLine(l, minWords, requirePunct, blocklist)))
      .withColumn("n_lines_total", size(col("__lines")))
      .withColumn("n_lines_kept", size(col("__kept")))
      .where(col("n_lines_kept") >= minKeptLines)
      .withColumn(textCol, array_join(col("__kept"), delim))
      .drop("__lines", "__kept")
  }

  /** Corpus-global repeated-line removal: a line whose EXACT text occurs
    * in >= `maxDocs` DISTINCT documents is removed from every document
    * (first occurrences included — boilerplate has no privileged home).
    * Documents left with zero lines are dropped.
    *
    * Scale shape (the part that must survive 100 TB):
    *   - one posexplode of lines — rows carry (id, pos, md5(line), line);
    *   - the frequency aggregate groups the 16-byte fingerprint and
    *     count-distincts the doc id — partial aggregation map-side, text
    *     never crosses this exchange;
    *   - the >=maxDocs survivors are the HOT set (boilerplate only, tiny
    *     relative to the corpus) — the anti-join back is AQE-broadcast in
    *     the common case and degrades to a shuffled anti-join, never a
    *     collect;
    *   - reassembly sorts each document's surviving (pos, line) pairs
    *     in-group — `array_sort(collect_list(...))`, no window, no global
    *     sort.
    * md5 is the PORTABLE-fingerprint contract (any engine reproduces the
    * grouping bit-for-bit); a same-doc md5 collision would merely drop a
    * extra line, and the oracle would drop the identical one. */
  def dropRepeatedLines(df: DataFrame, idCol: String, textCol: String,
                        delim: String = "\n", maxDocs: Int = 2): DataFrame = {
    val keep = df.columns.filter(c => c != textCol)
    val exploded = df
      .select(col("*"), posexplode(lines(col(textCol), delim))
        .as(Seq("__pos", "__line")))
      .withColumn("__h", md5(col("__line")))
    val hot = exploded
      .groupBy(col("__h"))
      .agg(countDistinct(col(idCol)).as("__docs"))
      .where(col("__docs") >= maxDocs)
      .select("__h")
    val kept = exploded.join(hot, Seq("__h"), "left_anti")
    kept
      .groupBy(keep.map(col): _*)
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("__pos"), col("__line")))),
          p => p.getField("__line")),
        delim).as(textCol))
      .select(df.columns.map(col): _*)
  }
}
