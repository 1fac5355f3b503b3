package graft.ext

import graft.SparkSpec

/** ExactSubstr tier (LlmOps.duplicatedSpans / substringDupStats): spans
  * cover exactly the chars whose k-gram context repeats corpus-wide,
  * intra-document repeats count, spans are disjoint per doc, and the
  * per-doc stats are the disjoint-span char budget. Fixture contexts use
  * DISTINCT delimiter chars around each planted block — identical
  * neighbors (e.g. a space on both sides) are themselves shared context
  * and legitimately extend the duplicated span.
  */
class SubstringDedupSpec extends SparkSpec {
  import spark.implicits._

  private val K = 20
  // 39-char shared block: 20 duplicated 20-gram sites per occurrence
  private val B = "THE-SHARED-BOILERPLATE-BLOCK-0123456789"

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("a block shared by two docs spans exactly the block in each") {
    val d1 = "alpha bravo charlie delta echo foxtrot(" + B + ")golf hotel india"
    val d2 = "zulu yankee xray whiskey victor uniform[" + B + "]tango sierra rmq"
    val spans = LlmOps.duplicatedSpans(docs(1L -> d1, 2L -> d2), "doc_id", K)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sorted
    // only grams fully inside B repeat (the delimiters differ), so the
    // maximal span is B itself; 1-based start = index of B + 1
    assert(spans === Seq(
      (1L, d1.indexOf(B) + 1, B.length),
      (2L, d2.indexOf(B) + 1, B.length)))
  }

  test("intra-document repetition is found; separated runs stay separate spans") {
    val sep = "#one two three four five six seven eight nine#"
    val t = "prefix-material-here(" + B + sep + B + ")suffix-material-done"
    val spans = LlmOps.duplicatedSpans(docs(7L -> t), "doc_id", K)
      .collect().map(r => (r.getInt(1), r.getInt(2))).sorted
    val first = t.indexOf(B) + 1
    val second = t.indexOf(B, t.indexOf(B) + 1) + 1
    assert(spans === Seq((first, B.length), (second, B.length)))
  }

  test("adjacent duplicated runs merge into one disjoint span") {
    // B repeated back-to-back: each copy's gram run is duplicated, the
    // straddling grams are not, and the two runs sit exactly K apart —
    // their char coverage adjoins, so they must merge to a single span
    // covering both copies
    val t = "leading-unique-chunk(" + B + B + ")trailing-unique-chunk"
    val spans = LlmOps.duplicatedSpans(docs(9L -> t), "doc_id", K)
      .collect().map(r => (r.getInt(1), r.getInt(2)))
    assert(spans.toSeq === Seq((t.indexOf(B) + 1, 2 * B.length)))
  }

  test("unique docs produce no spans and zero dup stats") {
    val d = docs(
      1L -> "completely unique first document about catalyst rules",
      2L -> "another unrelated text concerning tungsten codegen spans")
    assert(LlmOps.duplicatedSpans(d, "doc_id", K).count() == 0)
    val stats = LlmOps.substringDupStats(d, "doc_id", K)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).sorted
    assert(stats === Seq((1L, 0L, 0.0), (2L, 0L, 0.0)))
  }

  test("purge excises exactly the duplicated spans; identical docs empty out") {
    val d1 = "alpha bravo charlie delta echo foxtrot(" + B + ")golf hotel india"
    val d2 = "zulu yankee xray whiskey victor uniform[" + B + "]tango sierra rmq"
    val same = "this entire document is duplicated verbatim somewhere else!!"
    val d = docs(1L -> d1, 2L -> d2, 3L -> same, 4L -> same,
      5L -> "wholly unique text that nothing else in the corpus repeats")
    val out = LlmOps.substringPurge(d, "doc_id", K)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sortBy(_._1)
    // the shared block is cut, its distinct surroundings survive
    assert(out(0)._2 == d1.replace(B, "") && out(0)._3 == B.length)
    assert(out(1)._2 == d2.replace(B, "") && out(1)._3 == B.length)
    // verbatim-identical docs are duplicated END TO END: both empty out
    // (remove-all policy — surfaced as empty strings, not dropped rows)
    assert(out(2)._2 == "" && out(2)._3 == same.length)
    assert(out(3)._2 == "" && out(3)._3 == same.length)
    // the unique doc passes through untouched
    assert(out(4)._2 == "wholly unique text that nothing else in the corpus repeats")
    assert(out(4)._3 == 0)
    // removed_chars agrees with the stats view's dup_chars everywhere
    val stats = LlmOps.substringDupStats(d, "doc_id", K)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    out.foreach { case (id, _, rem) => assert(rem.toLong == stats(id)) }
  }

  test("staged form is pass-count-invariant and passes=1 equals the base form") {
    // the capacity dial must not change results: grams split by hash
    // range, each pass sees a disjoint slice, and the union of duplicated
    // positions is identical to the single-shuffle form's
    val d1 = "alpha bravo charlie delta echo foxtrot(" + B + ")golf hotel india"
    val d2 = "zulu yankee xray whiskey victor uniform[" + B + "]tango sierra rmq"
    val sep = "#one two three four five six seven eight nine#"
    val d = docs(1L -> d1, 2L -> d2,
      3L -> ("prefix-material-here(" + B + sep + B + ")suffix-material-done"),
      4L -> "wholly unique text that nothing else in the corpus repeats")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sorted.toSeq
    val base = rows(LlmOps.duplicatedSpans(d, "doc_id", K))
    assert(base.nonEmpty)
    for (passes <- Seq(1, 3, 7)) {
      val wd = java.nio.file.Files
        .createTempDirectory("graft-substr-passes").toString
      assert(rows(LlmOps.duplicatedSpansStagedToDisk(d, "doc_id", wd, K,
        passes = passes)) == base, s"passes = $passes")
    }
  }

  test("decontaminateSpans localizes exactly the leaked benchmark text") {
    // corpus doc 1 embeds the benchmark block with distinct delimiters;
    // doc 2 is a verbatim whole-doc leak; doc 3 is clean
    val benchDoc = "held-out eval question(" + B + ")with its reference answer"
    val bench = docs(900L -> benchDoc)
    val c1 = "training text that quotes[" + B + "]inside otherwise-clean prose"
    val corpus = docs(1L -> c1, 2L -> benchDoc,
      3L -> "entirely clean training document with no benchmark overlap")
    val spans = LlmOps.decontaminateSpans(corpus, bench, "doc_id", K)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sorted
    // doc 1: only grams fully inside B occur in the benchmark (the
    // delimiters differ), so the span is B exactly; doc 2: every gram is
    // a benchmark gram — one span covering the whole doc; doc 3: nothing
    assert(spans === Seq(
      (1L, c1.indexOf(B) + 1, B.length),
      (2L, 1, benchDoc.length)))
  }

  test("spans are disjoint per doc and stats equal their summed coverage") {
    val d1 = "alpha bravo charlie delta echo foxtrot(" + B + ")golf hotel india"
    val d2 = "zulu yankee xray whiskey victor uniform[" + B + "]tango sierra rmq"
    val d = docs(1L -> d1, 2L -> d2, 3L -> "no shared material in this one at all")
    val spans = LlmOps.duplicatedSpans(d, "doc_id", K)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    spans.groupBy(_._1).foreach { case (_, ss) =>
      val sorted = ss.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array((_, s1, l1), (_, s2, _)) => assert(s1 + l1 <= s2)
        case _ =>
      }
    }
    val stats = LlmOps.substringDupStats(d, "doc_id", K)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(stats.length == 3)
    stats.foreach { case (id, n, dup, frac) =>
      val expected = spans.filter(_._1 == id).map(_._3.toLong).sum
      assert(dup == expected)
      assert(math.abs(frac - BigDecimal(dup.toDouble / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) <= 1e-9)
      assert(dup <= n)
    }
  }
}
