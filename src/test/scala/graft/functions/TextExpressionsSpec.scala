package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The four text-pipeline expressions are drop-in replacements for HOF
  * formulations that also back the DuckDB oracles — each test pins the
  * native result to its HOF twin bit-for-bit, so oracle parity is
  * transitive.
  */
class TextExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "héllo wörld — unicode grams: ño, ü, 漢字 here",
    "tiny",          // shorter than k=5 → no grams
    "exact", "12345678")

  test("graft_gram_hash equals transform(substr) + graft_hash_array, incl. unicode") {
    // texts with ≥ k chars: the HOF twin itself misbehaves below k because
    // sequence(1, 0) DESCENDS — the native form defines that case as empty
    val df = texts.filter(_.length >= 5).toDF("text")
    val cmp = df.select(
      expr("graft_gram_hash(text, 5, ':wn', 15)").as("native"),
      expr("""graft_hash_array(
                transform(sequence(1, length(text) - 4),
                          i -> substr(text, i, 5)), ':wn', 15)""").as("hof"))
      .collect()
    cmp.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
    // shorter than k ⇒ empty gram set (no descending-sequence artifact)
    val short = Seq("tiny").toDF("text")
      .select(expr("graft_gram_hash(text, 5, '', 8)").as("g")).collect()
    assert(short.head.getSeq[Long](0).isEmpty)
  }

  test("graft_sliding_min equals the zip_with-over-shifted-slices form") {
    val df = Seq(
      Seq(5L, 3L, 8L, 1L, 9L, 2L, 7L),
      Seq(1L, 2L, 3L, 4L),
      Seq(4L, 3L, 2L),    // shorter than w → empty
      Seq.empty[Long])
      .toDF("hs")
    val cmp = df.select(
      expr("graft_sliding_min(hs, 4)").as("native"),
      expr("""zip_with(
                zip_with(slice(hs, 1, greatest(size(hs) - 3, 0)),
                         slice(hs, 2, greatest(size(hs) - 3, 0)), (x, y) -> least(x, y)),
                zip_with(slice(hs, 3, greatest(size(hs) - 3, 0)),
                         slice(hs, 4, greatest(size(hs) - 3, 0)), (x, y) -> least(x, y)),
                (p, q) -> least(p, q))""").as("hof"))
      .collect()
    cmp.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
    assert(cmp(0).getSeq[Long](0) == Seq(1L, 1L, 1L, 1L))
  }

  test("graft_minhash equals the transform-of-aggregates affine form") {
    val df = Seq(
      Seq(123456L, 987654L, 42L, 4294967295L),
      Seq(7L),
      Seq.empty[Long])   // empty → Long.MaxValue per band
      .toDF("sh32")
    val cmp = df.select(
      expr("graft_minhash(sh32, 8)").as("native"),
      expr("""transform(sequence(0, 7),
                j -> aggregate(sh32, 9223372036854775807L,
                       (acc, h) -> least(acc, ((1 + j * 104729) * h + j * 7919) % 4294967311)))""")
        .as("hof"))
      .collect()
    cmp.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
    assert(cmp(2).getSeq[Long](0).forall(_ == Long.MaxValue))
  }

  test("graft_simhash32 equals the vote-aggregate form") {
    val df = Seq(
      Seq(0xFFFFFFFFL, 0x0L, 0xAAAAAAAAL),
      Seq(1L, 3L, 7L),
      Seq.empty[Long])   // zero votes → all bits "≥ 0" → all 32 bits set
      .toDF("hs")
    val cmp = df.select(
      expr("graft_simhash32(hs)").as("native"),
      expr("""aggregate(
                zip_with(
                  aggregate(hs, array_repeat(cast(0 as bigint), 32),
                    (acc, h) -> zip_with(acc, sequence(0, 31),
                      (a, j) -> a + if((shiftright(h, j) & 1) = 1, 1, -1))),
                  sequence(0, 31),
                  (v, j) -> if(v >= 0, shiftleft(cast(1 as bigint), j), cast(0 as bigint))),
                cast(0 as bigint), (oa, ox) -> oa + ox)""").as("hof"))
      .collect()
    cmp.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    assert(cmp(2).getLong(0) == 0xFFFFFFFFL)
  }

  test("graft_simhash64 equals the vote-aggregate form") {
    val df = Seq(
      Seq(0xFFFFFFFFFFFFFFFL, 0x0L, 0xAAAAAAAAAAAAAAL), // 60-bit lanes
      Seq(1L, 3L, 7L),
      Seq.empty[Long])   // zero votes → all 64 bits set → -1
      .toDF("hs")
    val cmp = df.select(
      expr("graft_simhash64(hs)").as("native"),
      expr("""aggregate(
                zip_with(
                  aggregate(hs, array_repeat(cast(0 as bigint), 64),
                    (acc, h) -> zip_with(acc, sequence(0, 63),
                      (a, j) -> a + if((shiftright(h, j) & 1) = 1, 1, -1))),
                  sequence(0, 63),
                  (v, j) -> if(v >= 0, shiftleft(cast(1 as bigint), j), cast(0 as bigint))),
                cast(0 as bigint), (oa, ox) -> oa + ox)""").as("hof"))
      .collect()
    cmp.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    assert(cmp(2).getLong(0) == -1L)
    // 60-bit element hashes: lanes 60-63 vote negative → result < 2^60
    assert(cmp(0).getLong(0) >= 0 && cmp(0).getLong(0) < (1L << 60))
  }

  test("graft_word_ngrams equals the zip_with-concat chain; null word nulls its grams") {
    val df = Seq(
      Seq("the", "quick", "brown", "fox"),
      Seq("a", "b", "c"),
      Seq("too", "short"),
      Seq.empty[String]).toDF("words")
    val cmp = df.select(
      expr("graft_word_ngrams(words, 3)").as("native"),
      expr("""zip_with(
                zip_with(slice(words, 1, greatest(size(words) - 2, 0)),
                         slice(words, 2, greatest(size(words) - 2, 0)),
                         (x, y) -> concat(x, ' ', y)),
                slice(words, 3, greatest(size(words) - 2, 0)),
                (p, z) -> concat(p, ' ', z))""").as("hof"))
      .collect()
    cmp.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
    assert(cmp(0).getSeq[String](0) == Seq("the quick brown", "quick brown fox"))
    assert(cmp(2).getSeq[String](0).isEmpty)
    val withNull = Seq(Seq[String]("a", null, "c", "d")).toDF("words")
      .select(expr("graft_word_ngrams(words, 3)").as("g")).collect().head.getSeq[Any](0)
    assert(withNull == Seq(null, null)) // both windows touch the null word
  }

  test("graft_band_hash equals the md5-prefix SQL formulation") {
    val df = Seq(Seq(123456789L, 42L, 4294967295L, 0L, 7L, 8L, 99L, 100L))
      .toDF("sig")
    val cmp = df.select(
      expr("graft_band_hash(sig, 4, 2, 15)").as("native"),
      expr("""transform(sequence(0, 3),
                b -> cast(conv(substr(md5(concat(
                       cast(b as string), '|',
                       cast(element_at(sig, b * 2 + 1) as string), ',',
                       cast(element_at(sig, b * 2 + 2) as string))), 1, 15), 16, 10) as bigint))""")
        .as("hof"))
      .collect().head
    assert(cmp.getSeq[Long](0) == cmp.getSeq[Long](1))
    // distinct bands produce distinct keys even over equal signature slices
    val eq = Seq(Seq(5L, 5L, 5L, 5L)).toDF("sig")
      .select(expr("graft_band_hash(sig, 2, 2, 15)").as("b")).collect().head.getSeq[Long](0)
    assert(eq.distinct.length == 2)
  }

  test("new expressions run inside whole-stage codegen") {
    // parquet-backed input so the projection can't constant-fold away
    val plan = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(expr("graft_sliding_min(graft_gram_hash(text, 5, '', 8), 4)").as("w"))
      .queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[graft_sliding_min\(graft_gram_hash""".r.findFirstIn(plan).isDefined, plan)
  }

  test("validation: bad k / w / nibbles fail at analysis") {
    val df = Seq("abc").toDF("text")
    intercept[Exception] { df.select(expr("graft_gram_hash(text, 0, '', 8)")).collect() }
    intercept[Exception] { df.select(expr("graft_gram_hash(text, 3, '', 99)")).collect() }
    val arr = Seq(Seq(1L, 2L)).toDF("a")
    intercept[Exception] { arr.select(expr("graft_sliding_min(a, 0)")).collect() }
    intercept[Exception] { arr.select(expr("graft_minhash(a, 0)")).collect() }
  }

  test("graft_symbol_bytes equals the regexp_replace byte-difference form") {
    // adversarial class coverage: multi-byte chars (every byte must count),
    // boundary ASCII codes around the kept ranges, empty string, all-kept,
    // all-symbols — then the full sf0.01 documents corpus
    val fixtures = (texts ++ Seq(
      "", "    ", "@[`{/:0aZz9 A", "\t\n", "é", "漢", "a漢b!c",
      "")).toDF("text")
    val cmp = fixtures.union(
        spark.read.parquet(s"${sf("sf0.01")}/documents.parquet").select(col("text")))
      .select(
        expr("graft_symbol_bytes(text)").as("native"),
        (octet_length(col("text")) -
          octet_length(regexp_replace(col("text"), "[^A-Za-z0-9 ]", ""))).as("regex"))
    assert(cmp.filter(col("native") =!= col("regex")).count() == 0)
    val n = Seq[Option[String]](None).toDF("text")
      .select(expr("graft_symbol_bytes(text)")).collect().head
    assert(n.isNullAt(0))
    // plan assert on the parquet scan — the literal fixture constant-folds
    // into a LocalTableScan with no codegen span at all
    val plan = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
      .select(expr("graft_symbol_bytes(text)").as("b"))
      .queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[graft_symbol_bytes""".r.findFirstIn(plan).isDefined,
      s"expected graft_symbol_bytes inside a codegen span:\n$plan")
  }

  test("graft_retoken_count equals size(regexp_extract_all(...)) token counting") {
    // the alternation's cases: maximal letter runs, per-digit, per-symbol,
    // per-non-ASCII code point (incl. a 4-byte supplementary char — one
    // match in both engines' code-point semantics), space separation,
    // empty string, leading/trailing runs
    val fixtures = (texts ++ Seq(
      "", "    ", "abc123 x!y", "a1b2c3", "!!!", "é é", "漢字12ab",
      "😀 emoji4byte", "ends with letters", "7")).toDF("text")
    val cmp = fixtures.union(
        spark.read.parquet(s"${sf("sf0.01")}/documents.parquet").select(col("text")))
      .select(
        expr("graft_retoken_count(text)").as("native"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"), lit(0))).as("regex"))
    assert(cmp.filter(col("native") =!= col("regex")).count() == 0)
    val n = Seq[Option[String]](None).toDF("text")
      .select(expr("graft_retoken_count(text)")).collect().head
    assert(n.isNullAt(0))
    val plan = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
      .select(expr("graft_retoken_count(text)").as("c"))
      .queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[graft_retoken_count""".r.findFirstIn(plan).isDefined,
      s"expected graft_retoken_count inside a codegen span:\n$plan")
  }

  test("graft_frame_energy: hand values, unicode code points, window math") {
    def fe(s: String, n: Int): Seq[Double] =
      Seq(s).toDF("t").select(expr(s"graft_frame_energy(t, $n)")).collect()
        .head.getSeq[Double](0)
    // n > len: one char per window, zero tail
    assert(fe("ab", 4) == Seq(97.0, 98.0, 0.0, 0.0))
    // len = 5, n = 2 → w = ceil(5/2) = 3: windows "abc", "de"
    assert(fe("abcde", 2) == Seq(97.0 + 98 + 99, 100.0 + 101))
    // multi-byte code points count once, at their CHARACTER position:
    // é = U+00E9 (2 utf-8 bytes), 😀 = U+1F600 (4 bytes)
    assert(fe("éa", 2) == Seq(233.0, 97.0))
    assert(fe("😀z", 2) == Seq(128512.0, 122.0))
    assert(fe("", 3) == Seq(0.0, 0.0, 0.0))
    val n = Seq[Option[String]](None).toDF("t")
      .select(expr("graft_frame_energy(t, 4)")).collect().head
    assert(n.isNullAt(0))
    // nFrames is baked into codegen → must be a literal, and positive
    intercept[Exception] {
      Seq("x").toDF("t").select(expr("graft_frame_energy(t, length(t))")).collect()
    }
    intercept[Exception] {
      Seq("x").toDF("t").select(expr("graft_frame_energy(t, 0)")).collect()
    }
  }

  test("graft_frame_energy equals the transform/aggregate HOF form on the corpus") {
    // the declarative twin mirrors the DuckDB oracle exactly (64 windows of
    // w = ceil(len/64) chars, per-window code-point sum) — parity here
    // makes oracle parity transitive; the corpus is ASCII so ascii() and
    // the decoder agree code point for code point
    val w = "cast(greatest(1, ceil(length(text) / 64.0)) as int)"
    val cmp = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
      .select(
        expr("graft_frame_energy(text, 64)").as("native"),
        expr(s"""transform(sequence(0, 63), f ->
                   aggregate(sequence(1, $w), cast(0.0 as double),
                     (acc, j) -> acc + if(f * $w + j <= length(text),
                                          ascii(substr(text, f * $w + j, 1)), 0)))""")
          .as("hof"))
    assert(cmp.filter(expr("native != hof")).count() == 0)
    val plan = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
      .select(expr("graft_frame_energy(text, 64)").as("e"))
      .queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[graft_frame_energy""".r.findFirstIn(plan).isDefined,
      s"expected graft_frame_energy inside a codegen span:\n$plan")
  }
}
