package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ext.LlmOps.BpeMerge

/** BPE vocabulary induction: merge-kernel semantics, full merge-table
  * parity against an independent textbook reference implementation on a
  * controlled corpus, encode parity, and the registry envelope.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  // ---- independent driver-side reference (textbook BPE, Sennrich 2016) --

  private def refMergeList(s: Vector[String], l: String,
                           r: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < s.length) {
      if (s(i) == l && i + 1 < s.length && s(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += s(i); i += 1 }
    }
    out.result()
  }

  private def refTrain(words: Map[String, Long],
                       rounds: Int): (List[(String, String, Long)],
                                      Map[String, Vector[String]]) = {
    var tbl: Map[String, (Vector[String], Long)] =
      words.map { case (w, c) =>
        w -> (w.split("").filter(_.nonEmpty).toVector, c) }
    var merges = List.empty[(String, String, Long)]
    var stop = false
    for (_ <- 1 to rounds if !stop) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      tbl.values.foreach { case (syms, c) =>
        syms.indices.dropRight(1).foreach { i =>
          val p = (syms(i), syms(i + 1))
          counts(p) = counts.getOrElse(p, 0L) + c
        }
      }
      val best = counts.toSeq.sortBy { case ((l, r), pc) => (-pc, l, r) }
        .headOption
      best match {
        case Some(((l, r), pc)) if pc >= 2 =>
          merges :+= ((l, r, pc))
          tbl = tbl.map { case (w, (syms, c)) =>
            w -> (refMergeList(syms, l, r), c) }
        case _ => stop = true
      }
    }
    (merges, tbl.map { case (w, (syms, _)) => w -> syms })
  }

  // ---- merge kernel semantics ------------------------------------------

  test("graft_bpe_merge: greedy left-to-right non-overlap, fresh merged " +
       "symbol can start the next match, null elements pass through") {
    def m(arr: Seq[String], l: String, r: String): Seq[String] =
      Seq(Tuple1(arr)).toDF("s")
        .select(call_function("graft_bpe_merge", col("s"), lit(l), lit(r)))
        .collect()(0).getSeq[String](0)
    assert(m(Seq("a", "a", "a", "a"), "a", "a") == Seq("aa", "aa"))
    assert(m(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(m(Seq("a", "b", "b"), "a", "b") == Seq("ab", "b"))
    assert(m(Seq("x", "y"), "a", "b") == Seq("x", "y"))
    assert(m(Seq.empty[String], "a", "b") == Seq.empty[String])
    // null element never matches, survives in place
    val withNull = spark.sql(
      "SELECT graft_bpe_merge(array('a', CAST(NULL AS STRING), 'b'), 'a', 'b') AS s")
      .collect()(0).getSeq[String](0)
    assert(withNull == Seq("a", null, "b"))
  }

  // ---- full merge-table + encode parity on a controlled corpus ---------

  test("bpeTrain reproduces the textbook reference merge table exactly on " +
       "a controlled corpus; bpeEncode matches the reference tokenization") {
    // the classic BPE demonstration corpus shape: repeated stems with
    // productive suffixes
    val words = Map(
      "low" -> 5L, "lower" -> 2L, "lowest" -> 1L,
      "newer" -> 6L, "new" -> 2L, "wider" -> 3L, "widest" -> 2L)
    val docs = words.toSeq.flatMap { case (w, c) =>
      Seq.fill(c.toInt)(w)
    }.grouped(3).map(_.mkString(" ")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toSeq
      .toDF("doc_id", "text")
    val rounds = 12
    val (got, wcFinal) = LlmOps.bpeTrain(docs, rounds)
    val (exp, refSyms) = refTrain(words, rounds)
    assert(got.map(m => (m.left, m.right, m.cnt)) == exp,
      s"merge tables differ:\n got=$got\n exp=$exp")
    // the trained table re-tokenizes words identically to the reference
    val enc = LlmOps.bpeEncode(words.keys.toSeq.toDF("w"), got)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    words.keys.foreach { w =>
      assert(enc(w) == refSyms(w), s"encode($w): ${enc(w)} vs ${refSyms(w)}")
    }
    // and the training-side symbol table agrees with encode (same merges,
    // same greedy discipline — training state IS the encoding)
    val trained = wcFinal.select(col("w"), col("syms")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    words.keys.foreach(w => assert(trained(w) == refSyms(w)))
  }

  test("driver and distributed regimes produce IDENTICAL merge tables and " +
       "final symbol tables (the bpeFitsDriver gate is a cost switch, " +
       "never a semantics switch)") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .limit(400).localCheckpoint()
    val (mDrv, wcDrv, auditDrv) = LlmOps.bpeTrainFull(docs, rounds = 12)
    // a zero budget fails the gate on any non-empty word table
    val (mDst, wcDst, auditDst) = LlmOps.bpeTrainFull(docs, rounds = 12,
      driverWordBudgetBytes = 0L)
    assert(auditDrv.isDefined, "the default budget must run the driver rounds")
    assert(auditDst.isEmpty, "a zero budget must run the distributed rounds")
    assert(mDrv == mDst, s"merge tables differ:\n drv=$mDrv\n dst=$mDst")
    val a = wcDrv.select(col("w"), col("cnt"), col("syms")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2))).sortBy(_._1)
    val b = wcDst.select(col("w"), col("cnt"), col("syms")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2))).sortBy(_._1)
    assert(a.toSeq == b.toSeq)
  }

  test("bpeTrain stops early when no pair repeats") {
    val docs = Seq((0L, "ab cd ef")).toDF("doc_id", "text")
    val (merges, _) = LlmOps.bpeTrain(docs, rounds = 10)
    assert(merges.isEmpty) // every pair count is 1
  }

  // ---- registry envelope ------------------------------------------------

  test("bpe_train registry key: 20 merges on testdata, envelope booleans " +
       "hold, counts non-increasing") {
    val row = graft.SparkEntry.queries("bpe_train")(spark, sf()).collect()(0)
    assert(row.getInt(0) == 20)
    assert(row.getLong(1) >= 10, s"base vocab ${row.getLong(1)}")
    assert(row.getLong(4) >= 2)
    (5 to 7).foreach(i => assert(row.getBoolean(i), s"boolean col $i"))
  }

  test("bpeEncode round-trips every distinct word of the gate corpus " +
       "through the trained table") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val (merges, wcFinal) = LlmOps.bpeTrain(docs, rounds = 20)
    assert(merges.length == 20)
    val bad = wcFinal.filter(concat_ws("", col("syms")) =!= col("w")).count()
    assert(bad == 0L)
  }

  test("fit/apply parity fingerprint: the driver audit's md5-term sum " +
       "equals the Spark-side bpeSymsFingerprint on the same table, and " +
       "any symbol drift changes it") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val (merges, wcFinal, auditOpt) =
      LlmOps.bpeTrainFull(docs, rounds = 10)
    val audit = auditOpt.getOrElse(fail("gate corpus must take the driver regime"))
    // cross-implementation contract: driver MessageDigest term == Spark
    // conv(substring(md5(concat_ws(…)),1,15),16,10) term, summed
    val (n, fp) = LlmOps.bpeSymsFingerprint(wcFinal, "w", "syms")
    assert(n == audit.wordCount)
    assert(fp == audit.symsFp)
    // the re-encoded distinct words carry the SAME fingerprint (the
    // bpe_encode key's apply_ok), and a corrupted encoding does not
    val words = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").distinct()
    val enc = LlmOps.bpeEncode(words, merges)
    val (en, efp) = LlmOps.bpeSymsFingerprint(enc, "w", "tokens")
    assert(en == n && efp == fp)
    val corrupted = enc.withColumn("tokens",
      when(col("w") === enc.select(min(col("w"))).head().getString(0),
        array(lit("!corrupt!"))).otherwise(col("tokens")))
    val (_, cfp) = LlmOps.bpeSymsFingerprint(corrupted, "w", "tokens")
    assert(cfp != fp, "a drifted encoding must change the fingerprint")
  }
}
