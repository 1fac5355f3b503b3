package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Single source of truth for graft's native SQL functions.
  *
  * [[graft.GraftExtensions]] installs them: it is a
  * `SparkSessionExtensionsProvider` listed under `META-INF/services`, so
  * every session the builder creates with graft on the driver classpath
  * resolves `graft_*` names (`spark-submit --jars`/`--packages` does this).
  * A session built before graft was on its classpath calls [[ensure]] once.
  * Both routes install the same builders, so [[ensure]] on a provider-built
  * session is a no-op (functionExists short-circuit).
  */
object GraftFunctions {

  /** (name, info, builder) triples in SparkSessionExtensions.injectFunction
    * shape — consumed verbatim by GraftExtensions and by [[ensure]].
    */
  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_dot takes exactly 2 array<float|double> arguments")
        DotProduct(args.head, args(1))
      }),
    (FunctionIdentifier("graft_pq_adc"),
      new ExpressionInfo(classOf[PqAdc].getName, "graft_pq_adc"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_pq_adc takes (array<int> codes, array<double> lut, int ks)")
        PqAdc(args(0), args(1), args(2))
      }),
    (FunctionIdentifier("graft_hash_array"),
      new ExpressionInfo(classOf[HashArray].getName, "graft_hash_array"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_hash_array takes (array<string>, suffix, nibbles)")
        HashArray(args(0), args(1), args(2))
      }),
    (FunctionIdentifier("graft_gram_hash"),
      new ExpressionInfo(classOf[GramHash].getName, "graft_gram_hash"),
      (args: Seq[Expression]) => {
        require(args.length == 4, "graft_gram_hash takes (text, k, suffix, nibbles)")
        GramHash(args(0), args(1), args(2), args(3))
      }),
    (FunctionIdentifier("graft_sliding_min"),
      new ExpressionInfo(classOf[SlidingMin].getName, "graft_sliding_min"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_sliding_min takes (array<bigint>, w)")
        SlidingMin(args(0), args(1))
      }),
    (FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinhashSig].getName, "graft_minhash"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_minhash takes (array<bigint>, k)")
        MinhashSig(args(0), args(1))
      }),
    (FunctionIdentifier("graft_word_ngrams"),
      new ExpressionInfo(classOf[WordNgrams].getName, "graft_word_ngrams"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_word_ngrams takes (array<string>, n)")
        WordNgrams(args(0), args(1))
      }),
    (FunctionIdentifier("graft_band_hash"),
      new ExpressionInfo(classOf[BandHash].getName, "graft_band_hash"),
      (args: Seq[Expression]) => {
        require(args.length == 4, "graft_band_hash takes (array<bigint>, bands, r, nibbles)")
        BandHash(args(0), args(1), args(2), args(3))
      }),
    (FunctionIdentifier("graft_simhash32"),
      new ExpressionInfo(classOf[Simhash32].getName, "graft_simhash32"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_simhash32 takes (array<bigint>)")
        Simhash32(args(0))
      }),
    (FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[Simhash64].getName, "graft_simhash64"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_simhash64 takes (array<bigint>)")
        Simhash64(args(0))
      }),
    (FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKPairs].getName, "graft_topk"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_topk takes (score double, id bigint, k)")
        TopKPairs(args(0), args(1), args(2))
      }),
    (FunctionIdentifier("graft_vec_sum"),
      new ExpressionInfo(classOf[VecSum].getName, "graft_vec_sum"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_vec_sum takes (array<double>)")
        VecSum(args.head)
      }),
    (FunctionIdentifier("graft_topk_str"),
      new ExpressionInfo(classOf[TopKStrPairs].getName, "graft_topk_str"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_topk_str takes (score double, id string, k)")
        TopKStrPairs(args(0), args(1), args(2))
      }),
    (FunctionIdentifier("graft_freq"),
      new ExpressionInfo(classOf[FreqItems].getName, "graft_freq"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_freq takes (item string|bigint, k)")
        FreqItems(args(0), args(1))
      }),
    (FunctionIdentifier("graft_lsh_sig"),
      new ExpressionInfo(classOf[LshSig].getName, "graft_lsh_sig"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_lsh_sig takes (array<float|double>)")
        LshSig(args(0))
      }),
    (FunctionIdentifier("graft_lsh_sig_any"),
      new ExpressionInfo(classOf[LshSigAny].getName, "graft_lsh_sig_any"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_lsh_sig_any takes (array<float|double>)")
        LshSigAny(args(0))
      }),
    (FunctionIdentifier("graft_dhash"),
      new ExpressionInfo(classOf[DHash].getName, "graft_dhash"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_dhash takes (array<float|double>)")
        DHash(args(0))
      }),
    (FunctionIdentifier("graft_frame_energy"),
      new ExpressionInfo(classOf[FrameEnergy].getName, "graft_frame_energy"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_frame_energy takes (string, int literal nFrames)")
        val n = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(i: Int,
              org.apache.spark.sql.types.IntegerType) => i
          case other => throw new IllegalArgumentException(
            s"graft_frame_energy nFrames must be an int literal (it is baked into codegen), got $other")
        }
        FrameEnergy(args(0), n)
      }),
    (FunctionIdentifier("graft_retoken_count"),
      new ExpressionInfo(classOf[RetokenCount].getName, "graft_retoken_count"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_retoken_count takes (string)")
        RetokenCount(args(0))
      }),
    (FunctionIdentifier("graft_symbol_bytes"),
      new ExpressionInfo(classOf[SymbolBytes].getName, "graft_symbol_bytes"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_symbol_bytes takes (string)")
        SymbolBytes(args(0))
      }),
    (FunctionIdentifier("graft_round"),
      new ExpressionInfo(classOf[GraftRound].getName, "graft_round"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_round takes (double, int literal scale)")
        val scale = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(i: Int,
              org.apache.spark.sql.types.IntegerType) => i
          case other => throw new IllegalArgumentException(
            s"graft_round scale must be an int literal (it is baked into codegen), got $other")
        }
        GraftRound(args(0), scale)
      }),
    (FunctionIdentifier("graft_bpe_merge"),
      new ExpressionInfo(classOf[BpeMergePairs].getName, "graft_bpe_merge"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "graft_bpe_merge takes (array<string>, string, string)")
        BpeMergePairs(args(0), args(1), args(2))
      }),
    (FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "graft_might_contain"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_might_contain takes (bloom binary literal, value)")
        BloomMightContain(args(0), args(1))
      }),
    (FunctionIdentifier("graft_vec_dmean"),
      new ExpressionInfo(classOf[VecDecimalMean].getName, "graft_vec_dmean"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_vec_dmean takes (array<float|double>)")
        VecDecimalMean(args.head)
      }),
    (FunctionIdentifier("graft_argmax_cell"),
      new ExpressionInfo(classOf[ArgmaxCellKey].getName, "graft_argmax_cell"),
      (args: Seq[Expression]) => {
        require(args.length == 5,
          "graft_argmax_cell takes (embedding, nrm, cids, cnrms, mat)")
        ArgmaxCellKey(args(0), args(1), args(2), args(3), args(4))
      }))

  /** Idempotently register graft's functions in `spark`'s session-local
    * FunctionRegistry: the explicit install for a session built before
    * graft was on its classpath. Synchronized so concurrent first callers
    * on a shared session don't race the read-then-register.
    */
  def ensure(spark: SparkSession): Unit = synchronized {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    all.foreach { case (ident, info, builder) =>
      if (!registry.functionExists(ident))
        registry.registerFunction(ident, info, builder)
    }
  }
}
