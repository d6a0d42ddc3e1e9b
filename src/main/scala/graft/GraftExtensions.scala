package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graft.Bridge

import graft.functions._

/** Session-extension injector: registers every graft SQL function, the
  * `TopKPerKey` planner strategy and the `TopKRewrite` optimizer rule at
  * session build time, so a cluster deployment enables the whole surface
  * with `--conf spark.sql.extensions=graft.GraftExtensions`. A session
  * the driver builds itself gets the same surface from
  * [[GraftExtensions.install]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    // declarative row_number()<=k idiom → bounded-heap top-k operator
    ext.injectOptimizerRule(_ => graft.plans.TopKRewrite)
  }
}

object GraftExtensions {

  private def fn(name: String, clazz: Class[_])(
      build: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(clazz.getCanonicalName, name), build)

  /** Every graft SQL function: the one table both the extension and
    * [[install]] register. The `graft.functions` Column builders build
    * the same expressions directly and need no registry. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    fn("graft_simhash", classOf[SimHashTokens])(es => SimHashTokens(es.head)),
    fn("graft_minhash_shingles", classOf[MinHashShingleFeatures])(
      es => MinHashShingleFeatures(es.head)),
    fn("graft_winnow", classOf[WinnowFingerprints])(es => WinnowFingerprints(es.head)),
    fn("graft_repetition", classOf[RepetitionStats])(es => RepetitionStats(es.head)),
    fn("graft_word_gram_hashes", classOf[WordGramHashes])(
      es => WordGramHashes(es(0), es(1))),
    fn("graft_id_pairs", classOf[IdPairs])(es => IdPairs(es.head)),
    fn("graft_hamming_pairs", classOf[HammingPairs])(es => HammingPairs(es(0), es(1))),
    fn("graft_cosine", classOf[CosineSimilarity])(es => CosineSimilarity(es(0), es(1))),
    fn("graft_srp64", classOf[Srp64])(es => Srp64(es.head)),
    fn("graft_l2sq", classOf[L2Sq])(es => L2Sq(es(0), es(1))),
    fn("graft_cosine_pairs", classOf[CosinePairs])(es => CosinePairs(es(0), es(1))),
    fn("graft_cosine_pairs_cross", classOf[CosinePairsCross])(
      es => CosinePairsCross(es(0), es(1))),
    fn("graft_cp1252_decode", classOf[Cp1252Decode])(es => Cp1252Decode(es.head)),
    fn("graft_cp1252_encode", classOf[Cp1252Encode])(es => Cp1252Encode(es.head)),
    fn("graft_canonical_url", classOf[CanonicalUrl])(es => CanonicalUrl(es.head)),
    fn("graft_lm_nll", classOf[LmNll])(es => LmNll(es(0), es(1), es(2), es(3), es(4))),
    fn("graft_quality_score", classOf[QualityScore])(es => QualityScore(es(0), es(1))),
    fn("graft_bpe_encode", classOf[BpeEncode])(
      es => BpeEncode(es(0), es(1), flat = false)),
    fn("graft_bpe_encode_all", classOf[BpeEncode])(
      es => BpeEncode(es(0), es(1), flat = true)),
    fn("graft_pq_encode", classOf[PqEncode])(es => PqEncode(es(0), es(1), es(2), es(3))),
    fn("graft_pq_adc", classOf[PqAdc])(es => PqAdc(es(0), es(1), es(2), es(3), es(4))),
    fn("graft_pq_adc_cols", classOf[PqAdcCols])(
      es => PqAdcCols(es(0), es(1), es(2), es(3), es(4))),
    fn("graft_sq_encode", classOf[SqEncode])(es => SqEncode(es(0), es(1), es(2))),
    fn("graft_sq_score", classOf[SqScore])(
      es => SqScore(es(0), es(1), es(2), es(3), es(4), es(5))),
    fn("graft_sq_score_cols", classOf[SqScoreCols])(
      es => SqScoreCols(es(0), es(1), es(2), es(3), es(4), es(5))),
    fn("graft_ivf_cell", classOf[IvfCell])(es => IvfCell(es(0), es(1), es(2), es(3))),
    fn("graft_bloom_agg", classOf[BloomFilterAggregate])(
      es => new BloomFilterAggregate(es(0), es(1), es(2))),
    fn("graft_might_contain", classOf[BloomFilterMightContain])(
      es => BloomFilterMightContain(es(0), es(1))))

  /** Give a session built without `spark.sql.extensions` the surface
    * [[GraftExtensions]] injects: the SQL functions of [[functions]],
    * the `TopKPerKey` strategy and the `TopKRewrite` rule. Idempotent:
    * a function already in the session's registry is left alone (no
    * "replaced a previously registered function" WARN), and the
    * strategy and rule are added only when absent.
    *
    * Called by every `SparkEntry.queries` entry, so the driver, `Bench`,
    * `Verify` and `PlanDump` sessions carry the rewrite from their first
    * query on. A session that calls operators directly without either
    * route gets the same results, but its declarative
    * `row_number() <= k` plans keep Spark's window sort; only
    * `TopK.topKPerKey` installs its own strategy. */
  def install(s: SparkSession): Unit = s.synchronized {
    val reg = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    functions.foreach { case (id, info, build) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, build)
    }
    Bridge.addStrategy(s, graft.plans.TopKPerKeyStrategy)
    Bridge.addOptimization(s, graft.plans.TopKRewrite)
  }
}
