package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._

import graft.functions._

/** The Column front doors build their native expressions directly: a
  * call leaves the session's function registry as it found it (no
  * `replaced a previously registered function` warning per call), and
  * the plan is the one the registered-function route resolved to. */
class FrontDoorSpec extends SparkSpec {

  private val names = Seq("cosine_sim", "simhash64", "minhash_sig",
    "sig_agreement", "rolling_hash", "token_min_hash", "word_ngrams",
    "paragraph_windows", "paragraph_window_stats", "hyperplane_sig",
    "quant_dot", "mg_sketch")

  test("no front door registers a function in the session") {
    val s = spark.newSession()
    import s.implicits._
    val docs = Seq("the quick brown fox", "jumps over the lazy dog")
      .toDF("text")
    val toks = split(col("text"), " ")
    val sig = SketchFunctions.minhash_sig(s, toks, 4)
    val vecs = Seq((Seq(1.0, 0.0), Seq(0.6, 0.8), Seq[Byte](1, 2), Seq[Byte](3, 4)))
      .toDF("a", "b", "qa", "qb")
    val perRow = docs.select(
      SketchFunctions.simhash64(s, toks), sig,
      SketchFunctions.sig_agreement(s, sig, sig),
      TextHashFunctions.rolling_hash(s, col("text")),
      TextHashFunctions.token_min_hash(s, col("text")),
      TextShingleFunctions.word_ngrams(s, col("text"), 2),
      TextShingleFunctions.paragraph_windows(s, col("text"), 2),
      TextShingleFunctions.paragraph_window_stats(s, col("text"), 2)).collect()
    assert(perRow.length == 2 && perRow.forall(r => !r.isNullAt(0)))
    val vec = vecs.select(
      GraftFunctions.cosine_sim(s, col("a"), col("b")),
      HyperplaneSigFunction.hyperplane_sig(s, col("a"), 2, 4),
      QuantDotFunction.quant_dot(s, col("qa"), col("qb"))).head()
    assert(math.abs(vec.getDouble(0) - 0.6) < 1e-12)
    val mg = docs.agg(MisraGries.mg_sketch(s, toks, 16)).head()
    assert(mg.getMap[String, Long](0).get("the").contains(2L))
    val registered = names.filter(n =>
      s.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))
    assert(registered.isEmpty, s"front doors registered: $registered")
  }

  /** Physical and optimized plans with expression ids masked. */
  private def plans(df: DataFrame): String =
    (df.queryExecution.optimizedPlan.toString + "\n" +
      df.queryExecution.executedPlan.toString)
      .replaceAll("#\\d+L?", "#").replaceAll("plan_id=\\d+", "plan_id=")

  test("front-door plans equal the registered-function plans") {
    val s = spark.newSession()
    import s.implicits._
    GraftFunctions.register(s)
    SketchFunctions.register(s)
    val vecs = Seq((Seq(1.0, 0.0), Seq(0.6, 0.8))).toDF("a", "b")
    val docs = Seq("the quick brown fox").toDF("text")
    def same(base: DataFrame, direct: Column, viaRegistry: Column): Unit = {
      val (d, r) = (base.select(direct), base.select(viaRegistry))
      assert(d.columns.toSeq == r.columns.toSeq)
      assert(plans(d) == plans(r))
      assert(d.collect().toSeq == r.collect().toSeq)
    }
    same(vecs, GraftFunctions.cosine_sim(s, col("a"), col("b")),
      call_function("cosine_sim", col("a"), col("b")))
    val toks = split(col("text"), " ")
    same(docs, SketchFunctions.minhash_sig(s, toks, 4),
      call_function("minhash_sig", toks, lit(4)))
  }
}
