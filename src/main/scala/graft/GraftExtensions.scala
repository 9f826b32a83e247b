package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** Session-extension entry point: registers every graft native
  * expression as a PERMANENT SQL function, so a cluster configured with
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (or `GraftSession.builder().withExtensions(new GraftExtensions()(_))`)
  * exposes `cosine_sim`, `minhash_sig`, `simhash64`, `sig_agreement`,
  * `hyperplane_sig`, `rolling_hash`, `token_min_hash` to plain SQL users
  * — the same expressions the Column API helpers (GraftFunctions etc.)
  * build directly. Their `register(spark)` methods bind the SQL names
  * per session as temp functions; this is the deployment-grade route.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(a, b) - cosine similarity of two array<double>"),
      (e: Seq[Expression]) => CosineSim(e(0), e(1))))
    ext.injectFunction((FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(tokens) - 64-bit SimHash of array<string>"),
      (e: Seq[Expression]) => SimHash64(e.head)))
    ext.injectFunction((FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(shingles, k) - k xxhash64 minhashes"),
      (e: Seq[Expression]) => MinHashSig(e(0), e(1).eval().asInstanceOf[Int])))
    ext.injectFunction((FunctionIdentifier("sig_agreement"),
      info("sig_agreement", "sig_agreement(a, b) - agreeing positions of two signatures"),
      (e: Seq[Expression]) => SigAgreement(e(0), e(1))))
    ext.injectFunction((FunctionIdentifier("hyperplane_sig"),
      info("hyperplane_sig", "hyperplane_sig(v, tables, bits) - LSH bucket ids"),
      (e: Seq[Expression]) => HyperplaneSig(e(0),
        e(1).eval().asInstanceOf[Int], e(2).eval().asInstanceOf[Int])))
    ext.injectFunction((FunctionIdentifier("rolling_hash"),
      info("rolling_hash", "rolling_hash(text) - polynomial rolling content hash"),
      (e: Seq[Expression]) => RollingHash(e.head)))
    ext.injectFunction((FunctionIdentifier("token_min_hash"),
      info("token_min_hash", "token_min_hash(text) - min xxhash64 over space tokens"),
      (e: Seq[Expression]) => TokenMinHash(e.head)))
    ext.injectFunction((FunctionIdentifier("word_ngrams"),
      info("word_ngrams", "word_ngrams(text, n) - distinct word n-gram shingles"),
      (e: Seq[Expression]) => WordNgrams(e(0), e(1).eval().asInstanceOf[Int])))
    // whole-operator extension: the native as-of join's planner
    // strategy (the per-session route installs the same object lazily via
    // spark.experimental.extraStrategies — see plans.AsOfJoin.asofNative)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoin.AsOfJoinStrategy)
    // left-only predicates commute with the as-of join; injected into the
    // operator-optimization batch so the pushed Filter then rides the
    // built-in PushDownPredicates all the way into the scan
    ext.injectOptimizerRule(_ => graft.plans.AsOfJoin.PushLeftFiltersThroughAsOf)
  }
}
