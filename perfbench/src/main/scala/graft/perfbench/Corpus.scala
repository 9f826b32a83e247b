package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.dedup.IncrementalDedup
import graft.similarity.{AnnIndexStore, Cosine, IvfPq}

/** The LLM-data surface of the batch workload: batches of new documents
  * dedup against a persisted LSH index, and a seeded query set probes a
  * persisted IVF-PQ index. A seeded share of every batch is a one-word
  * edit of an indexed document, so the generator controls how much work
  * inputs share and knows which pairs must be found. */
final class Corpus(c: Ctx) {
  import Corpus._
  import c.{gen, h, spark}
  import spark.implicits._

  private var indexTable = ""
  private var corpus: DataFrame = _
  private var emb: DataFrame = _
  private var ann: IvfPq.IvfPqIndex = _
  private var truth = Map.empty[Long, Set[Long]]
  private var base = Vector.empty[Array[String]]
  /** Indexed documents long enough to plant an edit of. */
  private var long = IndexedSeq.empty[Int]
  private var nextDoc = 0L
  val recalls = mutable.ArrayBuffer.empty[Double]
  private val verified = mutable.ArrayBuffer.empty[Long]
  private val candidates = mutable.ArrayBuffer.empty[Long]
  private var buildMs = 0.0

  def prepare(dir: String): Unit = {
    val r = gen.rng(80)
    base = Vector.fill(BaseDocs)(gen.document(r, MinWords, MaxWords, Vocab))
    long = base.indices.filter(base(_).length >= PlantedMinWords)
    base.zipWithIndex.map { case (w, i) => (i.toLong, w.mkString(" ")) }
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    corpus = spark.read.parquet(s"$dir/documents.parquet")
    gen.embeddings(Vectors).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    emb = spark.read.parquet(s"$dir/embeddings.parquet")
  }

  /** Index half the corpus for dedup (the other half arrives in batches). */
  def setup(dir: String): Unit = {
    nextDoc = BaseDocs.toLong
    indexTable = "perfbench_dedup_index"
    IncrementalDedup.initIndex(corpus, indexTable, s"$dir/dedup_index")
  }

  /** Build and persist the ANN index once, and the exact top-k it is
    * judged against. */
  def buildAnn(dir: String): Unit = {
    val t0 = System.nanoTime()
    ann = AnnIndexStore.ivfPqIndex(emb, s"$dir/ann", "vectors", nCells = AnnCells,
      m = AnnSubspaces, k = AnnCodes, iters = AnnIters)._1
    buildMs = (System.nanoTime() - t0) / 1e6
    truth = Cosine.bruteTopK(emb, Queries, K).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
  }

  /** A batch of fresh documents, `Planted` of them one-word edits of
    * indexed documents; returns the frame and the planted pairs. Edits
    * are made of documents of at least `PlantedMinWords` words, whose
    * pairs the LSH bands find with near certainty, so a missed pair
    * points at the pipeline rather than at MinHash's chance. */
  def batch(r: scala.util.Random): (DataFrame, Set[(Long, Long)]) = {
    val planted = (0 until Planted).map { _ =>
      val orig = long(r.nextInt(long.size))
      nextDoc += 1
      (nextDoc - 1, gen.edit(r, base(orig), Vocab).mkString(" "), orig.toLong)
    }
    val fresh = (0 until BatchDocs - Planted).map { _ =>
      nextDoc += 1
      (nextDoc - 1, gen.document(r, MinWords, MaxWords, Vocab).mkString(" "), -1L)
    }
    val rows = r.shuffle(planted ++ fresh)
    (rows.map { case (id, t, _) => (id, t) }.toDF("doc_id", "text"),
      planted.map { case (id, _, o) => (id, o) }.toSet)
  }

  /** Dedup one batch (inside the caller's op); returns the verified pairs. */
  def dedup(docs: DataFrame): Set[(Long, Long)] =
    h.span("dedup.batch", "dedup") {
      IncrementalDedup.dedupBatch(docs, corpus, indexTable)
        .select("new_doc", "matched_doc").as[(Long, Long)].collect().toSet
    }

  /** Untimed: the planted pairs must be among the verified ones. */
  def checkBatch(docs: DataFrame, planted: Set[(Long, Long)], pairs: Set[(Long, Long)]): Unit = {
    val missing = planted -- pairs
    h.check("corpus.planted_pairs_found", missing.isEmpty,
      s"missed ${missing.size} of ${planted.size} planted pairs: ${missing.take(3)}")
    if (h.lastTraced) {
      // candidates as dedupBatch forms them: against the index, and
      // within the batch (older = smaller id)
      val bands = IncrementalDedup.bands(docs)
      val inBatch = bands.as("a").join(bands.as("b"), col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("b.doc_id").as("new_doc"), col("a.doc_id").as("matched_doc"))
      verified += pairs.size
      candidates += IncrementalDedup.candidatesVsIndex(spark, bands, docs.select("doc_id"),
        indexTable).unionByName(inBatch).distinct().count()
    }
  }

  /** One top-k probe of the seeded query set (inside the caller's op). */
  def probe(): Array[(Long, Long)] =
    h.span("similarity.probe", "similarity") {
      IvfPq.probe(emb, ann, Queries, K).select("query_id", "neighbor_id")
        .as[(Long, Long)].collect()
    }

  /** Untimed: recall@k against the brute-force answer, above a floor. */
  def checkProbe(rows: Array[(Long, Long)]): Unit = {
    val got = rows.groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val recall = truth.toSeq.map { case (q, want) =>
      (got.getOrElse(q, Set.empty[Long]) intersect want).size.toDouble / want.size
    }.sum / truth.size
    recalls += recall
    h.check("corpus.ann_recall_floor", recall >= RecallFloor,
      f"recall@$K $recall%.3f below $RecallFloor")
  }

  def layers(): Seq[Metric] = {
    val probes = h.ops.filter(o => o.traced && o.ok && o.kind == "report.ann").toSeq
    val rowsPerQuery =
      Harness.mean(probes.map(o => h.sparkOf(o.id).inputRecords.toDouble)) / Queries
    Seq(
      Metric("dedup.batch_ms", Trace.spanMs(h, "dedup.batch"), "ms"),
      Metric("dedup.verified_pairs", Harness.mean(verified.map(_.toDouble).toSeq), "count"),
      Metric("dedup.verify_yield",
        if (candidates.sum == 0) 0.0 else verified.sum.toDouble / candidates.sum, "ratio"),
      Metric("similarity.probe_ms", Trace.spanMs(h, "similarity.probe"), "ms"),
      Metric("similarity.input_rows_per_query", rowsPerQuery, "count"),
      Metric("similarity.index_build_ms", buildMs, "ms"),
      Metric("similarity.recall_at_10", Harness.mean(recalls.toSeq), "ratio"))
  }
}

object Corpus {
  /** Half of sf0.1's 5,000 documents, whose lengths (10-100 words) and
    * vocabulary (31 words) the generated ones share. */
  val BaseDocs = 2500
  val MinWords = 10
  val MaxWords = 100
  val Vocab = 31
  val PlantedMinWords = 90
  val BatchDocs = 40
  val Planted = 8
  val Vectors = 2000
  val Queries = 20
  val K = 10
  val RecallFloor = 0.2
  /** A small IVF-PQ shape: training cost is mostly Spark job overhead,
    * and the default shape's build alone took a fifth of a run. */
  val AnnCells = 8
  val AnnSubspaces = 8
  val AnnCodes = 16
  val AnnIters = 2
}
