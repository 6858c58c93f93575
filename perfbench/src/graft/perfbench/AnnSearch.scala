package graft.perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.CheckpointBlocks
import graft.operators.IvfPq

/** Serving: an IVF-PQ index over a seeded Gaussian mixture, queried in
  * closed-loop batches of held-out queries (shortlist, then exact
  * re-rank to k = 10).
  */
final class AnnSearch extends Workload {
  val name = "ann_search"
  val K = 10

  private final case class Size(n: Int, dim: Int, batch: Int,
                                nlist: Int, m: Int, ks: Int, iters: Int,
                                shortlist: Int, nprobe: Int)
  private def size(ctx: Ctx): Size =
    if (ctx.tiny) Size(600, 16, 4, 4, 4, 8, 1, 30, 2)
    else Size(4000, 32, 64, 16, 8, 16, 1, 50, 4)

  private var corpus: DataFrame = _
  private var vectors: Array[Array[Double]] = _
  private var queries: Array[Array[Double]] = _
  private var index: IvfPq.Index = _
  private val buildS = mutable.ArrayBuffer.empty[Double]

  /** Mixture of tight micro clusters (~25 points each) whose centres are
    * drawn from one broad Gaussian, so the coarse cells split the corpus
    * about evenly and a batch scans about the same number of candidates
    * whatever the seed. A query is a fresh draw from one micro cluster,
    * so its true neighbours are that cluster's members.
    */
  private def mixture(rnd: Random, s: Size): (Array[Array[Double]], Array[Array[Double]]) = {
    val micros = Array.fill(s.n / 25, s.dim)(rnd.nextGaussian() * 4.0)
    def draw(): Array[Double] = micros(rnd.nextInt(micros.length)).map(_ + rnd.nextGaussian() * 0.15)
    (Array.fill(s.n)(draw()), Array.fill(s.batch * 16)(draw()))
  }

  def setup(ctx: Ctx): Unit = {
    val s = size(ctx)
    val spark = ctx.spark
    import spark.implicits._
    if (index != null) {
      Seq(index.coarse, index.cells, index.codes).foreach(CheckpointBlocks.release)
      CheckpointBlocks.release(corpus)
    }
    val rnd = new Random(ctx.seed)
    val (v, q) = mixture(rnd, s)
    vectors = v; queries = q
    corpus = vectors.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq
      .toDF("id", "vec").repartition(spark.sparkContext.defaultParallelism).localCheckpoint(true)
    val t = System.nanoTime()
    index = IvfPq.build(corpus, "id", "vec", s.nlist, s.m, s.ks, s.iters)
    buildS += (System.nanoTime() - t) / 1e9
  }

  /** Exact squared-L2 top-k ids, ties broken by id. */
  private def exactTopK(q: Array[Double]): Seq[Long] = {
    val d = vectors.map { v =>
      var acc = 0.0; var j = 0
      while (j < v.length) { val e = v(j) - q(j); acc += e * e; j += 1 }
      acc
    }
    val top = mutable.PriorityQueue.empty[(Double, Long)] // max-heap of the best k
    d.indices.foreach { i =>
      if (top.size < K) top.enqueue((d(i), i.toLong))
      else if (Ordering[(Double, Long)].lt((d(i), i.toLong), top.head)) { top.dequeue(); top.enqueue((d(i), i.toLong)) }
    }
    top.toSeq.sorted.map(_._2)
  }

  /** One closed-loop batch: shortlist, then exact re-rank; returns
    * (qid, nid, rank) rows and the two phase times in seconds.
    */
  private def batch(ctx: Ctx, first: Int): (Array[(Long, Long, Int)], Double, Double, Long) = {
    val s = size(ctx)
    val spark = ctx.spark
    import spark.implicits._
    val qdf = queries.slice(first, first + s.batch).zipWithIndex
      .map { case (v, i) => ((first + i).toLong, v) }.toSeq.toDF("id", "vec")
    val t = System.nanoTime()
    val shortlist = Trace.span("operators.ivfpq.search", "search")(
      IvfPq.search(qdf, index, "id", "vec", s.m, s.dim / s.m, s.shortlist, s.nprobe)
        .localCheckpoint(true))
    val t1 = System.nanoTime()
    val top = Trace.span("operators.ivfpq.rerank", "rerank")(
      IvfPq.rerank(shortlist, qdf, corpus, "id", "vec", K)
        .select("qid", "nid", "rank").as[(Long, Long, Int)].collect())
    val t2 = System.nanoTime()
    val candidates = if (ctx.traced) shortlist.count() else 0L
    CheckpointBlocks.release(shortlist)
    (top, (t1 - t) / 1e9, (t2 - t1) / 1e9, candidates)
  }

  /** Unmeasured batches so the measured loop starts warm. */
  override def warmup(ctx: Ctx): Unit =
    (0 until (if (ctx.tiny) 1 else 4)).foreach(b => batch(ctx, b * size(ctx).batch))

  def measure(ctx: Ctx): Outcome = {
    val s = size(ctx)
    val batchMs = mutable.ArrayBuffer.empty[Double]
    val searchS = mutable.ArrayBuffer.empty[Double]
    val rerankS = mutable.ArrayBuffer.empty[Double]
    var candidates = 0L
    val answers = mutable.ArrayBuffer.empty[(Int, Map[Long, Seq[Long]])] // (first query, qid -> ids)
    val nBatches = queries.length / s.batch
    val minBatches = if (ctx.tiny) 3 else 8
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    var b = 0
    while (b < minBatches || System.nanoTime() < deadline) {
      val first = (b % nBatches) * s.batch
      val (top, sS, rS, c) = batch(ctx, first)
      batchMs += (sS + rS) * 1e3
      searchS += sS; rerankS += rS; candidates += c
      if (b < nBatches)
        answers += ((first, top.groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._3).map(_._2).toSeq }))
      b += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val nQueries = b.toLong * s.batch

    // gates: recall against exact L2, and k results for every query
    val judged = answers.flatMap { case (first, got) =>
      (first until first + s.batch).map(q => (q, got.getOrElse(q.toLong, Nil)))
    }
    val short = judged.count(_._2.size != K)
    val recall = judged.map { case (q, ids) =>
      exactTopK(queries(q)).toSet.intersect(ids.toSet).size.toDouble / K
    }.sum / judged.size
    val floor = ctx.expect("search_recall", if (ctx.tiny) 0.8 else 0.9)(_ => 1.01)
    val wantK = ctx.expect("search_k_results", 0)(_ + 1)
    val gates = Seq(
      ("search_recall", recall >= floor, f"recall_at_10=$recall%.4f floor=$floor%.2f over ${judged.size} queries"),
      ("search_k_results", short == wantK, s"$short of ${judged.size} queries returned fewer than $K results"))

    val tail = Stats.tail(batchMs.toSeq)
    val layers = Map(
      "recall_at_10" -> recall,
      "ivfpq.build_s" -> Stats.median(buildS.toSeq),
      "ivfpq.search_s" -> searchS.sum, "ivfpq.rerank_s" -> rerankS.sum,
      "ivfpq.candidates_per_query" -> candidates.toDouble / nQueries,
      "op_ms_tail" -> tail.fold(0.0)(_._2), "op_tail_pct" -> tail.fold(0.0)(_._1.toDouble),
      "op_samples" -> batchMs.size.toDouble)
    Outcome(attempted = nQueries, failed = short,
      e2e = Map("items_per_s" -> nQueries / wallS, "op_ms_p50" -> Stats.median(batchMs.toSeq)),
      named = Seq(("search_qps", nQueries / wallS, "queries/s"),
        ("search_ms_p50", Stats.median(batchMs.toSeq), s"ms per batch of ${s.batch}"),
        ("search_ms_tail", tail.fold(0.0)(_._2),
          tail.fold("ms (fewer than 11 batches)")(t => s"ms (p${t._1} of ${batchMs.size} batches)")),
        ("recall_at_10", recall, "ratio"),
        ("ivfpq.build_s", Stats.median(buildS.toSeq), s"s (median of ${buildS.size} builds, ${s.n} x ${s.dim})")),
      gates = gates, layers = layers, opsMs = batchMs.toSeq)
  }
}
