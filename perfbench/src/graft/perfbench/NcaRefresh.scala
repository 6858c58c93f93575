package graft.perfbench

import scala.collection.mutable

import graft.sinks.TableStore
import graft.sources.BlobFetcher

/** The daily re-scrape of a resident store: R releases are loaded in
  * setup; each round gives one release a new revision (new
  * /CreationDate, one more page, new NCA numbers) and times the listing
  * scan through the converged, re-published tables.
  */
final class NcaRefresh extends Workload {
  val name = "nca_refresh"
  private var store: NcaStore = _
  private var releases: mutable.ArrayBuffer[NcaGen.Release] = _
  private var round = 0

  private def sizes(ctx: Ctx): (Int, Int, Int) =
    if (ctx.tiny) (2, 2, 5) else (4, 8, 45) // releases, pages, rows per page

  /** The resident load is a full ingest; it runs once. */
  override def setupReps(ctx: Ctx): Int = 1

  def setup(ctx: Ctx): Unit = {
    val (r, p, rows) = sizes(ctx)
    releases = mutable.ArrayBuffer.from((0 until r).map(i =>
      NcaGen.release(ctx.seed, NcaGen.FirstYear + i, revision = 0, p, rows)))
    store = new NcaStore(ctx, ctx.dir("etl"))
    store.load(releases.toSeq, "bench", traced = false)
  }

  /** Bumps the next release's revision; returns (old, new). */
  private def revise(ctx: Ctx): (NcaGen.Release, NcaGen.Release) = {
    val i = round % releases.size
    val old = releases(i)
    val next = NcaGen.release(ctx.seed, old.year, old.revision + 1, old.pages.size + 1,
      old.pages.head.size)
    releases(i) = next
    round += 1
    (old, next)
  }

  /** One unmeasured round, so the measured ones start warm. */
  override def warmup(ctx: Ctx): Unit = {
    revise(ctx)
    store.load(releases.toSeq, "bench", traced = false)
  }

  def measure(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val roundMs = mutable.ArrayBuffer.empty[Double]
    val stage = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val sinks = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val results = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    var microbatches = 0L
    var last = Map.empty[String, Double]
    val q0 = Nca.linesUnder(store.pipe.releaseQueue) + Nca.linesUnder(store.pipe.batchQueue)
    val minRounds = if (ctx.tiny) 1 else 3
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    while (roundMs.size < minRounds || System.nanoTime() < deadline) {
      val (_, next) = revise(ctx)
      // state before the round, for the traced replays and the sink ledger
      val before = if (ctx.traced) Some((
        TableStore.read(spark, store.pipe.releaseTable).get.localCheckpoint(true),
        BlobFetcher.listBlobs(spark, store.blobDir).collect().map(_.getString(0)).toSeq,
        NcaLayers.snapshot(ctx, store.workDir))) else None
      val t = System.nanoTime()
      val load = Trace.span("streaming.refresh")(store.load(releases.toSeq, "bench", ctx.traced))
      roundMs += (System.nanoTime() - t) / 1e6
      microbatches += load.microbatches
      load.stageS.foreach { case (k, v) => stage(k) += v }
      val report = Nca.departmentReport(load.joined)
      results ++= Nca.gates(ctx, store.pipe, releases.toSeq.flatMap(_.rows), report, "refresh")
        .map { case (g, ok, d) => (g, ok, s"round ${roundMs.size}: $d") }
      before.foreach { case (db, stored, files) =>
        NcaLayers.sinks(ctx, store.workDir, next.rows, files).foreach { case (k, v) => sinks(k) += v }
        last = NcaLayers.replay(ctx, releases.toSeq, Some(db), stored, Seq(next))
        graft.CheckpointBlocks.release(db)
      }
    }
    val rounds = roundMs.size
    val quarantined = store.quarantined
    val gates = results.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, rs) =>
      rs.find(!_._2).getOrElse(rs.last)
    } :+ ("refresh_no_quarantine", quarantined == ctx.expect("refresh_no_quarantine", 0L)(_ + 1),
      s"$quarantined quarantined messages")
    val tail = Stats.tail(roundMs.toSeq)
    val perRound = (stage.toMap ++ sinks.toMap).map { case (k, v) => k -> v / rounds }
    val layers = if (!ctx.traced) Map.empty[String, Double] else
      last ++ perRound ++ Map(
        "sources.fetch_calls" -> Counters.get("sources.fetch_calls") / rounds,
        "sources.fetch_mb" -> Counters.get("sources.fetch_bytes") / 1e6 / rounds,
        "streaming.microbatches" -> microbatches.toDouble / rounds,
        "streaming.messages" -> (Nca.linesUnder(store.pipe.releaseQueue) +
          Nca.linesUnder(store.pipe.batchQueue) - q0).toDouble / rounds,
        "streaming.quarantined" -> quarantined.toDouble,
        "op_ms_tail" -> tail.fold(0.0)(_._2), "op_tail_pct" -> tail.fold(0.0)(_._1.toDouble),
        "op_samples" -> rounds.toDouble)
    Nca.dropPublished(spark, "bench")
    Outcome(attempted = rounds, failed = quarantined,
      e2e = Map("items_per_s" -> rounds / (roundMs.sum / 1e3), "op_ms_p50" -> Stats.median(roundMs.toSeq)),
      named = Seq(("refresh_s_p50", Stats.median(roundMs.toSeq) / 1e3,
          s"s per round ($rounds rounds, ${releases.size} resident releases, " +
            s"${releases.map(_.rows.size).sum} NCAs)")) ++
        perRound.toSeq.filter(_._1.startsWith("streaming.")).sorted.map { case (k, v) => (k, v, "s per round") },
      gates = gates, layers = layers, opsMs = roundMs.toSeq)
  }
}
