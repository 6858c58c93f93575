package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.io.Source
import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{ChangeDetector, NcaCleaner}
import graft.sources.{BlobFetcher, PdfTableSource, RealPdfCodec, RealPdfMeta}
import graft.streaming.EtlPipeline

/** Shared NCA-pipeline plumbing: the in-memory listing + document
  * transport and the gates on the loaded tables.
  */
object Nca {
  val BatchSize = 10

  def transport(releases: Seq[NcaGen.Release]): BlobFetcher.Fetch = {
    val docs: Map[String, Array[Byte]] =
      releases.map(r => r.url -> r.bytes).toMap +
        (NcaGen.ListingUrl -> NcaGen.listing(releases).getBytes("UTF-8"))
    url => docs.get(url).map(b => (200, b)).getOrElse((404, Array.emptyByteArray))
  }

  def codec(traced: Boolean): PdfTableSource.TableExtractor = {
    val real = RealPdfCodec(PdfTableSource.StubPdfFormat)
    if (traced) CountingExtractor(real) else real
  }

  /** Non-empty lines of the data files under `dir` (0 if it is absent). */
  def linesUnder(dir: String): Long = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(dir)).filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(f => Using.resource(Source.fromFile(f, "UTF-8"))(_.getLines().count(_.nonEmpty).toLong)).sum
  }

  /** Gates on the record and allocation tables and one department report
    * against the planted rows. `tag` prefixes the gate names.
    */
  def gates(ctx: Ctx, pipe: EtlPipeline, rows: Seq[NcaGen.Row],
            report: Seq[(String, Long, Long)], tag: String): Seq[(String, Boolean, String)] = {
    val recs = pipe.records.get
    val allocs = pipe.allocations.get
    val nRec = recs.count(); val nAlloc = allocs.count()
    val cents = allocs.agg(sum(round(col("amount") * 100).cast("long"))).head().getLong(0)
    val wantRows = ctx.expect(s"${tag}_counts", rows.size.toLong)(_ + 1)
    val wantCents = ctx.expect(s"${tag}_amount", rows.map(_.cents).sum)(_ + 1)
    val byDept = rows.groupBy(_.dept).map { case (d, rs) => (d, rs.size.toLong, rs.map(_.cents).sum) }
      .toSeq.sorted
    val wantReport = ctx.expect(s"${tag}_report", byDept)(r => r.map { case (d, n, c) => (d, n, c + 1) })
    val spark = recs.sparkSession
    import spark.implicits._
    val stale = recs.join(rows.map(_.nca).toDF("nca_number"), Seq("nca_number"), "left_anti").count()
    Seq(
      (s"${tag}_counts", nRec == wantRows && nAlloc == wantRows,
        s"records=$nRec allocations=$nAlloc expected=$wantRows"),
      (s"${tag}_amount", cents == wantCents, s"sum(amount) cents=$cents expected=$wantCents"),
      (s"${tag}_report", report == wantReport,
        s"${report.size} departments, ${report.map(_._2).sum} allocations"),
      (s"${tag}_no_stale_rows", stale == ctx.expect(s"${tag}_no_stale_rows", 0L)(_ + 1),
        s"$stale loaded records not in the current releases"))
  }

  final case class Load(joined: DataFrame, microbatches: Long, stageS: Map[String, Double])

  def dropPublished(spark: SparkSession, prefix: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${prefix}_record_nca")
    spark.sql(s"DROP TABLE IF EXISTS ${prefix}_allocation_nca")
  }

  /** The flagship question over the co-located publish join. */
  def departmentReport(joined: DataFrame): Seq[(String, Long, Long)] =
    joined.groupBy(col("department"))
      .agg(count(lit(1)).as("n"), sum(col("amount")).as("total"))
      .collect().map(r => (r.getString(0), r.getLong(1), math.round(r.getDouble(2) * 100)))
      .toSeq.sorted
}

/** One NCA store (queues, tables, blobs) under `workDir`. */
final class NcaStore(ctx: Ctx, val workDir: String) {
  val pipe = new EtlPipeline(ctx.spark, workDir, Nca.BatchSize)
  val blobDir = s"$workDir/blobs"

  /** Listing scan -> orchestrate -> work -> publish of the listing that
    * serves `releases`; published tables are `<prefix>_*`.
    */
  def load(releases: Seq[NcaGen.Release], prefix: String, traced: Boolean): Nca.Load = {
    val ex = Nca.codec(traced)
    val fetch = if (traced) CountingFetch(Nca.transport(releases)) else Nca.transport(releases)
    val stage = mutable.LinkedHashMap.empty[String, Double]
    def timed[T](key: String, call: String)(f: => T): T = {
      val t = System.nanoTime()
      try Trace.span(key.stripSuffix("_s"), call)(f)
      finally stage(key) = (System.nanoTime() - t) / 1e9
    }
    timed("streaming.scrape_s", "scrape") {
      pipe.scrapeFromUrl(NcaGen.ListingUrl, NcaGen.Host, NcaGen.FirstYear - 1,
        NcaGen.NowYear, fetch, blobDir, ex)
    }
    val mb = timed("streaming.orchestrate_s", "orchestrate")(pipe.orchestrate()) +
      timed("streaming.work_s", "work")(pipe.work(blobDir, ex))
    val joined = timed("sinks.publish_s", "publish")(pipe.publishCoLocated(prefix)).get
    Nca.Load(joined, mb, stage.toMap)
  }

  def quarantined: Long = Nca.linesUnder(pipe.quarantine)
}

/** Cold load of R one-per-year releases: listing scan through the
  * co-bucketed publish, then the per-department report on repeat.
  */
final class NcaIngest extends Workload {
  val name = "nca_ingest"
  private var releases: Seq[NcaGen.Release] = Nil

  private def sizes(ctx: Ctx): (Int, Int, Int) =
    if (ctx.tiny) (2, 3, 5) else (4, 15, 45) // releases, pages, rows per page

  def setup(ctx: Ctx): Unit = {
    val (r, p, rows) = sizes(ctx)
    releases = (0 until r).map(i =>
      NcaGen.release(ctx.seed, NcaGen.FirstYear + i, revision = 0, p, rows))
    releases.foreach(_.bytes)
  }

  /** One cold load of a run's store: its releases through the
    * co-bucketed publish, with untraced plumbing so it warms the JVM
    * without adding spans or counts.
    */
  override def warmup(ctx: Ctx): Unit = {
    val rel = Seq(NcaGen.release(ctx.seed + 1, NcaGen.FirstYear, revision = 0,
      if (ctx.tiny) 2 else 3, if (ctx.tiny) 5 else 10))
    val load = new NcaStore(ctx, ctx.dir("warmup")).load(rel, "warmup", traced = false)
    (1 to 5).foreach(_ => Nca.departmentReport(load.joined))
    Nca.dropPublished(ctx.spark, "warmup")
  }

  def measure(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val t0 = System.nanoTime()
    val store = new NcaStore(ctx, ctx.dir("etl"))
    val load = store.load(releases, "bench", ctx.traced)
    val (pipe, joined, mb, stage) = (store.pipe, load.joined, load.microbatches, load.stageS)
    val ingestS = (System.nanoTime() - t0) / 1e9

    val reportMs = mutable.ArrayBuffer.empty[Double]
    var report = Seq.empty[(String, Long, Long)]
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    val minReports = if (ctx.tiny) 3 else 15
    while (reportMs.size < minReports || System.nanoTime() < deadline) {
      val t = System.nanoTime()
      report = Trace.span("operators.report", "report")(Nca.departmentReport(joined))
      reportMs += (System.nanoTime() - t) / 1e6
    }

    val pages = releases.map(_.pages.size).sum
    val rows = releases.flatMap(_.rows)
    val quarantined = store.quarantined
    val batches = releases.map(r => (r.pages.size + Nca.BatchSize - 1) / Nca.BatchSize).sum
    val gates = Nca.gates(ctx, pipe, rows, report, "ingest") :+
      ("ingest_no_quarantine", quarantined == ctx.expect("ingest_no_quarantine", 0L)(_ + 1),
        s"$quarantined quarantined messages")
    val tail = Stats.tail(reportMs.toSeq)
    val layers = if (!ctx.traced) Map.empty[String, Double] else {
      stage ++ NcaLayers.replay(ctx, releases) ++ Map(
        "streaming.microbatches" -> mb.toDouble,
        "streaming.messages" -> (Nca.linesUnder(pipe.releaseQueue) + Nca.linesUnder(pipe.batchQueue)).toDouble,
        "streaming.quarantined" -> quarantined.toDouble,
        "op_ms_tail" -> tail.fold(0.0)(_._2), "op_tail_pct" -> tail.fold(0.0)(_._1.toDouble),
        "op_samples" -> reportMs.size.toDouble) ++
        NcaLayers.sinks(ctx, store.workDir, rows)
    }
    Nca.dropPublished(spark, "bench")
    Outcome(
      attempted = batches + reportMs.size, failed = quarantined,
      e2e = Map("items_per_s" -> pages / ingestS, "op_ms_p50" -> Stats.median(reportMs.toSeq)),
      named = Seq(("ingest_pages_per_s", pages / ingestS, "pages/s"),
        ("ingest_s", ingestS, s"s ($pages pages, ${rows.size} NCAs, ${releases.size} releases)"),
        ("report_ms_p50", Stats.median(reportMs.toSeq), "ms"),
        ("report_ms_tail", tail.fold(0.0)(_._2),
          tail.fold(s"ms (fewer than 11 samples)")(t => s"ms (p${t._1} of ${reportMs.size} reports)"))) ++
        stage.toSeq.map { case (k, v) => (k, v, "s") },
      gates = gates, layers = layers, opsMs = reportMs.toSeq)
  }
}

/** Traced-run extras for the NCA workloads: replays of the layers that
  * run inside composite calls, and the sink write ledger.
  */
object NcaLayers {
  /** Re-runs ChangeDetector.classify on the candidates the scrape saw
    * (against the release table as it stood before the scrape, `dbBefore`)
    * and NcaCleaner.clean on the grid the work stage extracted.
    */
  def replay(ctx: Ctx, releases: Seq[NcaGen.Release],
             dbBefore: Option[DataFrame] = None, storedBefore: Seq[String] = Nil,
             changed: Seq[NcaGen.Release] = Nil): Map[String, Double] = {
    val spark = ctx.spark
    import spark.implicits._
    val cands = releases.map { r =>
      val m = RealPdfMeta.metadata(r.filename, r.bytes).get
      (r.id, s"NCA ${r.year}", r.filename, r.url, r.year, m.page_count, m.created_at, m.modified_at)
    }.toDF("id", "title", "filename", "url", "year", "page_count",
      "file_meta_created_at", "file_meta_modified_at")
    val db = dbBefore.getOrElse(cands.limit(0))
    val t0 = System.nanoTime()
    val proceed = Trace.span("operators.cdc.replay")(
      ChangeDetector.newOrUpdated(cands, db, storedBefore.toDF("filename")).count())
    val classifyS = (System.nanoTime() - t0) / 1e9

    val work = if (changed.isEmpty) releases else changed
    val plain = RealPdfCodec(PdfTableSource.StubPdfFormat)
    val tasks = work.flatMap(r => (1 to r.pages.size by Nca.BatchSize).map { s =>
      (s"${r.id}\u0001${(s - 1) / Nca.BatchSize + 1}", r.bytes, s,
        math.min(s + Nca.BatchSize - 1, r.pages.size))
    })
    val grid = spark.createDataset(tasks).repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions(_.flatMap { case (doc, bytes, s, e) =>
        plain.extract(doc, bytes, s, e).map(g => (g.doc, g.ord, g.cells))
      }).toDF("doc", "ord", "cells").localCheckpoint(true)
    val rowsIn = grid.count()
    val t1 = System.nanoTime()
    val (recs, allocs) = Trace.span("operators.cleaner.replay") {
      val c = NcaCleaner.clean(grid, element_at(split(col("doc"), "\u0001"), 1))
      (c.records.count(), c.allocations.count())
    }
    val cleanS = (System.nanoTime() - t1) / 1e9
    Map("cdc.classify_s" -> classifyS, "cdc.proceed_frac" -> proceed.toDouble / releases.size,
      "cleaner.clean_s" -> cleanS, "cleaner.rows_in" -> rowsIn.toDouble,
      "cleaner.records_out" -> recs.toDouble, "cleaner.allocations_out" -> allocs.toDouble)
  }

  final case class FileState(size: Long, mtime: Long)

  /** Data files of the pipeline tables and the published catalog tables. */
  def snapshot(ctx: Ctx, workDir: String): Map[String, FileState] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val warehouse = new File(new java.net.URI(ctx.spark.conf.get("spark.sql.warehouse.dir")))
    Seq(new File(workDir, "tables"), warehouse).flatMap(walk)
      .filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(f => f.getPath -> FileState(f.length(), f.lastModified())).toMap
  }

  /** Sink ledger of the files that differ from `before`. */
  def sinks(ctx: Ctx, workDir: String, changedRows: Seq[NcaGen.Row],
            before: Map[String, FileState] = Map.empty): Map[String, Double] = {
    val written = snapshot(ctx, workDir).filter { case (p, s) => !before.get(p).contains(s) }
    val bytes = written.values.map(_.size).sum
    val buckets = written.keys.map(p => new File(p).getParentFile)
      .filter(_.getName.matches("b\\d+")).toSet.size
    val rowMb = changedRows.map(_.loadedBytes.toLong).sum / 1e6
    Map("sinks.mb_written" -> bytes / 1e6, "sinks.files_written" -> written.size.toDouble,
      "sinks.buckets_rewritten" -> buckets.toDouble,
      "sinks.write_amp" -> (if (rowMb > 0) bytes / 1e6 / rowMb else 0.0))
  }
}
