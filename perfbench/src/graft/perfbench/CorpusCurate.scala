package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.CorpusPipeline
import graft.operators.{Components, Contamination, Dedup, PackingQueries, ParagraphOps}
import graft.sources.WarcCodec

/** Seeded WARC shards with planted exact duplicates, near-duplicates,
  * PII and eval-contaminated documents, plus the held-out eval split.
  * A document's role is encoded in its URL path.
  */
object CorpusGen {
  private val Stop = Seq("the", "a", "of", "and", "is", "to", "in", "it", "that", "on")
  private val Syllables = Seq("ka", "lo", "mi", "ne", "ru", "ta", "vo", "si", "de", "po",
    "an", "el", "or", "um", "ix", "ba", "ge", "fu", "ho", "ja")

  /** Open vocabulary: 2-3 syllable pseudo-words (8,000 of them) so random
    * documents share almost no 5-token window or 3-shingle by chance.
    */
  private val Vocab: IndexedSeq[String] =
    (for (a <- Syllables; b <- Syllables; c <- Syllables) yield a + b + c).toIndexedSeq

  def prose(rnd: Random, n: Int): Seq[String] =
    Seq.fill(n)(if (rnd.nextInt(3) == 0) Stop(rnd.nextInt(Stop.size)) else Vocab(rnd.nextInt(Vocab.size)))

  final case class Doc(url: String, text: String) {
    def role: String = url.split("/")(3)
  }
  final case class Shard(docs: Seq[Doc], pii: Seq[String])

  /** One shard: `n` documents, of which about 4% are exact copies, 4%
    * near copies (one token changed), 4% carry PII and 4% carry an eval
    * passage. Group ids tie a copy to its original.
    */
  def shard(rnd: Random, shardNo: Int, n: Int, eval: IndexedSeq[String]): Shard = {
    val docs = mutable.ArrayBuffer.empty[Doc]
    val pii = mutable.ArrayBuffer.empty[String]
    var i = 0; var contam = 0
    while (docs.size < n) {
      val base = prose(rnd, 70 + rnd.nextInt(60))
      val url = s"http://corpus.bench/%s/$shardNo-$i"
      rnd.nextInt(25) match {
        case 0 => // original + verbatim copy under another URL
          docs += Doc(url.format(s"exact-g$shardNo-$i"), base.mkString(" "))
          docs += Doc(url.format(s"exact-g$shardNo-$i") + "-copy", base.mkString(" "))
        case 1 => // original + copy with its last token replaced
          docs += Doc(url.format(s"near-g$shardNo-$i"), base.mkString(" "))
          docs += Doc(url.format(s"near-g$shardNo-$i") + "-copy",
            (base.init :+ "zzqx").mkString(" "))
        case 2 =>
          val secret = rnd.nextInt(3) match {
            case 0 => s"user$shardNo$i@mail.bench.org"
            case 1 => f"${100 + rnd.nextInt(900)}%d-${rnd.nextInt(10000)}%04d-${rnd.nextInt(10000)}%04d"
            case _ => s"10.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}"
          }
          pii += secret
          val (a, b) = base.splitAt(base.size / 2)
          docs += Doc(url.format("pii"), (a ++ Seq("reach", "me", "at", secret) ++ b).mkString(" "))
        case 3 =>
          // a distinct eval doc per contaminated doc: two docs sharing one
          // passage would lose it to paragraph dedup before decontamination
          val passage = eval(contam % eval.size).split(" ").take(40)
          contam += 1
          docs += Doc(url.format("contam"), (base.take(20) ++ passage).mkString(" "))
        case _ =>
          docs += Doc(url.format("clean"), base.mkString(" "))
      }
      i += 1
    }
    Shard(docs.toSeq, pii.toSeq)
  }

  def evalSplit(rnd: Random, n: Int): IndexedSeq[String] =
    IndexedSeq.fill(n)(prose(rnd, 60).mkString(" "))

  def warc(docs: Seq[Doc]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    docs.foreach { d =>
      val payload = d.text.getBytes("UTF-8")
      out.write((s"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: ${d.url}\r\n" +
        s"WARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: ${payload.length}\r\n\r\n")
        .getBytes("UTF-8"))
      out.write(payload)
      out.write("\r\n\r\n".getBytes("UTF-8"))
    }
    out.toByteArray
  }
}

/** Curation: CorpusPipeline.run over a sequence of seeded WARC shards,
  * one shard per operation, against a held-out eval split.
  */
final class CorpusCurate extends Workload {
  val name = "corpus_curate"
  private var shards: IndexedSeq[(String, CorpusGen.Shard)] = IndexedSeq.empty
  private var heldOut: DataFrame = _

  private def sizes(ctx: Ctx): (Int, Int) = if (ctx.tiny) (2, 60) else (16, 400) // shards, docs per shard

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val (nShards, perShard) = sizes(ctx)
    val rnd = new Random(ctx.seed)
    val eval = CorpusGen.evalSplit(rnd, 64)
    if (heldOut != null) graft.CheckpointBlocks.release(heldOut)
    heldOut = eval.zipWithIndex.map { case (t, i) => (s"eval-$i", t) }.toDF("doc_id", "text")
      .localCheckpoint(true)
    shards = (0 until nShards).map { s =>
      val dir = Paths.get(ctx.dir("warc"), f"shard-$s%03d")
      Files.createDirectories(dir)
      val shard = CorpusGen.shard(rnd, s, perShard, eval)
      Files.write(dir.resolve("part-0.warc"), CorpusGen.warc(shard.docs))
      (dir.toString, shard)
    }
  }

  def measure(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val opMs = mutable.ArrayBuffer.empty[Double]
    val failures = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    val ledger = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var docs = 0L; var quarantined = 0L
    val minOps = if (ctx.tiny) 2 else 3
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    var op = 0
    while (op < minOps || System.nanoTime() < deadline) {
      val (dir, shard) = shards(op % shards.size)
      val t = System.nanoTime()
      val r = Trace.span("operators.curate", "curate")(CorpusPipeline.run(spark, dir, heldOut))
      val kept = r.curated.select("url", "text").as[(String, String)].collect()
      opMs += (System.nanoTime() - t) / 1e6
      docs += r.report.ingested; quarantined += r.report.quarantinedBlobs
      if (op < shards.size) failures ++= shardGates(ctx, shard, kept, s"shard $op")
      val rep = r.report
      Seq("url" -> rep.keptUrl, "language" -> rep.keptLanguage, "quality" -> rep.keptQuality,
        "pii" -> rep.keptQuality, "exact_dedup" -> rep.afterExactDedup,
        "near_dedup" -> rep.afterNearDedup, "para_dedup" -> rep.afterParaDedup,
        "decontam" -> rep.afterDecontamination, "pack" -> rep.packs)
        .foreach { case (k, v) => ledger(s"curate.${k}_kept") += v }
      Seq(r.curated, r.packed).foreach(graft.CheckpointBlocks.release)
      op += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    // one line per gate: the first failing shard's detail, else the first shard's
    val gates = failures.groupBy(_._1).toSeq.sortBy(_._1).map { case (g, rs) =>
      rs.find(!_._2).getOrElse(rs.head)
    }
    val tail = Stats.tail(opMs.toSeq)
    val layers = if (!ctx.traced) Map.empty[String, Double] else
      ledger.toMap ++ CurateLayers.replay(ctx, shards.head, heldOut) ++ Map(
        "op_ms_tail" -> tail.fold(0.0)(_._2), "op_tail_pct" -> tail.fold(0.0)(_._1.toDouble),
        "op_samples" -> opMs.size.toDouble)
    Outcome(attempted = docs, failed = quarantined,
      e2e = Map("items_per_s" -> docs / wallS, "op_ms_p50" -> Stats.median(opMs.toSeq)),
      named = Seq(("curate_docs_per_s", docs / wallS, "docs/s"),
        ("curate_ms_p50", Stats.median(opMs.toSeq), s"ms per shard of ${sizes(ctx)._2} docs"),
        ("curate_ms_tail", tail.fold(0.0)(_._2),
          tail.fold(s"ms (fewer than 11 shards; ${opMs.size} run)")(t => s"ms (p${t._1} of ${opMs.size} shards)"))),
      gates = gates :+ ("curate_no_quarantine",
        quarantined == ctx.expect("curate_no_quarantine", 0L)(_ + 1), s"$quarantined quarantined blobs"),
      layers = layers, opsMs = opMs.toSeq)
  }

  private def shardGates(ctx: Ctx, shard: CorpusGen.Shard, kept: Array[(String, String)],
                    where: String): Seq[(String, Boolean, String)] = {
    val urls = kept.map(_._1).toSet
    val dupGroups = shard.docs.filter(d => d.role.startsWith("exact-g") || d.role.startsWith("near-g"))
      .groupBy(_.role)
    val overKept = dupGroups.count { case (_, ds) => ds.count(d => urls.contains(d.url)) > 1 }
    val contam = shard.docs.filter(_.role == "contam")
    val leaked = contam.count(d => urls.contains(d.url))
    val piiLeft = shard.pii.count(p => kept.exists(_._2.contains(p)))
    val clean = shard.docs.filter(_.role == "clean")
    val cleanKept = clean.count(d => urls.contains(d.url)).toDouble / math.max(clean.size, 1)
    Seq(
      ("curate_duplicates_dropped", overKept == ctx.expect("curate_duplicates_dropped", 0)(_ + 1),
        s"$where: $overKept of ${dupGroups.size} duplicate groups kept more than one member"),
      ("curate_contamination_dropped", leaked == ctx.expect("curate_contamination_dropped", 0)(_ + 1),
        s"$where: $leaked of ${contam.size} contaminated docs kept"),
      ("curate_pii_removed", piiLeft == ctx.expect("curate_pii_removed", 0)(_ + 1),
        s"$where: $piiLeft of ${shard.pii.size} planted PII strings survive"),
      ("curate_clean_kept", cleanKept >= ctx.expect("curate_clean_kept", 0.95)(_ => 1.01),
        f"$where: $cleanKept%.3f of ${clean.size} clean docs kept (floor 0.95)"))
  }
}

/** Traced-run replay of the curation chain on one shard: each stage's
  * function on the previous stage's materialized output, timed alone.
  */
object CurateLayers {
  def replay(ctx: Ctx, shard: (String, CorpusGen.Shard), heldOut: DataFrame): Map[String, Double] = {
    val spark = ctx.spark
    val cfg = CorpusPipeline.Config()
    val out = mutable.LinkedHashMap.empty[String, Double]
    def stage(name: String, metric: String)(f: => DataFrame): DataFrame = {
      val t = System.nanoTime()
      val df = Trace.span(s"$name.replay")(f.localCheckpoint(true))
      out(metric) = (System.nanoTime() - t) / 1e9
      df
    }
    val raw = stage("sources.warc", "sources.warc_read_s")(
      WarcCodec.rawDocuments(spark, shard._1).toDF())
    val docs = WarcCodec.documentsFromRaw(raw).localCheckpoint(true)
    val url = stage("operators.curate.url", "curate.url_s")(CorpusPipeline.urlFilter(docs, cfg))
    val lang = stage("operators.curate.language", "curate.language_s")(CorpusPipeline.languageFilter(url, cfg))
    val qual = stage("operators.curate.quality", "curate.quality_s")(CorpusPipeline.qualityFilter(lang, cfg))
    val pii = stage("operators.curate.pii", "curate.pii_s")(CorpusPipeline.redactPii(qual))
    val exact = stage("operators.curate.exact_dedup", "curate.exact_dedup_s")(
      Dedup.exactKeepFirst(pii, "doc_id", "text"))
    var nPairs = 0L; var truePairs = 0L
    val near = stage("operators.curate.near_dedup", "curate.near_dedup_s") {
      val pairs = Dedup.minhashLshPairs(exact, "doc_id", "text", cfg.shingleN, cfg.numPerm,
        cfg.bands, cfg.nearDupThreshold).select(col("a"), col("b")).localCheckpoint(true)
      val roleOf = exact.select(col("doc_id"),
        element_at(split(col("url"), "/"), 4).as("g"))
      val judged = pairs.join(roleOf.toDF("a", "ga"), "a").join(roleOf.toDF("b", "gb"), "b")
      nPairs = pairs.count()
      truePairs = judged.filter(col("ga") === col("gb") && col("ga").startsWith("near-g")).count()
      Components.keepCanonical(exact, "doc_id", pairs)
    }
    val para = stage("operators.curate.para_dedup", "curate.para_dedup_s")(
      near.select(col("doc_id"), col("url"), col("date"))
        .join(ParagraphOps.paragraphDedup(near, "doc_id", "text", cfg.paraWidth, cfg.paraMaxDf)
          .filter(col("n_kept") > 0).select(col("doc_id"), col("clean_text").as("text")), Seq("doc_id")))
    val curated = stage("operators.curate.decontam", "curate.decontam_s") {
      val contaminated = Contamination.decontaminationBloomFrac(
          Contamination.tokenWindows(para, "doc_id", "text", cfg.contamWindow),
          Contamination.tokenWindows(heldOut, "doc_id", "text", cfg.contamWindow))
        .filter(col("bloom_frac") > cfg.maxContamFrac).select(col("id").as("doc_id"))
      para.join(contaminated, Seq("doc_id"), "left_anti")
    }
    stage("operators.curate.pack", "curate.pack_s")(
      PackingQueries.packSequencesKeyed(curated, "doc_id", "text", cfg.packBudget, cfg.packShards))
    out.toMap ++ Map("dedup.lsh_candidates" -> nPairs.toDouble,
      "dedup.lsh_precision" -> (if (nPairs > 0) truePairs.toDouble / nPairs else 0.0))
  }
}
