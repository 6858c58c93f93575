package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder

import scala.jdk.CollectionConverters._

import graft.sources.{BlobFetcher, PdfTableSource}

/** JVM-wide counters bumped by the decorators below. In local mode the
  * executors run in this JVM, so executor-side increments land here too.
  */
object Counters {
  private val m = new ConcurrentHashMap[String, DoubleAdder]()
  def add(name: String, v: Double): Unit =
    if (Trace.enabled) m.computeIfAbsent(name, _ => new DoubleAdder).add(v)
  def get(name: String): Double = Option(m.get(name)).map(_.sum()).getOrElse(0.0)
  def reset(): Unit = m.clear()
  def all: Map[String, Double] = m.asScala.map { case (k, v) => k -> v.sum() }.toMap
}

/** Counting decorator of the PDF extraction interface: calls, pages the
  * caller asked for and got, pages the document holds (what one call
  * has to parse), and busy time. Results are materialized inside the
  * span so lazy iteration is timed too.
  */
final case class CountingExtractor(inner: PdfTableSource.TableExtractor)
    extends PdfTableSource.TableExtractor {
  override def extract(doc: String, bytes: Array[Byte],
                       startPage: Int, endPage: Int): Iterator[PdfTableSource.GridRow] = {
    val t0 = System.nanoTime()
    val rows = Trace.leaf("sources.extract")(
      inner.extract(doc, bytes, startPage, endPage).toVector)
    Counters.add("sources.extract_busy_s", (System.nanoTime() - t0) / 1e9)
    Counters.add("sources.extract_calls", 1)
    Counters.add("sources.pages_out", rows.map(_.page).distinct.size)
    if (Trace.enabled) Counters.add("sources.pages_parsed", inner.pageCount(bytes))
    rows.iterator
  }
  override def pageCount(bytes: Array[Byte]): Int = inner.pageCount(bytes)
  override def metadata(doc: String, bytes: Array[Byte]): PdfTableSource.PdfMeta = {
    val t0 = System.nanoTime()
    val meta = Trace.leaf("sources.meta")(inner.metadata(doc, bytes))
    Counters.add("sources.meta_busy_s", (System.nanoTime() - t0) / 1e9)
    meta
  }
}

/** Counting decorator of the fetch transport. */
object CountingFetch {
  def apply(inner: BlobFetcher.Fetch): BlobFetcher.Fetch = { url =>
    val r = Trace.leaf("sources.fetch")(inner(url))
    Counters.add("sources.fetch_calls", 1)
    Counters.add("sources.fetch_bytes", r._2.length)
    r
  }
}
