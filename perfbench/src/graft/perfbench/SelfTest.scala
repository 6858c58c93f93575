package graft.perfbench

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

/** Benchmark self-test: every workload at its tiny size must pass all of
  * its gates, and the same run with every expectation perturbed
  * (`--break`) must trip each gate.
  */
object SelfTest {
  val GatesOf: Map[String, Seq[String]] = Map(
    "nca_ingest" -> Seq("ingest_counts", "ingest_amount", "ingest_report", "ingest_no_stale_rows",
      "ingest_no_quarantine"),
    "nca_refresh" -> Seq("refresh_counts", "refresh_amount", "refresh_report", "refresh_no_stale_rows",
      "refresh_no_quarantine"),
    "ann_search" -> Seq("search_recall", "search_k_results"),
    "corpus_curate" -> Seq("curate_duplicates_dropped", "curate_contamination_dropped",
      "curate_pii_removed", "curate_clean_kept", "curate_no_quarantine"))

  def run(spark: SparkSession, tmp: String): Int = {
    val checks = Main.Workloads.keys.toSeq.sorted.flatMap { name =>
      def once(broken: Set[String], tag: String): Map[String, Boolean] = {
        val w = Main.Workloads(name)()
        val ctx = Ctx(spark, 7L, 1.0, tiny = true, traced = false,
          Paths.get(tmp, s"selftest-$name-$tag").toString, broken)
        w.setup(ctx)
        w.measure(ctx).gates.map(g => g._1 -> g._2).toMap
      }
      val good = once(Set.empty, "pass")
      val bad = once(GatesOf(name).toSet, "break")
      good.toSeq.sorted.map { case (g, ok) => (s"$name: $g passes on correct output", ok) } ++
        GatesOf(name).map(g => (s"$name: $g trips on a wrong expectation", bad.get(g).contains(false)))
    }
    checks.foreach { case (what, ok) => println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what") }
    val failed = checks.count(!_._2)
    println(s"[selftest] ${checks.size - failed}/${checks.size} checks passed")
    if (failed == 0) 0 else 1
  }
}
