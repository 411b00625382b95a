package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.queries.QueryDef
import graft.sources.CsvSources

/** What one measured execution wrote and read back through its sink. */
final case class SinkResult(writeNs: Long = 0L, readNs: Long = 0L,
    rowsRead: Long = -1L)

/** A named basket of registered queries, the sink each measured
  * execution ends in, the number of untimed warm-up rounds after the
  * oracle pass, and the least number of timed rounds (run.py reports
  * each query's median). `stagedDedup` adds the staged dedup-layer calls to
  * traced runs. Why each basket was chosen is in
  * README.md; the inputs each workload gets are generated by run.py.
  */
final case class Workload(name: String, queries: Seq[String],
    sink: (SparkSession, DataFrame, String) => SinkResult,
    warmRounds: Int, rounds: Int, stagedDedup: Boolean = false) {
  def defs: Seq[QueryDef] = {
    val byName = SparkEntry.allDefs.map(d => d.name -> d).toMap
    queries.map(n => byName.getOrElse(n, sys.error(s"unknown query $n")))
  }
}

object Workloads {
  private def timed[T](f: => T): (T, Long) = {
    val t0 = System.nanoTime(); val r = f; (r, System.nanoTime() - t0)
  }

  /** Noop sink: runs the full physical plan and writes nothing. */
  private def noop(spark: SparkSession, df: DataFrame, path: String) = {
    df.write.format("noop").mode("overwrite").save()
    SinkResult()
  }

  /** Real CSV sink through graft.sources, then a read-back of the file
    * just written (write-beside-read): the row count read must equal
    * the row count the oracle pass produced.
    */
  private def csvRoundTrip(spark: SparkSession, df: DataFrame, path: String) = {
    val (_, w) = timed(CsvSources.writeCsv(df, path))
    val (n, r) = timed(CsvSources.scanCsv(spark, path).count())
    SinkResult(w, r, rowsRead = n)
  }

  val reports = Workload("reports",
    Seq("q_delinquent", "q_filter_conj", "q_join_semi", "q_group_sum",
      "q_string_kit", "q_date_arith", "q_csv_roundtrip", "q_char_diversity",
      "q_systematic"),
    noop, warmRounds = 1, rounds = 3)

  val dedupTier = Workload("dedup-tier",
    Seq("q_substr_dedup", "q_source_overlap"),
    // the kernels are still on the JIT warm-up curve after the oracle
    // pass: the first round after it ran 10-30% slower than the rounds
    // after that
    csvRoundTrip, warmRounds = 2, rounds = 4, stagedDedup = true)

  val all: Seq[Workload] = Seq(reports, dedupTier)

  def apply(name: String): Workload =
    all.find(_.name == name).getOrElse(sys.error(s"unknown workload $name"))
}
