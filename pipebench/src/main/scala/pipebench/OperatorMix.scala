package pipebench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.operators.SessionCaches

/** Closed loop, one client, over the operator surface (the streaming and
  * warehouse layers are bypassed): the ROADMAP's named operator targets,
  * the flagship and a join, each run from cleared query state (the
  * registry's cold method: `SessionCaches.clearQueryState` against the
  * model keys present before warm-up). Tables are the sf0.01 set the
  * oracle gate uses, so every result can be checked against a recorded
  * row count and fingerprint. Every pass runs the queries in the same
  * order, so the seed changes nothing here (the inputs are fixed tables).
  * The unit sample is one pass. A query's first run costs about twice a
  * cold one whatever the table size (class loading, code generation,
  * JIT), so the warm-up runs the nine queries once, concurrently, over the
  * smaller sf0.001 tables. */
object OperatorMix {
  val Queries: Seq[String] = Seq(
    "ref_minute_report", "q7_nation_volume", "quality_agreement_kappa",
    "join_set_similarity", "dedup_ngram_jaccard", "sim_knn_lsh_indexed",
    "wh_restore_snapshot", "agg_kll_report_grain", "audit_dependency_entropy")

  def tables(data: Path): String = data.resolve("sf0.01").toString
  def warmTables(data: Path): String = data.resolve("sf0.001").toString
  def expectedFile(data: Path): Path = data.resolve("mix_expected.tsv")

  /** query -> (rows, fingerprint), as recorded by [[RecordMix]]. */
  def expected(data: Path): Map[String, (Long, String)] =
    Files.readAllLines(expectedFile(data)).asScala.filter(_.nonEmpty).map { l =>
      val Array(q, n, fp) = l.split("\t")
      q -> (n.toLong, fp)
    }.toMap

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    val d = tables(c.opts.dataDir)
    val want = expected(c.opts.dataDir)
    val keep = SessionCaches.modelKeys(spark)

    /** One cold query; its wall time includes clearing the query state. */
    def query(q: String): Option[Double] = c.attempt(q) {
      val fn = SparkEntry.queries(q)
      val t0 = System.nanoTime()
      val rows = c.tracer.span(s"operators.$q") {
        SessionCaches.clearQueryState(spark, keep)
        fn(spark, d).collect().toSeq
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val got = Fingerprint.of(rows)
      (secs, if (want.get(q).contains(got)) None else Some(s"result $got != recorded ${want.get(q)}"))
    }

    val warm = warmTables(c.opts.dataDir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(c.threads)
    try {
      val pending = Queries.map(q => q -> pool.submit(() => SparkEntry.queries(q)(spark, warm).collect().length))
      pending.foreach { case (q, rows) =>
        c.attempt(s"warm-up $q") { ((), if (rows.get() == 0) Some("no rows") else None) }
      }
    } finally pool.shutdown()
    SessionCaches.clearQueryState(spark, keep)
    val setupDone = c.nowEpochMs
    c.log("warm-up done, measuring")
    val before = c.engineTotals()
    val t0 = System.nanoTime()
    val passes = c.tracer.span("operator_mix.measure") {
      val out = Seq.newBuilder[Double]
      var n = 0
      while (n == 0 || (System.nanoTime() - t0) / 1e9 < c.opts.seconds) {
        val times = Queries.map(query)
        if (times.forall(_.isDefined)) out += times.flatten.sum
        n += 1
      }
      out.result()
    }
    if (c.tracer.enabled) {
      c.tracer.last("operator_mix.measure").foreach { root =>
        val spans = c.tracer.descendants(root)
        Queries.foreach { q =>
          val xs = spans.filter(_.name == s"operators.$q").map(_.seconds)
          if (xs.nonEmpty) c.layer(s"operators.${q}_s") = Stats.median(xs)
        }
      }
      Workloads.engineLayers(c, before)
    }
    Outcome(passes, setupDone)
  }
}

/** Records the mix's expected results (row count and fingerprint per
  * query) into the benchmark's data directory, and optionally checks them
  * against the result parquet dumped by `graft.Verify` for the same
  * tables (whose oracle compare is `tools/check_oracle.py`).
  *
  * Usage: pipebench.RecordMix <dataDir> [<verifyOutDir>] */
object RecordMix {
  def main(args: Array[String]): Unit = {
    val data = java.nio.file.Paths.get(args(0)).toAbsolutePath
    val spark = graft.GraftSession.local(Runtime.getRuntime.availableProcessors)
    val d = OperatorMix.tables(data)
    val got = OperatorMix.Queries.map(q => q -> Fingerprint.of(SparkEntry.queries(q)(spark, d).collect().toSeq))
    Files.write(OperatorMix.expectedFile(data),
      got.map { case (q, (n, fp)) => s"$q\t$n\t$fp" }.asJava)
    var ok = true
    args.drop(1).headOption.foreach { dump =>
      got.foreach { case (q, fp) =>
        val fromVerify = Fingerprint.of(spark.read.parquet(s"$dump/$q").collect().toSeq)
        val same = fromVerify == fp
        ok &&= same
        println(s"[record-mix] $q rows=${fp._1} ${if (same) "matches" else s"DIFFERS from $fromVerify in"} the Verify dump")
      }
    }
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
