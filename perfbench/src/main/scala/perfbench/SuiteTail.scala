package perfbench

import graft.{SparkEntry, Tables}

/** Short declared queries over generated source tables. The warm-up
  * runs every query twice (the JIT keeps speeding the queries up for
  * several passes); each measured pass then runs every query once, in
  * an order shuffled by the seed and the pass number. A call
  * is the query's build (`fn(spark, dir)`) plus writing its result as
  * parquet; every result of every pass is kept for the DuckDB oracle
  * check that follows the run. */
final class SuiteTail extends Workload {
  val WarmupPasses = 2
  val MinPasses = 2
  private val queries: Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)] =
    SuiteTail.Queries.map { p =>
      val hits = SparkEntry.queries.filter { case (n, _) => n.startsWith(p + "_") }.toSeq
      require(hits.size == 1, s"query prefix $p matches ${hits.map(_._1)}")
      hits.head
    }

  private def tables(run: Run) = run.path("tables")

  override def prepare(run: Run): Unit = {
    val oracles = SparkEntry.oracleSql
    Harness.write(run.path("oracle_sql.json"), Seq(Json.value(
      queries.flatMap { case (n, _) => oracles.get(n).map(n -> _) }.toMap)))
  }

  def warmUp(run: Run): Unit = (1 to WarmupPasses).foreach(p => pass(run, -p, timed = false))

  def measure(run: Run): Unit = {
    val t0 = System.nanoTime()
    var p = 0
    while (p < MinPasses || (System.nanoTime() - t0) / 1e9 < run.seconds) {
      p += 1
      val (_, s) = run.timed(pass(run, p, timed = true))
      run.sample("pass_s", s)
    }
  }

  private def pass(run: Run, p: Int, timed: Boolean): Unit = {
    val order = new scala.util.Random(run.seed * 1000003L + p).shuffle(queries)
    val dir = if (p < 0) s"w${-p}" else s"p$p"
    val tr = run.tracer
    order.foreach { case (name, fn) =>
      val out = run.path(s"out/$dir/$name")
      run.attempt(name) {
        val (_, s) = run.timed(tr.span("call") {
          val df = tr.span("queries.build")(fn(run.spark, tables(run)))
          tr.span("queries.exec")(df.write.mode("overwrite").parquet(out))
        })
        if (timed) run.sample("query_s", s)
      }
      run.spark.catalog.clearCache()
    }
  }

  def layerProbes(run: Run): Unit = {
    val m = run.tracer.named("measure").head
    def perCall(span: String) =
      Stats.median(run.tracer.named(span).filter(_.startNs >= m.startNs).map(_.seconds))
    run.layer("queries.build_s") = perCall("queries.build")
    run.layer("queries.exec_s") = perCall("queries.exec")
    Tables.load(run.spark, tables(run), "lineitem")
    run.layer("sources.tables_load_ms") = 1000 * run.medianOf("sources.tables_load", 21) {
      Tables.load(run.spark, tables(run), "lineitem")
    }
  }
}

object SuiteTail {
  /** The sf0.1 queries below q146 that took under 0.35 s in the engine's
    * committed per-query bench record: per-query fixed cost dominates. */
  val ShortQueries: Seq[String] = ("q01,q02,q04,q05,q06,q12,q13,q14,q15,q16,q20,q23,q24,q25," +
    "q27,q29,q30,q31,q35,q36,q37,q38,q41,q42,q45,q46,q49,q50,q51,q56,q57,q59,q61,q64,q65," +
    "q66,q67,q68,q69,q73,q74,q75,q78,q81,q84,q85,q87,q89,q91,q92,q93,q94,q95,q96,q101,q102," +
    "q103,q106,q112,q114,q117,q118,q123,q129,q130,q131,q133,q134,q135,q139,q140,q141,q142," +
    "q144").split(",").toSeq

  /** Every sixth short query (13 of 74), so that a run, warm-up
    * included, stays within its time budget. */
  val Queries: Seq[String] = ShortQueries.zipWithIndex.collect { case (q, i) if i % 6 == 0 => q }
}
