package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Pq, SemDedup, VectorStore}

/** IVF-PQ index and vector store on a generated, clustered 64-d corpus:
  * build both, append a held-out ingest batch to both, then search the
  * query set in four batches (probe for 50 candidates, exact re-rank to
  * the top 5). Each cycle writes a fresh index and store. Every search
  * result is checked for shape and exact distances, and its recall@5 is
  * measured against an exact top-5. */
final class AnnIvfPq extends Workload {
  val Dim = 64
  val Candidates = 50
  val Probes = 12
  val SearchBatches = 4
  private var cycle = 0
  private var exact: Map[Long, Vector[Long]] = Map.empty
  private var vectors: Map[Long, Array[Double]] = Map.empty
  private var queryVectors: Map[Long, Array[Double]] = Map.empty

  private def read(run: Run, name: String): DataFrame = run.spark.read.parquet(run.path(name))

  /** The generator's raw copy of a vector set: little-endian int64 ids
    * and float32 rows, read without Spark. */
  private def rawVectors(run: Run, name: String): IndexedSeq[(Long, Array[Double])] = {
    def buffer(ext: String) = java.nio.ByteBuffer
      .wrap(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(run.path(s"$name.$ext"))))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ids = buffer("ids").asLongBuffer()
    val vs = buffer("f32").asFloatBuffer()
    (0 until ids.limit()).map(i => (ids.get(i), Array.tabulate(Dim)(d => vs.get(i * Dim + d).toDouble)))
  }

  override def prepare(run: Run): Unit = {
    val corpus = rawVectors(run, "corpus")
    val queries = rawVectors(run, "queries")
    vectors = corpus.toMap
    queryVectors = queries.toMap
    exact = Checks.exactTopK(corpus, queries, 5)
  }

  def warmUp(run: Run): Unit = {
    // one cycle on a tenth of every input compiles the same code paths
    val tenth = (df: DataFrame) => df.filter(col("vec_id") % 10 === 0)
    runCycle(run, tenth(read(run, "base.parquet")), tenth(read(run, "batch.parquet")),
      Seq((tenth(read(run, "queries.parquet")), exact.keySet.filter(_ % 10 == 0))), timed = false)
  }

  def measure(run: Run): Unit = {
    val t0 = System.nanoTime()
    val queries = read(run, "queries.parquet")
    val batches = (0 until SearchBatches).map(b =>
      (queries.filter(col("vec_id") % SearchBatches === b), exact.keySet.filter(_ % SearchBatches == b)))
    do runCycle(run, read(run, "base.parquet"), read(run, "batch.parquet"), batches, timed = true)
    while ((System.nanoTime() - t0) / 1e9 < run.seconds)
  }

  /** One build, append and search cycle; `searches` pairs each query
    * batch with its query ids. */
  private def runCycle(run: Run, base: DataFrame, batch: DataFrame,
      searches: Seq[(DataFrame, Set[Long])], timed: Boolean): Unit = {
    cycle += 1
    val index = run.path(s"index-$cycle")
    val store = run.path(s"store-$cycle")
    val tr = run.tracer
    var cycleS = 0.0
    def step(metric: String)(body: => Unit): Boolean =
      run.attempt(metric) {
        val (_, s) = run.timed(tr.span("call")(body))
        cycleS += s
        if (timed) run.sample(metric, s)
      }.isDefined
    val built = step("ann_build_s") {
      tr.span("operators.pq_build")(Pq.buildIvfPqIndex(base, "vec_id", "embedding", dim = Dim,
        m = 8, k = 64, iters = 2, centroids = 32, path = index, assignments = 2))
      tr.span("operators.store_ensure")(VectorStore.ensure(run.spark, store, base, "vec_id", "embedding"))
    }
    val appended = built && step("ann_append_s") {
      tr.span("operators.pq_append")(Pq.appendIvfPqIndex(batch, "vec_id", "embedding", index))
      tr.span("operators.store_append")(
        VectorStore.appendVectors(run.spark, store, batch, "vec_id", "embedding"))
    }
    var searched = appended
    var found = 0
    for ((queries, ids) <- searches if searched) {
      var rows: Array[org.apache.spark.sql.Row] = Array.empty
      var cands: DataFrame = null
      searched = step("ann_search_s") {
        cands = tr.span("operators.pq_probe") {
          val c = Pq.ivfPqCandidates(queries, index, dim = Dim,
            topK = Candidates, probes = Probes, "vec_id", "embedding")
          // traced: materialize the candidates here, so the probe's work
          // is not billed to the re-rank that consumes them
          if (tr.enabled) c.localCheckpoint() else c
        }
        rows = tr.span("operators.store_rerank")(
          VectorStore.rerankTopK(VectorStore.vectors(run.spark, store), queries, cands, k = 5).collect())
      }
      if (searched) {
        found += check(run, rows, ids)
        if (timed && tr.enabled) candidateRecall(run, cands, ids)
      }
    }
    if (timed && searched) run.sample("ann_recall_at5", found.toDouble / (5 * exact.size))
    if (timed && searched) run.sample("ann_cycle_s", cycleS)
  }

  /** Every query of the batch gets 5 distinct neighbors, ranked 1..5 by
    * (distance, id), with distances equal to the exact ones. Returns how
    * many of the exact top-5 ids were found. */
  private def check(run: Run, rows: Array[org.apache.spark.sql.Row], asked: Set[Long]): Int = {
    val byQuery = rows.groupBy(_.getLong(0))
    val bad = byQuery.count { case (q, rs) =>
      val ranked = rs.sortBy(_.getLong(1))
      val ids = ranked.map(_.getLong(2))
      val micros = ranked.map(_.getLong(3))
      val dists = ids.map(id => Checks.squaredEuclidean(queryVectors(q), vectors(id)))
      ranked.map(_.getLong(1)).toSeq != (1L to 5L) || ids.distinct.length != 5 ||
        !micros.sameElements(dists.map(d => math.floor(d * 1e6).toLong)) ||
        dists.zip(ids).toSeq != dists.zip(ids).toSeq.sorted
    }
    val missing = asked.count(q => !byQuery.contains(q))
    val extra = byQuery.keys.count(q => !asked.contains(q))
    if (bad + missing + extra > 0)
      run.fail(s"search: $bad queries with wrong neighbors, $missing without results, $extra not asked")
    byQuery.map { case (q, rs) => rs.map(_.getLong(2)).count(exact(q).contains) }.sum
  }

  private def candidateRecall(run: Run, cands: DataFrame, queries: Set[Long]): Unit = {
    val byQuery = cands.select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val found = queries.toSeq.map(q => exact(q).count(byQuery.getOrElse(q, Set.empty[Long]).contains)).sum
    run.sample("candidate_recall_at5", found.toDouble / (5 * queries.size))
  }

  def layerProbes(run: Run): Unit = {
    val tr = run.tracer
    // the warm-up cycle's spans ran before the measured window; skip them
    val measured = (name: String) => {
      val m = tr.named("measure").head
      Stats.median(tr.named(name).filter(_.startNs >= m.startNs).map(_.seconds))
    }
    Seq("pq_build", "store_ensure", "pq_append", "store_append", "pq_probe", "store_rerank")
      .foreach(n => run.layer(s"operators.${n}_s") = measured(s"operators.$n"))
    run.layer("operators.candidate_recall_at5") =
      Stats.median(run.samples.getOrElse("candidate_recall_at5", Seq.empty[Double]).toSeq)
    run.samples.remove("candidate_recall_at5")
    val probes = tr.named("operators.pq_probe").filter(_.startNs >= tr.named("measure").head.startNs)
    run.layer("operators.pq_probe_jobs") =
      Stats.median(probes.map(s => run.probe.get.jobsBetween(s.startNs, s.endNs).size.toDouble))

    val base = read(run, "base.parquet")
    val cb = SemDedup.lloydCentroids(base, "vec_id", "embedding", k = 32, iters = 0)
    val mv = base.select(SemDedup.quantizeMilli(col("embedding")).as("mv")).cache()
    val n = mv.count()
    val s = run.medianOf("functions.nearest_centroid", 3) {
      run.noop(mv.select(SemDedup.assignClusterMilli(col("mv"), cb).as("c")))
    }
    run.layer("functions.nearest_centroid_rows_per_s") = n / s
    mv.unpersist()
  }
}
