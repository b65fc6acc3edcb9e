package perfbench

import scala.jdk.CollectionConverters._

/** Plain-Scala reference answers the benchmark checks the engine's
  * outputs against. No Spark: every result here is computed in one
  * process with loops, so it cannot share a defect with the engine. */
object Checks {

  /** A neighbor candidate; ordered by distance, then id. */
  final case class Nbr(dist: Double, id: Long, label: Long)

  private val nbrOrder: Ordering[Nbr] = Ordering.by((n: Nbr) => (n.dist, n.id))

  /** The engine's distance: float or double elements promoted to
    * double, squared differences folded left from 0.0 in index order. */
  def squaredEuclidean(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
    acc
  }

  /** The k best of `cands` by (dist, id). */
  def topK(cands: Iterable[Nbr], k: Int): Vector[Nbr] =
    cands.toVector.sorted(nbrOrder).take(k)

  /** Merge two partial top-k lists into the true top-k of their union
    * (not a positional merge of the two lists). */
  def mergeTopK(a: Seq[Nbr], b: Seq[Nbr], k: Int): Vector[Nbr] = topK(a ++ b, k)

  /** The vote the engine applies to one query's neighbors.
    *
    * Plurality: the label with the most votes; ties go to the smallest
    * label. Legacy (the reference CLI's default): a label's count is
    * its occurrences minus one, so a winner needs two or more votes,
    * ties go to the smallest label, and with no winner the answer is -1. */
  def vote(labels: Seq[Long], legacy: Boolean): Long = {
    val counts = labels.groupBy(identity).map { case (l, xs) => (l, xs.size) }
    val eligible = if (legacy) counts.filter(_._2 >= 2) else counts
    if (eligible.isEmpty) -1L
    else eligible.toSeq.minBy { case (l, c) => (-c, l) }._1
  }

  /** Brute-force KNN classification. The train rows are scanned in two
    * halves whose partial top-k lists are merged, as two engine
    * partitions would be. Returns test id -> prediction. */
  def classify(train: IndexedSeq[(Long, Array[Double], Long)],
      test: IndexedSeq[(Long, Array[Double])], k: Int, legacy: Boolean): Map[Long, Long] = {
    val half = train.length / 2
    val parts = Seq(train.take(half), train.drop(half))
    test.map { case (tid, tv) =>
      val partial = parts.map(p => topK(p.map { case (id, v, l) => Nbr(squaredEuclidean(tv, v), id, l) }, k))
      tid -> vote(partial.reduce(mergeTopK(_, _, k)).map(_.label), legacy)
    }.toMap
  }

  /** Parse an all-numeric ARFF the way the engine numbers its rows:
    * data rows in file order get ids 0, 1, 2, ...; the last column is
    * the label. */
  def readArff(path: String): IndexedSeq[(Long, Array[Double], Long)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try {
      src.getLines().map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("@") && !l.startsWith("%"))
        .zipWithIndex.map { case (l, i) =>
          val v = l.split(",").map(_.trim.toDouble)
          (i.toLong, v.init, v.last.toLong)
        }.toIndexedSeq
    } finally src.close()
  }

  /** Exact top-k neighbor ids of each query over `corpus`, by (dist, id),
    * computed on all cores. */
  def exactTopK(corpus: IndexedSeq[(Long, Array[Double])],
      queries: IndexedSeq[(Long, Array[Double])], k: Int): Map[Long, Vector[Long]] = {
    val out = new java.util.concurrent.ConcurrentHashMap[Long, Vector[Long]]()
    java.util.stream.IntStream.range(0, queries.length).parallel().forEach { qi =>
      val (qid, qv) = queries(qi)
      // the k best seen so far, kept sorted by (dist, id)
      val bestD = Array.fill(k)(Double.PositiveInfinity)
      val bestId = Array.fill(k)(Long.MaxValue)
      corpus.foreach { case (id, v) =>
        val d = squaredEuclidean(qv, v)
        if (d < bestD(k - 1) || (d == bestD(k - 1) && id < bestId(k - 1))) {
          var j = k - 1
          while (j > 0 && (d < bestD(j - 1) || (d == bestD(j - 1) && id < bestId(j - 1)))) {
            bestD(j) = bestD(j - 1); bestId(j) = bestId(j - 1); j -= 1
          }
          bestD(j) = d; bestId(j) = id
        }
      }
      out.put(qid, bestId.toVector.filter(_ != Long.MaxValue))
    }
    out.asScala.toMap
  }
}
