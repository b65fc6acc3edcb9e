package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Main
import graft.functions.VectorFunctions
import graft.operators.{Knn, TopK}
import graft.sources.Arff

/** The paper's query: `Main.run` on generated ARFF train/test files,
  * k = 3, the CLI's default (reference) vote. Each call's sample is
  * the span `Main.run` itself times (classify + write). Every call's
  * prediction file is compared with a brute-force classifier. */
final class KnnClassify extends Workload {
  val K = 3
  val Legacy = true
  val MinCalls = 10
  private var expected: Map[Long, Long] = Map.empty
  private var trainRows = 0L
  private var calls = 0

  private def train(run: Run) = run.path("train.arff")
  private def test(run: Run) = run.path("test.arff")

  override def prepare(run: Run): Unit = {
    val tr = Checks.readArff(train(run))
    trainRows = tr.size
    expected = Checks.classify(tr, Checks.readArff(test(run)).map { case (id, v, _) => (id, v) },
      K, Legacy)
  }

  def warmUp(run: Run): Unit = classifyOnce(run, timed = false)

  def measure(run: Run): Unit = {
    val t0 = System.nanoTime()
    var timedCalls = 0
    while ((System.nanoTime() - t0) / 1e9 < run.seconds || timedCalls < MinCalls) {
      classifyOnce(run, timed = true)
      timedCalls += 1
    }
  }

  private def classifyOnce(run: Run, timed: Boolean): Unit = {
    calls += 1
    val out = run.path(s"predictions-$calls")
    run.attempt("Main.run") {
      val ((ms, accuracy), wall) =
        run.timed(run.tracer.span("call")(Main.run(run.spark, train(run), test(run), K, out, Legacy)))
      if (timed) {
        run.sample("knn_classify_s", ms / 1000.0)
        run.sample("knn_call_s", wall)
        run.sample("knn_accuracy", accuracy)
      }
      val got = readPredictions(out)
      if (got != expected) {
        val bad = expected.count { case (id, p) => !got.get(id).contains(p) }
        run.fail(s"Main.run: $bad of ${expected.size} predictions differ from brute force")
      }
    }
    Io.deleteTree(new File(out))
  }

  private def readPredictions(dir: String): Map[Long, Long] =
    new File(dir).listFiles().filter(f => f.getName.startsWith("part-")).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filter(_.nonEmpty).map { l =>
        val Array(id, p) = l.split("\t")
        id.toLong -> p.toLong
      }.toList
      finally src.close()
    }.toMap

  def layerProbes(run: Run): Unit = {
    val spark = run.spark
    val reps = 3
    val parseS = run.medianOf("sources.arff_parse", reps) {
      run.noop(Arff.readLabeled(spark, train(run)))
      run.noop(Arff.readLabeled(spark, test(run)))
    }
    run.layer("sources.arff_parse_s") = parseS
    run.layer("sources.arff_rows_per_s") = (trainRows + expected.size) / parseS

    // the remaining probes read cached inputs, so parsing is not counted twice
    val tr = Arff.readLabeled(spark, train(run)).cache()
    val te = Arff.readLabeled(spark, test(run)).cache()
    val nTrain = tr.count()
    val nTest = te.count()
    val pairs = nTrain.toDouble * nTest

    val joinS = run.medianOf("operators.knn_join", reps) {
      run.noop(Knn.knnJoin(te, tr, K, queryId = "id", itemId = "id",
        queryVec = "features", itemVec = "features", itemLabel = Some("label")))
    }
    val classifyS = run.medianOf("operators.knn_classify", reps) {
      run.noop(Knn.classify(tr, te, K, "id", "id", "features", "features", "label", Legacy))
    }
    run.layer("operators.knn_join_s") = joinS
    run.layer("operators.knn_vote_s") = classifyS - joinS

    val scored = pairsOf(tr, te)
      .select(col("q_id"),
        VectorFunctions.squaredEuclidean(col("q_vec"), col("i_vec")).as("dist"),
        col("i_id"), col("i_label"))
      .cache()
    scored.count()
    val topkS = run.medianOf("operators.topk", reps) {
      run.noop(scored.groupBy(col("q_id"))
        .agg(TopK.topK(K)(col("dist"), col("i_id"), col("i_label")).as("nbrs")))
    }
    run.layer("operators.topk_rows_per_s") = pairs / topkS
    scored.unpersist()

    val preds = Knn.classify(tr, te, K, "id", "id", "features", "features", "label", Legacy).cache()
    preds.count()
    var n = 0
    run.layer("operators.write_predictions_s") = run.medianOf("operators.write_predictions", reps) {
      n += 1
      Knn.writePredictions(preds, run.path(s"write-probe-$n"))
    }
    (1 to n).foreach(i => Io.deleteTree(new File(run.path(s"write-probe-$i"))))
    preds.unpersist()

    val sqS = run.medianOf("functions.sqeuclid", reps) {
      pairsOf(tr, te)
        .agg(sum(VectorFunctions.squaredEuclidean(col("q_vec"), col("i_vec"))))
        .collect()
    }
    run.layer("functions.sqeuclid_pairs_per_s") = pairs / sqS
    tr.unpersist(); te.unpersist()
  }

  private def pairsOf(tr: DataFrame, te: DataFrame): DataFrame =
    tr.select(col("id").as("i_id"), col("features").as("i_vec"), col("label").as("i_label"))
      .crossJoin(broadcast(te.select(col("id").as("q_id"), col("features").as("q_vec"))))
}
