package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession

/** State of one benchmark run: the session, the span recorder, the
  * samples of every end-to-end metric, per-layer numbers, and the count
  * of attempted and failed calls. */
final class Run(
    val spark: SparkSession,
    val dir: String,
    val seed: Long,
    val seconds: Double,
    val tracer: Tracer,
    val probe: Option[SparkProbe],
    val cores: Int) {
  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val failures = ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** Seconds spent on the untimed warm-up, part of `setup_s`. */
  var warmupS = 0.0

  def sample(metric: String, v: Double): Unit =
    samples.getOrElseUpdate(metric, ArrayBuffer.empty) += v

  /** One attempted operation. An exception counts it as failed and
    * yields None; the run goes on. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 50) failures += msg
    System.err.println(s"[perfbench] failed: $msg")
  }

  /** Wall-clock seconds of `body`. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def path(name: String): String = Paths.get(dir, name).toString

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Median of `reps` timed calls of `body` inside spans named `name`. */
  def medianOf(name: String, reps: Int)(body: => Unit): Double =
    Stats.median((1 to reps).map(_ => timed(tracer.span(name)(body))._2))
}

object Io {
  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

trait Workload {
  /** Reference answers for the output checks; not part of `setup_s`. */
  def prepare(run: Run): Unit = ()
  /** Untimed warm-up; its time goes into `setup_s`. */
  def warmUp(run: Run): Unit
  /** The timed closed loop; runs for at least `run.seconds`. */
  def measure(run: Run): Unit
  /** Traced runs only: extra calls into single layers. */
  def layerProbes(run: Run): Unit
}

/** Runs one workload in this JVM and writes `result.json` (and, traced,
  * `spans.jsonl`) into the run directory.
  *
  * Usage: Harness --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --dir <run dir> --cores <n>
  */
object Harness {
  val workloads: Map[String, () => Workload] = Map(
    "knn_classify" -> (() => new KnnClassify),
    "ann_ivfpq" -> (() => new AnnIvfPq),
    "suite_tail" -> (() => new SuiteTail))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val workload = workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))()
    val trace = opts.getOrElse("trace", "0") == "1"
    val dir = opts("dir")
    val cores = opts("cores").toInt

    val t0 = System.nanoTime()
    val spark = GraftSession.local(cores, "perfbench")
    val sessionBuildS = (System.nanoTime() - t0) / 1e9
    val probe = if (trace) Some(new SparkProbe(spark)) else None
    val tracer = new Tracer(trace, s"$name-${opts("seed")}-${System.currentTimeMillis()}")
    val run = new Run(spark, dir, opts("seed").toLong, opts("seconds").toDouble, tracer,
      probe, cores)

    val (_, prepareS) = run.timed(workload.prepare(run))
    val (_, warmS) = run.timed(tracer.span("setup.warmup")(workload.warmUp(run)))
    run.warmupS = warmS
    val before = probe.map(_.totals())
    val tm0 = System.nanoTime()
    tracer.span("measure")(workload.measure(run))
    val tm1 = System.nanoTime()
    for (p <- probe; b <- before) {
      run.layer ++= SparkProbe.layerMetrics(b, p.totals(), (tm1 - tm0) / 1e9, cores)
      // time outside every Spark job, per measured call
      val calls = tracer.all.filter(s => s.startNs >= tm0 && s.endNs <= tm1 && s.name == "call")
      val jobs = p.jobsBetween(tm0, tm1)
      run.layer("spark.outside_jobs_s") =
        if (calls.isEmpty) 0.0
        else calls.map(c => SparkProbe.uncovered(c.startNs, c.endNs, jobs)).sum / 1e9 / calls.size
      run.layer("session.build_s") = sessionBuildS
      workload.layerProbes(run)
    }
    val (loopRate, loopS) = run.timed(HostLoop.pairsPerSecond(cores))

    val result = Json.obj(
      "workload" -> name,
      "seed" -> run.seed,
      "trace" -> trace,
      "session_build_s" -> sessionBuildS,
      "warmup_s" -> run.warmupS,
      "setup_s" -> (sessionBuildS + run.warmupS),
      "samples" -> run.samples.map { case (k, v) => k -> v.toList }.toMap,
      "layer" -> run.layer.toMap,
      "attempted" -> run.attempted,
      "failed" -> run.failed,
      "failures" -> run.failures.toList,
      "peak_rss_mb" -> peakRssMb(),
      "phases_s" -> Map("prepare" -> prepareS, "measure" -> (tm1 - tm0) / 1e9, "host_loop" -> loopS),
      "host" -> Map(
        "cores" -> cores,
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "jvm_loop_pairs_per_s" -> loopRate))
    write(Paths.get(dir, "result.json").toString, Seq(result))
    if (trace) write(Paths.get(dir, "spans.jsonl").toString, tracer.jsonLines)
    spark.stop()
  }

  def write(path: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) Double.NaN
    else {
      val line = new String(Files.readAllBytes(status), StandardCharsets.UTF_8)
        .split("\n").find(_.startsWith("VmHWM:"))
      line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    }
  }
}

/** The roofline the distance kernels are compared against: squared
  * Euclidean distance over plain `double[]` rows, all cores, no Spark.
  * The shape is the knn_classify workload's (10 features). */
object HostLoop {
  def pairsPerSecond(cores: Int): Double = {
    val rng = new java.util.Random(7)
    val dim = 10
    val train = Array.fill(30803 * dim)(rng.nextGaussian())
    val test = Array.fill(1718 * dim)(rng.nextGaussian())
    val nTest = test.length / dim
    val nTrain = train.length / dim
    val sink = new java.util.concurrent.atomic.DoubleAdder
    def sweep(): Unit = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
      try {
        val futures = (0 until cores).map { w =>
          pool.submit(new Runnable {
            def run(): Unit = {
              var acc = 0.0
              var q = w
              while (q < nTest) {
                var i = 0
                while (i < nTrain) {
                  var s = 0.0
                  var d = 0
                  while (d < dim) {
                    val x = test(q * dim + d) - train(i * dim + d)
                    s += x * x
                    d += 1
                  }
                  acc += s
                  i += 1
                }
                q += cores
              }
              sink.add(acc)
            }
          })
        }
        futures.foreach(_.get())
      } finally pool.shutdown()
    }
    sweep() // JIT warm-up
    val rates = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      sweep()
      nTest.toDouble * nTrain / ((System.nanoTime() - t0) / 1e9)
    }
    Stats.median(rates)
  }
}
