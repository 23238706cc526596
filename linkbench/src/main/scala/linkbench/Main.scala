package linkbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.linkbench.Bus
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run of one workload in one JVM:
  *
  *  1. set-up, [[SetupReps]] times, each in a fresh Spark session;
  *     `setup_s` is their median;
  *  2. the referee's expected outputs, untimed;
  *  3. the timed job, once, cold: `job_s` is the first execution of the job
  *     in this JVM, as a batch user runs it. Its outputs are checked against
  *     the referee. With tracing on, this execution is the traced one;
  *  4. warm, untraced reps of the job until `seconds` of job time have
  *     passed; with tracing on at least one, for `job.warm_s`.
  *
  * Writes one JSON object to `<work>/result.json`:
  * `{"correct", "attempted", "failed", "header", "values"}`.
  *
  * Usage: `linkbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <cores>`
  */
object Main {
  val SetupReps = 3
  /** GraftSession's own default on a 4-core host, fixed so that every host
    * runs the same plans. */
  val Partitions = 8

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedArg, secondsArg, traceArg, workArg, coresArg) = argv
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val work = new File(workArg)
    val cores = coresArg.toInt
    val inputSeed = Workload.inputSeed(workload, seed)

    // ---- set-up -----------------------------------------------------------
    val setupSecs = mutable.ArrayBuffer.empty[Double]
    val sessionSecs = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var wl: Workload = null
    var spans: Spans = null
    var tracer: Tracer = null
    var meter: StorageMeter = null
    var setupLayer = Map.empty[String, Double]
    for (k <- 0 until SetupReps) {
      if (spark != null) { wl.teardown(); stop(spark); Files.delete(new File(work, "tables")) }
      val t0 = System.nanoTime()
      spark = GraftSession.local(cores, shufflePartitions = Partitions)
      sessionSecs += (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setLogLevel("ERROR")
      meter = new StorageMeter
      spark.sparkContext.addSparkListener(meter)
      tracer = new Tracer(cores)
      if (trace) spark.sparkContext.addSparkListener(tracer)
      spans = new Spans(spark.sparkContext)
      wl = Workload(workload, inputSeed, work, Partitions)
      wl.setup(spark, spans)
      setupSecs += (System.nanoTime() - t0) / 1e9
      log(f"setup $k: ${setupSecs.last}%.2f s")
      val setupSpans = spans.take()
      if (trace) {
        detach(spark, tracer)
        setupLayer = tracer.take(setupSpans)
      }
    }

    val ref = new Referee(wl.pages, inputSeed)
    log(s"referee graph: ${ref.numVertices} vertices, ${ref.numEdges} edges")
    val checks = new Checks

    // ---- the cold job, then warm reps --------------------------------------
    val warmSecs = mutable.ArrayBuffer.empty[Double]
    var jobSecs = 0.0
    var peakMb = 0.0
    var jobLayer = Map.empty[String, Double]
    var spent = 0.0
    var rep = 0
    var jobError: Throwable = null
    def more: Boolean = rep == 0 || spent < seconds || (trace && warmSecs.isEmpty)
    while (jobError == null && more) {
      val traced = trace && rep == 0
      if (traced) spark.sparkContext.addSparkListener(tracer)
      Bus.drain(spark.sparkContext)
      meter.resetPeak()
      try {
        val t0 = System.nanoTime()
        wl.job(spark, spans, rep)
        val secs = (System.nanoTime() - t0) / 1e9
        spent += secs
        val sp = spans.take()
        log(f"rep $rep${if (traced) " traced" else ""}: $secs%.2f s (" +
          sp.map(x => f"${x.name} ${x.secs}%.2f s").mkString(", ") + ")")
        if (traced) detach(spark, tracer) else Bus.drain(spark.sparkContext)
        if (rep == 0) {
          jobSecs = secs
          peakMb = meter.peakBytes / 1e6
          wl.check(spark, ref, checks)
          if (trace) {
            val layer = tracer.take(sp)
            jobLayer = layer ++ wl.derived(ref, layer)
          }
        } else warmSecs += secs
        wl.release()
      } catch { case e: Throwable => jobError = e; e.printStackTrace() }
      System.gc()
      Thread.sleep(200) // lets the context cleaner drop unreachable checkpoints
      rep += 1
    }
    if (jobSecs == 0.0) {
      System.err.println("the timed job did not complete")
      sys.exit(1)
    }

    val values: Map[String, Double] =
      if (!trace) Map(
        "setup_s" -> median(setupSecs),
        "job_s" -> jobSecs,
        "edges_per_s" -> wl.edgePasses(ref) / jobSecs,
        "cache_peak_mb" -> peakMb)
      else setupLayer ++ jobLayer ++ Map(
        "session.start.s" -> median(sessionSecs),
        "job.warm_s" -> median(warmSecs),
        "trace.job_s" -> jobSecs)
    val failed = checks.failed.size + spans.failedCalls
    val correct = failed == 0 && jobError == null
    val attempted = checks.attempted + spans.calls
    val sparkVersion = spark.version
    wl.teardown()
    stop(spark)

    val json = values.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${if (v.isNaN || v.isInfinite) 0.0 else v}""" }
      .mkString("{", ",", "}")
    val out = new PrintWriter(new File(work, "result.json"))
    try out.println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""header":{"spark":"$sparkVersion","cores":$cores,"shuffle_partitions":$Partitions,""" +
      s""""input_seed":$inputSeed,"pages":${wl.pages},"edges":${ref.numEdges},""" +
      s""""setup_reps":$SetupReps,""" +
      s""""job_reps":$rep},"values":$json}""")
    finally out.close()
  }

  private def log(msg: String): Unit = System.err.println(s"linkbench: $msg")

  /** Removes the tracer once every event posted so far has reached it. */
  private def detach(spark: SparkSession, t: Tracer): Unit = {
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(t)
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
