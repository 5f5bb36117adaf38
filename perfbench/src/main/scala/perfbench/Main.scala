package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.media.OcrEnginePool

/** Runs one workload for a fixed time and prints one JSON result line.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1>
  *
  * Untraced (`--trace 0`): set up, then repeat the workload's pass for
  * `--seconds` and at least [[MinPasses]] times, each pass stamped with
  * its wall time and the host's steal share, and report the end-to-end
  * metrics. Traced (`--trace 1`): attach the listener, repeat traced
  * rounds for `--seconds`, report the per-layer metrics and write the
  * spans and counters to one JSON file under `.bench_build/traces/`.
  * Both then run the reference checks.
  */
object Main {

  /** Per-layer metric names with their units, in BENCHMARK.json order. */
  val PerLayer: Seq[(String, String)] = Seq(
    "pipeline.scan_s" -> "s", "pipeline.stages" -> "count",
    "pipeline.tasks" -> "count", "pipeline.shuffle_write_mb" -> "MB",
    "pipeline.task_skew" -> "ratio", "pipeline.busy_share" -> "ratio",
    "pipeline.gc_s" -> "s",
    "media.ocr_calls_light" -> "count", "media.ocr_calls_premium" -> "count",
    "media.ocr_calls_optimum" -> "count", "media.ocr_calls_per_doc" -> "calls/doc",
    "media.ocr_self_s" -> "s", "media.useful_call_ratio" -> "ratio",
    "extract.parse_self_s" -> "s", "extract.assemble_self_s" -> "s",
    "io.jobs_per_bucket" -> "jobs/bucket", "io.write_s" -> "s",
    "io.audit_read_s" -> "s", "io.bucket_wall_p50_s" -> "s",
    "io.bucket_wall_max_s" -> "s", "io.bytes_written_mb" -> "MB",
    "io.shuffle_write_mb" -> "MB",
    "analysis.curate_s" -> "s", "analysis.release_barriers_s" -> "s",
    "analysis.release_tail_s" -> "s", "analysis.barrier_mb" -> "MB",
    "analysis.storage_left_mb" -> "MB", "analysis.lsh_candidate_pairs" -> "count",
    "analysis.lsh_pairs_accepted" -> "count", "analysis.lsh_accept_ratio" -> "ratio",
    "analysis.salted_buckets" -> "count", "analysis.shuffle_write_mb" -> "MB",
    "analysis.spill_mb" -> "MB")

  /** The first timed pass still runs on a warming JIT; with three or
    * more passes the median leaves it out.
    */
  val MinPasses = 3

  final case class Result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]) {
    def json: String = {
      val ms = metrics.map { case (n, v, u) =>
        s"${Json.str(n)}:{${"\"value\""}:${Json.num(v)},${"\"unit\""}:${Json.str(u)}}"
      }
      s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
        s""""metrics":{${ms.mkString(",")}}}"""
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    require(args.length % 2 == 0 && Set("workload", "seed", "seconds", "trace").forall(opts.contains),
      "usage: --workload <name> --seed <n> --seconds <s> --trace <0|1>")
    val workload = Workloads(opts("workload"), opts("seed").toLong)
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"

    val build = Paths.get(".bench_build").toAbsolutePath
    val work = build.resolve("work").resolve(s"${workload.name}-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // one read partition per input file, as a multi-file table has
      .config("spark.sql.files.minPartitionNum", "16")
      .config("spark.local.dir", build.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - Host.jvmStartMs()) / 1000.0

    try {
      workload.engine(traced).foreach(e => OcrEnginePool.install(() => e))
      val result = try run(spark, workload, opts("seed").toLong, work, seconds, traced, sessionS)
      finally OcrEnginePool.install(() => graft.media.SimulatedOcr)
      println(result.json)
    } finally {
      spark.stop()
      Host.deleteTree(work)
    }
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def run(spark: SparkSession, w: Workload, seed: Long, work: Path, seconds: Double,
      traced: Boolean, sessionS: Double): Result = {
    // set-up: the input tables are written three times (the median
    // counts), the last copy is what every pass reads
    val writes = (1 to 3).map { k =>
      val dir = work.resolve(s"input$k")
      timed(w.writeInput(spark, dir))._2
    }
    w.open(spark, work.resolve("input3"))
    // the warm-up pass is the first run of the workload's plans, so it
    // pays their codegen and the JIT's first compiles
    val (warmFailures, warmS) = timed(w.warmup(spark, work))
    val setupS = sessionS + Stats.median(writes) + warmS
    val passDir = work.resolve("pass")

    val failures = Seq.newBuilder[String] ++= warmFailures
    var attempted = 0
    var failed = 0
    val metrics =
      if (!traced) {
        val walls = collection.mutable.ArrayBuffer.empty[Double]
        var cpuNs = 0L
        val t0 = System.nanoTime()
        while (attempted < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
          attempted += 1
          val steal0 = Host.cpuTicks()
          val cpu0 = Host.processCpuNs()
          val (ok, wall) = timed {
            try { w.pass(spark, passDir); true }
            catch { case e: Exception => System.err.println(s"pass $attempted failed: $e"); false }
          }
          cpuNs += Host.processCpuNs() - cpu0
          val steal = Host.stealPct(steal0, Host.cpuTicks())
          if (ok) walls += wall else failed += 1
          println(f"pass $attempted wall_s=$wall%.4f steal_pct=$steal%.2f ok=$ok")
          failures ++= w.afterPass(spark, passDir)
          Host.deleteTree(passDir)
        }
        val done = walls.size.toDouble * w.docsPerPass
        Seq(
          ("setup_s", setupS, "s"),
          ("docs_per_s", if (walls.isEmpty) 0.0 else w.docsPerPass / Stats.median(walls.toSeq), "docs/s"),
          ("cpu_ms_per_doc", Stats.ratio(cpuNs / 1e6, done), "ms/doc"),
          ("peak_rss_mb", Host.peakRssMb(), "MB"))
      } else {
        val tracer = new Tracer(spark)
        val once = w.traceOnce(spark, tracer, work)
        val rounds = collection.mutable.ArrayBuffer.empty[Map[String, Double]]
        val t0 = System.nanoTime()
        while (attempted == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
          attempted += 1
          val steal0 = Host.cpuTicks()
          try {
            val (m, guard) = tracer.span("round")(w.traceRound(spark, tracer, work))._1
            rounds += m
            failures ++= guard
          } catch { case e: Exception => failed += 1; System.err.println(s"round $attempted failed: $e") }
          println(f"round $attempted steal_pct=${Host.stealPct(steal0, Host.cpuTicks())}%.2f")
        }
        def med(n: String) = {
          val vs = rounds.flatMap(_.get(n)).toSeq
          if (vs.isEmpty) 0.0 else Stats.median(vs)
        }
        val layer = PerLayer.map { case (n, u) => (n, once.getOrElse(n, med(n)), u) }
        // counters that are no per-layer metric: the workload's own
        // operation under tracing (for the overhead), and the OCR share
        rounds.flatMap(_.keys).distinct.filter(_.startsWith("trace."))
          .foreach(n => tracer.count(n, med(n)))
        val out = Paths.get(".bench_build", "traces")
        Files.createDirectories(out)
        val file = out.resolve(s"${w.name}-seed${seed}.json")
        Files.writeString(file, tracer.toJson(w.name, seed,
          layer.map(m => m._1 -> m._2).toMap))
        println(s"trace written to $file")
        layer
      }
    // the reference checks run after the measured passes, so their
    // compiles and cache entries reach neither set-up nor the passes
    val (checked, checkS) = timed(w.check(spark))
    failures ++= checked
    System.err.println(f"phases: session_s=$sessionS%.2f input_write_s=${writes.mkString(",")} " +
      f"warmup_s=$warmS%.2f check_s=$checkS%.2f")
    val all = failures.result()
    all.foreach(f => System.err.println(s"CHECK FAILED: $f"))
    Result(all.isEmpty, attempted, failed, metrics)
  }
}
