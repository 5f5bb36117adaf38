package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Pipeline, SparkEntry}
import graft.analysis.TextOps
import graft.corpus.Corpus
import graft.io.ExtractJob
import graft.media.{OcrEngine, OcrEnginePool, SimulatedOcr}
import graft.schema.DocRow

/** One benchmark workload: an input built from the seed, one timed
  * operation (a pass), the output checks, and a traced round that
  * measures its layers.
  */
trait Workload {
  def name: String
  /** Input documents one pass processes. */
  def docsPerPass: Long
  /** The OCR engine the run installs, if not the program's default. */
  def engine(traced: Boolean): Option[OcrEngine] = None
  /** Writes the input tables under `dir` (set-up, repeated). */
  def writeInput(spark: SparkSession, dir: Path): Unit
  /** Opens the tables written under `dir` for the passes. */
  def open(spark: SparkSession, dir: Path): Unit
  /** One timed operation; `work` is a fresh directory it may write to. */
  def pass(spark: SparkSession, work: Path): Unit
  /** Untimed, after each pass: checks that ride on every pass. */
  def afterPass(spark: SparkSession, work: Path): Seq[String] = Nil
  /** The warm-up pass of set-up: the same operation, with its output
    * collected and checked against what the generator planted.
    */
  def warmup(spark: SparkSession, work: Path): Seq[String]
  /** Checks against the reference-derived fixtures, run once after the
    * measured passes.
    */
  def check(spark: SparkSession): Seq[String]
  /** Once per traced run, before its rounds. */
  def traceOnce(spark: SparkSession, t: Tracer, work: Path): Map[String, Double] = Map.empty
  /** One traced round: the calls into each layer, under spans. Returns
    * this round's per-layer values and the failures of its guards.
    */
  def traceRound(spark: SparkSession, t: Tracer, work: Path): (Map[String, Double], Seq[String])
}

object Workloads {
  def apply(name: String, seed: Long): Workload = name match {
    case "extract_auto_costed" => new ExtractAutoCosted(seed)
    case "extract_job_light" => new ExtractJobLight(seed)
    case "curate_release" => new CurateRelease(seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def mb(bytes: Double): Double = bytes / (1024.0 * 1024.0)
}

import Workloads.{mb, noop}

/** Shared by both extraction workloads: the skewed report table and the
  * nested prefix passes that split a pass into layers
  * (scan -> OCR -> results -> span rows).
  */
abstract class ExtractWorkload(seed: Long) extends Workload {
  val InputFiles = 16
  /** 990 ordinary reports and 10 oversized ones. */
  lazy val planted: Seq[PlantedDoc] = ExtractInput.docs(seed, 990)
  lazy val pages: Long = planted.map(_.pages.toLong).sum
  def docsPerPass: Long = planted.size.toLong
  protected var docs: Dataset[DocRow] = _

  def writeInput(spark: SparkSession, dir: Path): Unit =
    ExtractInput.write(spark, planted, dir.resolve("docs").toString, InputFiles)

  def open(spark: SparkSession, dir: Path): Unit = {
    import spark.implicits._
    docs = spark.read.parquet(dir.resolve("docs").toString).as[DocRow]
  }

  /** Times the prefix chain for `mode`; the last call's listener
    * statistics describe the pipeline layer.
    */
  protected def prefixes(t: Tracer, mode: String): (Map[String, Double], Map[String, Double], Double) = {
    val (_, scan, _) = t.span("pipeline.scan")(noop(docs.toDF()))
    val ocr = mode match {
      case "auto" => Pipeline.ocrAll(docs).toDF()
      case level => Pipeline.ocrLevel(docs, level).toDF()
    }
    val (_, ocrS, _) = t.span("media.ocr")(noop(ocr))
    val (_, resS, _) = t.span("extract.results")(noop(Pipeline.results(docs, mode)))
    val gc0 = Host.gcSeconds()
    CountingOcr.reset()
    val (_, rowsS, st) = t.span("extract.rows")(noop(Pipeline.extractRows(docs, mode)))
    val calls = CountingOcr.snapshot().map { case (k, v) => k -> v.toDouble }
    (Map(
      // the share of the call's task time spent inside the OCR engine
      "trace.ocr_engine_share" -> Stats.ratio(CountingOcr.engineSeconds(), st.taskSeconds),
      "pipeline.scan_s" -> scan,
      "pipeline.stages" -> st.stages.toDouble,
      "pipeline.tasks" -> st.tasks.toDouble,
      "pipeline.shuffle_write_mb" -> mb(st.shuffleWriteBytes.toDouble),
      "pipeline.task_skew" -> st.mainStageSkew,
      "pipeline.busy_share" -> Stats.ratio(st.taskSeconds, rowsS * t.cores),
      "pipeline.gc_s" -> (Host.gcSeconds() - gc0),
      "media.ocr_self_s" -> (ocrS - scan),
      "extract.parse_self_s" -> (resS - ocrS),
      "extract.assemble_self_s" -> (rowsS - resS)), calls, rowsS)
  }

  /** Calls per level counted during one call must equal the pages times
    * the levels that call has to OCR; fewer means a layer was skipped.
    */
  protected def callGuard(what: String, got: Map[String, Double],
      want: Map[String, Long]): Seq[String] =
    CountingOcr.Levels.flatMap { l =>
      val g = got.getOrElse(l, 0.0).toLong
      val w = want.getOrElse(l, 0L)
      if (g == w) None else Some(s"$what: $g $l OCR calls, want $w")
    }

  protected def callMetrics(calls: Map[String, Double]): Map[String, Double] = {
    val total = CountingOcr.Levels.map(l => calls.getOrElse(l, 0.0)).sum
    CountingOcr.Levels.map(l => s"media.ocr_calls_$l" -> calls.getOrElse(l, 0.0)).toMap +
      ("media.ocr_calls_per_doc" -> total / docsPerPass)
  }
}

/** `Pipeline.extractRows(docs, "auto")` into the noop sink with OCR
  * priced by [[CostModelOcr]]: the production profile, where OCR work
  * decides throughput.
  */
final class ExtractAutoCosted(seed: Long) extends ExtractWorkload(seed) {
  val name = "extract_auto_costed"
  private var neededCalls = 0L

  override def engine(traced: Boolean): Option[OcrEngine] = {
    val costed = new CostModelOcr(SimulatedOcr)
    Some(if (traced) new CountingOcr(costed) else costed)
  }

  def pass(spark: SparkSession, work: Path): Unit =
    noop(Pipeline.extractRows(docs, "auto"))

  def warmup(spark: SparkSession, work: Path): Seq[String] =
    Checks.planted(planted, Checks.spans(Pipeline.extractRows(docs, "auto")), "auto")

  def check(spark: SparkSession): Seq[String] = Checks.fixtures(spark, "auto")

  /** The calls a cascade that stops at each document's deciding level
    * must make: pages x levels up to that level, with the level as
    * `Pipeline.levelMix` decides it, summed per page-count group.
    */
  override def traceOnce(spark: SparkSession, t: Tracer, work: Path): Map[String, Double] = {
    import spark.implicits._
    val depth = Map("light" -> 1L, "premium" -> 2L, "optimum" -> 3L, "failed" -> 3L)
    // the deciding level depends on page text only, which the costed
    // engine returns unchanged: run the mix on the uncosted engine
    OcrEnginePool.install(() => SimulatedOcr)
    val (needed, _, _) =
      try t.span("media.level_mix") {
        planted.map(_.pages).distinct.filter(_ > 0).map { p =>
          val group = docs.filter(size(filter(col("spans"), s => s("kind") === "media")) === p)
          Pipeline.levelMix(group).as[(String, Long)].collect()
            .map { case (level, n) => p * n * depth(level) }.sum
        }.sum
      } finally engine(traced = true).foreach(e => OcrEnginePool.install(() => e))
    neededCalls = needed
    t.count("media.needed_calls", needed.toDouble)
    Map.empty
  }

  def traceRound(spark: SparkSession, t: Tracer, work: Path): (Map[String, Double], Seq[String]) = {
    val (m, calls, rowsS) = prefixes(t, "auto")
    val guard = callGuard("extractRows(auto)", calls, CountingOcr.Levels.map(_ -> pages).toMap) ++
      (if (m("pipeline.shuffle_write_mb") != 0.0)
        Seq(s"extractRows wrote ${m("pipeline.shuffle_write_mb")} MB of shuffle") else Nil)
    val made = calls.values.sum
    (m ++ callMetrics(calls) + ("media.useful_call_ratio" -> Stats.ratio(neededCalls, made)) +
      ("trace.pass_s" -> rowsS), guard)
  }
}

/** `ExtractJob.run(mode = "light")` with the stock simulated OCR into a
  * fresh output directory per pass: one OCR call per page and no
  * cascade, so parse, the page-explode shuffle of oversized reports and
  * the bucket write / audit commit carry the work.
  */
final class ExtractJobLight(seed: Long) extends ExtractWorkload(seed) {
  val name = "extract_job_light"
  val Buckets = 2
  private val RunId = "bench"
  private var lastAudit: Seq[ExtractJob.AuditRecord] = Nil

  override def engine(traced: Boolean): Option[OcrEngine] =
    if (traced) Some(new CountingOcr(SimulatedOcr)) else None

  private def runJob(spark: SparkSession, out: Path): Seq[ExtractJob.AuditRecord] =
    ExtractJob.run(spark, docs, "light", out.toString, RunId, buckets = Buckets)

  def pass(spark: SparkSession, work: Path): Unit =
    lastAudit = runJob(spark, work.resolve("job"))

  /** Every bucket committed, and the audit counts add up to the input. */
  override def afterPass(spark: SparkSession, work: Path): Seq[String] =
    auditChecks(work.resolve("job"), lastAudit)

  private lazy val unreadable = planted.count(d => Corpus.isUnreadable(d.index)).toLong
  /** Readable family-0/2 documents whose TSH line light OCR can see:
    * each must count as ok, other families may add to it.
    */
  private lazy val visibleTsh = planted.count { d =>
    !Corpus.isUnreadable(d.index) && Set(0, 2)(Corpus.family(d.index)) &&
      Checks.tshVisible(d, "light")
  }.toLong

  private def auditChecks(out: Path, recs: Seq[ExtractJob.AuditRecord]): Seq[String] = {
    val committed = ExtractJob.committedBuckets(out.toString, RunId)
    val ok = recs.map(_.n_ok).sum
    Seq(
      (committed == (0 until Buckets).toSet) -> s"committed buckets $committed",
      (recs.map(_.bucket).sorted == (0 until Buckets)) -> s"audit records for ${recs.map(_.bucket)}",
      (recs.map(_.n_docs).sum == docsPerPass) -> s"audit n_docs ${recs.map(_.n_docs).sum}",
      (recs.map(_.n_ocr_failed).sum == unreadable) ->
        s"audit n_ocr_failed ${recs.map(_.n_ocr_failed).sum}, want $unreadable",
      (ok >= visibleTsh) -> s"audit n_ok $ok, below the $visibleTsh planted visible values")
      .collect { case (false, msg) => s"extract job: $msg" }
  }

  def warmup(spark: SparkSession, work: Path): Seq[String] = {
    val out = work.resolve("warmup")
    val recs = runJob(spark, out)
    val rows = ExtractJob.readResults(spark, out.toString)
      .select(col("doc_id"), explode_outer(col("spans")).as("s"))
      .select(col("doc_id"), col("s.kind"), col("s.text"), col("s.media_ref"), col("s.order"))
    val spans = Checks.spans(rows)
    val withValue = spans.filter(_.kind == "value").map(_.docId).distinct.size.toLong
    val bad = auditChecks(out, recs) ++ Checks.planted(planted, spans, "light") ++
      (if (recs.map(_.n_ok).sum == withValue) Nil
       else Seq(s"extract job: audit n_ok ${recs.map(_.n_ok).sum}, output has $withValue docs with a value"))
    Host.deleteTree(out)
    bad
  }

  def check(spark: SparkSession): Seq[String] = Checks.fixtures(spark, "light")

  def traceRound(spark: SparkSession, t: Tracer, work: Path): (Map[String, Double], Seq[String]) = {
    val (m, rowCalls, _) = prefixes(t, "light")
    CountingOcr.reset()
    val out = work.resolve("job")
    val (recs, jobS, st) = t.span("io.extract_job")(runJob(spark, out))
    val calls = CountingOcr.snapshot().map { case (k, v) => k -> v.toDouble }
    val guard = callGuard("extractRows(light)", rowCalls, Map("light" -> pages)) ++
      callGuard("ExtractJob(light)", calls, Map("light" -> pages)) ++
      auditChecks(out, recs)
    Host.deleteTree(out)
    val walls = recs.map(_.wall_ms / 1000.0)
    def jobSeconds(p: String => Boolean) = st.jobs.filter(j => p(j.callSite)).map(_.seconds).sum
    val io = Map(
      "io.jobs_per_bucket" -> st.jobs.size.toDouble / Buckets,
      "io.write_s" -> jobSeconds(_.startsWith("save at")),
      "io.audit_read_s" -> jobSeconds(s => s.startsWith("load at") || s.contains("ExtractJob")),
      "io.bucket_wall_p50_s" -> (if (walls.isEmpty) 0.0 else Stats.median(walls)),
      "io.bucket_wall_max_s" -> (if (walls.isEmpty) 0.0 else walls.max),
      "io.bytes_written_mb" -> mb(st.bytesWritten.toDouble),
      "io.shuffle_write_mb" -> mb(st.shuffleWriteBytes.toDouble))
    val useful = Stats.ratio(pages.toDouble, calls.values.sum)
    (m ++ io ++ callMetrics(calls) + ("media.useful_call_ratio" -> useful) +
      ("trace.pass_s" -> jobS), guard)
  }
}

/** `TextOps.release` with its defaults (in-memory barriers) over a
  * generated crawl with a clone cluster, a drift chain, 500 sources and
  * a binding per-source quota; shards and report into the noop sink.
  * No OCR at all.
  */
final class CurateRelease(seed: Long) extends Workload {
  val name = "curate_release"
  val input = ReleaseInput(n = 2000, clones = 200, chain = 100, sources = 500,
    benchEvery = 100)
  val MaxPerSource = 3
  def docsPerPass: Long = input.n
  private var corpus: DataFrame = _
  private var bench: DataFrame = _

  def writeInput(spark: SparkSession, dir: Path): Unit = {
    val c = input.corpus(spark, seed, 8)
    c.write.mode("error").parquet(dir.resolve("corpus").toString)
    c.filter(input.isBench(seed, col("doc_id"))).select(col("doc_id"), col("text"))
      .write.mode("error").parquet(dir.resolve("bench").toString)
  }

  def open(spark: SparkSession, dir: Path): Unit = {
    corpus = spark.read.parquet(dir.resolve("corpus").toString)
    bench = spark.read.parquet(dir.resolve("bench").toString)
  }

  private def release(): TextOps.ReleaseResult =
    TextOps.release(corpus, col("doc_id"), col("text"), col("source"),
      bench.select(col("text")), col("text"), maxPerSource = MaxPerSource)

  def pass(spark: SparkSession, work: Path): Unit = {
    val r = release()
    noop(r.shards)
    noop(r.report)
  }

  override def afterPass(spark: SparkSession, work: Path): Seq[String] = {
    spark.catalog.clearCache()
    Nil
  }

  def warmup(spark: SparkSession, work: Path): Seq[String] = {
    val r = release()
    val shards = r.shards.select(col("doc_id"), col("source"), col("split")).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getString(2))).toSeq
    val ids = shards.map(_._1)
    val inputIds = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    val benchIds = bench.select("doc_id").collect().map(_.getLong(0)).toSet
    val perSource = shards.groupBy(_._2).values.map(_.size)
    val leaks = TextOps.splitLeakage(r.shards, r.nearPairs).count()
    spark.catalog.clearCache()
    Seq(
      (ids.count(_ < input.clones) == 1) ->
        s"${ids.count(_ < input.clones)} clone-cluster docs survive, want 1",
      benchIds.intersect(ids.toSet).isEmpty ->
        s"benchmark docs reach a shard: ${benchIds.intersect(ids.toSet).take(3)}",
      (perSource.max <= MaxPerSource) -> s"a source keeps ${perSource.max} > $MaxPerSource",
      (perSource.max == MaxPerSource) -> s"quota never binds (max ${perSource.max})",
      (ids.distinct.size == ids.size) -> "duplicate shard ids",
      ids.forall(inputIds) -> "shard ids outside the input",
      (leaks == 0) -> s"$leaks near-dup pairs straddle splits")
      .collect { case (false, msg) => s"release: $msg" }
  }

  /** q64_release over sf0.01 against the independent Python mirror's
    * composition (fixtures/expected_release.parquet).
    */
  def check(spark: SparkSession): Seq[String] = {
    def rows(df: DataFrame) = df.select(col("doc_id").cast("long"), col("source"),
      col("n_tokens").cast("int"), col("split")).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getInt(2), x.getString(3))).toSeq
    val got = rows(SparkEntry.queries("q64_release")(spark, "perfbench/data/sf0.01"))
    spark.catalog.clearCache()
    val want = rows(spark.read.parquet("fixtures/expected_release.parquet"))
    if (got.sorted == want.sorted) Nil
    else Seq(s"q64_release: ${got.size} rows, want ${want.size}; " +
      s"missing ${(want.toSet -- got).take(3)}, extra ${(got.toSet -- want).take(3)}")
  }

  private def storageMb(spark: SparkSession): Double =
    mb(spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble)

  /** LSH candidates versus accepted pairs over the release's own
    * near-dup input: the curation keepers before any near-dup drop
    * (curate with an unreachable Jaccard bound), joined back to their
    * text, paired at Jaccard >= 0 (every band collision) and at the
    * release's 0.5.
    */
  override def traceOnce(spark: SparkSession, t: Tracer, work: Path): Map[String, Double] = {
    val (pairs, _, _) = t.span("analysis.lsh_pairs") {
      val keepers = TextOps.curate(corpus.select("doc_id", "text", "source"),
        col("doc_id"), col("text"), minJaccard = 1.01, extra = Seq("source")).kept
      val withText = corpus.join(keepers.select("doc_id"), Seq("doc_id"), "left_semi")
      def n(j: Double) = TextOps.minhashDupPairs(withText, col("doc_id"), col("text"),
        minJaccard = j).count()
      val r = (n(0.0), n(0.5))
      spark.catalog.clearCache()
      r
    }
    Map("analysis.lsh_candidate_pairs" -> pairs._1.toDouble,
      "analysis.lsh_pairs_accepted" -> pairs._2.toDouble,
      "analysis.lsh_accept_ratio" -> Stats.ratio(pairs._2.toDouble, pairs._1.toDouble))
  }

  def traceRound(spark: SparkSession, t: Tracer, work: Path): (Map[String, Double], Seq[String]) = {
    val (_, curateS, _) = t.span("analysis.curate") {
      noop(TextOps.curate(corpus.select("doc_id", "text", "source"), col("doc_id"),
        col("text"), extra = Seq("source")).kept)
    }
    spark.catalog.clearCache()
    // storage other callers (the q64 check) left behind is not the release's
    val before = storageMb(spark)
    val (r, barrierS, st1) = t.span("analysis.release")(release())
    val barrier = storageMb(spark) - before
    val (_, tailS, st2) = t.span("analysis.release_tail") { noop(r.shards); noop(r.report) }
    val salted = r.hotBuckets.count()
    spark.catalog.clearCache()
    val left = storageMb(spark) - before
    (Map(
      "trace.pass_s" -> (barrierS + tailS),
      "analysis.curate_s" -> curateS,
      "analysis.release_barriers_s" -> barrierS,
      "analysis.release_tail_s" -> tailS,
      "analysis.barrier_mb" -> barrier,
      "analysis.storage_left_mb" -> left,
      "analysis.salted_buckets" -> salted.toDouble,
      "analysis.shuffle_write_mb" -> mb((st1.shuffleWriteBytes + st2.shuffleWriteBytes).toDouble),
      "analysis.spill_mb" -> mb((st1.spillBytes + st2.spillBytes).toDouble)), Nil)
  }
}
