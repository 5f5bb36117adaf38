package perfbench

import java.util.concurrent.atomic.AtomicLong

import graft.media.{OcrEngine, SimulatedOcr}
import graft.schema.OcrBox

/** OCR priced the way a Tesseract-class engine is: before delegating to
  * [[SimulatedOcr]] (so page text and boxes stay byte-identical), each
  * call spends a fixed count of deterministic CPU operations for its
  * level. The weights follow the reference engine's work per level:
  * light makes 1 recognition pass over the bottom-65% crop, premium 2
  * passes over the same crop, optimum 2 passes over the full page
  * upscaled 1.5x (2.25x the pixels). Per pixel pass that is
  * 0.65 : 1.3 : 4.5, which rounds to 1 : 2 : 7 units.
  *
  * The size of a unit is set so that OCR takes nearly all of a pass, as
  * it does behind a Tesseract-class engine: at least 90% of the task
  * time of `Pipeline.extractRows(docs, "auto")` on the benchmark's
  * input is spent inside the engine (the traced run reports it as
  * `trace.ocr_engine_share`).
  */
final class CostModelOcr(delegate: OcrEngine) extends OcrEngine {
  override def ocrPage(level: String, mediaRef: String): (String, Seq[OcrBox]) = {
    CostModelOcr.burn(CostModelOcr.opsFor(level), mediaRef.hashCode)
    delegate.ocrPage(level, mediaRef)
  }
}

object CostModelOcr {
  /** Operations in one cost unit (one light call). */
  val OpsPerUnit = 80000L
  val UnitsPerLevel: Map[String, Long] =
    Map("light" -> 1L, "premium" -> 2L, "optimum" -> 7L)

  def opsFor(level: String): Long = UnitsPerLevel.getOrElse(level, 0L) * OpsPerUnit

  /** Written once per call so the JIT cannot drop the loop. */
  @volatile private var sink = 0L

  /** `ops` rounds of xorshift64*: a serial dependency chain, so the
    * cost is the same on every call and cannot be vectorised away.
    */
  def burn(ops: Long, salt: Int): Unit = {
    var x = salt.toLong | 1L
    var i = 0L
    while (i < ops) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      x *= 0x2545F4914F6CDD1DL
      i += 1
    }
    sink = x
  }
}

/** Counts calls per level and the time spent in the delegate, then
  * delegates. The benchmark runs Spark in local mode, so the executor
  * threads share these JVM-wide counters.
  */
final class CountingOcr(delegate: OcrEngine) extends OcrEngine {
  override def ocrPage(level: String, mediaRef: String): (String, Seq[OcrBox]) = {
    CountingOcr.counter(level).incrementAndGet()
    val t0 = System.nanoTime()
    try delegate.ocrPage(level, mediaRef)
    finally CountingOcr.engineNs.addAndGet(System.nanoTime() - t0)
  }
}

object CountingOcr {
  val Levels = Seq("light", "premium", "optimum")
  private val counters = Levels.map(_ -> new AtomicLong).toMap
  private val other = new AtomicLong
  /** Time inside the delegate, summed over the threads that called it. */
  private val engineNs = new AtomicLong

  def counter(level: String): AtomicLong = counters.getOrElse(level, other)
  def reset(): Unit = { counters.values.foreach(_.set(0L)); other.set(0L); engineNs.set(0L) }
  def snapshot(): Map[String, Long] =
    counters.map { case (k, v) => k -> v.get } + ("other" -> other.get)
  def engineSeconds(): Double = engineNs.get / 1e9
}
