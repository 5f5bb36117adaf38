package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.corpus.Corpus

/** One output span as the pipeline emits it. */
final case class OutSpan(docId: String, kind: String, text: String,
    mediaRef: String, order: Int)

/** Output checks. Each returns the failures it found, empty when the
  * output is right; a check never compares against a stored copy of the
  * program's own output.
  */
object Checks {

  def spans(df: DataFrame): Seq[OutSpan] =
    df.select(col("doc_id"), col("kind"), col("text"), col("media_ref"),
      col("order").cast("int")).collect().toSeq
      .map(r => OutSpan(r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getInt(4)))

  private def sameSpans(what: String, got: Seq[OutSpan], want: Seq[OutSpan]): Seq[String] = {
    val g = got.toSet
    val w = want.toSet
    if (got.size == want.size && g == w) Nil
    else Seq(s"$what: ${got.size} spans, want ${want.size}; " +
      s"missing ${(w -- g).take(3).mkString(", ")}; extra ${(g -- w).take(3).mkString(", ")}")
  }

  /** The 200-document fixture corpus through whatever OCR engine is
    * installed, in `mode`, must equal the spans the reference parser
    * produced: `fixtures/expected_auto_spans.parquet` for auto mode, the
    * light entries of `fixtures/golden.json` for light mode.
    */
  def fixtures(spark: SparkSession, mode: String): Seq[String] = {
    val want = mode match {
      case "auto" => spark.read.parquet("fixtures/expected_auto_spans.parquet")
      case "light" => spark.read.option("multiLine", true).json("fixtures/golden.json")
        .filter(col("mode") === "light")
        .select(col("doc_id"), explode(col("spans")).as("s"))
        .select(col("doc_id"), col("s.kind"), col("s.text"), col("s.media_ref"),
          col("s.order"))
    }
    sameSpans(s"fixture $mode spans",
      spans(Pipeline.extractRows(Corpus.generate(spark, 200), mode)), spans(want))
  }

  /** What the generator planted, checked over every input document:
    *  - one span sequence per document, orders 0..n-1, opening with the
    *    `TSH` marker;
    *  - every unreadable document, and no other, fails with OCR_FAILED;
    *  - every readable family-12 document (no TSH line) ends in
    *    TSH_NOT_FOUND;
    *  - a readable family-0/2 document yields `Corpus.tshValue` with the
    *    0.27-4.2 range whenever its TSH line reaches the parser (always
    *    in auto mode, see [[tshVisible]] for light mode), and yields no
    *    value at all when it does not.
    */
  def planted(docs: Seq[PlantedDoc], out: Seq[OutSpan], mode: String): Seq[String] = {
    val byDoc = out.groupBy(_.docId)
    val bad = Seq.newBuilder[String]
    val extra = byDoc.keySet -- docs.map(_.row.doc_id)
    if (extra.nonEmpty) bad += s"spans for unknown docs ${extra.take(3)}"
    docs.foreach { d =>
      val i = d.index
      val id = d.row.doc_id
      byDoc.get(id) match {
        case None => bad += s"$id: no spans"
        case Some(ss) =>
          val seq = ss.sortBy(_.order)
          def text(kind: String) = seq.find(_.kind == kind).map(_.text)
          if (seq.map(_.order) != seq.indices)
            bad += s"$id: span orders ${seq.map(_.order)}"
          else if (seq.head.kind != "marker" || seq.head.text != "TSH")
            bad += s"$id: opens with ${seq.head}"
          val err = text("error")
          if (Corpus.isUnreadable(i) != err.contains("OCR_FAILED"))
            bad += s"$id: unreadable=${Corpus.isUnreadable(i)} but error $err"
          if (!Corpus.isUnreadable(i)) Corpus.family(i) match {
            case 12 if !err.contains("TSH_NOT_FOUND") =>
              bad += s"$id: family 12 ends in $err"
            case 0 | 2 =>
              val got = (text("value"), text("ref_min"), text("ref_max"))
              val want = (Some(Corpus.tshValue(i).toString), Some("0.27"), Some("4.2"))
              val expect = if (mode == "auto" || tshVisible(d, mode)) want else (None, None, None)
              if (got != expect)
                bad += s"$id: family ${Corpus.family(i)} yields $got, want $expect"
            case _ =>
          }
      }
    }
    bad.result()
  }

  /** Whether a family-0/2 document's TSH line reaches the parser when
    * every page is read at `level`: always from a text span; from a page
    * only if the level's view of it keeps the line. Light and premium
    * see the bottom-65% crop, and a hard document's page hides the line
    * from both.
    */
  def tshVisible(d: PlantedDoc, level: String): Boolean = {
    val line = Corpus.tshLines(d.index, level).toSet
    d.row.spans.exists { s =>
      if (s.kind == "text") s.text.split("\n").exists(line)
      else {
        val (i, k, carrier) = Corpus.parseMediaRef(s.media_ref)
        val page = Corpus.pageLines(i, k, level, carrier)
        (if (level == "optimum") page else Corpus.crop(page)).exists(line)
      }
    }
  }
}
