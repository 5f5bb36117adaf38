package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.Corpus
import graft.schema.DocRow

/** One input document with the facts the generator planted in it. */
final case class PlantedDoc(row: DocRow, index: Long, pages: Int)

/** The skewed lab-report table both extraction workloads read.
  *
  * `Corpus.doc` is a pure function of (seed 42, doc index); the workload
  * seed only picks which indices go in. `nNormal` consecutive indices
  * from a seed-dependent start are rendered as ordinary reports, and
  * `nNormal / 99` oversized 50-200-page reports (1% of the table) are
  * added from the indices that follow. The oversized ones are drawn one
  * per page-count stratum, so their total page count, which decides
  * most of a pass's OCR work, hardly moves from seed to seed.
  */
object ExtractInput {
  val MinOversized = 50
  val MaxOversized = 200

  def mediaPages(d: DocRow): Int = d.spans.count(_.kind == "media")

  def docs(seed: Long, nNormal: Int): Seq[PlantedDoc] = {
    val start = 1000L + java.lang.Math.floorMod(seed, 9000L) * 10000L
    val normal = (0 until nNormal).map { k =>
      val d = Corpus.doc(start + k)
      PlantedDoc(d, start + k, mediaPages(d))
    }
    val strata = math.max(1, nNormal / 99)
    val width = (MaxOversized - MinOversized + 1).toDouble / strata
    val picked = new Array[PlantedDoc](strata)
    var j = start + nNormal
    var filled = 0
    while (filled < strata) {
      require(j < start + nNormal + 100L * 1000 * strata,
        s"no oversized document for every stratum after index ${start + nNormal}")
      val d = Corpus.doc(j, skew = true)
      val p = mediaPages(d)
      if (p >= MinOversized) {
        val q = ((p - MinOversized) / width).toInt
        if (picked(q) == null) { picked(q) = PlantedDoc(d, j, p); filled += 1 }
      }
      j += 1
    }
    normal ++ picked
  }

  /** Writes the table as `files` parquet files, oversized reports spread
    * round-robin over them.
    */
  def write(spark: SparkSession, docs: Seq[PlantedDoc], path: String, files: Int): Unit = {
    import spark.implicits._
    spark.createDataset(docs.map(_.row)).repartition(files)
      .write.mode("error").parquet(path)
  }
}

/** A web-style crawl for the corpus release, built from one pseudo-word
  * stream per seed (the seed is folded into every word hash):
  *  - ids [0, clones): one identical-text clone cluster of 70 words,
  *    longer than any other page, so its keeper always fits its
  *    source's quota;
  *  - ids [clones, clones + chain): a drift chain, doc j being a 50-word
  *    window one word further along the stream than doc j-1, so
  *    neighbours are near-duplicates;
  *  - the rest: background pages of 40-69 words from disjoint stream
  *    windows;
  *  - `sources` sources assigned by hash of the id;
  *  - the benchmark (eval) set: every background page whose id hashes
  *    into 1 of `benchEvery` slots, i.e. a sample of the corpus itself.
  * Every page passes the release's hygiene gates: one word in five is
  * an English stopword.
  */
final case class ReleaseInput(n: Long, clones: Long, chain: Long,
    sources: Int, benchEvery: Int) {

  private def word(seed: Long, t: Column): Column = {
    val markers = array(Seq("the", "and", "of", "is", "was").map(lit): _*)
    when(pmod(t, lit(5)) === 0,
      element_at(markers, (pmod(xxhash64(lit(seed), lit(1), t), lit(5)) + 1).cast("int")))
      .otherwise(concat(lit("w"), pmod(xxhash64(lit(seed), lit(2), t), lit(100000))))
  }

  private def window(seed: Long, base: Column, len: Column): Column =
    concat_ws(" ", transform(sequence(lit(0), len - 1), k => word(seed, base + k)))

  def isBench(seed: Long, id: Column): Column =
    id >= clones + chain && pmod(xxhash64(lit(seed), lit(4), id), lit(benchEvery)) === 0

  def corpus(spark: SparkSession, seed: Long, partitions: Int): DataFrame = {
    val id = col("id")
    spark.range(0, n, 1, partitions).select(id.as("doc_id"),
      when(id < clones, window(seed, lit(10000000000L), lit(70)))
        .when(id < clones + chain, window(seed, id - clones, lit(50)))
        .otherwise(window(seed, (id + 1000) * 100,
          pmod(xxhash64(lit(seed), lit(5), id), lit(30)) + 40)).as("text"),
      concat(lit("s"), pmod(xxhash64(lit(seed), lit(3), id), lit(sources))).as("source"))
  }
}
