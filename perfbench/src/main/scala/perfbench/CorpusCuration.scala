package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Curation, Dedup, TextAnalysis}
import graft.sources.DocIO

/** The end-to-end corpus curation composition, one pipeline run per op:
  * JSONL landing (plus one malformed line) → permissive ingest + audit →
  * exact dedup → near-duplicate clusters keep-best → quality gate → PII
  * scrub → token-budget packing → sharded JSONL out, read back. Each
  * stage is pinned and materialized inside its own span, so its time
  * and Spark work land on its layer. */
final class CorpusCuration extends Workload {
  private val NBase = 1200
  private val NExactGroups = 30
  private val NNearClusters = 30
  private val Budget = 512L
  // language profiles of the quality/language scorer (only the quality
  // score gates here; the language columns ride along)
  private val Profiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das"),
    "en" -> Seq("the", "a", "and", "of"),
    "es" -> Seq("el", "la", "los", "y"),
    "fr" -> Seq("le", "les", "des", "et"))

  private val rawSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))
  private val outSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("source", StringType),
    StructField("clean_text", StringType), StructField("n_tokens", LongType),
    StructField("shard", LongType)))

  private var docs: Gen.Docs = _
  private var inputDir: Path = _
  private var spark: SparkSession = _
  private var t: Tracer = _
  private var st: Stats = _
  private var work: Path = _
  private var raw: DataFrame = _

  def generate(dir: Path, seed: Long): Unit = {
    inputDir = dir
    docs = Gen.docs(dir, seed, NBase, NExactGroups, NNearClusters)
  }

  def prepare(spark: SparkSession, t: Tracer, st: Stats, work: Path): Unit = {
    this.spark = spark; this.t = t; this.st = st; this.work = work
    raw = DocIO.readJsonl(spark, inputDir.resolve("docs.jsonl").toString, rawSchema)
      .filter(col("_corrupt_record").isNull).drop("_corrupt_record").cache()
    require(raw.count() == docs.ids.size, "generated corpus did not load whole")
  }

  /** The pipeline's first stages (landing, ingest audit, exact dedup)
    * on a slice of the corpus: short, since set-up runs three times a
    * run. */
  def warmUp(): Unit = {
    val landing = work.resolve("warm-landing").toString
    DocIO.writeJsonl(raw.filter(col("doc_id") <= 300), landing, shards = 4)
    val parsed = DocIO.readJsonl(spark, landing, rawSchema)
    DocIO.ingestAudit(parsed)
    Dedup.dropExactDuplicates(parsed.filter(col("_corrupt_record").isNull), "doc_id", Seq("text"))
      .write.format("noop").mode("overwrite").save()
  }

  def opsPerRound: Int = 1

  /** Pins a stage's output and materializes it. */
  private def stage(df: DataFrame): (DataFrame, Long) = {
    val p = Dedup.pin(df); (p, p.count())
  }

  def op(i: Int): OpResult = {
    val (nClean, nCorrupt, back) = pipeline(raw)
    OpResult(docs.ids.size, () => {
      st.add("sources.bytes_written", Io.dirBytes(work.resolve("corpus")))
      checks(nClean, nCorrupt, back)
    })
  }

  /** One pipeline run over `input`: the audit's (clean, corrupt) line
    * counts and the packed output as read back. */
  private def pipeline(input: DataFrame)
      : (Long, Long, Array[(Long, String, String, Long, Long)]) = {
    val base = work.resolve("corpus")
    val landing = base.resolve("landing").toString
    val out = base.resolve("out").toString
    try {
      t.span("sources.write") { DocIO.writeJsonl(input, landing, shards = 4) }
      Files.copy(docs.poison, base.resolve("landing").resolve("part-poison.txt"),
        StandardCopyOption.REPLACE_EXISTING)
      val parsed = DocIO.readJsonl(spark, landing, rawSchema)
      val (nClean, nCorrupt) = t.span("sources.read") { DocIO.ingestAudit(parsed) }
      val clean = parsed.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
      val (exact, nExact) = t.span("dedup.exact") {
        stage(Dedup.dropExactDuplicates(clean, "doc_id", Seq("text")))
      }
      t.span("functions.minhash") {
        exact.select(Dedup.minhashSignatureOf(col("text"), 3, 16, parity = true).as("sig"))
          .write.format("noop").mode("overwrite").save()
      }
      st.add("functions.minhash.rows", nExact)
      val best = t.span("dedup.neardup") {
        stage(Dedup.dropNearDupClustersKeepBest(exact, "doc_id", "text", scoreCol = "n_chars",
          n = 3, h = 16, b = 8, minSim = 0.5, parity = true, maxBucket = 50))._1
      }
      val (gated, _) = t.span("text.gate") {
        stage(TextAnalysis.curationScores(best, "text", Profiles).filter(col("quality") >= 0.75))
      }
      val (scrubbed, _) = t.span("text.scrub") {
        stage(TextAnalysis.scrubPii(gated, "doc_id", "text")
          .join(gated.select("doc_id", "source"), Seq("doc_id")))
      }
      val (packed, _) = t.span("curation.pack") {
        stage(Curation.packByTokenBudget(
          scrubbed.select(col("doc_id"), col("source"), col("clean_text")),
          "source", "doc_id", "clean_text", Budget))
      }
      t.span("sources.write") {
        DocIO.writeJsonl(packed.select("doc_id", "source", "clean_text", "n_tokens", "shard"),
          out, shards = 4)
      }
      val back = t.span("sources.read") {
        DocIO.readJsonl(spark, out, outSchema).filter(col("_corrupt_record").isNull)
          .drop("_corrupt_record").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
      }
      (nClean, nCorrupt, back)
    } finally Dedup.releaseCaches()
  }

  private def checks(nClean: Long, nCorrupt: Long,
                     back: Array[(Long, String, String, Long, Long)]): Seq[String] = {
    val bad = Seq.newBuilder[String]
    if (nCorrupt != 1L) bad += s"ingest audit reports $nCorrupt corrupt lines, want 1"
    if (nClean != docs.ids.size) bad += s"ingest audit reports $nClean clean lines, want ${docs.ids.size}"
    if (back.isEmpty) bad += "no documents survived the pipeline"
    val texts = back.map(_._3)
    val leaked = docs.pii.count(p => texts.exists(_.contains(p)))
    if (leaked > 0) bad += s"$leaked planted PII strings survive in the output"
    if (texts.distinct.length != texts.length)
      bad += s"${texts.length - texts.distinct.length} output texts are duplicates"
    val ids = back.map(_._1).toSet
    if (ids.size != back.length) bad += "an output id appears twice"
    if (!ids.subsetOf(docs.ids)) bad += "an output id is not an input id"
    val multi = docs.exactGroups.count(g => g.count(ids) > 1)
    if (multi > 0) bad += s"$multi planted exact-duplicate groups keep more than one document"
    if (back.exists(r => r._4 != r._3.split(" ", -1).length))
      bad += "n_tokens differs from the token count of the packed text"
    // spill-over packing, replayed: a doc's shard is the tokens before it
    // in its source (id order) div the budget; so every pack fits the
    // budget except for the document it ends with, which may cross it
    back.groupBy(_._2).foreach { case (src, rs) =>
      var cum = 0L
      rs.sortBy(_._1).foreach { r =>
        if (r._5 != cum / Budget) bad += s"$src doc ${r._1}: shard ${r._5}, replay ${cum / Budget}"
        cum += r._4
      }
      rs.groupBy(_._5).foreach { case (sh, pack) =>
        val s = pack.sortBy(_._1)
        if (s.init.map(_._4).sum >= Budget)
          bad += s"$src pack $sh: ${s.init.map(_._4).sum} tokens before its last document"
      }
    }
    bad.result().distinct.take(20)
  }

  override def audit(): Unit = {
    // LSH candidate pairs vs verified pairs at the pipeline's settings:
    // the near-dup stage's useful-outcome ratio
    val exact = Dedup.pin(Dedup.dropExactDuplicates(raw, "doc_id", Seq("text")))
    def pairs(minSim: Double) = Dedup.nearDuplicates(exact, "doc_id", "text", n = 3, h = 16,
      b = 8, minSim = minSim, parity = true, maxBucket = 50).count()
    st.add("dedup.candidate_pairs", pairs(0.0))
    st.add("dedup.verified_pairs", pairs(0.5))
    Dedup.releaseCaches()
  }

  def release(): Unit = { Dedup.releaseCaches(); spark.catalog.clearCache() }
}
