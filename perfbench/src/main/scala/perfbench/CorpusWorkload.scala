package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, round}

import graft.ops.{Curate, Dedup, Text}

/** `corpus_build`: `Curate.buildCorpus` over a seeded document corpus
  * with known near-duplicates, benchmark-contaminated and garbled
  * documents injected. After two warm-up builds, the batch job runs
  * `steps` times on the same corpus. Op = one build, unit = one document. */
final class CorpusWorkload(spark: SparkSession, seed: Long) extends Workload {
  val Docs = 250

  private var corpus: Gen.Corpus = _
  private var docs: DataFrame = _
  private var bench: DataFrame = _

  def setup(dir: Path): Unit = {
    import spark.implicits._
    corpus = Gen.corpus(seed, Docs)
    corpus.docs.toDF("doc_id", "text").write.parquet(dir.resolve("docs").toString)
    docs = spark.read.parquet(dir.resolve("docs").toString)
    bench = corpus.bench.toDF("doc_id", "text")
  }

  private def build(): Seq[(Long, Boolean, String)] =
    Curate.buildCorpus(docs, "doc_id", "text", bench).select("doc_id", "kept", "reason")
      .collect().toSeq.map(r => (r.getLong(0), r.getBoolean(1), r.getString(2)))

  def warmup(rec: Rec): Unit = for (_ <- 0 until 2)
    Main.timed(rec, "warmup build")(build())(Checks.corpusFlags(corpus, _))

  def steps: Int = 3

  override def kindOf(i: Int): String = "build"

  private var probed = false

  def step(i: Int, traced: Boolean, rec: Rec): Unit = {
    for (took <- Main.timed(rec, s"corpus build $i")(Trace.span("op.build") {
        Trace.span("curate.buildCorpus")(build())
      })(Checks.corpusFlags(corpus, _))) {
      rec.op += took
      rec.work(corpus.docs.size, took)
      rec.cost(took)
    }
    probed ||= traced
  }

  /** Probes run after the measured window, so that a traced run's window
    * holds the same operations as an untraced one; once untraced first,
    * so that the timed probes run warm plans like the builds do. */
  override def finish(rec: Rec): Unit = if (probed) {
    probes(rec)
    Trace.on = true
    try Trace.probe(probes(rec)) finally Trace.on = false
  }

  /** The gates `buildCorpus` composes, each forced on its own from the
    * cached corpus. */
  private def probes(rec: Rec): Unit = {
    val docs = this.docs.cache()
    docs.count()
    Trace.span("text.signals") {
      docs.select(col("doc_id"), Text.qualityScore(col("text")),
        round(Text.byteEntropy(col("text")), 6), Text.langId(col("text")))
        .write.format("noop").mode("overwrite").save()
    }
    Trace.span("text.fluency") {
      Text.unigramLogProbs(docs, "doc_id", "text").write.format("noop").mode("overwrite").save()
    }
    val pairs = Trace.span("dedup.ngramJaccardPairs") {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", shingleN = 3, threshold = 0.5).count()
    }
    rec.note("dedup.pairs_found", pairs.toDouble)
    Trace.span("dedup.benchmarkContamination") {
      Dedup.benchmarkContamination(docs, "doc_id", "text", bench, "doc_id", "text",
        shingleN = 3, minContainment = 0.5).write.format("noop").mode("overwrite").save()
    }
    docs.unpersist()
  }
}
