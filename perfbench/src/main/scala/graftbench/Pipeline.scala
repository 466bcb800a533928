package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, EmbeddingSearch}

/** The dedup pipeline probe, run in `ingest`'s traced run: a fresh
  * seeded near-duplicate batch (documents plus embeddings) goes through
  * exact dedup, shingling, MinHash-LSH pairs, exact n-gram Jaccard
  * pairs, SimHash pairs, transitive clusters, keep-one, and LSH top-k
  * over the embeddings. One untimed pass over another batch plans and
  * compiles every step first. The pipeline's memos fill on the traced
  * pass and hit only within it, as on a stream of daily batches. */
object Pipeline {
  val DocsPerBatch = 1000
  val MinJaccard = 0.8
  val MaxHamming = 3
  val TopK = 5

  final case class Pass(seconds: Double,
                        steps: Seq[(String, Double)])

  private def corpusDir(b: Bench) = s"${b.args.work}/data/corpus"

  private def frames(b: Bench, batch: Int): (DataFrame, DataFrame) = {
    def read(t: String) = b.spark.read.parquet(s"${corpusDir(b)}/$t.parquet")
      .filter(col("batch") === batch).drop("batch")
    (read("documents"), read("embeddings"))
  }

  /** one pass over `batch`; answers checked, per-step times returned */
  def pass(b: Bench, batch: Int, traced: Boolean): Pass = {
    implicit val spark: org.apache.spark.sql.SparkSession = b.spark
    val (docs, embs) = frames(b, batch)
    val steps = Seq.newBuilder[(String, Double)]
    var verified = 0
    def step[T](name: String)(body: => T): T = {
      b.phase(name)
      val (r, s) = b.timed(b.tracer.span(name)(body))
      steps += name -> s
      b.attempted += 1
      r
    }
    val ((), total) = b.timed(b.tracer.span("pass") {
      step("exact") {
        docs.groupBy(Dedup.h60(lower(trim(col("text")))))
          .agg(count(lit(1)).as("n")).filter(col("n") > 1).count()
      }
      step("shingle")(Dedup.cachedShingleRows(docs).count())
      // the memoized pair frame materializes when first asked for
      val (pairs, minhash) = step("minhash") {
        val p = Dedup.cachedMinhashDupPairs(docs, MinJaccard)
        (p, p.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))))
      }
      val ngram = step("ngram")(
        Dedup.ngramJaccardPairs(docs, MinJaccard).select("id_a", "id_b")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      step("simhash")(Dedup.simhashDupPairs(docs, MaxHamming).count())
      val clusters = step("clusters")(
        Dedup.dupClusters(pairs).collect().map(r => (r.getLong(0), r.getLong(1))))
      val kept = step("keep")(Dedup.dedupKeepOne(docs, pairs).count())
      step("lsh")(EmbeddingSearch.lshTopKCorpus(embs, TopK).count())

      // every verified MinHash pair is an exact n-gram pair at the same
      // threshold, and keep-one drops exactly the non-representative
      // cluster members
      val stray = minhash.filterNot(ngram)
      if (stray.nonEmpty)
        b.wrongAnswer(s"batch $batch: ${stray.length} MinHash pairs not " +
          s"among the exact n-gram pairs, e.g. ${stray.head}")
      val members = clusters.length
      val reps = clusters.map(_._2).distinct.length
      if (kept != DocsPerBatch - (members - reps))
        b.wrongAnswer(s"batch $batch: kept $kept, expected " +
          s"${DocsPerBatch - (members - reps)} ($members members in $reps clusters)")
      verified = minhash.length
    })
    b.phase("idle")
    if (traced) {
      // outside the timed pass: how many LSH candidates the verify
      // step had to check for the pairs it kept
      val cand = Dedup.minhashCandidates(Dedup.cachedShingleRows(docs)).count()
      b.layer("Dedup.candidate_pairs") =
        b.layer.getOrElse("Dedup.candidate_pairs", 0.0) + cand
      b.layer("Dedup.verified_pairs") =
        b.layer.getOrElse("Dedup.verified_pairs", 0.0) + verified
    }
    Pass(total, steps.result())
  }

  def probe(b: Bench): Unit = {
    Data.writeCorpus(b.spark, corpusDir(b), b.args.seed, 2, DocsPerBatch)
    b.listening(on = false)
    pass(b, 0, traced = false)
    b.listener.foreach(_.reset())
    b.listening(on = true)
    val p = pass(b, 1, traced = true)
    layers(b, Seq(p))
    b.layer("Dedup.docs_per_s") = DocsPerBatch / p.seconds
    b.notes += f"dedup probe: $DocsPerBatch docs in ${p.seconds}%.2f s"
  }

  private def layers(b: Bench, passes: Seq[Pass]): Unit = {
    val n = math.max(1, passes.size).toDouble
    def mean(step: String) =
      passes.flatMap(_.steps).filter(_._1 == step).map(_._2).sum / n
    Metrics.DedupSteps.foreach { s =>
      val name = if (s == "lsh") "EmbeddingSearch.lshTopKCorpus_s" else s"Dedup.${s}_s"
      b.layer(name) = mean(s)
    }
    val cand = b.layer.getOrElse("Dedup.candidate_pairs", 0.0)
    val ver = b.layer.getOrElse("Dedup.verified_pairs", 0.0)
    b.layer("Dedup.candidate_pairs") = cand / n
    b.layer("Dedup.verified_pairs") = ver / n
    b.layer("Dedup.verify_yield") = if (cand > 0) ver / cand else 0.0
    b.layer("self.pass_ms") =
      b.tracer.meanSelfMs("pass")
    b.listener.foreach { l =>
      l.drain()
      Metrics.DedupSteps.foreach { s =>
        val a = l.get(s)
        b.layer(s"exec.$s.cpu_s") = a.map(_.cpuNs.sum).getOrElse(0L) / 1e9 / n
        b.layer(s"exec.$s.shuffle_mb") =
          a.map(_.shuffleBytes.sum).getOrElse(0L) / 1048576.0 / n
      }
    }
  }
}
