package zbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.functions.{Dedup, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shares of planted document kinds in the `curate` corpus. */
final case class DocShape(docs: Int, lowQuality: Double, pii: Double, exactDup: Double,
    nearDup: Double, piiVariant: Double, contaminated: Double)

/** A seeded corpus with the answer built in: which documents a correct
  * curation keeps. Clean text mixes content words from a 4,000-word
  * vocabulary with stopwords; near-duplicates substitute two of a clean
  * document's 60-180 tokens (3-shingle Jaccard at least 0.81); contaminated documents
  * embed 14 consecutive words of a benchmark passage; PII variants differ
  * from another document only in an email and a phone number.
  */
final class DocCorpus(shape: DocShape, seed: Long) {
  private val rng = new SplittableRandom(seed ^ 0x632BE59BD9B4E019L)
  private val stop = Vector("the", "a", "and", "of", "to", "in", "is", "it", "or", "an")
  private val vocab: Vector[String] = {
    val syl = Vector("ka", "lo", "mi", "ren", "tas", "vo", "pe", "dur", "qin", "sal", "bo", "teg",
      "fa", "nul", "ri", "zon", "gu", "hel", "wei", "mok")
    val words = mutable.LinkedHashSet.empty[String]
    while (words.size < 4000)
      words += (0 until 2 + rng.nextInt(2)).map(_ => syl(rng.nextInt(syl.size))).mkString
    words.toVector
  }
  private def content() = vocab(rng.nextInt(vocab.size))
  private def clean(n: Int): Vector[String] =
    Vector.fill(n)(if (rng.nextDouble() < 0.25) stop(rng.nextInt(stop.size)) else content())
  private def email() = s"${content()}.${content()}@${content()}.example.org"
  private def phone() = f"+1 555 ${rng.nextInt(1000)}%03d ${rng.nextInt(10000)}%04d"

  /** Benchmark passages: content words only, so no clean text shares a 5-gram by chance. */
  val benchmark: Vector[String] = Vector.fill(20)(Vector.fill(40)(content()).mkString(" "))

  /** (id, text, kept by a correct curation, planted duplicate of). */
  val docs: Vector[(Long, String, Boolean, Option[Long])] = {
    val out = mutable.ArrayBuffer.empty[(Long, String, Boolean, Option[Long])]
    val originals = mutable.ArrayBuffer.empty[(Long, Vector[String])]
    val piiDocs = mutable.ArrayBuffer.empty[(Long, Vector[String], Int)]
    def add(text: String, keep: Boolean, of: Option[Long] = None): Long = {
      val id = out.size.toLong + 1
      out += ((id, text, keep, of))
      id
    }
    while (out.size < shape.docs) {
      val u = rng.nextDouble()
      var cut = shape.lowQuality
      if (u < cut) {
        // four overlong words and no stopword: fails the length, token-length
        // and stopword bands at once
        if (rng.nextBoolean()) add(Vector.fill(4)((0 until 6).map(_ => content()).mkString).mkString(" "), keep = false)
        else add(Vector.fill(40)("click here now").mkString(" "), keep = false)
      } else if (u < { cut += shape.exactDup; cut } && originals.nonEmpty) {
        val (id, toks) = originals(rng.nextInt(originals.size))
        add(toks.mkString(" "), keep = false, Some(id))
      } else if (u < { cut += shape.nearDup; cut } && originals.nonEmpty) {
        val (id, toks) = originals(rng.nextInt(originals.size))
        // two substitutions, at least 30 tokens apart: at most six of the
        // document's 3-shingles change, so Jaccard stays above 0.8
        val at = rng.nextInt(toks.size - 31)
        val edited = toks.updated(at, content()).updated(at + 30, content())
        add(edited.mkString(" "), keep = false, Some(id))
      } else if (u < { cut += shape.piiVariant; cut } && piiDocs.nonEmpty) {
        val (id, toks, at) = piiDocs(rng.nextInt(piiDocs.size))
        add(toks.patch(at, Seq("mail", email(), "or", "call", phone()), 0).mkString(" "),
          keep = false, Some(id))
      } else if (u < { cut += shape.contaminated; cut }) {
        val b = benchmark(rng.nextInt(benchmark.size)).split(" ")
        val from = rng.nextInt(b.length - 14)
        val toks = clean(60 + rng.nextInt(80))
        add(toks.patch(toks.size / 2, b.slice(from, from + 14).toSeq, 0).mkString(" "), keep = false)
      } else if (u < { cut += shape.pii; cut }) {
        val toks = clean(60 + rng.nextInt(120))
        val at = toks.size / 3
        val id = add(toks.patch(at, Seq("mail", email(), "or", "call", phone()), 0).mkString(" "),
          keep = true)
        piiDocs += ((id, toks, at))
      } else {
        val toks = clean(60 + rng.nextInt(120))
        originals += ((add(toks.mkString(" "), keep = true), toks))
      }
    }
    out.toVector
  }

  val keep: Set[Long] = docs.filter(_._3).map(_._1).toSet
  /** Planted duplicate pairs (original, copy) among documents the quality gate keeps. */
  val plantedPairs: Set[(Long, Long)] = docs.flatMap(d => d._4.map(o => (o, d._1))).toSet
}

/** The `curate` leg: the curation stages in order, each a public call whose
  * result is materialized before the next one starts.
  */
final class CurateLeg(ctx: Ctx, shape: DocShape) {
  private val spark = ctx.spark
  import spark.implicits._

  private val stageMs = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]

  private def stage[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = ctx.tracer.span("functions", name)(body)
    stageMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
    r
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select(col("doc_a").cast("long"), col("doc_b").cast("long")).as[(Long, Long)].collect().toSet

  /** One full curation pass; returns (kept ids, candidate pairs). */
  private def pass(docs: DataFrame, bench: DataFrame): (Set[Long], Set[(Long, Long)]) = {
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); cached += c; c }
    try {
      val good = stage("quality")(keep(docs
        .withColumn("p", TextAnalysis.profile(col("text")))
        .withColumn("rp", TextAnalysis.repetitionProfile(col("text")))
        .where(TextAnalysis.qualityFromProfile(col("p")) >= 0.6 &&
          TextAnalysis.repetitionKeep(col("rp")))
        .select("id", "text")))
      val redacted = stage("redact")(keep(good.withColumn("text", TextAnalysis.redactPii(col("text")))))
      val unique = stage("exact")(keep(redacted.join(
        Dedup.exact(redacted, "id", Seq(col("text"))).select("id"), Seq("id"), "left_semi")))
      val mh = stage("minhash")(pairs(Dedup.minhashPairs(unique, "id", "text")))
      val ng = stage("ngram")(pairs(Dedup.ngramJaccardPairs(unique, "id", "text", 3, 0.5)))
      val sh = stage("simhash")(pairs(Dedup.simhashPairs(unique, "id", "text", 3)))
      val deduped = stage("cluster") {
        val edges = (mh ++ ng).toSeq
        if (edges.isEmpty) unique
        else keep(Dedup.dropNearDuplicates(unique, "id",
          Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"))))
      }
      val kept = stage("decontaminate")(Dedup.decontaminate(deduped, "id", "text", bench, "text", 5, 2L)
        .select("id").as[Long].collect().toSet)
      (kept, mh ++ ng ++ sh)
    } finally {
      cached.foreach(_.unpersist(true))
      spark.catalog.clearCache()
    }
  }

  def run(seconds: Double, setupReps: Int): LegResult = {
    val corpus = new DocCorpus(shape, ctx.seed)
    // set-up: stage the corpus as the parquet input a curation job reads
    val setups = mutable.ArrayBuffer.empty[Double]
    var docs: DataFrame = null
    var bench: DataFrame = null
    for (rep <- 1 to setupReps) {
      val dir = ctx.work.resolve(s"curate$rep")
      if (rep > 1) Files.rm(ctx.work.resolve(s"curate${rep - 1}"))
      val t0 = System.nanoTime()
      SparkProbe.tagged(spark, "curate.setup") {
        corpus.docs.map(d => (d._1, d._2)).toDF("id", "text").write.parquet(dir.resolve("docs").toString)
        corpus.benchmark.toDF("text").write.parquet(dir.resolve("benchmark").toString)
        docs = spark.read.parquet(dir.resolve("docs").toString)
        bench = spark.read.parquet(dir.resolve("benchmark").toString)
      }
      setups += (System.nanoTime() - t0) / 1e9
    }

    val before = ctx.probe.snapshot(spark, "curate.run")
    val passMs = mutable.ArrayBuffer.empty[Double]
    var candidates = Set.empty[(Long, Long)]
    val cpu0 = Proc.cpuNs()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (passMs.isEmpty || System.nanoTime() < deadline) {
      val t0 = System.nanoTime()
      val (kept, cand) = SparkProbe.tagged(spark, "curate.run") {
        ctx.tracer.root("curate.pass")(pass(docs, bench))
      }
      passMs += (System.nanoTime() - t0) / 1e6
      candidates = cand
      ctx.checks.same("curate.kept_docs", kept, corpus.keep)
    }
    val cpuNs = Proc.cpuNs() - cpu0
    val kdocs = passMs.size * corpus.docs.size / 1000.0
    System.err.println(f"[zbench] curate: ${passMs.size} passes of ${corpus.docs.size} docs: " +
      passMs.map(x => f"$x%.0f").mkString(" ") + " ms")
    val named = Map(
      "docs_per_s" -> Metric(corpus.docs.size / (Stats.median(passMs.toSeq) / 1e3), "1/s"),
      "pass_p50_ms" -> Metric(Stats.median(passMs.toSeq), "ms"),
      "pass_tail_ms" -> Metric(Stats.tail(passMs.toSeq)._1, "ms"),
      "cpu_ms_per_kdoc" -> Metric(cpuNs / 1e6 / kdocs, "ms"))
    val layers = mutable.LinkedHashMap.empty[String, Metric]
    layers ++= Main.sparkMetrics("curate", ctx.probe.snapshot(spark, "curate.run").minus(before), kdocs)
    if (ctx.tracer.enabled) {
      for ((k, v) <- stageMs) layers(s"functions.${k}_ms") = Metric(Stats.median(v.toSeq), "ms")
      layers("functions.candidate_pairs") = Metric(candidates.size.toDouble, "count")
      layers("functions.pair_yield") = Metric(
        candidates.count(corpus.plantedPairs.contains).toDouble / math.max(1, candidates.size), "ratio")
    }
    LegResult(named, named("cpu_ms_per_kdoc").value, named("pass_p50_ms").value,
      layers.toMap, Stats.median(setups.toSeq))
  }
}
