package zbench

/** The generators' own checks, run before anything is measured: a seed
  * reproduces its inputs byte for byte, and the ground truth each generator
  * built agrees with the data it emitted.
  */
object SelfCheck {
  private def digest(chunks: Iterator[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    chunks.foreach(md.update)
    md.digest().map(b => f"$b%02x").mkString
  }

  private def shingles(text: String, n: Int): Set[String] =
    text.split(" ").sliding(n).map(_.mkString(" ")).toSet

  def run(seed: Long, checks: Checks): Unit = {
    def feedBytes() = {
      val f = new Feed(Traffic.traces, seed, Traffic.spansPerBatch)
      digest((0 until 3).iterator.flatMap(_ => f.nextBatch())
        .flatMap(r => Iterator(BigInt(r.ts.getTime).toByteArray, r.value)))
    }
    checks.same("gen.feed_reproducible", feedBytes(), feedBytes())
    def docBytes(c: DocCorpus) = digest(c.docs.iterator.map(_._2.getBytes("UTF-8")))
    val docs = new DocCorpus(Traffic.docs, seed)
    checks.same("gen.docs_reproducible", docBytes(docs), docBytes(new DocCorpus(Traffic.docs, seed)))

    // every RPC is a CLIENT span plus one shared SERVER span with its id,
    // and the edge truth has one call per pair
    val gen = new TraceGen(Traffic.traces, seed)
    val traces = Seq.fill(200)(gen.nextTrace(1767225600000000L))
    val badPairs = traces.count { t =>
      val clients = t.spans.filter(_.kind.contains("CLIENT"))
      clients.size != t.calls.size ||
        !clients.forall(c => t.spans.count(s => s.id == c.id && s.isShared) == 1)
    }
    checks.same("gen.rpc_halves_paired", badPairs, 0)
    checks.check("gen.late_spans_are_local",
      traces.forall(_.late.forall(s => s.kind.isEmpty && s.remote_endpoint.isEmpty)))

    // planted duplicates are near enough to be found; contaminated documents
    // carry benchmark 5-grams, kept documents none
    val text = docs.docs.map(d => d._1 -> d._2).toMap
    val tooFar = docs.plantedPairs.count { case (a, b) =>
      val (x, y) = (shingles(text(a), 3), shingles(text(b), 3))
      val redacted = (x ++ y).exists(_.contains("@"))
      !redacted && (x & y).size.toDouble / (x | y).size < 0.8
    }
    checks.same("gen.near_duplicates_within_threshold", tooFar, 0)
    val bench = docs.benchmark.flatMap(shingles(_, 5)).toSet
    val leaks = docs.docs.filter(_._3).count(d => (shingles(d._2, 5) & bench).nonEmpty)
    checks.same("gen.kept_docs_uncontaminated", leaks, 0)
  }
}
