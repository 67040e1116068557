package graft

import graft.core.QueryRequest
import graft.functions.{Dedup, Similarity, TextAnalysis}
import graft.operators.{Multimodal, SpanPipeline, TraceQueries}
import graft.sources.EventSpans
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator from SURVEY.md §2 (or one of the
  * LLM-data-pipeline extensions), expressed over the driver's parquet tables
  * at `sfDir`. The zipkin-engine operators run on traces synthesized from the
  * `events` table via [[graft.sources.EventSpans]] (one trace per user
  * session), so the real pipeline — session windows, TraceMerge,
  * DependencyLinker, store tables, query surface — is what the DuckDB oracle
  * checks. [[oracleSql]] holds the equivalent SQL; column names and types are
  * aliased identically on both sides (the driver sorts columns by name before
  * hashing).
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The q_quality_classifier "model": 256 bucket weights from a Knuth
    * multiplicative closed form — exact-integer arithmetic the DuckDB
    * oracle replays verbatim, then one exact division, so the Scala and
    * SQL weight vectors are bit-identical doubles.
    */
  /** q_subword's segmentation vocab — literal on BOTH sides (the oracle
    * embeds the same VALUES list); nested prefixes exercise longest-match.
    */
  private[graft] val subwordVocab: Seq[String] = Seq(
    "tion", "ther", "the", "th", "ing", "in", "ed", "er", "re",
    "an", "on", "en", "es", "at", "or", "ment", "wea")

  /** q_bpe_train / q_bpe_apply's shared training configuration: 12 merge
    * rounds over the top-1000-token lexicon. NOT memoized — the training
    * (one lexicon aggregation + the driver merge loop) IS these queries'
    * measured work, unlike the store fixtures whose build the bench
    * deliberately amortizes.
    */
  private[graft] val BpeMergeRounds = 12
  private[graft] val BpeMaxWords = 1000

  private[graft] def bpeMerges(s: SparkSession, dir: String): Seq[graft.functions.Bpe.Merge] =
    graft.functions.Bpe.train(t(s, dir, "documents"), "text",
      BpeMergeRounds, BpeMaxWords)

  /** The BPE-train oracle's shared CTE chain (see [[graft.functions.Bpe
    * .learnMerges]] for the semantics contract): `lex` is the bounded
    * weighted lexicon; `lex0` wraps every codepoint in U+0001 delimiters
    * ("<U+0001>a<U+0001><U+0001>b<U+0001>…" — wrapped symbols share no boundary
    * characters, so adjacent pair occurrences never overlap inside the
    * replace pattern the way space-separated symbols would); then per rank
    * i: `p_i` counts adjacent pairs (parallel unnest of the symbol list
    * against its own tail, weighted by word frequency), `m_i` is the
    * argmax with the (cnt DESC, a, b) tiebreak, and `lex_i` applies the
    * merge with ONE literal replace() — leftmost-first, non-overlapping,
    * resuming after each substitution, exactly the Scala loop's semantics.
    * A round with no remaining pairs yields an empty m_i and NULL word
    * states, so later rounds emit nothing — matching the loop's early
    * stop rank for rank.
    */
  private def bpeTrainCtes: String = {
    val d = "chr(1)"
    val sb = new StringBuilder
    sb ++= raw"""lex AS MATERIALIZED (
      |  SELECT token, CAST(count(*) AS BIGINT) AS n
      |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents)
      |  WHERE token <> '' AND NOT contains(token, $d)
      |  GROUP BY token ORDER BY n DESC, token LIMIT $BpeMaxWords),
      |lex0 AS MATERIALIZED (SELECT regexp_replace(token, '(.)', $d || '\1' || $d, 'g') AS w, n FROM lex)""".stripMargin
    for (i <- 1 to BpeMergeRounds) {
      val prev = s"lex${i - 1}"
      sb ++= raw""",
        |p$i AS MATERIALIZED (
        |  SELECT a, b, CAST(sum(n) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(s[1:len(s)-1]) AS a, unnest(s[2:len(s)]) AS b, n
        |    FROM (SELECT string_split(substr(w, 2, length(w) - 2), $d || $d) AS s, n FROM $prev))
        |  GROUP BY a, b),
        |m$i AS MATERIALIZED (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
        |lex$i AS MATERIALIZED (SELECT replace(w,
        |    $d || (SELECT a FROM m$i) || $d || $d || (SELECT b FROM m$i) || $d,
        |    $d || (SELECT a FROM m$i) || (SELECT b FROM m$i) || $d) AS w, n FROM $prev)""".stripMargin
    }
    sb.toString
  }

  private[graft] def bpeTrainOracle: String = {
    val ranks = (1 to BpeMergeRounds).map { i =>
      s"SELECT CAST($i AS INTEGER) AS rank, a AS left_sym, b AS right_sym, cnt AS pair_n FROM m$i"
    }.mkString("\n  UNION ALL ")
    s"WITH\n$bpeTrainCtes\nSELECT * FROM (\n  $ranks)"
  }

  /** Train (CTE chain) then apply: the q_subword recursive-CTE greedy
    * longest-match replay, with the vocab built from the learned merge
    * outputs instead of a VALUES literal. One DuckDB-1.0 landmine shapes
    * the formulation: a correlated subquery over the CHAIN-DERIVED `v`
    * inside the recursive member silently returns no rows (a literal
    * VALUES `v` works) — so the vocab is resolved in the NON-recursive
    * base case (`(SELECT vs FROM vl)`, where chain references bind
    * correctly), carried through the recursion state as a list sorted
    * longest-first, and the greedy pick is a `list_filter(...)[1]`
    * instead of the correlated subquery. Equal-length distinct pieces
    * cannot both match one position, so the within-length order never
    * decides.
    */
  private[graft] def bpeApplyOracle: String = {
    val pieces = (1 to BpeMergeRounds)
      .map(i => s"SELECT a, b FROM m$i").mkString(" UNION ALL ")
    raw"""WITH RECURSIVE
      |$bpeTrainCtes,
      |v AS MATERIALIZED (SELECT DISTINCT a || b AS piece FROM ($pieces)),
      |vl AS MATERIALIZED (SELECT list(piece ORDER BY len(piece) DESC, piece) AS vs FROM v),
      |w AS (SELECT doc_id,
      |    unnest(string_split_regex(trim(text), '\s+')) AS word,
      |    generate_subscripts(string_split_regex(trim(text), '\s+'), 1) AS wi
      |  FROM documents),
      |seg(doc_id, wi, word, vs, pos, acc, np) AS (
      |  SELECT doc_id, wi, word, (SELECT vs FROM vl), 1, CAST('' AS VARCHAR), 0 FROM w
      |  UNION ALL
      |  SELECT doc_id, wi, word, vs, pos + len(piece),
      |         acc || CASE WHEN acc = '' THEN '' ELSE ' ' END || piece, np + 1
      |  FROM (SELECT s.*, coalesce(
      |          list_filter(s.vs, p -> substr(s.word, s.pos, len(p)) = p)[1],
      |          substr(s.word, s.pos, 1)) AS piece
      |        FROM seg s WHERE s.pos <= len(s.word)) t),
      |done AS (SELECT doc_id, wi, acc, np FROM seg WHERE pos > len(word))
      |SELECT doc_id,
      |  CAST(coalesce(sum(np), 0) AS BIGINT) AS n_pieces,
      |  md5(coalesce(string_agg(acc, ' ' ORDER BY wi) FILTER (WHERE np > 0), ''))
      |    AS pieces_md5
      |FROM done GROUP BY doc_id""".stripMargin
  }

  /** Train (CTE chain), then rank-ordered BPE encode: every document's
    * words re-enter the SAME delimiter-wrapped symbol-string form the
    * trainer used, and each learned rank applies as one literal replace()
    * — identical merge semantics by construction. A rank whose m_i is
    * empty (corpus exhausted its pairs early) must be an IDENTITY pass,
    * not a NULL cascade, so the pattern/replacement coalesce to chr(2) —
    * replace(st, c, c) is the identity for ANY c. Piece count per word is
    * half the delimiter count; the pieces string strips the wrapping
    * (piece boundaries are exactly chr(1)chr(1) — words contain no
    * whitespace, so ' ' is a safe piece separator). Words whose CONTENT
    * contains the reserved delimiter chr(1) would corrupt the wrapped
    * state, so they bypass the replace chain and emit bare codepoints —
    * exactly the engine's reservation rule ([[graft.functions.BpeEncode]])
    * and the same exclusion [[graft.functions.Bpe.lexicon]] applies at
    * training time.
    */
  private[graft] def bpeEncodeOracle: String = {
    val d = "chr(1)"
    val steps = (1 to BpeMergeRounds).map { i =>
      val a = s"(SELECT a FROM m$i)"
      val b = s"(SELECT b FROM m$i)"
      val prev = if (i == 1) "ws" else s"e${i - 1}"
      s"""e$i AS MATERIALIZED (SELECT doc_id, wi, replace(st,
         |    coalesce($d || $a || $d || $d || $b || $d, chr(2)),
         |    coalesce($d || $a || $b || $d, chr(2))) AS st FROM $prev)""".stripMargin
    }.mkString(",\n")
    val last = s"e$BpeMergeRounds"
    raw"""WITH
      |$bpeTrainCtes,
      |w AS (SELECT doc_id,
      |    unnest(string_split_regex(trim(text), '\s+')) AS word,
      |    generate_subscripts(string_split_regex(trim(text), '\s+'), 1) AS wi
      |  FROM documents),
      |ws AS (SELECT doc_id, wi,
      |    regexp_replace(word, '(.)', $d || '\1' || $d, 'g') AS st FROM w
      |  WHERE strpos(word, $d) = 0),
      |$steps,
      |p AS (SELECT doc_id, wi,
      |    CAST((length(st) - length(replace(st, $d, ''))) / 2 AS BIGINT) AS np,
      |    replace(replace(st, $d || $d, ' '), $d, '') AS ps
      |  FROM $last
      |  UNION ALL
      |  SELECT doc_id, wi, CAST(length(word) AS BIGINT) AS np,
      |    rtrim(regexp_replace(word, '(.)', '\1 ', 'g')) AS ps
      |  FROM w WHERE strpos(word, $d) > 0)
      |SELECT doc_id,
      |  CAST(coalesce(sum(np), 0) AS BIGINT) AS n_pieces,
      |  md5(coalesce(string_agg(ps, ' ' ORDER BY wi) FILTER (WHERE np > 0), ''))
      |    AS pieces_md5
      |FROM p GROUP BY doc_id""".stripMargin
  }

  private[graft] val classifierWeights: Array[Double] =
    Array.tabulate(256)(b =>
      ((b.toLong * 2654435761L + 12345L) % 1000003L).toDouble / 1000003.0 - 0.5)

  /** The events table ships with TIMESTAMP(NANOS) parquet, which Spark 4
    * refuses by default; read nanos as long and surface a µs-truncated
    * TimestampType `ts` (the same truncation DuckDB's epoch_us applies).
    */
  private val eventsConfLock = new Object

  private[graft] def events(spark: SparkSession, dir: String): DataFrame =
    // the set→resolve→restore block is serialized: session conf is shared
    // JVM-wide, and a concurrent caller's restore between another's set and
    // eager schema resolution would throw (or leave the legacy flag flipped
    // for unrelated reads)
    eventsConfLock.synchronized {
      // schema resolution happens eagerly inside read.parquet(), so the
      // confs can be restored right after — no session-wide side effect on
      // unrelated reads. nanosAsLong covers pre-2026-08-13 ns-precision
      // files (Spark 4 refuses TIMESTAMP(NANOS) otherwise); inferTimestampNTZ
      // = false makes the µs regeneration's zoneless column surface as plain
      // TIMESTAMP — the reader reinterprets the raw micros as UTC instants
      // with NO per-row conversion, unlike a later NTZ→LTZ cast, which walks
      // every value through LocalDateTime zone math (measured ~1.3-1.6× cpu
      // on the span-family queries) and would shift with the session zone
      val keys = Seq("spark.sql.legacy.parquet.nanosAsLong" -> "true",
        "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")
      val prev = keys.map { case (k, v) => (k, spark.conf.getOption(k)) }
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val raw = spark.read.parquet(s"$dir/events.parquet")
        raw.schema("ts").dataType match {
          // ns-precision files: nanosAsLong surfaces nanos as BIGINT;
          // truncate to µs like DuckDB's epoch_us
          case org.apache.spark.sql.types.LongType =>
            raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
          case _ => raw // µs files: already TIMESTAMP via inferTimestampNTZ=false
        }
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

  private def eventTraces(s: SparkSession, dir: String) =
    EventSpans.sessionTraces(s, events(s, dir)) // fused single-shuffle path

  /** Serving stores build at most once per JVM (computeIfAbsent blocks a
    * concurrent second toucher until the build finishes): the first caller
    * deletes any stale store and rewrites it from `dir`'s events —
    * deterministic content, so a memo hit serves identical bytes. Verify
    * self-builds inside the query (the correctness gate still covers
    * write→read); Bench pre-builds via [[prepareStores]] OUTSIDE its timed
    * region, so the q_store_* numbers measure read+query instead of being
    * ~⅔ store-write I/O that would hide a pruning regression.
    */
  private val builtStores = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Memo key = sanitized full dir path + content hash of the raw path.
    * The readable part alone is NOT collision-free: punctuation collapses
    * (`/sf0.1` vs `/sf0_1`) and the catalog lowercases table names (the
    * bucketed store uses this key as one), so two distinct dirs could
    * silently share a store. The appended MD5 fragment of the exact path
    * disambiguates both cases; lowercase keeps the key a stable SQL
    * identifier under catalog normalization.
    */
  private[graft] def storeKey(kind: String, dir: String): String = {
    val safe = dir.toLowerCase(java.util.Locale.ROOT)
      .replaceAll("[^a-z0-9]+", "_").replaceAll("^_+|_+$", "")
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    s"${kind}_${safe}_$digest"
  }

  private[graft] def storePath(kind: String, dir: String): String =
    s"target/graft-stores/${storeKey(kind, dir)}"

  private def ensureStore(s: SparkSession, kind: String, dir: String)
      (build: String => Unit): String =
    builtStores.computeIfAbsent(storeKey(kind, dir), _ => {
      val path = storePath(kind, dir) // single definition — PlanSpec locates stores by it
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      build(path)
      path
    })

  /** ONE definition of the redelivery-duplicated, id-normalized trace set
    * behind q_j4_get_trace, q_j4_trace_many AND the bucketed store build:
    * the three legs share GetTraceOracle/TraceManyOracle, so they must feed
    * from literally the same rows or one leg can silently drift. The
    * union's two legs share one lineage — ReuseExchange dedups the
    * sessionization shuffle, no cache (which Verify would retain for the
    * rest of the run) needed.
    */
  private def redeliveredTraces(s: SparkSession, dir: String): Dataset[graft.model.Trace] = {
    import s.implicits._
    val tr = eventTraces(s, dir).toDF()
      .withColumn("trace_id", graft.model.Spans.normalizeTraceId(col("trace_id")))
    tr.union(tr).select("trace_id", "spans", "root_ts").as[graft.model.Trace]
  }

  private def traceStore(s: SparkSession, dir: String): String =
    ensureStore(s, "traces", dir)(path =>
      graft.store.StoreLayout.writeTraces(eventTraces(s, dir).toDF(), path))

  /** Written TWICE — a simulated micro-batch retry. The store read must
    * collapse the duplicated finals (readDependencyWindows' full-row dedup,
    * the keyed-upsert analog) or q_store_dependencies doubles every count
    * and fails its oracle.
    */
  private def dependencyStore(s: SparkSession, dir: String): String =
    ensureStore(s, "deps", dir) { path =>
      val windows = SpanPipeline.dependencyWindows(
        SpanPipeline.dependencyLinks(eventTraces(s, dir)))
      // same explicit batchId twice = a simulated micro-batch redelivery;
      // the read-side full-row dedup must collapse it (batchId is required
      // so a caller states retry-vs-fresh intent — see writeDependencyWindows)
      graft.store.StoreLayout.writeDependencyWindows(windows, path, batchId = 0L)
      graft.store.StoreLayout.writeDependencyWindows(windows, path, batchId = 0L)
    }

  /** Bucketed point-lookup store (S8/S9 routing analog): written once per
    * JVM with the SAME redelivery-duplicated rows as the q_j4_* in-memory
    * path, so the bucketed leg must prove the identical merge-on-read
    * answer. The sanitized store key doubles as the catalog table name.
    */
  private def bucketedTraceStore(s: SparkSession, dir: String): String =
    ensureStore(s, "btraces", dir) { path =>
      graft.store.StoreLayout.writeTracesBucketed(
        redeliveredTraces(s, dir), storeKey("btraces", dir), path)
    }

  private def bucketedTraces(s: SparkSession, dir: String): DataFrame =
    graft.store.StoreLayout.readTracesBucketed(s, storeKey("btraces", dir),
      bucketedTraceStore(s, dir))

  /** Closed-date watermark mid-way through the fixture's event range
    * (2024-01-01..01-30): dates before it compact, later dates keep their
    * redelivery duplicates — the MIXED store must serve the same answer,
    * which is exactly the incremental-maintenance state a 100 TB deployment
    * lives in permanently.
    */
  private val CompactionWatermark = java.time.LocalDate.parse("2024-01-18")

  /** Compacted window store: seeded with a replayed micro-batch (same
    * epoch id twice) then partition-scoped-collapsed up to the watermark —
    * q_store_deps_compact proves the half-compacted store serves the exact
    * dependencies answer (read-side batch_id dedup covers the rest).
    */
  private def compactedDependencyStore(s: SparkSession, dir: String): String =
    ensureStore(s, "cdeps", dir) { path =>
      val windows = SpanPipeline.dependencyWindows(
        SpanPipeline.dependencyLinks(eventTraces(s, dir)))
      // simulated redelivery (same id), then compaction — the gate proves
      // the collapse survives the generation rewrite
      graft.store.StoreLayout.writeDependencyWindows(windows, path, batchId = 0L)
      graft.store.StoreLayout.writeDependencyWindows(windows, path, batchId = 0L)
      graft.store.StoreLayout.compactDependencyWindowsBefore(s, path, CompactionWatermark)
    }

  /** Distance the retention fodder is shifted into the past (~300 days —
    * far outside every query window and the fixture's event range).
    */
  private val ExpiredShiftUs = 300L * 86400L * 1000000L

  /** Compacted trace store: seeded with redelivery duplicates (every row
    * twice), a single-span partial per multi-span trace — the two row shapes
    * merge-on-read exists for — plus distinct-id rows shifted ~300 days into
    * the past as retention fodder (ST6). The lifecycle then runs exactly as
    * a maintenance cycle would at scale: `dropExpired` removes the expired
    * date partitions, `compactTracesBefore` rewrites only closed dates up to
    * the watermark. The q_store_compacted gate proves the
    * retained+half-compacted store still yields the exact find-traces answer
    * through the unchanged production read path.
    */
  private def compactedTraceStore(s: SparkSession, dir: String): String =
    ensureStore(s, "ctraces", dir) { path =>
      val tr = eventTraces(s, dir).toDF()
      val partials = tr.where(size(col("spans")) > 1)
        .select(col("trace_id"), slice(col("spans"), 1, 1).as("spans"), col("root_ts"))
      val expired = tr.select(concat(lit("exp"), col("trace_id")).as("trace_id"),
        col("spans"), (col("root_ts") - lit(ExpiredShiftUs)).as("root_ts"))
      graft.store.StoreLayout.writeTraces(
        tr.union(tr).union(partials).union(expired), path)
      val dropped = graft.store.StoreLayout.dropExpired(s, path, "trace_date",
        java.time.LocalDate.parse("2024-01-01"))
      require(dropped.nonEmpty, "retention fixture: expected expired partitions to drop")
      graft.store.StoreLayout.compactTracesBefore(s, path, CompactionWatermark)
    }

  /** Incremental autocomplete set store: the q_a8_autocomplete input split
    * into two deterministic halves fed through the literal streaming-sink
    * delta-append body ([[graft.streaming.StreamingPipeline
    * .appendAutocompleteDelta]]) — two micro-batches plus a REPLAYED first
    * batch (at-least-once re-append) — plus RETENTION FODDER: the first
    * half's values re-tagged `exp…` and shifted ~300 days into the past, so
    * they land in expired `seen_date` partitions (ST6 now covers the set
    * stores — the reference keeps autocomplete in a windowed store,
    * streams/TraceStorageTopology.java:143-149). The lifecycle then runs as
    * maintenance would: `dropExpired` removes the expired partitions (had
    * it failed, the `exp…` values would surface and break the oracle hash),
    * `compactSetStore` generation-commits the rest. q_store_autocomplete
    * serves the identical q_a8_autocomplete answer through
    * delta → replay → expire → compact → collapse.
    */
  private def autocompleteStore(s: SparkSession, dir: String): String =
    ensureStore(s, "actags", dir) { path =>
      val ev = events(s, dir)
      val half = pmod(xxhash64(col("event_id")), lit(2))
      val b0 = EventSpans.spanFields(ev.where(half === 0))
      val b1 = EventSpans.spanFields(ev.where(half === 1))
      val expired = b0
        .withColumn("event_us", col("event_us") - lit(ExpiredShiftUs))
        .withColumn("tags", map(lit("k"), concat(lit("exp"), col("tags")("k"))))
      graft.streaming.StreamingPipeline.appendAutocompleteDelta(expired, Seq("k"), path)
      graft.streaming.StreamingPipeline.appendAutocompleteDelta(b0, Seq("k"), path)
      graft.streaming.StreamingPipeline.appendAutocompleteDelta(b1, Seq("k"), path)
      graft.streaming.StreamingPipeline.appendAutocompleteDelta(b0, Seq("k"), path)
      val dropped = graft.store.StoreLayout.dropExpired(s, path, "seen_date",
        java.time.LocalDate.parse("2024-01-01"))
      require(dropped.nonEmpty,
        "retention fixture: expected expired seen_date partitions to drop")
      graft.store.StoreLayout.compactSetStore(s, path, "tag_key", "values")
    }

  /** The autocomplete set store built THROUGH the real Structured Streaming
    * engine — not the batch-local delta-append [[autocompleteStore]] uses.
    * The same events (as [[graft.streaming.SpanEnvelope]]s, ingest time =
    * span time) are fed through [[graft.streaming.StreamingPipeline
    * .autocompleteTagsToStoreIncremental]]'s actual `writeStream.foreachBatch`
    * sink in three MemoryStream micro-batches, with a checkpoint-rollback
    * RESTART between the last two: the checkpoint is snapshotted before the
    * final batch, rolled back after stop, and a restarted query re-runs that
    * batch through the real sink — the engine's own at-least-once replay
    * (ST7), not a simulated double-append. `compactSetStore` then collapses
    * the replay physically. Serving the q_a8 answer from this store
    * oracle-gates ST1 (event-time envelopes), ST4 (append-mode emission) and
    * ST7 end to end (reference: streams/TraceStorageTopology.java:207-228).
    *
    * MemoryStream is driver-fed BY DESIGN (it is the engine's in-process
    * test source), so the bounded collect here is fixture plumbing, not a
    * data path — a deployment feeds the identical sink from Kafka.
    */
  private def streamAutocompleteStore(s: SparkSession, dir: String): String =
    ensureStore(s, "sactags", dir) { path =>
      import s.implicits._
      val envs = envelopes(s, dir)
      val chunks = envs.grouped(math.max(1, (envs.length + 2) / 3)).toSeq
      runReplayedStream(s, "graft-sactags", chunks, chunks.length - 1)((ds, chk) =>
        graft.streaming.StreamingPipeline
          .autocompleteTagsToStoreIncremental(ds, Seq("k"), path, chk))
      graft.store.StoreLayout.compactSetStore(s, path, "tag_key", "values")
    }

  /** The date-partitioned TRACE store built THROUGH the real engine:
    * envelopes → [[graft.streaming.StreamingPipeline.sessionTracesWithState]]
    * (the ST8 stateful sessionizer, gap = the events adapter's
    * `SessionGapMs` so each `user:session` trace closes as exactly one
    * session — the adapter already split sessions into distinct trace ids)
    * → [[graft.streaming.StreamingPipeline.tracesToStore]]'s
    * `writeStream.foreachBatch` sink. Two sentinel envelopes past the data
    * horizon advance the watermark so every real session times out and
    * flushes (ST4 emit-on-close); the sentinels' own sessions either stay
    * open in state or land ~a month outside every query window — never in
    * an answer. The checkpoint rollback replays the final data chunk AND
    * both flush batches through the engine (ST7): at-least-once duplicate
    * rows the read side must collapse via TraceMerge. Serving the
    * find-traces answer from this store shares FindTracesOracle with
    * q_f1/q_store_find_traces — the engine build must not change it
    * (reference: streams/SpanAggregationTopology.java:74-92 feeding
    * TraceStorageTopology.java:87-126).
    */
  private def streamTraceStore(s: SparkSession, dir: String): String =
    ensureStore(s, "straces", dir) { path =>
      import s.implicits._
      val envs = envelopes(s, dir)
      val gapMs = EventSpans.SessionGapMs
      val maxMs = envs.last.ingest_ts.getTime
      def sentinel(i: Int) = graft.streaming.SpanEnvelope(
        new java.sql.Timestamp(maxMs + (i + 1) * (gapMs + 60000L)),
        graft.model.Span(trace_id = s"sentinel:$i", id = i.toString))
      val chunks = envs.grouped(math.max(1, (envs.length + 2) / 3)).toSeq
      val batches = chunks ++ Seq(Seq(sentinel(0)), Seq(sentinel(1)))
      runReplayedStream(s, "graft-straces", batches, chunks.length - 1)((ds, chk) =>
        graft.streaming.StreamingPipeline.tracesToStore(
          graft.streaming.StreamingPipeline.sessionTracesWithState(ds, gapMs),
          path, chk))
    }

  /** The dependency WINDOW store built THROUGH the real engine: link events
    * → [[graft.streaming.StreamingPipeline.dependencyWindowCounts]] (A4
    * append-mode tumbling windows, watermark 0) →
    * [[graft.streaming.StreamingPipeline.dependencyWindowsToStore]]'s
    * foreachBatch sink, engine-level replay included — the replayed finals
    * carry the same batch epoch, which the read-side dedup must collapse.
    * The events are stamped with the trace ROOT time (what the batch
    * `dependencyWindows` windows on) rather than the session close time the
    * production `dependencyLinkEvents` stage stamps — a fixture choice that
    * makes the streamed store answer byte-comparable to DependenciesOracle;
    * close-time stamping stays spec-covered. Sentinel events advance the
    * watermark to flush the final windows; their zero-count rows land ~10
    * days past every query window. (Reference:
    * streams/DependencyStorageTopology.java:56-105.)
    */
  private def streamDependencyStore(s: SparkSession, dir: String): String =
    ensureStore(s, "sdeps", dir) { path =>
      import s.implicits._
      val linkEvents = SpanPipeline.dependencyLinks(eventTraces(s, dir))
        .map { case (tsMs, l) => graft.streaming.LinkEvent(
          new java.sql.Timestamp(tsMs), l.parent, l.child, l.call_count, l.error_count) }
        .collect().sortBy(_.event_ts.getTime).toIndexedSeq
      require(linkEvents.nonEmpty, "streaming dependency fixture requires links")
      val maxMs = linkEvents.last.event_ts.getTime
      def sentinel(i: Int) = graft.streaming.LinkEvent(
        new java.sql.Timestamp(maxMs + (i + 1) * 120000L), "sentinel", "sentinel", 0L, 0L)
      val chunks = linkEvents.grouped(math.max(1, (linkEvents.length + 2) / 3)).toSeq
      val batches = chunks ++ Seq(Seq(sentinel(0)), Seq(sentinel(1)))
      runReplayedStream(s, "graft-sdeps", batches, chunks.length - 1)((ds, chk) =>
        graft.streaming.StreamingPipeline.dependencyWindowsToStore(
          graft.streaming.StreamingPipeline.dependencyWindowCounts(ds), path, chk))
    }

  /** Exact-dedup survivors built THROUGH the real engine:
    * [[Dedup.exactStream]] (`dropDuplicatesWithinWatermark` keyed on the
    * text) over three MemoryStream micro-batches — the corpus split in two,
    * then a batch RE-FEEDING every 10th document under a fresh doc_id.
    * Those re-feeds can only be dropped by the engine's cross-batch dedup
    * state (a read-side distinct cannot collapse them — the id differs), so
    * the per-key `n_rows = 1` oracle bites exactly on the streaming drop
    * path. The checkpoint rollback replays batches 2 AND 3: batch 2's
    * survivors re-append (at-least-once, ST7 — identical rows the read side
    * collapses) and batch 3's duplicates must drop against RESTORED state.
    * The horizon is a year, so nothing evicts mid-build (eviction is
    * spec-pinned in StreamingPipelineSpec).
    */
  private def streamDedupStore(s: SparkSession, dir: String): String =
    ensureStore(s, "sdedup", dir) { path =>
      import s.implicits._
      val docs = t(s, dir, "documents").select("doc_id", "text")
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      require(docs.nonEmpty, "streaming dedup fixture requires documents")
      val base = 1700000000000L
      def env(id: Long, text: String, i: Int) =
        (id, text, new java.sql.Timestamp(base + i * 1000L))
      val feed = docs.zipWithIndex.map { case ((id, tx), i) => env(id, tx, i) }
      val dups = docs.zipWithIndex.collect { case ((id, tx), i) if i % 10 == 0 =>
        env(id + 1000000000L, tx, feed.length + i) }
      val half = (feed.length + 1) / 2
      val batches = Seq(feed.take(half).toSeq, feed.drop(half).toSeq, dups.toSeq)
      runReplayedStream(s, "graft-sdedup", batches, 1)((ds, chk) =>
        graft.streaming.StreamingPipeline.startShared(
            Dedup.exactStream(ds.toDF("doc_id", "text", "ingest_ts"),
              Seq("text"), "ingest_ts", "365 days"))(_
          .outputMode("append")
          .option("checkpointLocation", chk)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(path)
          }))
    }

  /** The streaming curation store behind q_curate_stream: quality gate →
    * PII redaction → watermark-bounded exact dedup, all through the REAL
    * engine ([[graft.operators.Curation.curateStream]]) with an
    * engine-level checkpoint-rollback replay. Every row carries a planted
    * per-ID contact line (q_pii_redact's planting), and the batch-3
    * re-feeds (every id ≡ 0 mod 10, fresh ids) therefore differ from
    * their originals in RAW text but match after redaction — so a
    * re-feed can only be dropped if redaction runs before the dedup
    * state inside the streaming flow: the gate proves stage ORDER
    * through the engine, not just the drop itself.
    */
  private def streamCurateStore(s: SparkSession, dir: String): String =
    ensureStore(s, "scurate", dir) { path =>
      import s.implicits._
      val docs = t(s, dir, "documents").select("doc_id", "text")
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      require(docs.nonEmpty, "streaming curation fixture requires documents")
      val base = 1700000000000L
      def env(id: Long, tx: String, i: Int) =
        (id, s"$tx contact user$id@example.com or call +1 (415) 555-01$id",
          new java.sql.Timestamp(base + i * 1000L))
      val feed = docs.zipWithIndex.map { case ((id, tx), i) => env(id, tx, i) }
      val dups = docs.collect { case (id, tx) if id % 10 == 0 => (id, tx) }
        .zipWithIndex.map { case ((id, tx), i) =>
          env(id + 1000000000L, tx, feed.length + i) }
      val half = (feed.length + 1) / 2
      val batches = Seq(feed.take(half).toSeq, feed.drop(half).toSeq, dups.toSeq)
      runReplayedStream(s, "graft-scurate", batches, 1)((ds, chk) =>
        graft.streaming.StreamingPipeline.startShared(
            graft.operators.Curation.curateStream(
              ds.toDF("doc_id", "text", "ingest_ts"), "text", "ingest_ts", "365 days"))(_
          .outputMode("append")
          .option("checkpointLocation", chk)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(path)
          }))
    }

  /** Events as time-ordered span envelopes (ingest time = span time) — the
    * shared fixture feed of the three streaming-engine store builds.
    * MemoryStream is driver-fed BY DESIGN (it is the engine's in-process
    * test source), so the bounded collect here is fixture plumbing, not a
    * data path — a deployment feeds the identical sinks from Kafka.
    */
  private def envelopes(s: SparkSession, dir: String): IndexedSeq[graft.streaming.SpanEnvelope] = {
    import s.implicits._
    val envs = EventSpans.spans(s, events(s, dir))
      .collect()
      .map(sp => graft.streaming.SpanEnvelope(
        new java.sql.Timestamp(sp.timestampAsLong / 1000), sp))
      .sortBy(_.ingest_ts.getTime)
    require(envs.nonEmpty, "streaming fixture requires events")
    envs.toIndexedSeq
  }

  /** Drive `sink` over real MemoryStream micro-batches with an engine-level
    * checkpoint-rollback restart: the checkpoint is snapshotted before batch
    * index `snapshotBefore`, the remaining batches are processed and
    * committed, then the query is stopped, the checkpoint rolled back, and a
    * restarted query re-runs every post-snapshot batch through the same sink
    * with NO new data — the engine's own at-least-once redelivery (ST7), not
    * a simulated double append. The batches must be event-time sorted
    * end-to-end: the sinks run under watermark 0, so an out-of-order row
    * would be dropped as late, silently.
    */
  private def runReplayedStream[T: org.apache.spark.sql.Encoder](s: SparkSession,
      prefix: String, batches: Seq[Seq[T]], snapshotBefore: Int)(
      sink: (Dataset[T], String) => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory(prefix)
    try {
      val chk = s"$tmp/chk"; val snap = s"$tmp/snap"
      val live = MemoryStream[T]
      var q = sink(live.toDS(), chk)
      try batches.zipWithIndex.foreach { case (b, i) =>
        // snapshot BEFORE the engine commits the replayed suffix
        if (i == snapshotBefore) copyDir(chk, snap)
        live.addData(b.toIndexedSeq); q.processAllAvailable()
      } finally q.stop()
      deleteDir(chk); copyDir(snap, chk)
      // Restart on a FRESH MemoryStream: the old instance's in-process
      // commit tracking refuses to go backward past more than the final
      // batch ("Offsets committed out of order"). The identical addData
      // sequence reproduces the same offset→data mapping, and pacing it
      // with processAllAvailable per batch keeps the original micro-batch
      // boundaries — the committed prefix re-adds as no-ops, the suffix
      // replays through the sink with the same per-batch watermark
      // progression as the first run (a single catch-up batch would jump
      // the watermark and could leave the final event-time timeouts
      // unfired at stop).
      val replay = MemoryStream[T]
      // the committed prefix must be present BEFORE the restarted query
      // recovers — it resolves its checkpointed offsets against the source
      // immediately at start, and an empty stream fails that lookup
      batches.take(snapshotBefore).foreach(b => replay.addData(b.toIndexedSeq))
      q = sink(replay.toDS(), chk)
      try batches.drop(snapshotBefore).foreach { b =>
        replay.addData(b.toIndexedSeq); q.processAllAvailable()
      } finally q.stop()
    } finally deleteDir(tmp.toString) // checkpoint tree gone even on failure
  }

  /** Checkpoint snapshot/rollback plumbing shared with the streaming specs
    * (ONE copy — the two sides' replay rigs must not drift). Files.walk
    * streams hold directory handles and must be closed.
    */
  private[graft] def copyDir(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      val t = java.nio.file.Paths.get(to).resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  private[graft] def deleteDir(dir: String): Unit = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
    finally walk.close()
  }

  /** Force-build the stores the BENCHED queries serve from (idempotent per
    * JVM). The streaming-engine-built stores are deliberately absent: their
    * `q_stream_store_*` queries are [[benchExcluded]], so pre-building them
    * would add minutes of MemoryStream fixture-feeding to every bench run
    * that no timed query reads — the correctness gate (Verify, sf0.01)
    * builds and checks them on every run, and the bench's dedicated
    * streaming legs measure engine throughput at scale.
    */
  def prepareStores(s: SparkSession, dir: String): Unit = {
    // r21: the nine builds are independent (distinct store paths, distinct
    // catalog names, thread-safe ensureStore/ivfCentroids memos, no build
    // touches another store's key) but each is internally a CHAIN of small
    // barriered jobs — date-partitioned writes, compaction rewrites,
    // generation commits — whose stage tails and driver-side commit phases
    // leave most of local[N] idle. Overlapping them from a small pool
    // back-fills those tails with the next build's tasks (the optimization
    // guide's "overlap independent jobs" pattern, §2.6): Spark's FIFO
    // scheduler runs concurrent jobs from one session natively, and each
    // build's own job sequence stays sequential in its thread, so every
    // store's bytes are byte-identical to the serial build. 3 in flight is
    // the guide's recommendation (fill the tail, don't fight for
    // executors); measured r21: store_write_sec 63.0 → 16–22 s on the
    // same host. On failure, EVERY sibling build is awaited to completion
    // (success or its own failure) BEFORE the first exception is rethrown
    // (unwrapped) — interrupting the pool instead would abort only the
    // JobWaiter waits, leaving orphaned store-write jobs running into the
    // timed region (billing their task cpu to the first timed queries) or
    // into a retrying query's delete-and-rebuild of the same path.
    //
    // INVARIANT the overlap relies on (r21 ADVICE): events()'s conf window
    // (nanosAsLong / inferTimestampNTZ flips under eventsConfLock) is
    // serialized against other events() CALLERS only — a sibling build's
    // concurrent NON-events parquet read (compaction read-backs, the
    // embeddings scans under the IVF builds) can observe the flipped confs.
    // That is benign exactly as long as no store-build-side parquet file
    // carries TIMESTAMP(NANOS) or NTZ columns (today they are BIGINT/DATE/
    // float arrays); a store that ever gains a timestamp column must read
    // it through a conf-isolated helper like events(), or this pool must
    // serialize against the lock too.
    val builds: Seq[(SparkSession, String) => Any] = Seq(
      traceStore, dependencyStore, bucketedTraceStore, compactedTraceStore,
      compactedDependencyStore, autocompleteStore, ivfIndexStore,
      ivfIncrementalStore, shardStore)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      // the await-all barrier also holds across an INTERRUPT of the calling
      // thread (r21 ADVICE): scala.util.Try catches NonFatal only, so a bare
      // Try(f.get()) would let InterruptedException propagate before the
      // sibling builds settled — the exact orphaned-jobs leak the barrier
      // exists to prevent. An interrupt is recorded, the wait RESUMES (the
      // builds are bounded, so delayed interrupt delivery is the lesser
      // evil), and the flag is re-asserted + InterruptedException rethrown
      // only after every future settles. Fatal VM errors still propagate
      // immediately — awaiting siblings on a dying JVM helps nobody.
      var interrupted = false
      val outcomes = builds
        .map(b => pool.submit(new java.util.concurrent.Callable[Any] {
          override def call(): Any = b(s, dir)
        }))
        .map { f =>
          def await(): scala.util.Try[Any] =
            try scala.util.Success(f.get())
            catch {
              case _: InterruptedException => interrupted = true; await()
              case scala.util.control.NonFatal(e) => scala.util.Failure(e)
            }
          await()
        }
      // re-assert the flag BEFORE the rethrow below, so a failed build's
      // exception leaves the interrupt visible to the caller either way
      if (interrupted) Thread.currentThread().interrupt()
      outcomes.collectFirst {
        case scala.util.Failure(e: java.util.concurrent.ExecutionException) =>
          throw Option(e.getCause).getOrElse(e)
        case scala.util.Failure(e) => throw e
      }: Unit
      if (interrupted)
        throw new InterruptedException(
          "prepareStores interrupted — every store build was awaited to completion first")
    } finally pool.shutdown()
  }

  /** The exported training shards behind q_shard_export: content-addressed
    * assignment, (shard, id)-sorted files
    * ([[graft.operators.Curation.writeTrainingShards]]). Built once; the
    * query times read-back + manifest only, like every other store.
    */
  private def shardStore(s: SparkSession, dir: String): String =
    ensureStore(s, "shards", dir)(p =>
      graft.operators.Curation.writeTrainingShards(
        t(s, dir, "documents"), p, "doc_id", "text", nShards = 8))

  /** The persisted IVF index: embeddings assigned to their nearest
    * centroid, parquet-partitioned by cell ([[Similarity.writeIvfIndex]]).
    * The corpus × centroids assignment pass runs once at build; the
    * q_ann_ivf* queries then probe — a cell-directory-bounded scan, the
    * on-disk serving shape an ANN deployment keeps. Centroids come from
    * the per-dir deterministic cache, so index build and probe can never
    * disagree on the cell geometry.
    */
  private def ivfIndexStore(s: SparkSession, dir: String): String =
    ensureStore(s, "ivfidx", dir) { path =>
      graft.functions.Similarity.writeIvfIndex(
        t(s, dir, "embeddings"), "vec_id", "embedding", ivfCentroids(s, dir), path)
    }

  /** The INCREMENTALLY-built IVF index behind q_ann_ivf_incr_recall: the
    * same corpus and cell geometry as [[ivfIndexStore]], but built the
    * maintenance way — two delta appends assigned with the SAME persisted
    * centroids, one generation compaction
    * ([[graft.functions.Similarity.compactIvfIndex]]), then a THIRD
    * post-compaction append, so the probe must serve generation dirs and
    * loose append files together. Serving equivalence is the point: this
    * store's probe shares the one-shot index's recall gate.
    */
  private def ivfIncrementalStore(s: SparkSession, dir: String): String =
    ensureStore(s, "ivfinc", dir) { path =>
      val emb = t(s, dir, "embeddings")
      val cents = ivfCentroids(s, dir)
      def half(pred: Column): Unit =
        graft.functions.Similarity.appendIvfIndex(
          emb.where(pred), "vec_id", "embedding", cents, path)
      half(pmod(col("vec_id"), lit(2)) === 0)
      half(pmod(col("vec_id"), lit(4)) === 1)
      graft.functions.Similarity.compactIvfIndex(s, path)
      half(pmod(col("vec_id"), lit(4)) === 3)
    }

  /** Correctness-gate-only queries Bench skips: each serves a store the
    * STREAMING ENGINE built (MemoryStream fixture feed + checkpoint-rollback
    * replay), so its timed portion would be either a duplicate of an
    * existing q_store_* read (if pre-built) or ~all fixture plumbing (if
    * not). Skipping them also keeps the bench stdout line inside the
    * driver's ~2 KB tail window — the per-query map pays ~30 bytes per
    * name, and overflowing the 1800-char budget degrades the whole line to
    * an aggregate-only tier.
    */
  val benchExcluded: Set[String] = Set(
    "q_stream_store_autocomplete", "q_stream_store_traces",
    "q_stream_store_dependencies", "q_dedup_stream", "q_curate_stream")

  /** Shared exploded-span projection of the getTrace/getTraceMany surfaces —
    * ONE shape for the in-memory and bucketed-store legs, so their shared
    * oracles compare like for like.
    */
  private def spanRows(traces: Dataset[graft.model.Trace]): DataFrame =
    traces.toDF()
      .select(col("trace_id"), explode(col("spans")).as("sp"))
      .select(col("trace_id"), col("sp.id").as("span_id"),
        col("sp.name").as("name"), expr("sp.timestamp DIV 1000").as("ts_ms"))

  /** IVF centroids per sf-dir, trained once per JVM and shared by q_ann_ivf
    * and q_ann_ivf_recall — an IVF index is train-once/search-many, and the
    * recall gate must score the SAME cells the search probes. Cached as
    * driver-local DATA, not a DataFrame: a DataFrame binds to one
    * SparkSession, and sessions come and go within a JVM (test suites).
    */
  private val ivfCentroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Long, Seq[Double])]]()

  private def ivfCentroids(s: SparkSession, dir: String): DataFrame = {
    val rows = ivfCentroidCache.computeIfAbsent(dir, _ =>
      Similarity.kmeansCentroidsLocal(t(s, dir, "embeddings"), "vec_id", "embedding",
        nCentroids = 16))
    import s.implicits._
    rows.toDF("centroid_id", "centroid_vec")
  }

  /** Shared cluster construction for q_dedup_clusters / q_dedup_apply —
    * ONE definition so the two surfaces (and their shared ClustersCtes
    * oracle) can never drift on threshold/n/banding. Pairs come from the
    * sub-quadratic MinHash+LSH path with exact verification (the 100 TB
    * default); the oracle is the exact uncapped 0.8-Jaccard closure, which
    * the verified LSH pairs match up to an all-band miss ≈ 5e-8 per pair.
    */
  private def dedupClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.clustersFromMinhash(t(s, dir, "documents"), "doc_id", "text",
      n = 3, numHashes = 128, bands = 32, threshold = 0.8)

  /** Order-independent fingerprint of a span array covering EVERY field of
    * the span schema (nested endpoints, annotations, sorted tag entries,
    * flags) — the SC6 gate compares it across the JSON round-trip, so it must
    * not skip a field (a skipped field is a field the gate can't protect).
    * The \\u0003 sentinel marks SQL NULL so a nulled field never collides with an empty string.
    */
  private[graft] def spanSetFingerprint(spans: Column): Column = {
    val NULL = "\u0003"
    def ep(e: Column): Column = concat_ws("\u0002",
      coalesce(e.getField("service_name"), lit(NULL)),
      coalesce(e.getField("ipv4"), lit(NULL)),
      coalesce(e.getField("ipv6"), lit(NULL)),
      coalesce(e.getField("port").cast("string"), lit(NULL)))
    md5(concat_ws("|", sort_array(transform(spans, sp => concat_ws("\u0001",
      coalesce(sp.getField("trace_id"), lit(NULL)),
      coalesce(sp.getField("parent_id"), lit(NULL)),
      coalesce(sp.getField("id"), lit(NULL)),
      coalesce(sp.getField("kind"), lit(NULL)),
      coalesce(sp.getField("name"), lit(NULL)),
      coalesce(sp.getField("timestamp").cast("string"), lit(NULL)),
      coalesce(sp.getField("duration").cast("string"), lit(NULL)),
      when(sp.getField("local_endpoint").isNotNull, ep(sp.getField("local_endpoint")))
        .otherwise(lit(NULL)),
      when(sp.getField("remote_endpoint").isNotNull, ep(sp.getField("remote_endpoint")))
        .otherwise(lit(NULL)),
      // control-char separators (not ","/":"/"="): tag/annotation VALUES may
      // contain those, and "a"->"1,b=2" must not collide with "a"->"1",
      // "b"->"2". A dropped-to-null container gets the NULL sentinel so it
      // can't alias an empty one.
      // inner fields coalesce too: concat_ws skips nulls, so (ts, null) and
      // (null, "ts") would otherwise render — and fingerprint — identically
      when(sp.getField("annotations").isNotNull,
        concat_ws("\u0004", sort_array(transform(sp.getField("annotations"),
          a => concat_ws("\u0005",
            coalesce(a.getField("timestamp").cast("string"), lit(NULL)),
            coalesce(a.getField("value"), lit(NULL))))))).otherwise(lit(NULL)),
      when(sp.getField("tags").isNotNull,
        concat_ws("\u0004", array_sort(transform(map_entries(sp.getField("tags")),
          e => concat_ws("\u0005",
            coalesce(e.getField("key"), lit(NULL)),
            coalesce(e.getField("value"), lit(NULL)))))))
        .otherwise(lit(NULL)),
      coalesce(sp.getField("shared").cast("string"), lit(NULL)),
      coalesce(sp.getField("debug").cast("string"), lit(NULL)))))))
  }

  // Fixed query window for deterministic oracles: endTs 2024-01-20T00:00Z,
  // lookback 10 d — a proper subset of the events range (2024-01-01..01-30),
  // so the range predicate filters non-trivially at every scale factor.
  private val EndTsMs = 1705708800000L
  private val LookbackMs = 864000000L

  /** Store reads that MERGE partials over-read the range SYMMETRICALLY by
    * this bound (one day ≫ any session length + allowed lateness): a partial
    * row whose own root_ts sits just outside [endTs−lookback, endTs] — on
    * EITHER side; late spans of a trace rooted just inside the upper edge
    * land after it — still belongs to a trace whose merged root is inside
    * the window, and a range read sized exactly to the query window would
    * drop that row pre-merge and serve a subset-merged trace. The query
    * predicate re-applies the EXACT window on the post-merge root_ts, so the
    * grace only widens the candidate scan (a few extra date partitions),
    * never the answer.
    */
  private val MergeGraceMs = 86400000L

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_a3_dependency_links")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ——— relational / aggregation shapes (SURVEY §2.4, §2.6) ———
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // ——— A1/A2: session-window trace aggregation (Spark session_window) ———
    "q_a1_sessionize" -> ((s, dir) => {
      events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(
          col("user_id"),
          unix_millis(col("session_window.start")).as("session_start_ms"),
          unix_millis(col("session_window.end")).as("session_end_ms"),
          col("n_events"))
    }),

    // ——— A3 (+P1/P3/A6 + TraceMerge): per-trace dependency linking, merged ———
    "q_a3_dependency_links" -> ((s, dir) => {
      SpanPipeline.dependencyLinks(eventTraces(s, dir))
        .toDF().select(col("link.*"))
        .groupBy("parent", "child")
        .agg(sum("call_count").as("call_count"), sum("error_count").as("error_count"))
    }),

    // ——— A4: 1-minute windowed count-sum per edge ———
    "q_a4_dependency_windows" -> ((s, dir) =>
      SpanPipeline.dependencyWindows(SpanPipeline.dependencyLinks(eventTraces(s, dir)))),

    // ——— A5/F2: query-time dependency merge over [endTs−lookback, endTs] ———
    "q_a5_dependencies" -> ((s, dir) =>
      TraceQueries.dependencies(
        SpanPipeline.dependencyWindows(SpanPipeline.dependencyLinks(eventTraces(s, dir))),
        EndTsMs, LookbackMs)),

    // ——— F1/W1/W2: find-traces with service filter, newest-first, limit ———
    "q_f1_find_traces" -> ((s, dir) => {
      val req = QueryRequest(serviceName = Some("purchase"),
        endTs = EndTsMs, lookback = LookbackMs, limit = 10)
      TraceQueries.getTraces(eventTraces(s, dir), req)
        .select(col("trace_id"),
          expr("root_ts DIV 1000").as("root_ts_ms"),
          size(col("spans")).cast("long").as("n_spans"))
    }),

    // ——— S6 store round-trip: the SAME find-traces answer served through
    //     the date-partitioned parquet trace store (the reference's
    //     time-segmented trace segments, streams/TraceStorageTopology
    //     .java:87-91): write, range-read with partition pruning at file
    //     listing, at-least-once merge at read, then the F1 query. The
    //     oracle is identical to q_f1_find_traces — the store round-trip
    //     must not change the answer ———
    "q_store_find_traces" -> ((s, dir) => {
      val path = traceStore(s, dir) // built once per JVM; Bench pre-builds
      val req = QueryRequest(serviceName = Some("purchase"),
        endTs = EndTsMs, lookback = LookbackMs, limit = 10)
      TraceQueries.getTraces(
        TraceQueries.fromStore(
          graft.store.StoreLayout.readTraces(s, path,
            EndTsMs + MergeGraceMs, LookbackMs + 2 * MergeGraceMs)), req)
        .select(col("trace_id"),
          expr("root_ts DIV 1000").as("root_ts_ms"),
          size(col("spans")).cast("long").as("n_spans"))
    }),

    // ——— Store compaction: the SAME find-traces answer after
    //     StoreLayout.compactTraces collapsed a store seeded with
    //     redelivery duplicates and split partials (the reference's store
    //     is continuously compacted by Kafka Streams' changelog upserts,
    //     streams/TraceStorageTopology.java:108-115; append-only parquet
    //     needs the explicit pass). Production read path unchanged —
    //     merge-on-read stays as the backstop for cross-date partials ———
    "q_store_compacted" -> ((s, dir) => {
      val path = compactedTraceStore(s, dir)
      val req = QueryRequest(serviceName = Some("purchase"),
        endTs = EndTsMs, lookback = LookbackMs, limit = 10)
      TraceQueries.getTraces(
        TraceQueries.fromStore(
          graft.store.StoreLayout.readTraces(s, path,
            EndTsMs + MergeGraceMs, LookbackMs + 2 * MergeGraceMs)), req)
        .select(col("trace_id"),
          expr("root_ts DIV 1000").as("root_ts_ms"),
          size(col("spans")).cast("long").as("n_spans"))
    }),

    // ——— S6 dependency-store round-trip: the SAME dependencies answer
    //     served through the date-partitioned window store (the reference's
    //     second persistent window store,
    //     streams/DependencyStorageTopology.java:56-66, queried at
    //     KafkaStorageHttpService.java:69-96): write, range-read with
    //     window_date pruning at file listing, re-sum per edge at query
    //     time. The oracle is identical to q_a5_dependencies — the store
    //     round-trip must not change the answer ———
    "q_store_dependencies" -> ((s, dir) =>
      TraceQueries.dependencies(
        graft.store.StoreLayout.readDependencyWindows(
          s, dependencyStore(s, dir), EndTsMs, LookbackMs),
        EndTsMs, LookbackMs)),

    // same answer once more after compactDependencyWindows physically
    // collapsed the replayed finals (q_store_dependencies gates the
    // READ-side collapse; this gates the store rewrite)
    "q_store_deps_compact" -> ((s, dir) =>
      TraceQueries.dependencies(
        graft.store.StoreLayout.readDependencyWindows(
          s, compactedDependencyStore(s, dir), EndTsMs, LookbackMs),
        EndTsMs, LookbackMs)),

    // ——— A6: materialized trace store (trace_id → root ts, span count) ———
    "q_a6_trace_store" -> ((s, dir) =>
      eventTraces(s, dir).toDF()
        .select(col("trace_id"),
          expr("root_ts DIV 1000").as("root_ts_ms"),
          size(col("spans")).cast("long").as("n_spans"))),

    // ——— F1 full predicate: annotationQuery + duration bounds ———
    "q_f1_duration" -> ((s, dir) => {
      val req = QueryRequest(annotationQuery = Map("error" -> ""),
        minDuration = Some(150000L), endTs = EndTsMs, lookback = LookbackMs, limit = 20)
      TraceQueries.getTraces(eventTraces(s, dir), req)
        .select(col("trace_id"),
          expr("root_ts DIV 1000").as("root_ts_ms"),
          size(col("spans")).cast("long").as("n_spans"))
    }),

    // ——— F3/W5: latest entry per key (backwardFetch + first) ———
    "q_f3_latest_event" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
      events(s, dir)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("user_id", "event_id", "event_type")
    }),

    // ——— A7/W4: span-name store → service-name enumeration (relational
    //     store build off the events projection — no window, no Span objects) ———
    "q_w4_service_names" -> ((s, dir) =>
      TraceQueries.serviceNames(
        SpanPipeline.spanNamesRelational(EventSpans.spanFields(events(s, dir))))),

    // ——— A8/W4: remote-service-name store, exploded ———
    "q_w4_remote_names" -> ((s, dir) =>
      SpanPipeline.remoteServiceNamesRelational(EventSpans.spanFields(events(s, dir)))
        .select(col("service"), explode(col("remote_service_names")).as("remote_service"))),

    // ——— A8/W4: autocomplete tag values for configured keys ———
    "q_a8_autocomplete" -> ((s, dir) =>
      TraceQueries.autocompleteValues(
        SpanPipeline.autocompleteTagsRelational(
          EventSpans.spanFields(events(s, dir)), Seq("k")), "k")),

    // ——— the SAME autocomplete answer served through the incremental
    //     delta store (the reference's persistent autocomplete store,
    //     streams/TraceStorageTopology.java:143-149): two batch-local delta
    //     appends + one replayed append + expired fodder dropped by
    //     seen_date retention (ST6), compactSetStore's generation commit,
    //     then the read-side collapse — the last store shape in the
    //     shared-oracle family; the lifecycle must not change the answer ———
    "q_store_autocomplete" -> ((s, dir) =>
      TraceQueries.autocompleteValues(
        graft.streaming.StreamingPipeline.readAutocompleteStore(
          s, autocompleteStore(s, dir)), "k")),

    // ——— the SAME answer again, but the store was built by the REAL
    //     Structured Streaming engine: MemoryStream micro-batches through
    //     autocompleteTagsToStoreIncremental's writeStream.foreachBatch sink,
    //     a checkpoint-rollback restart replaying the final batch (the
    //     engine's own at-least-once, ST7), then compaction. ST1/ST4/ST7 are
    //     oracle-gated here, not just spec-tested ———
    "q_stream_store_autocomplete" -> ((s, dir) =>
      TraceQueries.autocompleteValues(
        graft.streaming.StreamingPipeline.readAutocompleteStore(
          s, streamAutocompleteStore(s, dir)), "k")),

    // ——— the SAME find-traces answer served from a trace store the REAL
    //     engine built: MemoryStream envelopes → the ST8 stateful
    //     sessionizer → tracesToStore's foreachBatch sink, watermark-flushed
    //     by sentinels, final batches replayed via checkpoint rollback.
    //     ST8's session semantics and the trace sink are oracle-gated here,
    //     not just spec-tested ———
    "q_stream_store_traces" -> ((s, dir) => {
      val path = streamTraceStore(s, dir)
      val req = QueryRequest(serviceName = Some("purchase"),
        endTs = EndTsMs, lookback = LookbackMs, limit = 10)
      TraceQueries.getTraces(
        TraceQueries.fromStore(
          graft.store.StoreLayout.readTraces(s, path,
            EndTsMs + MergeGraceMs, LookbackMs + 2 * MergeGraceMs)), req)
        .select(col("trace_id"),
          expr("root_ts DIV 1000").as("root_ts_ms"),
          size(col("spans")).cast("long").as("n_spans"))
    }),

    // ——— the SAME dependencies answer from a window store the REAL engine
    //     built: link events → append-mode tumbling windows (A4) →
    //     dependencyWindowsToStore's foreachBatch sink, replayed finals
    //     collapsing by batch epoch at read ———
    "q_stream_store_dependencies" -> ((s, dir) =>
      TraceQueries.dependencies(
        graft.store.StoreLayout.readDependencyWindows(
          s, streamDependencyStore(s, dir), EndTsMs, LookbackMs),
        EndTsMs, LookbackMs)),

    // ——— J4/A9/A6: getTraceMany through a store with at-least-once
    //     redelivery — duplicate store rows MUST collapse at read via
    //     TraceMerge (reference KafkaStorageHttpService.java:268-290).
    //     Store ids are ingest-normalized, request ids query-normalized. ———
    "q_j4_trace_many" -> ((s, dir) =>
      spanRows(TraceQueries.getTraceMany(redeliveredTraces(s, dir),
        (1 to 8).flatMap(u => Seq(s"$u:1", s"$u:2"))))),

    // ——— S8/S9 + J4 through the BUCKETED point-lookup store: the layout's
    //     hash-clustering on trace_id is the reference's key-hash routing
    //     (internal/KafkaStoreSingleKeyListCall.java:36-45) — the probe
    //     prunes to the id's bucket and merges without an Exchange (PlanSpec
    //     pins both). Oracle identical to q_j4_get_trace: the store must not
    //     change the answer, redelivered rows included ———
    "q_store_get_trace" -> ((s, dir) =>
      spanRows(TraceQueries.getTraceBucketed(bucketedTraces(s, dir), "3:2"))),

    // ——— the id-list leg of the same store; oracle identical to
    //     q_j4_trace_many ———
    "q_store_trace_many" -> ((s, dir) =>
      spanRows(TraceQueries.getTraceManyBucketed(bucketedTraces(s, dir),
        (1 to 8).flatMap(u => Seq(s"$u:1", s"$u:2"))))),

    // ——— SC6: JSON_V2 response encode — the oracle can't pin zipkin's exact
    //     byte layout, so the check is a round-trip: the produced JSON must
    //     re-parse under the COMPLETE span schema (SURVEY §1.2) to spans
    //     fingerprint-identical to the originals across every field, so a
    //     field silently dropped by the encoder's null-omission goes red
    //     (reference writer: KafkaStorageHttpService.java:329-353). The ids
    //     md5 stays oracle-computable; roundtrip_ok is pinned constant ———
    "q_sc6_json" -> ((s, dir) => {
      val enc = eventTraces(s, dir).toDF().select(col("trace_id"), col("spans"),
        TraceQueries.jsonV2(col("spans")).as("json"))
      val parsed = from_json(col("json"),
        org.apache.spark.sql.types.ArrayType(graft.model.Spans.schema))
      enc.select(col("trace_id"),
        size(parsed).cast("long").as("n_spans"),
        md5(concat_ws(",", sort_array(transform(parsed, sp => sp.getField("id")))))
          .as("span_ids_md5"),
        (spanSetFingerprint(parsed) === spanSetFingerprint(col("spans")))
          .as("roundtrip_ok"))
    }),

    // ——— W4: span names for one service (KafkaStorageHttpService.java:125-133) ———
    "q_w4_span_names" -> ((s, dir) =>
      TraceQueries.spanNames(
        SpanPipeline.spanNamesRelational(EventSpans.spanFields(events(s, dir))),
        "purchase")),

    // ——— A8/W4: autocomplete keys present in the store
    //     (KafkaStorageHttpService.java:292-309) ———
    "q_a8_autocomplete_keys" -> ((s, dir) =>
      TraceQueries.autocompleteKeys(
        SpanPipeline.autocompleteTagsRelational(
          EventSpans.spanFields(events(s, dir)), Seq("error", "k")))),

    // ——— J4 single-id getTrace through the at-least-once store — the
    //     one-trace variant of q_j4_trace_many; redelivered duplicate rows
    //     MUST collapse via TraceMerge at read
    //     (KafkaStorageHttpService.java:243-266) ———
    "q_j4_get_trace" -> ((s, dir) =>
      spanRows(TraceQueries.getTrace(redeliveredTraces(s, dir), "3:2"))),

    // ——— skew: salted equi-join, oracle-pinned result-identical to the
    //     unsalted join. l_returnflag has 3 distinct values — the genuinely
    //     skewed key shape; the tiny dim side is replicated saltFactor×, the
    //     probe side's hot key spreads over 8 reducers ———
    "q_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      // quantities are integral, so avg is order-independent bit-exact
      val flagStats = li.groupBy("l_returnflag").agg(avg("l_quantity").as("flag_avg_qty"))
      graft.functions.Salting
        .saltedJoin(li, flagStats, Seq("l_returnflag"), col("l_orderkey"), saltFactor = 8)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          round(col("l_quantity") - col("flag_avg_qty"), 4).as("qty_dev"))
    }),

    // ——— J-class joins (SURVEY §2.5; broadcast dims, semi/anti) ———
    "q_join_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .where(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
        .groupBy("r_name", "n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    "q_j_semi" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").where(col("o_orderstatus") === "F")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")
    }),

    "q_j_anti" -> ((s, dir) => {
      val p = t(s, dir, "part")
      val li = t(s, dir, "lineitem").where(col("l_quantity") > 45)
      p.join(li, col("p_partkey") === col("l_partkey"), "left_anti")
        .select("p_partkey", "p_brand")
    }),

    // ——— W5: rank-per-group top-N ———
    "q_window_topn" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      o.join(c, col("o_custkey") === col("c_custkey"))
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .select(col("c_mktsegment"), col("rnk").cast("long").as("rnk"),
          col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
    }),

    // ——— SO: set operations (union/distinct/except — A9/SO1/SO2) ———
    "q_so_except" -> ((s, dir) => {
      val e = events(s, dir)
      val week1 = e.where(col("ts") < lit("2024-01-08").cast("timestamp"))
        .select("user_id", "event_type").distinct()
      val week4 = e.where(col("ts") >= lit("2024-01-22").cast("timestamp"))
        .select("user_id", "event_type").distinct()
      week1.except(week4)
    }),

    // ——— A-class: distinct aggregation (Expand-based) ———
    // ——— data layout: Morton (Z-order) keys — the OPTIMIZE ZORDER BY
    //     primitive. The key itself is the gated surface (bit-exact
    //     shifts-and-ors, replayed by DuckDB); the layout win (files in
    //     z-ranges carry tight min/max envelopes on EVERY dimension, so
    //     multi-dim box predicates prune files) is pinned by the
    //     FunctionsSpec pruning leg over real written files ———
    "q_zorder" -> ((s, dir) =>
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        graft.functions.ZOrderKey(
          Seq(pmod(col("l_orderkey"), lit(1024)), pmod(col("l_partkey"), lit(1024))),
          bits = 10).as("zkey"))),

    // ——— approximate distinct: MERGEABLE HLL sketches (DataSketches
    //     built-ins, codegen agg). Exact count-distinct shuffles every
    //     distinct value; a sketch is fixed-KB per group, merges across
    //     shards/windows with map-side partial agg intact — the only
    //     count-distinct shape at 100 TB. Gate: per-source estimates AND
    //     the union-merged global estimate within 5% of exact (in-engine;
    //     constant oracle like the recall gates) ———
    "q_approx_distinct" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val perSrc = docs.groupBy("source").agg(
        hll_sketch_agg(col("text")).as("sk"),
        countDistinct(col("text")).as("nd"))
      val merged = perSrc.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_global"),
        max(abs(hll_sketch_estimate(col("sk")) - col("nd")) /
          col("nd").cast("double")).as("max_src_err"))
      merged.crossJoin(docs.agg(countDistinct(col("text")).as("exact_global")))
        .select(lit("hll_distinct_rel_err").as("metric"),
          (col("max_src_err") <= 0.05 &&
            abs(col("est_global") - col("exact_global")) /
              col("exact_global").cast("double") <= 0.05).as("meets_target"))
    }),

    "q_count_distinct" -> ((s, dir) =>
      events(s, dir)
        .groupBy("event_type")
        .agg(countDistinct("user_id").as("n_users"),
          count(lit(1)).as("n_events"),
          // sum over DECIMAL, not DOUBLE: exact accumulation is
          // order-independent, so Spark's partition order and DuckDB's
          // sequential scan cannot round a half-boundary sum differently
          round(sum(col("value").cast("decimal(18,6)")), 2)
            .cast("double").as("sum_value"))),

    // ——— ST3-adjacent: sliding event-time windows (2 h window, 1 h slide) ———
    "q_st3_sliding" -> ((s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          // decimal sum: see q_count_distinct
          round(sum(col("value").cast("decimal(18,6)")), 2)
            .cast("double").as("sum_value"))
        .select(unix_millis(col("window.start")).as("window_start_ms"),
          col("event_type"), col("n"), col("sum_value"))),

    // ——— A-class: exact interpolated percentiles ———
    "q_percentile" -> ((s, dir) =>
      events(s, dir)
        .groupBy("event_type")
        .agg(round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.95)"), 4).as("p95"))),

    // ——— dedup: near-dup clusters (connected components → canonical doc),
    //     fed by MinHash+LSH candidates with exact verification — the
    //     sub-quadratic pair source a 100 TB corpus needs ———
    "q_dedup_clusters" -> ((s, dir) => dedupClusters(s, dir)),

    // ——— dedup applied end-to-end: corpus minus non-canonical near-dups ———
    "q_dedup_apply" -> ((s, dir) =>
      Dedup.dropNearDuplicates(t(s, dir, "documents"), "doc_id", dedupClusters(s, dir))
        .select("doc_id")),

    // ——— dedup: benchmark decontamination report — corpus docs sharing
    //     ≥ 2 distinct 5-grams with a benchmark set (the eval-leak overlap
    //     check every pretraining pipeline runs before training). The
    //     benchmark here is a derived leak: the first-12-token prefix of
    //     every 20th doc, so the sources (and their near-dup copies) are
    //     contaminated by construction and chance 5-gram collisions stay
    //     zero. Corpus side: one tokenize+explode into a broadcast hash
    //     probe — no corpus-sized shuffle ———
    "q_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.where(col("doc_id") % 20 === 0)
        .select(concat_ws(" ",
          slice(TextAnalysis.tokens(col("text")), 1, 12)).as("bench_text"))
      Dedup.contaminationReport(docs, "doc_id", "text", bench, "bench_text", n = 5)
        .where(col("n_overlap") >= 2)
    }),

    // ——— packing: greedy first-fit of docs into 2048-token training bins
    //     over 8 independent content-hash streams — sequential per stream
    //     by nature, parallel across streams by design ———
    "q_pack" -> ((s, dir) =>
      graft.functions.Packing.packGreedy(
        t(s, dir, "documents")
          .select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", budget = 2048L, streams = 8)),

    // ——— packed-sequence materialization: each bin's docs concatenated in
    //     placement order with an EOD separator — the artifact trainers
    //     consume; the oracle extends q_pack's recursive CTE with the text
    //     join and an ORDER BY doc_id string_agg ———
    "q_pack_seq" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val packed = graft.functions.Packing.packGreedy(
        docs.select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", budget = 2048L, streams = 8)
      graft.functions.Packing.materialize(packed, docs, "doc_id", "text")
        .select(col("stream"), col("bin"), col("n_docs"),
          md5(col("seq")).as("seq_md5"))
    }),

    // ——— the end-to-end curation composition: quality/repetition gate →
    //     exact dedup → benchmark decontamination, one operator flow
    //     (each stage is separately oracle-gated; this gates the
    //     composition — survivors only) ———
    "q_curate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.where(col("doc_id") % 20 === 0)
        .select(concat_ws(" ",
          slice(TextAnalysis.tokens(col("text")), 1, 12)).as("bench_text"))
      graft.operators.Curation.curate(docs, "doc_id", "text", bench, "bench_text")
        .select("doc_id")
    }),

    // ——— curation terminal stage: content-addressed training-shard
    //     export. The shards are WRITTEN (one hash repartition,
    //     partitionBy dirs, (shard, id)-sorted files) then READ BACK, and
    //     the per-shard manifest of the read-back — counts + an
    //     order-independent content checksum — is what the oracle gates:
    //     a doc landing in the wrong shard, dropped, or duplicated by the
    //     round-trip shifts some shard's n_docs or content_sum ———
    "q_shard_export" -> ((s, dir) => {
      val path = shardStore(s, dir) // built once per JVM; Bench pre-builds
      s.read.parquet(path)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(pmod(graft.functions.HashFunctions.portableHash64(col("text")),
            lit(1000000007L))).as("content_sum"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
    }),

    // ——— text analysis: corpus vocabulary — top-K token frequencies, the
    //     tokenizer-training input (map-side partial agg collapses each
    //     partition's token stream to its local vocab pre-shuffle) ———
    "q_vocab" -> ((s, dir) =>
      TextAnalysis.tokenFrequencies(t(s, dir, "documents"), "text", topK = 50)),

    // ——— text analysis: out-of-vocabulary rate — rare-token density
    //     against the corpus top-50 vocabulary (q_vocab's train output
    //     turned into a quality signal); vocab driver-collected, scoring
    //     an in-scan membership filter ———
    "q_oov" -> ((s, dir) =>
      TextAnalysis.oovRate(t(s, dir, "documents"), "text", topK = 50)
        .select("doc_id", "n_tokens", "n_oov", "oov_rate")),

    // ——— sampling: deterministic exact-N (fixed labeling/eval budget) —
    //     smallest content hash wins, nested across n, and the global
    //     sort-limit plans as TakeOrderedAndProject (per-partition top-n
    //     heap, never a full corpus sort) ———
    "q_sample_n" -> ((s, dir) =>
      graft.functions.Sampling.exactN(
        t(s, dir, "documents").select("doc_id", "source"), "doc_id", n = 40)),

    // ——— sampling: deterministic per-source keep-% (domain-mix
    //     rebalancing), the weight table compiled into one CASE in-scan ———
    "q_weighted_sample" -> ((s, dir) =>
      graft.functions.Sampling.weightedSample(t(s, dir, "documents"),
          "doc_id", "source",
          Map("src1" -> 80, "src2" -> 50, "src3" -> 10), defaultPct = 30)
        .select("doc_id", "source")),

    // ——— sampling: deterministic content-hash train/val/test split ———
    "q_sample_split" -> ((s, dir) =>
      graft.functions.Sampling.split(t(s, dir, "documents"), "doc_id")
        .groupBy("lang", "split").agg(count(lit(1)).as("n"))),

    // ——— text: normalization fingerprint (lower + strip non-alnum) ———
    "q_text_normalize" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        md5(regexp_replace(lower(col("text")), "[^a-z0-9 ]", "")).as("norm_md5"))),

    // ——— A-class: grouping-set rollup ———
    "q_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))),

    // ——— P5/SC8: canonical hex-id normalization ———
    "q_p5_normalize" -> ((s, dir) =>
      events(s, dir)
        .select(lower(lpad(hex(col("user_id")), 16, "0")).as("norm_id"))
        .distinct()),

    // ——— text analysis: token/subword counts, quality scoring — all from
    //     ONE tokenization pass (TextProfile; the per-statistic HOF chain
    //     re-split the text five times, interpreted) ———
    "q_text_stats" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.profile(col("text")).as("p"))
        .select(col("doc_id"),
          col("p.n_tokens").as("n_tokens"),
          col("p.n_subwords").as("n_subwords"),
          col("p.n_stopwords").as("n_stopwords"),
          TextAnalysis.qualityFromProfile(col("p")).as("quality"))),

    // ——— text analysis: overlapping token-window chunking (the shape a
    //     pretraining pipeline feeds to tokenization/packing; narrow
    //     projection, no shuffle) ———
    "q_chunk_text" -> ((s, dir) =>
      graft.functions.Chunking.chunkByTokens(
        t(s, dir, "documents"), "doc_id", "text", chunkSize = 64, overlap = 16)),

    // ——— text analysis: n-gram-heuristic language ID ———
    "q_lang_id" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.profile(col("text")).as("p"))
        .select(col("doc_id"), TextAnalysis.languageIdFromProfile(col("p")).as("lang"))),

    // ——— text analysis: rolling-hash fingerprint (custom codegen Expression) ———
    "q_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))),

    // ——— text analysis: PII redaction — the fixture corpus carries no PII,
    //     so the query PLANTS a deterministic email + phone per doc (derived
    //     from doc_id) and gates the scrub end-to-end: redacted-text md5
    //     plus placeholder counts, all inside the scan projection ———
    "q_pii_redact" -> ((s, dir) => {
      val planted = concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com or call +1 (415) 555-01"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.redactPii(planted).as("red"))
        .select(col("doc_id"), md5(col("red")).as("redacted_md5"),
          (size(split(col("red"), "<EMAIL>", -1)) - 1).cast("long").as("n_emails"),
          (size(split(col("red"), "<PHONE>", -1)) - 1).cast("long").as("n_phones"))
    }),

    // ——— text analysis: Gopher-style repetition filters — top-2-gram
    //     fraction + duplicate-3-gram fraction + the keep rule, all from
    //     ONE single-pass RepetitionProfile expression (a narrow in-scan
    //     projection; the relational formulation would explode every
    //     2-gram through two corpus-wide shuffles for a within-doc stat) ———
    "q_repetition" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.repetitionProfile(col("text")).as("p"))
        .select(col("doc_id"),
          col("p").getField("n_tokens").as("n_tokens"),
          col("p").getField("top_bigram_count").as("top_bigram"),
          round(TextAnalysis.topBigramFrac(col("p")), 4).as("top_bigram_frac"),
          round(TextAnalysis.dupTrigramFrac(col("p")), 4).as("dup_trigram_frac"),
          TextAnalysis.repetitionKeep(col("p")).as("keep"))),

    // ——— text analysis: model-based quality classifier — fastText-style
    //     hashed bag-of-tokens linear model (HashedBagLinear expression:
    //     token → 31-poly hash → bucket weight, mean + bias), the standard
    //     learned quality filter. The "trained" model here is a
    //     deterministic closed-form weight vector the oracle re-derives;
    //     gated in LOGIT space (sigmoid is monotone) so the doubles are
    //     bit-identical across engines with no exp in the gate ———
    "q_quality_classifier" -> ((s, dir) => {
      val logit = TextAnalysis.classifierLogit(
        col("text"), SparkEntry.classifierWeights, bias = -0.05)
      t(s, dir, "documents").select(
        col("doc_id"),
        round(logit, 4).as("logit"),
        TextAnalysis.classifierKeep(logit, threshold = 0.5).as("keep"))
    }),

    // ——— text analysis: tokenizer INFERENCE — WordPiece-style greedy
    //     longest-match segmentation against a literal vocab (the apply
    //     side of q_vocab's train side). The vocab deliberately nests
    //     prefixes (th/the/ther, in/ing) so the gate bites on the
    //     longest-match rule itself; the oracle replays the sequential
    //     greedy recurrence with a recursive CTE (q_pack's technique) ———
    "q_subword" -> ((s, dir) => {
      val pieces = TextAnalysis.subwordTokenize(col("text"),
        SparkEntry.subwordVocab)
      t(s, dir, "documents").select(col("doc_id"),
        size(pieces).cast("long").as("n_pieces"),
        md5(concat_ws(" ", pieces)).as("pieces_md5"))
    }),

    // ——— tokenizer TRAINING: BPE merge learning (Sennrich et al. 2016) —
    //     one distributed lexicon aggregation (the q_vocab plan; the only
    //     corpus-scale work), then the driver-side merge loop over the
    //     bounded lexicon. The oracle replays the recurrence as a CHAIN of
    //     plain CTEs — one pair-count → argmax → replace round per rank ———
    "q_bpe_train" -> ((s, dir) => {
      import s.implicits._
      SparkEntry.bpeMerges(s, dir)
        .map(m => (m.rank, m.left, m.right, m.pairN))
        .toDF("rank", "left_sym", "right_sym", "pair_n")
    }),

    // ——— tokenizer lifecycle END-TO-END: greedy longest-match apply
    //     (q_subword's engine and oracle technique) with the vocab
    //     LEARNED by BPE merge training instead of a literal — the oracle
    //     replays train (CTE chain) then apply (recursive CTE) ———
    "q_bpe_apply" -> ((s, dir) => {
      val pieces = TextAnalysis.subwordTokenize(col("text"),
        graft.functions.Bpe.vocab(SparkEntry.bpeMerges(s, dir)))
      t(s, dir, "documents").select(col("doc_id"),
        size(pieces).cast("long").as("n_pieces"),
        md5(concat_ws(" ", pieces)).as("pieces_md5"))
    }),

    // ——— tokenizer lifecycle, RANK-ORDERED apply: standard BPE encoding
    //     with the learned merges (vs q_bpe_apply's greedy longest-match —
    //     the two diverge on nested pieces). Oracle replays train, then
    //     the encode as one chained replace() per rank over the same
    //     delimiter-wrapped word states the trainer uses ———
    "q_bpe_encode" -> ((s, dir) => {
      val merges = SparkEntry.bpeMerges(s, dir).map(m => (m.left, m.right))
      val pieces = graft.functions.BpeEncode(col("text"), merges)
      t(s, dir, "documents").select(col("doc_id"),
        size(pieces).cast("long").as("n_pieces"),
        md5(concat_ws(" ", pieces)).as("pieces_md5"))
    }),

    // ——— dedup: exact (hash groupBy) ———
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", Seq(col("text")))
        .select("doc_id", "n_copies")),

    // ——— dedup: the same distinct-text contract, but the survivors were
    //     chosen by the REAL streaming engine (Dedup.exactStream over
    //     MemoryStream micro-batches with planted cross-batch duplicates
    //     and an engine-level checkpoint-rollback replay). n_rows = 1 per
    //     text key iff the engine dropped every planted re-feed ———
    "q_dedup_stream" -> ((s, dir) => {
      val path = streamDedupStore(s, dir)
      s.read.parquet(path)
        .distinct() // collapses only the replay's identical re-appended rows
        .groupBy(md5(col("text")).as("key"))
        .agg(count(lit(1)).as("n_rows"))
    }),

    // ——— curation through the STREAMING engine: quality gate → PII
    //     redaction → watermark dedup on the redacted text, micro-batched
    //     with a checkpoint-rollback replay. The re-feeds differ from
    //     their originals in raw text (per-id planted contact lines) but
    //     match after redaction — droppable only if the flow redacts
    //     BEFORE the engine's dedup state sees the key, so one survivor
    //     per distinct redacted text proves the stage order end-to-end ———
    "q_curate_stream" -> ((s, dir) => {
      val path = streamCurateStore(s, dir)
      s.read.parquet(path)
        .distinct() // collapses only the replay's identical re-appended rows
        .groupBy(md5(col("text")).as("key"))
        .agg(count(lit(1)).as("n_rows"))
    }),

    // ——— dedup: exact n-gram Jaccard via shingle inverted-index join, with
    //     the corpus-relative stop-shingle cap active (one viral shingle
    //     would otherwise own the self-join shuffle at scale) ———
    "q_dedup_ngram" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5,
          maxDocFreq = Some(Dedup.docFreqCap(docs.count())))
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
    }),

    // ——— dedup: MinHash+LSH with exact verification, at its design
    //     threshold 0.8 (near-dup regime: band-miss probability ≈ 5e-8;
    //     at 0.5 the 32×4 banding measurably drops boundary pairs) ———
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, numHashes = 128, bands = 32, threshold = 0.8)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))),

    // ——— dedup: MinHash banding quality gate at the 0.8 design threshold.
    //     The corpus' organic ≥0.8 pairs are a fixture accident, so the gate
    //     PLANTS one near-duplicate per document — ~1 marker token appended
    //     per 12 original tokens puts the 3-shingle Jaccard at
    //     n_sh/(n_sh + k) ≈ 0.85–0.92 — then measures the LSH pipeline's
    //     recall against the EXACT Jaccard truth of those planted pairs
    //     (computed directly on the known (orig, planted) id pairs — linear,
    //     no quadratic join). A banding/signature regression shrinks the
    //     candidate set, which exact verification cannot recover, so recall
    //     craters and the constant-true oracle goes red. At 128 hashes / 32
    //     bands an all-band miss at J≥0.85 is ~5e-11 per pair ———
    "q_minhash_recall" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val maxId = docs.agg(max("doc_id")).first()
      val plantOffset = (if (maxId.isNullAt(0)) 0L else maxId.getLong(0)) + 1L
      val nAppend = greatest(lit(1L),
        floor(TextAnalysis.tokenCount(col("text")) / 12).cast("long"))
      val planted = docs
        .select(col("doc_id"), concat(col("text"), lit(" "), array_join(
          transform(sequence(lit(1L), nAppend),
            i => concat(lit("zz"), col("doc_id"), lit("x"), i)), " ")).as("text"))
        .select((col("doc_id") + lit(plantOffset)).as("doc_id"), col("text"))
      val all = docs.unionByName(planted)
      // truth = planted pairs whose EXACT 3-shingle Jaccard clears 0.8
      // (short docs fall below by construction and drop out here)
      val truth = Dedup.verifyJaccard(
          docs.select(col("doc_id").as("doc_a"),
            (col("doc_id") + lit(plantOffset)).as("doc_b")),
          all, "doc_id", "text", n = 3, threshold = 0.8)
        .select("doc_a", "doc_b")
      val found = Dedup.minhashPairs(all, "doc_id", "text",
          n = 3, numHashes = 128, bands = 32, threshold = 0.8)
        .select("doc_a", "doc_b").withColumn("found", lit(1))
      truth.join(found, Seq("doc_a", "doc_b"), "left_outer")
        .agg(count(lit(1)).as("tot"), count(col("found")).as("hit"))
        .select(lit("minhash_recall_at_0.8").as("metric"),
          (col("tot") > 0 && col("hit") >= col("tot") * 0.9).as("meets_target"))
    }),

    // ——— dedup: SimHash signatures + banded hamming join ———
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxDist = 3)
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))),

    // ——— similarity: exact brute-force cosine top-k ———
    "q_ann_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb.where(col("vec_id") < 10), emb, "vec_id", "embedding", 5)
        .select(col("query_id"), col("corpus_id"),
          col("rank").cast("long").as("rank"), round(col("cosine"), 6).as("cosine"))
    }),

    // ——— similarity: IVF-bucketed ANN (approximate — rows-only check; the
    //     exact baseline q_ann_topk is the oracle-checked one) ———
    "q_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // nProbe MUST match q_ann_ivf_recall's: the gate only protects the
      // operating point it measures. Probes the PERSISTED cell-partitioned
      // index (built once in prepareStores) — the serving-path cost, like
      // every q_store_* read; the assignment pass is store-build time.
      Similarity.ivfTopKFromIndex(s, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", ivfIndexStore(s, dir), ivfCentroids(s, dir),
          k = 5, nProbe = 8)
        .select(col("query_id"), col("corpus_id"),
          col("rank").cast("long").as("rank"), round(col("cosine"), 6).as("cosine"))
    }),

    // ——— similarity: IVF quality gate — recall@5 vs the exact baseline,
    //     computed in-engine; the oracle pins the ≥0.9 floor as a constant,
    //     so the driver goes red iff recall drops below target ———
    "q_ann_ivf_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
        .select("query_id", "corpus_id")
      // these embeddings are weakly clustered (near-random directions), so
      // hitting recall 0.9 takes probing half the cells — measured 0.96 at
      // sf0.01 and 1.0 at sf0.1; tighter corpora get away with fewer probes.
      // Same persisted index + centroids as q_ann_ivf: the gate protects
      // exactly the serving path the headline query runs.
      val approx = Similarity.ivfTopKFromIndex(s, queries, "vec_id", "embedding",
          ivfIndexStore(s, dir), ivfCentroids(s, dir), k = 5, nProbe = 8)
        .select("query_id", "corpus_id").withColumn("found", lit(1))
      // count the truth set from the same join instead of assuming 50 rows,
      // so a smaller fixture or changed k can't skew the denominator
      exact.join(approx, Seq("query_id", "corpus_id"), "left_outer")
        .agg(count(lit(1)).as("tot"), count(col("found")).as("hit"))
        .select(lit("recall_at_5").as("metric"),
          (col("tot") > 0 && col("hit") >= col("tot") * 0.9).as("meets_target"))
    }),

    // ——— similarity: INCREMENTAL index maintenance gate — the same
    //     recall@5 contract as q_ann_ivf_recall, but probing the index
    //     built by delta appends + a generation compaction + a
    //     post-compaction append (ivfIncrementalStore). Red iff the
    //     append/compact/serve lifecycle loses rows or breaks geometry ———
    "q_ann_ivf_incr_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
        .select("query_id", "corpus_id")
      val approx = Similarity.ivfTopKFromIndex(s, queries, "vec_id", "embedding",
          ivfIncrementalStore(s, dir), ivfCentroids(s, dir), k = 5, nProbe = 8)
        .select("query_id", "corpus_id").withColumn("found", lit(1))
      exact.join(approx, Seq("query_id", "corpus_id"), "left_outer")
        .agg(count(lit(1)).as("tot"), count(col("found")).as("hit"))
        .select(lit("incr_recall_at_5").as("metric"),
          (col("tot") > 0 && col("hit") >= col("tot") * 0.9).as("meets_target"))
    }),

    // ——— similarity: the QUANTIZED serving path — probe scan reads int8
    //     codes (¼ the fp32 bytes), exact fp32 rescore bounded to k×4
    //     candidates per query; recall@5 vs the exact baseline must hold at
    //     the same operating point as the fp32 gate ———
    "q_ann_ivf_int8_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
        .select("query_id", "corpus_id")
      val approx = Similarity.ivfTopKInt8FromIndex(s, queries, "vec_id", "embedding",
          ivfIndexStore(s, dir), ivfCentroids(s, dir), k = 5, nProbe = 8)
        .select("query_id", "corpus_id").withColumn("found", lit(1))
      exact.join(approx, Seq("query_id", "corpus_id"), "left_outer")
        .agg(count(lit(1)).as("tot"), count(col("found")).as("hit"))
        .select(lit("int8_recall_at_5").as("metric"),
          (col("tot") > 0 && col("hit") >= col("tot") * 0.9).as("meets_target"))
    }),

    // ——— similarity: sign-LSH quality gate for the high-threshold regime —
    //     the sub-quadratic path a 100 TB corpus runs instead of the Θ(n²)
    //     grid join. The raw embeddings are near-random (no pairs above
    //     cosine ~0.4), so the gate plants one near-neighbor per vector —
    //     a content-chosen coordinate bumped by 30% of the norm puts the
    //     pair at cosine ≈ 0.95 — and pins in-engine recall vs the exact
    //     grid join at threshold 0.9; the oracle pins the floor constant ———
    "q_emb_lsh_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      // planted ids sit just past the real id range at every scale factor
      // (a fixed offset would collide once the table outgrows it)
      val maxId = emb.agg(max("vec_id")).first()
      val plantOffset = (if (maxId.isNullAt(0)) 0L else maxId.getLong(0)) + 1L
      val planted = emb.select(
        (col("vec_id") + lit(plantOffset)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === pmod(col("vec_id"), size(col("embedding"))),
            (x + lit(0.3) * Similarity.norm(col("embedding"))).cast("float"))
            .otherwise(x)).as("embedding"))
      val all = emb.unionByName(planted)
      // truth side (r21, the q_semdedup_recall reshape applied here): the
      // PLANTED pairs, verified pairwise — a broadcast equi-join of the
      // planted set onto its originals with one exact cosine per pair, O(n)
      // total. The raw embeddings are near-random (no natural pair above
      // ~0.4) and the +30%-of-norm single-coordinate bump cannot lift a
      // cross pair (orig×other-planted or planted×planted) past ~0.7, so
      // the 0.9-closure of `all` IS the planted set; the old Θ(n²) grid
      // join spent ~8M 64-dim dot products (≈19 task-cpu-s at sf0.1, this
      // query's dominant cost) re-deriving it. Planted ids sit above every
      // original id, so (orig, planted) is already the (id_a < id_b) pair
      // convention the grid join emitted.
      //
      // FIXTURE GUARD (deterministic ~512-original sample, the
      // q_semdedup_recall tripwire pattern made DIRECT): the truth side
      // below is complete iff no NON-planted pair of `all` reaches the 0.9
      // threshold. A raw-naturals bound is the wrong proxy here — the
      // worst-case angular arithmetic (a 0.3·‖e‖ bump rotates ≤ arcsin(0.3)
      // ≈ 17.5°, two bumps ≤ 35°, so naturals would need to stay under
      // cos(25.9°+35°) ≈ 0.49) trips on this fixture's harmless 0.5–0.6
      // naturals, while the ACTUAL quantity has 0.28 of margin: the planted
      // transform is a pure function of (vec_id, embedding), so the sample's
      // twins are reconstructed exactly and the sample's closure is checked
      // AT 0.9 itself — max non-planted cosine measured 0.56/0.51/0.62 at
      // sf0.001/0.01/0.1 vs every planted pair ≥ 0.9539 (closed form: a
      // planted pair's cosine is (1+0.3a)/√(1.09+0.6a) ≥ √0.91 ≈ 0.954 for
      // any component ratio a ∈ [−1,1]). ≤ C(1024,2) ≈ 524k dot products
      // at any corpus size; loud on drift.
      val stride = math.max(1L, (plantOffset + 511L) / 512L)
      // r22 hardening (r21 VERDICT task 7 + ADVICE): TWO differently-phased
      // strides — a LOCALIZED fixture drift (a future generator clustering
      // naturals in an id range one stride skips) could hollow a
      // single-phase gate silently; the half-stride phase halves that blind
      // spot for one more bounded sample join. Each phase now records the
      // sample's MAX non-planted cosine (same pairwise work the old
      // filtered count evaluated): the hard trip stays at the 0.9
      // threshold itself, and margin EROSION — the measured 0.56/0.51/0.62
      // maxima creeping toward 0.9 — is surfaced on stderr at 0.75 instead
      // of staying invisible until the day a pair crosses the gate.
      val phases = if (stride == 1) Seq(0L) else Seq(0L, stride / 2)
      phases.foreach { ph =>
        val sampAll = emb.where(pmod(col("vec_id"), lit(stride)) === ph)
          .unionByName(planted.where(
            pmod(col("vec_id") - lit(plantOffset), lit(stride)) === ph))
          .select(col("vec_id").as("sid"), col("embedding").as("sv"))
        val worst = sampAll.as("x")
          .join(broadcast(sampAll.as("y")), col("x.sid") < col("y.sid"))
          .where(col("y.sid") =!= col("x.sid") + lit(plantOffset))
          .agg(max(Similarity.cosine(col("x.sv"), col("y.sv")))).first()
        val maxNonPlanted = if (worst.isNullAt(0)) -1.0 else worst.getDouble(0)
        require(maxNonPlanted < 0.9,
          f"q_emb_lsh_recall fixture drift: sampled non-planted pair at " +
            f"cosine $maxNonPlanted%.4f >= 0.9 (phase $ph) — the " +
            "planted-pair truth side is no longer the sample's 0.9-closure; " +
            "restore the exact grid truth join or regenerate the fixture")
        if (maxNonPlanted >= 0.75) System.err.println(
          f"[q_emb_lsh_recall] WARNING: sampled non-planted cosine max " +
            f"$maxNonPlanted%.4f (phase $ph) — the documented ~0.28 margin " +
            "to the 0.9 gate is eroding; investigate the fixture before it " +
            "crosses")
      }
      val exact = emb
        .select(col("vec_id").as("id_a"), col("embedding").as("ov"))
        .join(broadcast(planted.select(col("vec_id").as("id_b"),
          col("embedding").as("pv"))),
          col("id_b") === col("id_a") + lit(plantOffset))
        .where(Similarity.cosine(col("ov"), col("pv")) >= 0.9)
        .select("id_a", "id_b")
      // planted-completeness tripwire (r21 VERDICT task 7): every original
      // contributes exactly one planted pair, and the closed form puts every
      // planted cosine ≥ 0.954 ≫ 0.9 — so the truth side must have exactly
      // corpus-many pairs. A smaller count means pairs silently fell out
      // (zero-norm rows whose cosine nulls, a generator change), shrinking
      // the recall denominator — the gate would weaken invisibly. O(n)
      // broadcast join + two footer-cheap counts, loud on drift.
      val nTruth = exact.count()
      val nEmb = emb.count()
      require(nTruth == nEmb,
        s"q_emb_lsh_recall fixture drift: truth side has $nTruth planted " +
          s"pair(s) for $nEmb corpus vectors — planted pairs fell below the " +
          "0.9 gate (zero-norm or transformed fixture); the recall " +
          "denominator is no longer the full planted set")
      val approx = Similarity.cosinePairsLSH(all, "vec_id", "embedding", 0.9)
        .select("id_a", "id_b").withColumn("found", lit(1))
      // one pass over the linear truth side: left_outer marks hits and
      // counts the truth set in the same aggregation
      exact.join(approx, Seq("id_a", "id_b"), "left_outer")
        .agg(count(lit(1)).as("tot"), count(col("found")).as("hit"))
        .select(lit("lsh_recall_at_0.9").as("metric"),
          (col("tot") > 0 && col("hit") >= col("tot") * 0.95).as("meets_target"))
    }),

    // ——— similarity: embedding cosine near-dup pairs ———
    "q_emb_neardup" -> ((s, dir) =>
      Dedup.embeddingCosinePairs(t(s, dir, "embeddings"), "vec_id", "embedding", 0.4)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))),

    // ——— dedup: SemDeDup pairs, HASH-gated on real multi-cell geometry —
    //     one-hot axis centroids make the cell assignment SQL-expressible
    //     (nearest axis centroid = argmax component, first index on ties,
    //     matching ivfAssign's smaller-id tiebreak), so the whole
    //     composition — broadcast assign, within-cell equi-join, exact
    //     cosine gate — is replayed exactly by DuckDB. The k-means serving
    //     geometry is gated by q_semdedup_recall ———
    "q_semdedup" -> ((s, dir) => {
      val dim = 64 // embeddings fixture dimension (TESTDATA.md)
      val axes = s.range(dim).select(col("id").as("centroid_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          j => when(j === col("id"), lit(1.0d)).otherwise(lit(0.0d)))
          .as("centroid_vec"))
      Dedup.semanticDedupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
          axes, threshold = 0.2)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
    }),

    // ——— dedup: SemDeDup recall on the SERVING geometry — deterministic
    //     k-means cells, planted near-copies (cosine ≈ 1) of every 10th
    //     vector; the cell bound must recover ≥90% of the exact grid
    //     join's pairs at the same threshold. Misses are cross-cell by
    //     construction — this gate measures that trade on real data ———
    "q_semdedup_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val maxId = emb.agg(max("vec_id")).first()
      val plantOffset = (if (maxId.isNullAt(0)) 0L else maxId.getLong(0)) + 1L
      val planted = emb.where(col("vec_id") % 10 === 0).select(
        (col("vec_id") + lit(plantOffset)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === pmod(col("vec_id"), size(col("embedding"))),
            (x + lit(0.01) * Similarity.norm(col("embedding"))).cast("float"))
            .otherwise(x)).as("embedding"))
      val all = emb.unionByName(planted)
      // truth side: the PLANTED pairs, verified pairwise — a broadcast
      // equi-join of the 10% planted set back onto its originals with one
      // exact cosine per pair, O(n) total (the q_minhash_recall shape).
      // The raw embeddings are near-random with no pairs above ~0.4, so
      // the 0.95-closure IS the planted set; the old Θ(n²/blocks) grid
      // join spent ~16M dot products re-deriving it and was the dominant,
      // GC-sensitive cost of the whole gate (16–26 cpu-s run-to-run).
      // Planted ids sit above every original id, so (orig, planted) is
      // already the (id_a < id_b) pair convention.
      //
      // FIXTURE GUARD: that soundness argument dies silently if the
      // fixture ever gains a natural ≥0.95 pair (the gate would stop
      // measuring it), so assert the assumption on a deterministic
      // ~512-vector sample — all-pairs exact cosine, ≤131k dot products
      // regardless of corpus size, loud on drift. An eager bounded action,
      // the kmeansCentroidsLocal pattern.
      val stride = math.max(1L, (plantOffset + 511L) / 512L)
      val samp = emb.where(pmod(col("vec_id"), lit(stride)) === 0)
        .select(col("vec_id").as("sid"), col("embedding").as("sv"))
      val naturals = samp.as("x")
        .join(broadcast(samp.as("y")), col("x.sid") < col("y.sid"))
        .where(Similarity.cosine(col("x.sv"), col("y.sv")) >= lit(0.95))
        .count()
      require(naturals == 0L,
        s"q_semdedup_recall fixture drift: $naturals natural cosine≥0.95 " +
          "pair(s) in the raw embeddings sample — the planted-pair truth " +
          "side is no longer the 0.95-closure; restore the exact grid " +
          "truth join or regenerate the fixture")
      val exact = emb.where(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("id_a"), col("embedding").as("ov"))
        .join(broadcast(planted.select(col("vec_id").as("id_b"),
          col("embedding").as("pv"))),
          col("id_b") === col("id_a") + lit(plantOffset))
        .where(Similarity.cosine(col("ov"), col("pv")) >= 0.95)
        .select("id_a", "id_b")
      val centroids = Similarity.kmeansCentroids(all, "vec_id", "embedding",
        nCentroids = 16)
      // the gated side is the REAL serving path, unchanged: k-means
      // geometry + within-cell exact-cosine pairs over the full corpus —
      // a planted pair split across cells counts as the miss it is
      val approx = Dedup.semanticDedupPairs(all, "vec_id", "embedding",
          centroids, threshold = 0.95)
        .select("id_a", "id_b").withColumn("found", lit(1))
      exact.join(approx, Seq("id_a", "id_b"), "left_outer")
        .agg(count(lit(1)).as("tot"), count(col("found")).as("hit"))
        .select(lit("semdedup_recall_at_0.95").as("metric"),
          (col("tot") > 0 && col("hit") >= col("tot") * 0.9).as("meets_target"))
    }),

    // ——— multimodal: binary columns + REAL RIFF/WAVE PCM decode. The media
    // table synthesizes one integer-exact sawtooth WAV per doc id
    // (Multimodal.sawtoothSamples documents the closed form); the oracle
    // recomputes duration/RMS/peak/zero-crossing-rate from that closed form
    // in SQL, so a hash match proves encode → RIFF parse → PCM decode →
    // feature math is sample-exact end to end ———
    "q_mm_features" -> ((s, dir) => {
      val media = Multimodal.wavFromDocuments(s, t(s, dir, "documents"))
      Multimodal.extractFeatures(s, media).toDF()
        .select(col("media_id"), col("byte_len"),
          round(element_at(col("features"), 1), 6).as("f0"),
          round(element_at(col("features"), 2), 6).as("f1"),
          round(element_at(col("features"), 3), 6).as("f2"),
          round(element_at(col("features"), 4), 6).as("f3"))
    }),

    // ——— multimodal: binary columns + REAL binary-PPM (P6) decode — the
    // WAV leg's methodology on the image modality. The media table
    // synthesizes one integer-exact gradient PPM per doc id
    // (Multimodal.gradientPixels documents the closed form); the oracle
    // recomputes dimensions/byte length/channel sums/max luminance/edge
    // count from that closed form in SQL, so a hash match proves encode →
    // header parse → pixel decode → feature math is pixel-exact end to
    // end. Every feature is integer-valued (float-exact in any engine) ———
    "q_mm_image" -> ((s, dir) => {
      val media = Multimodal.ppmFromDocuments(s, t(s, dir, "documents"))
      Multimodal.extractImageFeatures(s, media)
    }),

    // ——— multimodal: binary columns + REAL YUV4MPEG2 decode — the WAV/PPM
    // methodology on the video modality, per-frame. The media table
    // synthesizes one integer-exact multi-frame C444 y4m per doc id
    // (Multimodal.videoPlanes documents the closed form); the oracle
    // recomputes dims/byte length/per-plane sums/max luma/inter-frame
    // motion from that closed form in SQL, so a hash match proves encode →
    // stream-header parse → FRAME walk → plane decode → feature math is
    // byte-exact across every frame. All features integer-valued ———
    "q_mm_video" -> ((s, dir) => {
      val media = Multimodal.y4mFromDocuments(s, t(s, dir, "documents"))
      Multimodal.extractVideoFeatures(s, media)
    }),

    // ——— multimodal: frame sampling fan-out over REAL decoded y4m frames ———
    "q_mm_frames" -> ((s, dir) => {
      val media = Multimodal.y4mFromDocuments(s, t(s, dir, "documents"))
      Multimodal.sampleFrames(s, media, maxFrames = 4).toDF()
        .groupBy("media_id").agg(count(lit(1)).as("n_frames_out"))
    })
  )

  /** Shared DuckDB CTEs replicating the sessionization/chaining semantics.
    * Window ORDER BY uses epoch_us(ts), NOT raw ts: the parquet carries
    * nanosecond timestamps but the engine truncates to µs at read, so a
    * sub-µs tie must fall to the event_id tiebreak on BOTH sides or lag()
    * parents and latest-per-key picks diverge.
    */
  private val SessionCtes =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, ts, value, epoch_us(ts) AS ts_us,
      |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
      |  FROM events
      |), s AS (
      |  SELECT *, CAST(sum(CASE WHEN prev_us IS NULL OR ts_us - prev_us >= 1800000000 THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM e
      |), tr AS (
      |  SELECT *, lag(event_type) OVER (PARTITION BY user_id, session_id ORDER BY ts_us, event_id) AS parent
      |  FROM s
      |), sess AS (
      |  SELECT user_id, session_id, min(ts_us) AS root_us, min(ts_us)//1000 AS root_ms
      |  FROM s GROUP BY user_id, session_id
      |)""".stripMargin

  /** One oracle text for q_a5_dependencies AND q_store_dependencies: the
    * dependency answer is defined by the pipeline, not by which store serves
    * it, so the two keys must never drift.
    */
  private val DependenciesOracle = SessionCtes +
    s"""
       |SELECT parent, event_type AS child, count(*) AS call_count,
       |       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error_count
       |FROM tr JOIN sess USING (user_id, session_id)
       |WHERE parent IS NOT NULL
       |  AND root_ms - root_ms % 60000 BETWEEN ${EndTsMs - LookbackMs} AND $EndTsMs
       |GROUP BY 1, 2 ORDER BY 1, 2 LIMIT 1000""".stripMargin

  /** One oracle text for q_f1_find_traces, q_store_find_traces AND
    * q_store_compacted: the find-traces answer is defined by the query, not
    * by whether it is served from memory, the raw append store, or the
    * compacted store — the three keys must never drift.
    */
  private val FindTracesOracle = SessionCtes +
    s"""
       |, agg AS (
       |  SELECT concat(user_id, ':', session_id) AS trace_id, min(ts_us) AS root_us,
       |         count(*) AS n_spans, bool_or(event_type = 'purchase') AS has_purchase
       |  FROM s GROUP BY user_id, session_id)
       |SELECT trace_id, root_us//1000 AS root_ts_ms, n_spans FROM agg
       |WHERE has_purchase
       |  AND root_us BETWEEN ${(EndTsMs - LookbackMs) * 1000} AND ${EndTsMs * 1000}
       |ORDER BY root_us DESC, trace_id LIMIT 10""".stripMargin

  /** One oracle text for q_j4_get_trace AND q_store_get_trace (and the
    * _many pair below): a trace fetch is defined by its id, not by which
    * store serves it — the in-memory and bucketed legs must never drift.
    */
  private val GetTraceOracle = SessionCtes +
    """
      |SELECT lpad(concat(user_id, ':', session_id), 16, '0') AS trace_id,
      |       CAST(event_id AS VARCHAR) AS span_id, event_type AS name,
      |       ts_us//1000 AS ts_ms
      |FROM s WHERE user_id = 3 AND session_id = 2""".stripMargin

  private val TraceManyOracle = SessionCtes +
    """
      |SELECT lpad(concat(user_id, ':', session_id), 16, '0') AS trace_id,
      |       CAST(event_id AS VARCHAR) AS span_id, event_type AS name,
      |       ts_us//1000 AS ts_ms
      |FROM s WHERE user_id BETWEEN 1 AND 8 AND session_id IN (1, 2)""".stripMargin

  /** One oracle text for q_a8_autocomplete AND q_store_autocomplete: the
    * autocomplete answer is defined by the tag extraction, not by whether it
    * is served in-memory or through the incremental set store — the two keys
    * must never drift. The SAME digits-only regex as the engine's PropsK
    * (EventSpans) — a json-path oracle would diverge on quoted values or
    * props without 'k'.
    */
  private val AutocompleteOracle =
    """SELECT DISTINCT regexp_extract(props, '"k"\s*:\s*(\d+)', 1) AS value
      |FROM events
      |WHERE props IS NOT NULL AND regexp_matches(props, '"k"\s*:\s*\d+')
      |ORDER BY value LIMIT 1000""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_a1_sessionize" -> (SessionCtes +
      """
        |SELECT user_id, min(ts_us)//1000 AS session_start_ms,
        |       max(ts_us)//1000 + 1800000 AS session_end_ms,
        |       count(*) AS n_events
        |FROM s GROUP BY user_id, session_id""".stripMargin),

    "q_a3_dependency_links" -> (SessionCtes +
      """
        |SELECT parent, event_type AS child, count(*) AS call_count,
        |       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error_count
        |FROM tr WHERE parent IS NOT NULL GROUP BY 1, 2""".stripMargin),

    "q_a4_dependency_windows" -> (SessionCtes +
      """
        |SELECT root_ms - root_ms % 60000 AS window_start_ms, parent, event_type AS child,
        |       count(*) AS call_count,
        |       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error_count
        |FROM tr JOIN sess USING (user_id, session_id)
        |WHERE parent IS NOT NULL GROUP BY 1, 2, 3""".stripMargin),

    "q_a5_dependencies" -> DependenciesOracle,

    // identical to q_a5_dependencies: the partitioned window-store
    // round-trip must not change the dependencies answer
    "q_store_dependencies" -> DependenciesOracle,
    "q_store_deps_compact" -> DependenciesOracle,

    "q_f1_find_traces" -> FindTracesOracle,

    // identical to q_f1_find_traces: neither the partitioned-store
    // round-trip nor compaction may change the find-traces answer
    "q_store_find_traces" -> FindTracesOracle,
    "q_store_compacted" -> FindTracesOracle,

    "q_a6_trace_store" -> (SessionCtes +
      """
        |SELECT concat(user_id, ':', session_id) AS trace_id,
        |       root_us//1000 AS root_ts_ms, n_spans
        |FROM (SELECT user_id, session_id, min(ts_us) AS root_us, count(*) AS n_spans
        |      FROM s GROUP BY user_id, session_id) t""".stripMargin),

    // trace matches iff: root ts in range AND some span carries tag key
    // "error" (annotationQuery bare key) AND some span's duration ≥ 150 ms
    // (duration µs = event value·1000 ⇒ value ≥ 150)
    "q_f1_duration" -> (SessionCtes +
      s"""
         |, agg AS (
         |  SELECT concat(user_id, ':', session_id) AS trace_id, min(ts_us) AS root_us,
         |         count(*) AS n_spans,
         |         bool_or(event_type = 'error') AS has_error,
         |         bool_or(CAST(trunc(value * 1000) AS BIGINT) >= 150000) AS has_dur
         |  FROM s GROUP BY user_id, session_id)
         |SELECT trace_id, root_us//1000 AS root_ts_ms, n_spans FROM agg
         |WHERE has_error AND has_dur
         |  AND root_us BETWEEN ${(EndTsMs - LookbackMs) * 1000} AND ${EndTsMs * 1000}
         |ORDER BY root_us DESC, trace_id LIMIT 20""".stripMargin),

    "q_f3_latest_event" ->
      """SELECT user_id, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |         row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,

    "q_w4_service_names" ->
      "SELECT DISTINCT event_type AS service FROM events ORDER BY service LIMIT 1000",

    "q_w4_remote_names" -> (SessionCtes +
      """
        |SELECT DISTINCT event_type AS service, parent AS remote_service
        |FROM tr WHERE parent IS NOT NULL""".stripMargin),

    "q_a8_autocomplete" -> AutocompleteOracle,

    // identical to q_a8_autocomplete: the incremental set store's
    // delta-append → replay → compact → collapse round-trip must not change
    // the autocomplete answer
    "q_store_autocomplete" -> AutocompleteOracle,
    // identical again: the streaming-engine-built store must serve the same
    // answer — the engine's replay and the store lifecycle both collapse
    "q_stream_store_autocomplete" -> AutocompleteOracle,
    "q_stream_store_traces" -> FindTracesOracle,
    "q_stream_store_dependencies" -> DependenciesOracle,

    // roundtrip_ok is the in-engine full-schema comparison (original spans
    // vs the re-parsed JSON, fingerprinted over every field); the oracle
    // pins it constant-true like the recall gates
    "q_sc6_json" -> (SessionCtes +
      """
        |SELECT concat(user_id, ':', session_id) AS trace_id,
        |       count(*) AS n_spans,
        |       md5(array_to_string(list_sort(list(CAST(event_id AS VARCHAR))), ',')) AS span_ids_md5,
        |       CAST(1 AS BOOLEAN) AS roundtrip_ok
        |FROM s GROUP BY user_id, session_id""".stripMargin),

    "q_j4_trace_many" -> TraceManyOracle,

    // identical to the q_j4_* pair: the bucketed point-lookup round-trip
    // must not change the getTrace/getTraceMany answers
    "q_store_get_trace" -> GetTraceOracle,
    "q_store_trace_many" -> TraceManyOracle,

    "q_w4_span_names" ->
      """SELECT DISTINCT event_type AS span_name FROM events
        |WHERE event_type = 'purchase' ORDER BY span_name LIMIT 1000""".stripMargin,

    "q_j4_get_trace" -> GetTraceOracle,

    "q_salted_join" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag,
        |       round(l_quantity - flag_avg_qty, 4) AS qty_dev
        |FROM lineitem
        |JOIN (SELECT l_returnflag AS rf, avg(l_quantity) AS flag_avg_qty
        |      FROM lineitem GROUP BY 1) d ON l_returnflag = rf""".stripMargin,

    "q_a8_autocomplete_keys" ->
      """SELECT tag_key FROM (
        |  SELECT DISTINCT 'error' AS tag_key FROM events WHERE event_type = 'error'
        |  UNION
        |  SELECT DISTINCT 'k' AS tag_key FROM events
        |  WHERE props IS NOT NULL AND regexp_matches(props, '"k"\s*:\s*\d+'))
        |ORDER BY tag_key LIMIT 1000""".stripMargin,

    "q_join_revenue" ->
      """SELECT r_name, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate < TIMESTAMP '1996-01-01'
        |GROUP BY 1, 2""".stripMargin,

    "q_j_semi" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin,

    "q_j_anti" ->
      """SELECT p_partkey, p_brand FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_partkey = p_partkey AND l_quantity > 45)""".stripMargin,

    "q_window_topn" ->
      """SELECT c_mktsegment, CAST(rnk AS BIGINT) AS rnk, o_orderkey,
        |       round(o_totalprice, 2) AS o_totalprice
        |FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY c_mktsegment
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |WHERE rnk <= 3""".stripMargin,

    "q_so_except" ->
      """SELECT DISTINCT user_id, event_type FROM events WHERE ts < TIMESTAMP '2024-01-08'
        |EXCEPT
        |SELECT DISTINCT user_id, event_type FROM events WHERE ts >= TIMESTAMP '2024-01-22'""".stripMargin,

    // replays the Morton interleave bit-exactly: bit i of dim d lands at
    // position i*dims + d (dims=2, bits=10). Every shift term is FULLY
    // parenthesized — DuckDB's | does not bind looser than << the way
    // Java's does, and an unparenthesized mix shifts by the OR instead
    "q_zorder" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(list_sum([
        |    ((((l_orderkey % 1024) >> i) & 1) << (2*i)) |
        |    ((((l_partkey % 1024) >> i) & 1) << (2*i + 1))
        |    for i in range(0, 10)]) AS BIGINT) AS zkey
        |FROM lineitem""".stripMargin,

    // constant oracle, same pattern as the recall gates: the 5% error
    // bound (per-source and union-merged global) is computed in-engine
    // against exact count-distinct
    "q_approx_distinct" ->
      "SELECT 'hll_distinct_rel_err' AS metric, CAST(1 AS BOOLEAN) AS meets_target",

    "q_count_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events,
        |       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,

    // each event lands in the two 1h-aligned 2h windows covering it
    "q_st3_sliding" ->
      """SELECT (epoch_ms(ts) // 3600000 - k.k) * 3600000 AS window_start_ms,
        |       event_type, count(*) AS n,
        |       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
        |FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) k
        |GROUP BY 1, 2""".stripMargin,

    "q_percentile" ->
      """SELECT event_type, round(quantile_cont(value, 0.5), 4) AS p50,
        |       round(quantile_cont(value, 0.95), 4) AS p95
        |FROM events GROUP BY 1""".stripMargin,

    "q_dedup_clusters" -> (ClustersCtes +
      "\nSELECT a AS doc_id, least(min(b), a) AS canonical_id FROM reach GROUP BY a"),

    "q_dedup_apply" -> (ClustersCtes +
      """,
        |labels AS (SELECT a AS doc_id, least(min(b), a) AS canonical_id
        |           FROM reach GROUP BY a)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM labels WHERE canonical_id <> doc_id)""".stripMargin),

    "q_decontaminate" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |           FROM documents),
        |bsh AS (SELECT DISTINCT unnest(list_distinct(
        |    [array_to_string(b[i:i+4], ' ') for i in range(1, len(b) - 3)])) AS shingle
        |  FROM (SELECT string_split_regex(trim(array_to_string(w[1:12], ' ')), '\s+') AS b
        |        FROM w WHERE doc_id % 20 = 0)
        |  WHERE len(b) >= 5),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(w[i:i+4], ' ') for i in range(1, len(w) - 3)])) AS shingle
        |  FROM w WHERE len(w) >= 5)
        |SELECT s.doc_id, count(*) AS n_overlap
        |FROM sh s JOIN bsh USING (shingle)
        |GROUP BY 1 HAVING count(*) >= 2""".stripMargin,

    // the recursive CTE replays the same greedy per-stream scan: row k of a
    // stream joins row k+1, carrying (bin, fill) forward — the md5-prefix
    // stream hash is the Sampling bucket formula
    "q_pack" ->
      """WITH RECURSIVE s AS (
        |  SELECT doc_id, n_tokens, stream,
        |    row_number() OVER (PARTITION BY stream ORDER BY doc_id) AS rn
        |  FROM (SELECT doc_id,
        |          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |          CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS stream
        |        FROM documents)),
        |packed AS (
        |  SELECT stream, rn, doc_id, n_tokens,
        |    CAST(0 AS BIGINT) AS bin, n_tokens AS fill
        |  FROM s WHERE rn = 1
        |  UNION ALL
        |  SELECT s.stream, s.rn, s.doc_id, s.n_tokens,
        |    CASE WHEN p.fill + s.n_tokens > 2048 THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.fill + s.n_tokens > 2048 THEN s.n_tokens
        |         ELSE p.fill + s.n_tokens END
        |  FROM packed p JOIN s ON s.stream = p.stream AND s.rn = p.rn + 1)
        |SELECT doc_id, n_tokens, stream, bin, fill AS bin_fill FROM packed""".stripMargin,

    // q_pack's recursive replay + the text join + an ordered string_agg
    "q_pack_seq" ->
      """WITH RECURSIVE s AS (
        |  SELECT doc_id, n_tokens, stream,
        |    row_number() OVER (PARTITION BY stream ORDER BY doc_id) AS rn
        |  FROM (SELECT doc_id,
        |          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |          CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS stream
        |        FROM documents)),
        |packed AS (
        |  SELECT stream, rn, doc_id, n_tokens,
        |    CAST(0 AS BIGINT) AS bin, n_tokens AS fill
        |  FROM s WHERE rn = 1
        |  UNION ALL
        |  SELECT s.stream, s.rn, s.doc_id, s.n_tokens,
        |    CASE WHEN p.fill + s.n_tokens > 2048 THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.fill + s.n_tokens > 2048 THEN s.n_tokens
        |         ELSE p.fill + s.n_tokens END
        |  FROM packed p JOIN s ON s.stream = p.stream AND s.rn = p.rn + 1),
        |j AS (SELECT p.stream, p.bin, p.doc_id, d.text
        |      FROM packed p JOIN documents d USING (doc_id))
        |SELECT stream, bin, CAST(count(*) AS BIGINT) AS n_docs,
        |  md5(string_agg(text, '<|eod|>' ORDER BY doc_id)) AS seq_md5
        |FROM j GROUP BY 1, 2""".stripMargin,

    // composed from the per-stage oracles: quality+repetition keepers →
    // min-id representative per distinct text → minus the ≥2-shared-5-gram
    // contamination set (per-doc overlap counts are input-independent, so
    // flagging over ALL docs then anti-joining equals flagging the deduped
    // survivors directly)
    "q_curate" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |           FROM documents),
        |f AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok,
        |    CAST(len(list_filter(w,
        |      t -> list_contains(['the','a','an','and','or','of','to','in','is','it'], t))) AS BIGINT) AS n_stop
        |  FROM w),
        |chr AS (SELECT doc_id, CAST(length(trim(text)) AS BIGINT) AS n_chr FROM documents),
        |quality AS (SELECT f.doc_id FROM f JOIN chr USING (doc_id) WHERE
        |  ((CASE WHEN n_tok BETWEEN 8 AND 512 THEN 1.0 ELSE 0.0 END)
        |   + (CASE WHEN (n_chr - (n_tok - 1)) * 1.0 / n_tok BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
        |   + (CASE WHEN n_stop * 1.0 / n_tok BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.0 END)) / 3.0 >= 0.6),
        |bg AS (SELECT doc_id, unnest(
        |    [array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]) AS g FROM w),
        |top AS (SELECT doc_id, max(c) AS topb FROM
        |        (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2) GROUP BY 1),
        |tg AS (SELECT doc_id, unnest(
        |    [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS g FROM w),
        |tgd AS (SELECT doc_id, count(DISTINCT g) AS d3 FROM tg GROUP BY 1),
        |repkeep AS (SELECT b.doc_id FROM w b
        |  LEFT JOIN top USING (doc_id) LEFT JOIN tgd USING (doc_id)
        |  WHERE coalesce(CASE WHEN len(b.w) > 1
        |      THEN coalesce(topb, 0) * 1.0 / (len(b.w) - 1) <= 0.08 END, true)
        |    AND coalesce(CASE WHEN len(b.w) > 2
        |      THEN 1 - coalesce(d3, 0) * 1.0 / (len(b.w) - 2) <= 0.05 END, true)),
        |keepers AS (SELECT doc_id FROM quality INTERSECT SELECT doc_id FROM repkeep),
        |reps AS (SELECT min(d.doc_id) AS doc_id FROM documents d
        |         JOIN keepers k ON d.doc_id = k.doc_id GROUP BY d.text),
        |bsh AS (SELECT DISTINCT unnest(list_distinct(
        |    [array_to_string(b[i:i+4], ' ') for i in range(1, len(b) - 3)])) AS shingle
        |  FROM (SELECT string_split_regex(trim(array_to_string(w[1:12], ' ')), '\s+') AS b
        |        FROM w WHERE doc_id % 20 = 0)
        |  WHERE len(b) >= 5),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(w[i:i+4], ' ') for i in range(1, len(w) - 3)])) AS shingle
        |  FROM w WHERE len(w) >= 5),
        |flagged AS (SELECT s.doc_id FROM sh s JOIN bsh USING (shingle)
        |            GROUP BY 1 HAVING count(*) >= 2)
        |SELECT doc_id FROM reps
        |WHERE doc_id NOT IN (SELECT doc_id FROM flagged)""".stripMargin,

    // replays the content-addressed shard assignment closed-form; the
    // Spark side aggregates the READ-BACK shards, so a round-trip fault
    // (wrong dir, lost or doubled row) breaks the match
    "q_shard_export" ->
      """WITH h AS (SELECT doc_id,
        |    CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS hv
        |  FROM documents)
        |SELECT hv % 8 AS shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(hv % 1000000007) AS BIGINT) AS content_sum,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM h GROUP BY 1""".stripMargin,

    "q_vocab" ->
      """SELECT token, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |    t -> len(t) > 0)) AS token FROM documents)
        |GROUP BY 1 ORDER BY n DESC, token LIMIT 50""".stripMargin,

    // q_vocab's top-50 as a list, one membership filter per token
    "q_oov" ->
      """WITH v AS (SELECT token FROM (
        |    SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |      t -> len(t) > 0)) AS token FROM documents)
        |  GROUP BY 1 ORDER BY count(*) DESC, token LIMIT 50),
        |vl AS (SELECT list(token) AS vs FROM v),
        |w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents)
        |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(tk, t -> NOT list_contains(vs, t))) AS BIGINT) AS n_oov,
        |  round(len(list_filter(tk, t -> NOT list_contains(vs, t))) * 1.0 / len(tk), 4)
        |    AS oov_rate
        |FROM w, vl""".stripMargin,

    "q_sample_n" ->
      """SELECT doc_id, source FROM documents
        |ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
        |  doc_id
        |LIMIT 40""".stripMargin,

    "q_weighted_sample" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
        |  FROM documents)
        |WHERE b < CASE WHEN source = 'src1' THEN 80 WHEN source = 'src2' THEN 50
        |               WHEN source = 'src3' THEN 10 ELSE 30 END""".stripMargin,

    "q_sample_split" ->
      """SELECT lang,
        |  CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n
        |FROM (SELECT lang,
        |        CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
        |      FROM documents)
        |GROUP BY 1, 2""".stripMargin,

    "q_text_normalize" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS norm_md5
        |FROM documents""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q_p5_normalize" ->
      "SELECT DISTINCT lower(lpad(to_hex(user_id), 16, '0')) AS norm_id FROM events",

    // chunk layout mirrored in integer arithmetic: 64-token windows, stride
    // 48 (overlap 16), last window = first to reach the document's end
    "q_chunk_text" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |                             t -> length(t) > 0) AS toks
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, toks, len(toks) AS n_tok,
        |    CASE WHEN len(toks) <= 64 THEN 1
        |         ELSE 1 + (len(toks) - 64 + 47) // 48 END AS n_chunks
        |  FROM d WHERE len(toks) > 0
        |), e AS (
        |  SELECT doc_id, toks, n_tok, unnest(range(0, n_chunks)) AS i FROM c
        |)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_index,
        |       CAST(i * 48 AS BIGINT) AS start_token,
        |       CAST(least(64, n_tok - i * 48) AS BIGINT) AS n_tokens,
        |       array_to_string(list_slice(toks, i * 48 + 1, i * 48 + 64), ' ') AS chunk_text
        |FROM e""".stripMargin,

    "q_text_stats" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok,
        |    CAST(length(trim(text)) AS BIGINT) AS n_chr,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      t -> list_contains(['the','a','an','and','or','of','to','in','is','it'], t))) AS BIGINT) AS n_stop,
        |    CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
        |      t -> greatest(1, CAST(ceil(length(t) / 4.0) AS BIGINT)))) AS BIGINT) AS n_sub
        |  FROM documents)
        |SELECT doc_id, n_tok AS n_tokens, n_sub AS n_subwords, n_stop AS n_stopwords,
        |  round(((CASE WHEN n_tok BETWEEN 8 AND 512 THEN 1.0 ELSE 0.0 END)
        |       + (CASE WHEN (n_chr - (n_tok - 1)) * 1.0 / n_tok BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
        |       + (CASE WHEN n_stop * 1.0 / n_tok BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.0 END)) / 3.0, 4) AS quality
        |FROM f""".stripMargin,

    "q_lang_id" ->
      """WITH g AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |sc AS (SELECT doc_id,
        |  len(list_filter(toks, t -> list_contains(['the','and','of','to','is','in','that','it'], t))) AS se,
        |  len(list_filter(toks, t -> list_contains(['el','la','de','que','y','los','en','un'], t))) AS ss,
        |  len(list_filter(toks, t -> list_contains(['der','die','und','das','nicht','ist','ich','ein'], t))) AS sd
        |  FROM g)
        |SELECT doc_id, CASE WHEN se = 0 AND ss = 0 AND sd = 0 THEN 'und'
        |  WHEN se >= ss AND se >= sd THEN 'en'
        |  WHEN ss >= sd THEN 'es' ELSE 'de' END AS lang FROM sc""".stripMargin,

    "q_fingerprint" ->
      """SELECT doc_id, list_reduce(
        |  list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split_regex(text, ''), c -> CAST(unicode(c) AS BIGINT))),
        |  (a, b) -> (a * 31 + b) % 2147483647) AS fp
        |FROM documents""".stripMargin,

    "q_pii_redact" ->
      """WITH p AS (SELECT doc_id, regexp_replace(regexp_replace(
        |    text || ' contact user' || doc_id || '@example.com or call +1 (415) 555-01' || doc_id,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?[0-9][0-9() -]{6,}[0-9]', '<PHONE>', 'g') AS red
        |  FROM documents)
        |SELECT doc_id, md5(red) AS redacted_md5,
        |  CAST(len(string_split(red, '<EMAIL>')) - 1 AS BIGINT) AS n_emails,
        |  CAST(len(string_split(red, '<PHONE>')) - 1 AS BIGINT) AS n_phones
        |FROM p""".stripMargin,

    "q_repetition" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |           FROM documents),
        |bg AS (SELECT doc_id, unnest(
        |    [array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]) AS g FROM w),
        |top AS (SELECT doc_id, max(c) AS topb FROM
        |        (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2) GROUP BY 1),
        |tg AS (SELECT doc_id, unnest(
        |    [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS g FROM w),
        |tgd AS (SELECT doc_id, count(DISTINCT g) AS d3 FROM tg GROUP BY 1)
        |SELECT b.doc_id, CAST(len(b.w) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(topb, 0) AS BIGINT) AS top_bigram,
        |  CASE WHEN len(b.w) > 1
        |    THEN round(coalesce(topb, 0) * 1.0 / (len(b.w) - 1), 4) END AS top_bigram_frac,
        |  CASE WHEN len(b.w) > 2
        |    THEN round(1 - coalesce(d3, 0) * 1.0 / (len(b.w) - 2), 4) END AS dup_trigram_frac,
        |  coalesce(CASE WHEN len(b.w) > 1
        |    THEN coalesce(topb, 0) * 1.0 / (len(b.w) - 1) <= 0.08 END, true)
        |  AND coalesce(CASE WHEN len(b.w) > 2
        |    THEN 1 - coalesce(d3, 0) * 1.0 / (len(b.w) - 2) <= 0.05 END, true) AS keep
        |FROM w b LEFT JOIN top USING (doc_id) LEFT JOIN tgd USING (doc_id)""".stripMargin,

    // replays HashedBagLinear exactly: same 31-poly token hash as
    // q_fingerprint (per token here), same closed-form weight vector,
    // same left-to-right fold — so the pre-round doubles are bit-identical
    // and the keep decision (logit ≥ 0 ⇔ sigmoid ≥ 0.5) carries no exp
    "q_quality_classifier" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
        |bk AS (
        |  SELECT doc_id, len(tk) AS n,
        |    list_transform(tk, t -> CASE WHEN t = '' THEN CAST(0 AS BIGINT) ELSE
        |      list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(string_split_regex(t, ''), c -> CAST(unicode(c) AS BIGINT))),
        |        (a, b) -> (a * 31 + b) % 2147483647) END % 256) AS bks
        |  FROM toks),
        |s AS (
        |  SELECT doc_id, CAST(-0.05 AS DOUBLE) + list_reduce(
        |      list_prepend(CAST(0.0 AS DOUBLE),
        |        list_transform(bks, b ->
        |          CAST((b * 2654435761 + 12345) % 1000003 AS DOUBLE) / 1000003.0 - 0.5)),
        |      (a, b) -> a + b) / n AS lr
        |  FROM bk)
        |SELECT doc_id, round(lr, 4) AS logit, lr >= 0.0 AS keep FROM s""".stripMargin,

    // replays the greedy longest-match recurrence with a recursive CTE
    // (sequential state, like q_pack): per word, repeatedly take the
    // longest vocab piece matching at the cursor (single char fallback),
    // then re-join pieces in word order
    "q_subword" ->
      """WITH RECURSIVE
        |v(piece) AS (VALUES ('tion'), ('ther'), ('the'), ('th'), ('ing'),
        |  ('in'), ('ed'), ('er'), ('re'), ('an'), ('on'), ('en'), ('es'),
        |  ('at'), ('or'), ('ment'), ('wea')),
        |w AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS word,
        |    generate_subscripts(string_split_regex(trim(text), '\s+'), 1) AS wi
        |  FROM documents),
        |seg(doc_id, wi, word, pos, acc, np) AS (
        |  SELECT doc_id, wi, word, 1, CAST('' AS VARCHAR), 0 FROM w
        |  UNION ALL
        |  SELECT doc_id, wi, word, pos + len(piece),
        |         acc || CASE WHEN acc = '' THEN '' ELSE ' ' END || piece, np + 1
        |  FROM (SELECT s.*, coalesce(
        |          (SELECT piece FROM v
        |           WHERE substr(s.word, s.pos, len(piece)) = piece
        |           ORDER BY len(piece) DESC LIMIT 1),
        |          substr(s.word, s.pos, 1)) AS piece
        |        FROM seg s WHERE s.pos <= len(s.word)) t),
        |done AS (SELECT doc_id, wi, acc, np FROM seg WHERE pos > len(word))
        |SELECT doc_id,
        |  CAST(coalesce(sum(np), 0) AS BIGINT) AS n_pieces,
        |  md5(coalesce(string_agg(acc, ' ' ORDER BY wi) FILTER (WHERE np > 0), ''))
        |    AS pieces_md5
        |FROM done GROUP BY doc_id""".stripMargin,

    // replays BPE merge learning as a chain of plain CTEs (one
    // pair-count → argmax → replace round per rank) over the U+0001-
    // wrapped symbol-string word states — see bpeTrainCtes
    "q_bpe_train" -> bpeTrainOracle,

    // train (CTE chain) → apply (q_subword's recursive-CTE greedy replay
    // against the LEARNED vocab)
    "q_bpe_apply" -> bpeApplyOracle,

    // train (CTE chain) → RANK-ORDERED encode (one chained replace per
    // learned rank over the wrapped word states — see bpeEncodeOracle)
    "q_bpe_encode" -> bpeEncodeOracle,

    "q_dedup_exact" ->
      "SELECT min(doc_id) AS doc_id, count(*) AS n_copies FROM documents GROUP BY text",

    // one survivor row per distinct text — n_rows > 1 would mean the
    // streaming engine failed to drop a planted cross-batch duplicate
    "q_dedup_stream" ->
      "SELECT DISTINCT md5(text) AS key, CAST(1 AS BIGINT) AS n_rows FROM documents",

    // replays the full streaming flow: feed ∪ re-feeds (id ≡ 0 mod 10,
    // +1e9 ids), per-id PII planting, the quality + repetition gate ON THE
    // PLANTED TEXT, redaction, then one survivor per distinct redacted
    // text. Redaction erases the per-id differences, so the distinct set
    // is well-defined whichever copy the engine kept.
    "q_curate_stream" ->
      """WITH all_rows AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000, text FROM documents WHERE doc_id % 10 = 0),
        |p AS (SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com or call +1 (415) 555-01' || doc_id AS ptext
        |  FROM all_rows),
        |w AS (SELECT doc_id, ptext, string_split_regex(trim(ptext), '\s+') AS w FROM p),
        |q AS (SELECT doc_id, ptext, w FROM w WHERE
        |  ((CASE WHEN len(w) BETWEEN 8 AND 512 THEN 1.0 ELSE 0.0 END)
        |   + (CASE WHEN (length(trim(ptext)) - (len(w) - 1)) * 1.0 / len(w) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
        |   + (CASE WHEN len(list_filter(w,
        |       t -> list_contains(['the','a','an','and','or','of','to','in','is','it'], t))) * 1.0 / len(w)
        |       BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.0 END)) / 3.0 >= 0.6),
        |bg AS (SELECT doc_id, unnest(
        |    [array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]) AS g FROM q),
        |top AS (SELECT doc_id, max(c) AS topb FROM
        |        (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2) GROUP BY 1),
        |tg AS (SELECT doc_id, unnest(
        |    [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS g FROM q),
        |tgd AS (SELECT doc_id, count(DISTINCT g) AS d3 FROM tg GROUP BY 1),
        |keep AS (SELECT q.doc_id, q.ptext FROM q
        |  LEFT JOIN top USING (doc_id) LEFT JOIN tgd USING (doc_id)
        |  WHERE coalesce(CASE WHEN len(q.w) > 1
        |      THEN coalesce(topb, 0) * 1.0 / (len(q.w) - 1) <= 0.08 END, true)
        |    AND coalesce(CASE WHEN len(q.w) > 2
        |      THEN 1 - coalesce(d3, 0) * 1.0 / (len(q.w) - 2) <= 0.05 END, true)),
        |red AS (SELECT regexp_replace(regexp_replace(ptext,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?[0-9][0-9() -]{6,}[0-9]', '<PHONE>', 'g') AS rtext FROM keep)
        |SELECT DISTINCT md5(rtext) AS key, CAST(1 AS BIGINT) AS n_rows FROM red""".stripMargin,

    "q_dedup_ngram" -> jaccardOracle(0.5, capped = true),
    "q_dedup_minhash" -> jaccardOracle(0.8, capped = false),

    "q_dedup_simhash" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tk FROM documents),
        |h AS (SELECT doc_id, CAST(concat('0x', substr(md5(tk), 1, 15)) AS BIGINT) AS hv FROM tok),
        |bits AS (SELECT doc_id, bb.bit AS bit,
        |         sum(CASE WHEN (hv >> bb.bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        |         FROM h CROSS JOIN (SELECT unnest(range(0, 32)) AS bit) bb GROUP BY 1, 2),
        |sig AS (SELECT doc_id, CAST(sum(CASE WHEN vote > 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END) AS BIGINT) AS simhash
        |        FROM bits GROUP BY 1)
        |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |       CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
        |FROM sig x JOIN sig y ON x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3""".stripMargin,

    "q_ann_topk" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |p AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
        |        list_dot_product(q.ev, c.ev) / (q.nrm * c.nrm) AS cosine
        |      FROM v q JOIN v c ON c.vec_id != q.vec_id WHERE q.vec_id < 10),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rank FROM p)
        |SELECT query_id, corpus_id, CAST(rank AS BIGINT) AS rank, round(cosine, 6) AS cosine
        |FROM r WHERE rank <= 5""".stripMargin,

    "q_emb_neardup" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_dot_product(a.ev, b.ev) / (a.nrm * b.nrm), 6) AS cosine
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.ev, b.ev) / (a.nrm * b.nrm) >= 0.4""".stripMargin,

    // replays the one-hot-centroid SemDeDup composition exactly: cell =
    // argmax embedding component (list_indexof finds the FIRST max —
    // ivfAssign's smaller-centroid-id tiebreak), then exact within-cell
    // cosine with q_emb_neardup's arithmetic
    "q_semdedup" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm,
        |    list_indexof(embedding, list_max(embedding)) - 1 AS cell
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_dot_product(a.ev, b.ev) / (a.nrm * b.nrm), 6) AS cosine
        |FROM v a JOIN v b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |WHERE list_dot_product(a.ev, b.ev) / (a.nrm * b.nrm) >= 0.2""".stripMargin,

    // constant oracle, same pattern as the ANN recall gates: the recall is
    // computed in-engine against the exact grid join
    "q_semdedup_recall" ->
      "SELECT 'semdedup_recall_at_0.95' AS metric, CAST(1 AS BOOLEAN) AS meets_target",

    // constant oracle: the recall itself is computed in-engine against the
    // exact baseline; hash-match == "recall@5 >= 0.9 held on this corpus"
    "q_ann_ivf_recall" ->
      "SELECT 'recall_at_5' AS metric, CAST(1 AS BOOLEAN) AS meets_target",

    // constant oracle, same pattern: hash-match == "the incrementally
    // maintained index (appends + generation compaction + post-compaction
    // append) serves the same recall floor as the one-shot build"
    "q_ann_ivf_incr_recall" ->
      "SELECT 'incr_recall_at_5' AS metric, CAST(1 AS BOOLEAN) AS meets_target",

    // constant oracle, same pattern: hash-match == "the int8-scored probe +
    // bounded fp32 rescore held recall@5 >= 0.9 at the gated operating point"
    "q_ann_ivf_int8_recall" ->
      "SELECT 'int8_recall_at_5' AS metric, CAST(1 AS BOOLEAN) AS meets_target",

    // constant oracle, same pattern: hash-match == "sign-LSH recovered ≥95%
    // of the exact grid join's ≥0.9-cosine pairs on the planted fixture"
    "q_emb_lsh_recall" ->
      "SELECT 'lsh_recall_at_0.9' AS metric, CAST(1 AS BOOLEAN) AS meets_target",

    // constant oracle, same pattern: hash-match == "MinHash banding
    // recovered ≥90% of the planted exact-Jaccard-≥0.8 pairs"
    "q_minhash_recall" ->
      "SELECT 'minhash_recall_at_0.8' AS metric, CAST(1 AS BOOLEAN) AS meets_target",

    // the closed-form twin of Multimodal.sawtoothSamples + WavCodec.features:
    // sr 8000, freq = id%400+40, n = (id%50+10)*20 frames, 16-bit mono →
    // byte_len = 44-byte header + 2n; f0 duration, f1 RMS, f2 peak, f3
    // zero-crossing rate. All sample math is integer (// is floor division,
    // operands non-negative), so both engines derive IDENTICAL samples and
    // the per-term float shapes (v²/32767², sign-bit change counts) match
    // the Scala loop exactly.
    "q_mm_features" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id % 400 + 40 AS freq, (doc_id % 50 + 10) * 20 AS n
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, n, i,
        |    (2 * ((i * freq) % 8000) * 32767) // 8000 - 32767 AS v
        |  FROM (SELECT doc_id, freq, n, unnest(range(n)) AS i FROM p)
        |), d AS (
        |  SELECT doc_id, n, i, v,
        |    lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
        |  FROM s
        |)
        |SELECT doc_id AS media_id,
        |  CAST(44 + 2 * n AS BIGINT) AS byte_len,
        |  round(max(n) / 8000.0, 6) AS f0,
        |  round(sqrt(avg(v * v / (32767.0 * 32767.0))), 6) AS f1,
        |  round(max(abs(v)) / 32767.0, 6) AS f2,
        |  round(count(CASE WHEN (pv < 0) <> (v < 0) THEN 1 END) * 1.0, 6) AS f3
        |FROM d GROUP BY doc_id, n""".stripMargin,

    // the closed-form twin of Multimodal.gradientPixels + PpmCodec.features:
    // w = id%16+4, h = id%12+4, pixel (x,y) channels r/g/b per the gradient
    // formulas; byte_len = header ("P6\n" + digits + " " + digits + "\n255\n"
    // = 9 + digit counts) + 3wh. The horizontal-edge predicate recomputes the
    // NEXT pixel's luminance from the closed form at x+1 rather than a
    // window lag — same integers either way, no per-row ordering needed.
    // All features are integers, so no round() shapes to align.
    "q_mm_image" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id % 16 + 4 AS w, doc_id % 12 + 4 AS h
        |  FROM documents
        |), px AS (
        |  SELECT doc_id, w, h, i % w AS x, i // w AS y
        |  FROM (SELECT doc_id, w, h, unnest(range(w * h)) AS i FROM p)
        |), c AS (
        |  SELECT doc_id, w, h, x,
        |    (3 * x + 7 * y + doc_id) % 256 AS r,
        |    (5 * x + 11 * y + 2 * doc_id) % 256 AS g,
        |    (x * y + 13 * doc_id) % 256 AS b,
        |    (3 * x + 7 * y + doc_id) % 256
        |      + (5 * x + 11 * y + 2 * doc_id) % 256
        |      + (x * y + 13 * doc_id) % 256 AS lum,
        |    (3 * (x + 1) + 7 * y + doc_id) % 256
        |      + (5 * (x + 1) + 11 * y + 2 * doc_id) % 256
        |      + ((x + 1) * y + 13 * doc_id) % 256 AS lum_next
        |  FROM px
        |)
        |SELECT doc_id AS media_id,
        |  CAST(9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR))
        |    + 3 * w * h AS BIGINT) AS byte_len,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(sum(r) AS BIGINT) AS sum_r, CAST(sum(g) AS BIGINT) AS sum_g,
        |  CAST(sum(b) AS BIGINT) AS sum_b, CAST(max(lum) AS BIGINT) AS max_lum,
        |  CAST(count(CASE WHEN x < w - 1 AND abs(lum_next - lum) > 96 THEN 1 END)
        |    AS BIGINT) AS edge_count
        |FROM c GROUP BY doc_id, w, h""".stripMargin,

    // the closed-form twin of Multimodal.videoPlanes + Y4mCodec.frameFeatures:
    // w = id%8+4, h = id%6+4, nf = id%12+2; frame f's planes per the gradient
    // formulas. byte_len = stream header ("YUV4MPEG2 W" + digits + " H" +
    // digits + " F25:1 Ip A1:1 C444\n" = 33 + digit counts) + nf frames of
    // ("FRAME\n" = 6 + 3wh). Motion recomputes frame f−1's luma from the
    // closed form at the same pixel rather than a window lag — same integers
    // either way, no per-row ordering needed. All features are integers, so
    // no round() shapes to align.
    "q_mm_video" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id % 8 + 4 AS w, doc_id % 6 + 4 AS h,
        |         doc_id % 12 + 2 AS nf
        |  FROM documents
        |), fr AS (
        |  SELECT doc_id, w, h, nf, unnest(range(nf)) AS f FROM p
        |), px AS (
        |  SELECT doc_id, w, h, nf, f, i % w AS x, i // w AS y
        |  FROM (SELECT doc_id, w, h, nf, f, unnest(range(w * h)) AS i FROM fr)
        |), c AS (
        |  SELECT doc_id, w, h, nf, f,
        |    (3 * x + 7 * y + 11 * f + doc_id) % 256 AS yv,
        |    (5 * x + 11 * y + 13 * f + 2 * doc_id) % 256 AS uv,
        |    (x * y + 17 * f + 13 * doc_id) % 256 AS vv,
        |    CASE WHEN f > 0 THEN abs((3 * x + 7 * y + 11 * f + doc_id) % 256
        |      - (3 * x + 7 * y + 11 * (f - 1) + doc_id) % 256) ELSE 0 END AS dy
        |  FROM px
        |)
        |SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(nf AS INTEGER) AS n_frames,
        |  CAST(33 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR))
        |    + nf * (6 + 3 * w * h) AS BIGINT) AS byte_len,
        |  CAST(sum(yv) AS BIGINT) AS sum_y, CAST(sum(uv) AS BIGINT) AS sum_u,
        |  CAST(sum(vv) AS BIGINT) AS sum_v, CAST(max(yv) AS BIGINT) AS max_y,
        |  CAST(sum(dy) AS BIGINT) AS motion
        |FROM c GROUP BY doc_id, w, h, nf, f""".stripMargin,

    // real decoded frame count nf = id%12+2, strided to ≤4 sampled frames
    "q_mm_frames" ->
      """SELECT doc_id AS media_id,
        |  least(4, CAST(ceil(n * 1.0 / greatest(1, n // 4)) AS BIGINT)) AS n_frames_out
        |FROM (SELECT doc_id, doc_id % 12 + 2 AS n FROM documents)""".stripMargin
  )

  /** Shared CTE chain for the clusters/apply oracles: UNCAPPED shingle
    * index → exact 0.8-Jaccard pairs → symmetric edges → transitive closure.
    * Mirrors the minhash+LSH path, whose exact verification runs over full
    * shingle sets (q_dedup_minhash pins pair-set equality with this index).
    */
  private val ClustersCtes =
    """WITH RECURSIVE sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])) AS shingle
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
      |  WHERE len(w) >= 3),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |p AS (SELECT doc_a, doc_b FROM inter
      |      JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
      |      WHERE i * 1.0 / (x.n + y.n - i) >= 0.8),
      |edges AS (SELECT doc_a AS a, doc_b AS b FROM p
      |          UNION SELECT doc_b AS a, doc_a AS b FROM p),
      |reach AS (SELECT a, b FROM edges
      |          UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)""".stripMargin

  /** Shared oracle for q_dedup_ngram (≥0.5, df-capped) / q_dedup_minhash
    * (≥0.8, uncapped): both compute an exact Jaccard pair set (minhash+LSH
    * verifies candidates exactly; at its 0.8 design threshold an all-band
    * miss is ~5e-8). `capped` mirrors [[Dedup.docFreqCap]]: shingles in more
    * than greatest(5, nDocs/200) docs are dropped from the index.
    */
  private def jaccardOracle(threshold: Double, capped: Boolean) = {
    val shCte = if (capped)
      """sh0 AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])) AS shingle
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (
        |  SELECT shingle FROM sh0 GROUP BY shingle
        |  HAVING count(*) > greatest(5, (SELECT count(*) FROM documents) // 200)))""".stripMargin
    else
      """sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])) AS shingle
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
        |  WHERE len(w) >= 3)""".stripMargin
    s"""WITH $shCte,
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT doc_a, doc_b, round(i * 1.0 / (x.n + y.n - i), 4) AS jaccard
      |FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
      |WHERE i * 1.0 / (x.n + y.n - i) >= $threshold""".stripMargin
  }
}
