package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.GraftFunctions
import graft.operators.{Dedup, TextAnalysis}

/** Streaming transforms over a DOCUMENT stream (doc_id, text) — the
  * streaming twin of the batch dedup surface (operators.SimHash /
  * operators.Dedup). Possible only because the SimHash signature is a
  * map-side codegen kernel ([[graft.functions.SimHash60]]): each arriving
  * document gets its signature statelessly, so the only streaming state is
  * the dedup key set.
  */
object DocStreams {

  /** Pessimistic OOV floor for a frozen micro-nat log-prob model: strictly
    * below every log-prob the model ever assigns (margin = 1 nat), capped
    * at the legacy -20M constant so tiny test models still quarantine
    * hard. A FIXED floor is not a guaranteed surprisal maximum — a model
    * trained on more than ~e^20 tokens gives hapaxes log-probs below
    * -20M micro-nats, and OOV tokens would then read as LESS surprising
    * than real rare words — so the default floor derives from the frozen
    * model at freeze time instead. */
  private[graft] def oovFloorMicro(model: Iterable[Long]): Long =
    if (model.isEmpty) -20000000L
    else math.min(model.min - 1000000L, -20000000L)

  /** Content dedup on a document stream: signature per row (stateless),
    * then first-writer-wins on the signature. Identical code path for
    * batch (`spark.read`) and stream (`spark.readStream`).
    *
    * State note: with no event-time column on documents this uses unbounded
    * `dropDuplicates` state — fine for batch and bounded backfills. A
    * long-running stream should attach an ingest timestamp and use
    * [[contentDedupWithinWatermark]], whose state is watermark-evicted.
    */
  def contentDedup(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"),
        GraftFunctions.simhash60(col("text")).as("simhash"))
      .dropDuplicates("simhash")
      .select("doc_id", "simhash")

  /** The bounded-state production variant: content dedup over a stream
    * carrying an ingest timestamp (`tsCol`). Duplicates arriving within
    * `horizon` of the kept copy are dropped; once the watermark passes a
    * signature's horizon its state is EVICTED, so state size is bounded by
    * the dedup horizon's arrival volume, not the stream's lifetime — the
    * only formulation that survives an unbounded 100 TB ingest stream.
    * (Same signature kernel; recurring content re-admits after the horizon,
    * which is the standard contract of `dropDuplicatesWithinWatermark`.)
    */
  def contentDedupWithinWatermark(docs: DataFrame, tsCol: String,
      horizon: String): DataFrame =
    docs
      .select(col("doc_id"), col(tsCol), col("text"),
        GraftFunctions.simhash60(col("text")).as("simhash"))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("simhash")
      .select("doc_id", "simhash")

  /** A twin's text column: a null document scores as the empty one, so a
    * null row never fails the micro-batch. */
  private def docText: Column = coalesce(col("text"), lit(""))

  private[streaming] case class LookupFold(n: Long, sum: Long, n_oov: Long)

  /** The one JVM kernel the scoring twins keep: a fold of each document's
    * token array against a frozen model broadcast to the executors.
    * Returns `docs` as (doc_id, carry…, n, sum, n_oov): `n` tokens, `sum`
    * of their model values with `oov` standing in for every token the
    * model lacks, and `n_oov` such tokens. The token array is the batch
    * query's own Column and the twins finish with the batch query's own
    * per-document Columns, so a twin cannot drift from its batch query. A
    * frozen-Map lookup per token needs no join or aggregation state, so
    * the twins stay stateless at any stream length. */
  private def lookupFold(docs: DataFrame, toks: Column,
      model: Map[String, Long], oov: Long, carry: String*): DataFrame = {
    val bc = docs.sparkSession.sparkContext.broadcast(model)
    val fold = udf { (ts: Seq[String]) =>
      val m = bc.value
      var sum = 0L; var nOov = 0L
      ts.foreach { t =>
        m.get(t) match {
          case Some(v) => sum += v
          case None => sum += oov; nOov += 1
        }
      }
      LookupFold(ts.length.toLong, sum, nOov)
    }.withName("lookup_fold")
    docs.withColumn("f", fold(toks))
      .select(col("doc_id").cast("long").as("doc_id") +: carry.map(col) :+
        col("f.*"): _*)
  }

  /** Streaming benchmark decontamination — the live twin of batch
    * `d88_decontamination`, flipped to the INGEST direction: documents
    * arrive as a stream and each is scored against a static benchmark
    * k-gram set for the fraction of its distinct k-grams that are
    * benchmark grams. Entirely STATELESS: the benchmark set rides an
    * executor broadcast (benchmarks are small by nature — the corpus is
    * what's big), membership is O(1) per gram, and no shuffle, join state,
    * or aggregation state exists at any stream length — the only shape
    * that survives an unbounded 100 TB ingest. The grams are d88's own
    * Column ([[Dedup.shingles]], per-doc DISTINCT) and [[lookupFold]]
    * counts the members, so the twin shingles exactly as the batch query
    * does. */
  def decontaminate(docs: DataFrame, benchGrams: Set[String], k: Int = 5,
      maxFrac: Double = 0.2): DataFrame =
    lookupFold(docs, Dedup.shingles(docText, k),
        benchGrams.iterator.map(_ -> 1L).toMap, 0L)
      .select(col("doc_id"), col("n").cast("int").as("n_grams"),
        col("sum").cast("int").as("n_hit"))
      .withColumn("contaminated", when(col("n_grams") > 0,
        col("n_hit") / col("n_grams") > maxFrac).otherwise(false))

  /** Streaming perplexity scoring — the live twin of batch
    * `t87_bigram_surprisal`, flipped to the ingest direction: arriving docs
    * score against a STATIC bigram LM broadcast to every executor (the
    * CCNet deployment shape — the model is a frozen artifact, the stream is
    * unbounded). Fully stateless: no join/agg state at any stream length,
    * O(1) LM lookups per bigram.
    *
    * Bigrams the frozen LM has never seen (impossible in the self-trained
    * batch operator, routine on a live stream) take `oovLogpMicro` — a
    * pessimistic floor, so unseen content scores as HIGH surprisal and gets
    * quarantined rather than slipping through as "fluent". The count is
    * surfaced (`n_oov`) so a drifting corpus is visible to monitoring.
    * The bigrams are t87's own Column and the average is t87's
    * [[TextAnalysis.avgSurprisalMicro]], so stream == batch by
    * construction; a doc with no bigrams (t87 drops it) averages 0. */
  def surprisalScore(docs: DataFrame, lm: Map[String, Long],
      oovLogpMicro: Option[Long] = None): DataFrame = {
    // default floor derives from the frozen model ([[oovFloorMicro]]): a
    // fixed constant stops being a surprisal maximum once the LM's own
    // rarest bigram scores below it
    val floor = oovLogpMicro.getOrElse(oovFloorMicro(lm.values))
    lookupFold(docs, GraftFunctions.word_shingles(lower(docText), 2),
        lm, floor)
      .select(col("doc_id"), col("n").as("n_bigrams"),
        col("sum").as("logp_sum_micro"),
        when(col("n") === 0, lit(0L))
          .otherwise(TextAnalysis.avgSurprisalMicro(col("sum"), col("n")))
          .as("avg_surprisal_micro"),
        col("n_oov"))
  }

  /** Streaming DSIR importance scoring — the live twin of batch
    * `t95_dsir_select` on the ingest direction: the frozen weight table
    * (word → micro-nat log-likelihood-ratio, the
    * [[graft.operators.TextAnalysis.dsirWeights]] artifact) broadcasts,
    * arriving documents score statelessly — no join/agg state at any
    * stream length, O(1) map lookups per word. Words outside the frozen
    * vocabulary take `oovWeightMicro` (default 0 = neutral; under DSIR
    * smoothing the principled constant is ln((R+V)/(T+V)), computable
    * from the frozen totals) and are counted (`n_oov`) so vocabulary
    * drift is visible to monitoring. The words are t95's own Column
    * ([[TextAnalysis.alphaWords]]) summed in integer micro-nats, so the
    * score is t95's by construction; corpus-level SELECTION (t95's top-50
    * threshold) stays a batch/monitoring decision — a stream routes on a
    * frozen score threshold instead. */
  def dsirScore(docs: DataFrame, weights: Map[String, Long],
      oovWeightMicro: Long = 0L): DataFrame =
    lookupFold(docs, TextAnalysis.alphaWords(docText), weights,
        oovWeightMicro)
      .select(col("doc_id"), col("n").as("n_words"),
        col("sum").as("score_micro"), col("n_oov"))

  case class DocNbPred(doc_id: Long, n_words: Long, predicted: String,
      score_micro: Long)

  /** Streaming NB classification — the serve twin of batch
    * `t100_nb_classifier`: the frozen vocab-bounded model broadcasts
    * (per-language prior and unseen-word-default micros plus
    * per-(language, word) log-likelihood micros, exact 1e-6 units on the
    * same 6-dp DECIMAL grid the batch side sums — see
    * [[graft.operators.TextAnalysis.nbModelMicros]]), and each arriving
    * document is scored against every language and argmax'd statelessly.
    * The tokens are t100's own Column (`tokens(lower(text))`), and integer
    * micro sums are partition- and arrival-order independent, so stream
    * scores equal batch scores bit-for-bit. Ties break (score desc, lang
    * asc) exactly like the batch window: the language list is pre-sorted
    * and only a strictly greater score displaces the leader. No shuffle,
    * join state, or aggregation state at any stream length — the only
    * shape that survives an unbounded ingest; scoring is
    * O(tokens × |langs|) per document with O(1) model lookups. Zero-token
    * documents score on priors alone (the batch side emits no row for
    * them — its token explode produces nothing to group). */
  def nbClassify(docs: DataFrame,
      langStats: Map[String, (Long, Long)],
      wordLik: Map[(String, String), Long]): DataFrame = {
    require(langStats.nonEmpty, "nbClassify needs a trained model: " +
      "langStats is empty (was the training corpus dry?)")
    val spark = docs.sparkSession
    import spark.implicits._
    val bcL = spark.sparkContext.broadcast(langStats.toSeq.sortBy(_._1))
    val bcW = spark.sparkContext.broadcast(wordLik)
    docs.select(col("doc_id").cast("long"),
        TextAnalysis.tokens(lower(docText)))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val langs = bcL.value; val lik = bcW.value
        it.map { case (id, toks) =>
          var bestLang: String = null
          var bestScore = Long.MinValue
          langs.foreach { case (lang, (prior, dflt)) =>
            var sc = prior
            toks.foreach { w => sc += lik.getOrElse((lang, w), dflt) }
            if (sc > bestScore) { bestScore = sc; bestLang = lang }
          }
          DocNbPred(id, toks.length.toLong, bestLang, bestScore)
        }
      }.toDF()
  }

  /** [[nbClassify]] re-expressed as JOINS over the model FRAMES
    * ([[graft.operators.TextAnalysis.nbModelMicroFrames]]) — identical
    * answers (the parity spec pins bit-equality against the Map twin),
    * no frozen driver-side Map. The Map twin's ceiling is real: the
    * frozen likelihood map is capped at k terms/class, but a
    * many-language corpus multiplies CLASSES until k × |classes| no
    * longer fits one JVM heap. Here the likelihood table is a join
    * build side — Catalyst broadcasts it while small and degrades to a
    * shuffled join when not (only the |langs|-bounded prior/default
    * frame is forced broadcast). Shape: one distinct over (doc, text)
    * hash keys, then tokens × |langs| contribution rows
    * partial-aggregate map-side into per-(doc, lang) sums (one
    * exchange), a per-doc window argmaxes over |langs| rows with the
    * same (score desc, lang asc) tie-break, and the verdict joins back
    * to every INPUT row (duplicate arrivals each get their own output
    * row, like the Map twin). Zero-token docs score on priors alone
    * via the docs × langs left join. Batch-side only (the per-doc
    * window needs a complete frame) — the serve twin runs it inside
    * foreachBatch, where every micro-batch is a batch frame. */
  def nbClassifyJoin(docs: DataFrame, langStats: DataFrame,
      wordLik: DataFrame): DataFrame =
    // the kernel lives operators-side (it is a plain batch frame —
    // oracle-checked as t107 — and the dependency direction is
    // streaming → operators); this is its streaming-face name, kept
    // beside [[nbClassify]] so the twin pair reads as one surface
    graft.operators.TextAnalysis.nbClassifyJoin(docs, langStats, wordLik)

  /** A trained per-micro-batch NB scorer with its dispatch decision
    * visible (specs and dashboards read `joinForm`). */
  final case class NbScorer(joinForm: Boolean,
      score: DataFrame => DataFrame)

  /** Model-size-aware serving dispatcher — the auto-switch between the
    * NB twins. While every class vocabulary fits `maxTermsPerClass`, the
    * Map twin serves (one frozen driver-side broadcast, O(1) lookups —
    * and the cap provably never binds, so it IS the batch model). The
    * moment ANY class exceeds the cap, serving switches to the JOIN twin
    * over the UNCAPPED model frames: no driver ceiling (Catalyst
    * broadcasts the likelihood table while small, shuffles when not) and
    * no silent OOV-floor dampening of evicted rare terms — which is what
    * an over-cap frozen Map would do. Either way the scorer is
    * bit-identical to the batch t100 model for every document (the
    * parity spec pins both branches). The over-cap probe is a
    * |classes|-bounded aggregation, paid once at serve start. */
  def nbClassifier(s: SparkSession, d: String,
      maxTermsPerClass: Int = 1000000): NbScorer = {
    // train ONCE, at dispatch: the frames are materialized here
    // (localCheckpoint) so the over-cap probe, the per-micro-batch
    // scorer, and the under-cap driver freeze all read the trained rows
    // — a lazy frame would re-run the whole training pipeline inside
    // every micro-batch (the freeze-at-serve-start discipline every
    // other twin follows)
    val (langStatsRaw, likRaw) = graft.operators.TextAnalysis
      .nbModelMicroFrames(s, d, maxTermsPerClass = Int.MaxValue)
    val langStatsDf = langStatsRaw.localCheckpoint()
    val likDf = likRaw.localCheckpoint()
    val overCap = likDf.groupBy("clang").count()
      .filter(col("count") > maxTermsPerClass).head(1).nonEmpty
    if (overCap)
      NbScorer(joinForm = true,
        docs => nbClassifyJoin(docs, langStatsDf, likDf))
    else {
      // under-cap ⇒ the cap cannot bind ⇒ the capped Map model IS the
      // uncapped model: freeze straight from the materialized frames
      // instead of training a second time
      val (ls, wl) = graft.operators.TextAnalysis
        .nbModelCollect(langStatsDf, likDf)
      NbScorer(joinForm = false, docs => nbClassify(docs, ls, wl))
    }
  }

  /** Streaming BPE tokenizer application — the live twin of batch
    * `t94_bpe_apply` on the ingest direction: the frozen 3-entry merge
    * table (t93's model artifact — pair strings in rank order, fused to
    * markers '0','1','2') is inlined as literals, and arriving documents
    * re-tokenize statelessly through t94's own Columns: the
    * [[TextAnalysis.alphaWords]] stream, [[TextAnalysis.bpeChars]] and
    * [[TextAnalysis.bpeSyms]] (each merge a left-to-right non-overlapping
    * `replace` = greedy BPE) and [[TextAnalysis.bpeCompression]], whose
    * NULL-on-zero rule gives alpha-free docs (0, 0, NULL). */
  def bpeApply(docs: DataFrame, merges: Seq[String]): DataFrame = {
    require(merges.length <= 3, "marker alphabet covers 3 merges")
    docs.select(col("doc_id").cast("long").as("doc_id"),
        TextAnalysis.alphaWords(docText).as("ws"))
      .select(col("doc_id"), TextAnalysis.bpeChars(col("ws")).as("n_chars"),
        TextAnalysis.bpeSyms(col("ws"), merges.map(lit(_)))
          .as("n_syms"))
      .select(col("doc_id"), col("n_chars"), col("n_syms"),
        TextAnalysis.bpeCompression(col("n_chars"), col("n_syms"))
          .as("compression"))
  }

  /** Streaming multimodal decode — the live twin of the m97 batch path:
    * arriving binary payloads (an asset ingest stream) run through the same
    * typed [[graft.operators.Multimodal.WavCodec]] header parse, one codec
    * call per row inside mapPartitions (decoder setup amortized per
    * micro-batch partition, the same batch shape as the batch operator).
    * Fully stateless: a malformed payload degrades to its own invalid row,
    * never kills the stream. Columns: (doc_id, payload) → WavMeta. */
  def decodeWav(blobs: DataFrame): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        graft.operators.Multimodal.WavCodec.decode(id, b)
      }).toDF()
  }

  /** Streaming image dedup — the live twin of batch
    * `m101_image_phash_dedup`, completing the media leg of the streaming
    * matrix: arriving image payloads decode through the SAME
    * [[graft.operators.Multimodal.PerceptualHash]] aHash kernel
    * (map-side, next to the bytes — only (doc_id, w, h, phash) ever
    * reaches the dedup state, never pixels), invalid payloads degrade to
    * an excluded row (the m10x valid-flag discipline), and
    * first-writer-wins on the 16-byte phash group key. Batch m101 keeps
    * min(doc_id) per group; a stream cannot know the minimum is in hand,
    * so its contract is first-ARRIVAL-wins — on an id-ordered replay the
    * two agree exactly (the parity spec drives both). Unbounded
    * `dropDuplicates` state: fine for backfills; live ingest uses
    * [[imagePhashDedupWithinWatermark]]. */
  def imagePhashDedup(blobs: DataFrame): DataFrame =
    phashed(blobs).dropDuplicates("phash")

  case class PhashTs(doc_id: Long, w: Int, h: Int, phash: String,
      valid: Boolean, ts: java.sql.Timestamp)

  /** The bounded-state production variant (same contract as
    * [[contentDedupWithinWatermark]]): duplicates of a kept image arriving
    * within `horizon` are dropped, state is watermark-evicted, so an
    * unbounded asset stream holds only the horizon's arrival volume. The
    * ingest timestamp rides THROUGH the decode map (a post-decode join
    * would be a stream-stream join — state where none is needed). */
  def imagePhashDedupWithinWatermark(blobs: DataFrame, tsCol: String,
      horizon: String): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs
      .select(col("doc_id").cast("long"), col("payload"),
        col(tsCol).cast("timestamp"))
      .as[(Long, Array[Byte], java.sql.Timestamp)]
      .mapPartitions(_.map { case (id, b, ts) =>
        val p = graft.operators.Multimodal.PerceptualHash.aHash(id, b)
        PhashTs(p.doc_id, p.w, p.h, p.phash, p.valid, ts)
      }).toDF()
      .filter(col("valid"))
      .select(col("doc_id"), col("w"), col("h"), col("phash"),
        col("ts").as(tsCol))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("phash")
  }

  /** Shared decode+hash head of the m101 twins: (doc_id, payload) →
    * (doc_id, w, h, phash), invalid assets excluded. */
  private def phashed(blobs: DataFrame): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        graft.operators.Multimodal.PerceptualHash.aHash(id, b)
      }).toDF()
      .filter(col("valid"))
      .select(col("doc_id"), col("w"), col("h"), col("phash"))
  }

  /** Streaming sliding-window chunking — the live twin of batch
    * `t90_doc_chunks`, on the ingest direction: arriving documents split
    * into size-32/stride-24 token windows (RAG/context prep at ingest
    * time, before the corpus ever lands). Delegates to the SAME kernel as
    * the batch operator ([[graft.operators.TextAnalysis.chunkDocs]]) —
    * pure map-side expression work, no watermark, no state, so a chunked
    * doc is emitted in the micro-batch its source row arrives in. */
  def chunkDocs(docs: DataFrame): DataFrame =
    graft.operators.TextAnalysis.chunkDocs(docs)

  /** Running data-mixture report on a document stream — the live twin of
    * batch `t83_mixture_report`: per (source, lang) document/token/char
    * counts, updated every micro-batch (drive with update/complete output
    * mode). Token counting is the same map-side expression as the batch
    * operator, so the only streaming state is one running-sum row per
    * (source, lang) — state is bounded by the DIMENSION cardinality, not
    * the stream's lifetime or volume, which is why a running aggregate
    * (no watermark, no window) is the correct shape for a dashboard-style
    * corpus accounting over an unbounded ingest. */
  def runningMixture(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), col("lang"),
        size(graft.operators.TextAnalysis.tokens(col("text")))
          .cast("long").as("ntok"),
        length(col("text")).cast("long").as("nch"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("n_tokens"),
        sum(col("nch")).as("n_chars"))

  /** Ingest-time near-dup gate — the live twin of batch
    * `d101_incremental_near_dup`: each arriving document's MinHash band
    * keys are computed map-side (the batch pipeline's exact lane
    * arithmetic as within-row array expressions) and checked against the
    * static history band index by per-band stream-static LEFT joins.
    * Fully stateless — the verdict needs no aggregation over the stream —
    * so it gates any ingest rate; at real scale `histBands` is the stored
    * index table, read not rebuilt. */
  def nearDupCheck(docs: DataFrame, histBands: DataFrame): DataFrame =
    graft.operators.Dedup.nearDupCheckAgainst(docs, histBands)

  /** Streaming ingest ADMISSION — the live twin of batch
    * `p102_ingest_gate`, completing the ingest story end-to-end: each
    * arriving document gets its near-dup verdict against the static
    * history band index ([[nearDupCheck]]'s stream-static probes) AND its
    * Gopher quality verdict (the SHARED `gopherVerdict` kernel — the
    * thresholds exist in exactly one place), composed into one `admitted`
    * flag. Entirely STATELESS: the quality columns are map-side
    * expressions computed BEFORE the band probes and THREADED THROUGH
    * them as pass-through columns — joining two per-doc verdict streams
    * back together would be a stream-stream self-join (state where none
    * is needed), the same reason the batch capstone shares one scan. At
    * real scale `histBands` is the stored dedup-index table, read not
    * rebuilt. Output matches batch p102 column-for-column:
    * (doc_id, is_near_dup, keep, n_tokens, admitted). */
  def admit(docs: DataFrame, histBands: DataFrame): DataFrame =
    graft.operators.Dedup.nearDupCheckAgainst(
      graft.operators.TextAnalysis.gopherVerdict(docs, keepText = true)
        .select(col("doc_id"), col("text"), col("n_tokens"), col("keep")),
      histBands, keep = Seq("n_tokens", "keep"))
      .select(col("doc_id"), col("is_near_dup"), col("keep"),
        col("n_tokens"),
        (col("keep") && !col("is_near_dup")).as("admitted"))

  /** SELF-MAINTAINING ingest gate — [[admit]] closed into a loop: each
    * micro-batch is gated against the STORED dedup band index
    * ([[graft.operators.DedupIndex]], which `BUILD DEDUP INDEX` trained on
    * the release corpus), its verdicts land exactly-once in a warehouse
    * audit table, and the ADMITTED documents' band rows are appended to
    * that same index — so batch N+1's probe already sees batch N's
    * admissions. [[admit]] probes a FROZEN index: within-stream duplicates
    * pass it undetected and the index staleness grows until the next
    * batch REFRESH; this operator is the production shape — the index is
    * current as of the last committed micro-batch, at O(batch) incremental
    * cost (the d90/d101 incremental-ingest semantics, live).
    *
    * Per batch, ONE signature computation (`bandsForCorpus`, pinned with
    * localCheckpoint) serves all three consumers — the history probe, the
    * within-batch first-writer pass, and the index append. Verdict
    * columns: `matched_hist` (min matching doc already in the index —
    * [[admit]]'s `matched_doc` semantics exactly), `matched_batch` (min
    * EARLIER quality-keeper in the same batch sharing a band — d90's
    * first-writer-wins, restricted to keepers because a quality-rejected
    * document never enters the corpus and so cannot claim content),
    * `dup_kind` ('historical' > 'batch' precedence, d90's), and
    * `admitted` = keep ∧ no match on either side. Only admitted documents'
    * bands enter the index.
    *
    * Both commits are exactly-once via `appendCommitted` — the
    * marker-guarded LINK-FORWARD append (O(batch) data written, atomic
    * pointer commit) — with the commit order load-bearing:
    *   - Verdicts FIRST: the audit record must never duplicate, and the
    *     marker guard gives exactly that (a replayed batch id is skipped)
    *     at O(batch) cost. A COW rewrite would give the same guarantee at
    *     O(audit-table) cost per batch — a per-batch price that GROWS
    *     with stream lifetime, the exact curve appendCommitted was built
    *     to kill; the log-size-independence spec pins that batch cost
    *     stays flat as the log grows.
    *   - Bands SECOND: a COW rewrite of a CORPUS-sized index per
    *     micro-batch is the exact cost the build/serve split exists to
    *     avoid. Replay analysis: crash before the verdict commit → full
    *     recompute against an index that cannot yet contain this batch
    *     (bands commit later) — identical verdicts. Crash between the
    *     commits → verdicts recompute identically (index still
    *     pre-batch), their marker skips the append, bands append. Crash
    *     after both → both markers skip; and even the recomputed-verdict
    *     frame the band append would derive from is moot (defense in
    *     depth: the index is a SET, so a duplicate band row could not
    *     change a min-over-matches verdict anyway). Every crash position
    *     converges to the single-run outcome.
    * After an append the live version DIRECTORY changes, so the
    * location-pinned catalog entry (what d101's served probe reads) is
    * re-pointed — the same discipline as `DedupIndex.refresh`.
    */
  def admitAndIndex(docs: DataFrame, cmds: graft.commands.TableCommands,
      verdictTable: String = "ingest_verdicts",
      checkpoint: Option[String] = None,
      compactEvery: Int = 0,
      compactThresholdBytes: Long = 64L << 20,
      batchOffset: Long = 0L,
      heartbeat: () => Unit = () => ())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // a RESTARTED gate must resume its batch numbering (the warehouse
    // markers are monotonic per table): without a checkpoint the engine
    // restarts at batchId 0 and every already-committed marker silently
    // swallows the new data — so restartable deployments (the SQL face)
    // pin a checkpoint under the warehouse. `batchOffset` is the SOURCE-
    // ROTATION floor (STOP INGEST ... PURGE): a deliberately fresh
    // checkpoint restarts Spark's ids at 0, and the offset lifts every
    // committed id above the sink markers the retired checkpoint already
    // advanced — monotonicity holds across rotations, so zero batches
    // are swallowed and zero replayed.
    val w = docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val id = batchId + batchOffset
        admitAndIndexBatch(batch, cmds, verdictTable, id)
        // IN-GATE compaction: appendCommitted adds files per batch (the
        // old ones ride forward as hard links), so a long-running gate
        // accumulates small files. foreachBatch serializes the gate's
        // writes, so the gate may compact its own tables between
        // batches with no second-writer hazard — the same valve the
        // manual STOP → OPTIMIZE → START loop turns, without stopping.
        // compactTail (NOT optimizeTable): only the small-file tail is
        // rewritten and graduated segments ride forward as hard links,
        // so per-compaction cost is O(data since last compaction), not
        // O(table) — a lifetime-growing gate never pays lifetime-growing
        // maintenance. The rewrite carries the stream marker forward
        // (publish's contract, spec-pinned), so replay safety is
        // unchanged; keying on the effective id keeps a replayed batch's
        // compaction a harmless second rewrite, never a skipped one.
        if (compactEvery > 0 && id % compactEvery == compactEvery - 1) {
          val bandTable = graft.operators.DedupIndex.tableName("bands")
          if (cmds.tableExists(verdictTable))
            cmds.compactTail(verdictTable, compactThresholdBytes)
          if (cmds.tableExists(bandTable) &&
              cmds.compactTail(bandTable, compactThresholdBytes))
            cmds.repoint(batch.sparkSession, Seq(bandTable))
        }
        heartbeat()
      }
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** One micro-batch of [[admitAndIndex]] — public so the replay/crash
    * contract is directly testable (call twice with one batchId). */
  def admitAndIndexBatch(batch: DataFrame,
      cmds: graft.commands.TableCommands, verdictTable: String,
      batchId: Long): Unit = {
    if (batch.isEmpty) return
    import org.apache.spark.sql.expressions.Window
    val bandTable = graft.operators.DedupIndex.tableName("bands")
    require(cmds.tableExists(bandTable),
      "admitAndIndex maintains a stored dedup index - run BUILD DEDUP " +
        "INDEX first")
    val gated = graft.operators.TextAnalysis
      .gopherVerdict(batch, keepText = true)
      .select(col("doc_id"), col("text"), col("n_tokens"), col("keep"))
      .localCheckpoint()
    val bands = graft.operators.Dedup
      .bandsForCorpus(gated.select("doc_id", "text"))
      .localCheckpoint()
    // history probe: min matching indexed doc across the doc's bands —
    // bit-identical to nearDupCheckAgainst's matched_doc, but reusing the
    // bands this batch must compute anyway (ONE signature pass per batch)
    val histHit = bands
      .join(cmds.table(bandTable).select(col("band").as("hb"),
        col("band_key").as("hk"), col("doc_id").as("hd")),
        col("band") === col("hb") && col("band_key") === col("hk"))
      .groupBy(col("doc_id"))
      .agg(min(col("hd")).as("matched_hist"))
    // within-batch first-writer among quality-keepers (d90's convention)
    val keepBands = bands.join(gated.filter(col("keep"))
      .select("doc_id"), Seq("doc_id"), "left_semi")
    val batchHit = keepBands
      .withColumn("first_id",
        min(col("doc_id")).over(
          Window.partitionBy(col("band"), col("band_key"))))
      .groupBy(col("doc_id"))
      .agg(min(when(col("first_id") < col("doc_id"), col("first_id")))
        .as("matched_batch"))
    // pin the verdicts BEFORE any index mutation: the frame reads the very
    // band table the append below republishes
    val verdicts = gated.select("doc_id", "n_tokens", "keep")
      .join(histHit, Seq("doc_id"), "left")
      .join(batchHit, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("keep"),
        col("matched_hist"), col("matched_batch"),
        col("matched_hist").isNotNull.as("is_near_dup"),
        when(col("matched_hist").isNotNull, "historical")
          .when(col("matched_batch").isNotNull, "batch")
          .as("dup_kind"),
        (col("keep") && col("matched_hist").isNull &&
          col("matched_batch").isNull).as("admitted"))
      .localCheckpoint()
    cmds.appendCommitted(verdictTable, verdicts, batchId)
    val freshBands = cmds.conform(bandTable, bands
      .join(verdicts.filter(col("admitted")).select("doc_id"),
        Seq("doc_id"), "left_semi"))
    // the band append is UNCONDITIONAL — an all-rejected batch appends an
    // empty frame whose only effect is advancing the marker. That keeps
    // the pair invariant machine-checkable: verdicts marker == bands
    // marker at every batch boundary, so a marker DISAGREEMENT is
    // unambiguously a crash between the two appends (the torn state only
    // a checkpoint replay heals — what STOP ... PURGE's torn-pair refusal
    // keys on). Cost: one empty link-forward version per no-admit batch,
    // the same O(batch) commit the verdict log already pays.
    cmds.appendCommitted(bandTable, freshBands, batchId)
    // the append published a NEW version dir: re-point the catalog
    // entry the batch gate's served probe reads, in both sessions
    cmds.repoint(batch.sparkSession, Seq(bandTable))
  }

  /** Streaming perplexity bucketing — the live twin of batch
    * `t102_perplexity_buckets` in the CCNet deployment shape: the unigram
    * model (term → micro-nat log-prob, `TextAnalysis.unigramLq`) and the
    * per-language tercile edges (the `perplexityParts` artifact) both
    * FREEZE at stream start — edges are a corpus-distribution property, so
    * they are necessarily a batch artifact; the stream's job is to route
    * each arriving document against them, exactly as CCNet buckets new
    * crawl snapshots against the previous snapshot's LM cutoffs. Fully
    * stateless: O(1) model lookups per token, no join/agg state at any
    * stream length. The tokens, the 6-dp surprisal
    * ([[TextAnalysis.surprisalNats]]) and the bucket rule
    * ([[TextAnalysis.tercileBucket]]) are t102's own Columns; tokens
    * outside the frozen vocabulary take `oovLqMicro` (a pessimistic floor
    * — unseen content reads as HIGH surprisal and lands in the tail for
    * quarantine, never silently in the head) and are counted so
    * vocabulary drift is visible. Token-free docs score NULL (the batch
    * side emits no row for them); a language with no frozen edges buckets
    * NULL rather than guessing. */
  def perplexityBucket(docs: DataFrame, lq: Map[String, Long],
      edges: Map[String, (Double, Double)],
      oovLqMicro: Option[Long] = None): DataFrame = {
    // default floor derives from the frozen model ([[oovFloorMicro]]) so
    // an OOV token is GUARANTEED to read as more surprising than any
    // in-vocabulary token, at any training-corpus size
    val floor = oovLqMicro.getOrElse(oovFloorMicro(lq.values))
    lookupFold(docs, TextAnalysis.tokens(lower(docText)), lq, floor, "lang")
      .select(col("doc_id"), col("lang"), col("n").as("n_tokens"),
        when(col("n") > 0, TextAnalysis.surprisalNats(col("sum"), col("n")))
          .as("surprisal"),
        typedLit(edges).getItem(col("lang")).as("e"), col("n_oov"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("surprisal"),
        when(col("surprisal").isNotNull && col("e").isNotNull,
          TextAnalysis.tercileBucket(col("surprisal"), col("e._1"),
            col("e._2"))).as("bucket"),
        col("n_oov"))
  }

  // event_ts default is epoch+1ms, NOT epoch: the engine drops rows at
  // ts <= watermark, and the watermark starts at 0 — a 0 default would
  // silently drop every frame. At +1ms a constant event time keeps the
  // watermark pinned at 0 (ts - idleGap is negative), so nothing is
  // late and no cursor ever evicts: the batch-parity mode. Production
  // streams stamp the real decode time to get bounded state.
  case class Frame(doc_id: Long, frame_idx: Long, energy: Long,
      event_ts: java.sql.Timestamp = new java.sql.Timestamp(1L))
  case class SceneCursor(lastIdx: Long, lastEnergy: Long, scene: Long)
  case class FrameScene(doc_id: Long, frame_idx: Long, energy: Long,
      scene_idx: Long)

  /** Streaming scene segmentation — the live twin of batch
    * `m105_scene_cuts` on the ingest direction: decoded frames arrive as
    * a stream (the shape a video-decode stage emits) and each is assigned
    * its scene index ON ARRIVAL, so downstream keyframe sampling and
    * captioning start before the asset finishes decoding. Scene identity
    * needs exactly one comparison against the PREVIOUS frame, so the
    * custom state (`flatMapGroupsWithState`, the engine's escape hatch
    * for cross-row streaming semantics) is a 3-field cursor per asset —
    * last frame index, last energy, current scene — NOT a frame buffer.
    *
    * State BOUND: each asset's cursor is evicted on an EVENT-TIME idle
    * timeout — the cursor dies `idleGap` after the asset's last frame's
    * `event_ts`, measured against the stream's watermark — making state
    * O(assets-in-flight); without eviction it would grow with every
    * asset EVER seen — unbounded on a long-running ingest stream. The
    * eviction contract: an asset's frames carry event times within
    * `idleGap` of each other (a decode stage emits an asset's frames
    * back-to-back, so an idle asset is a FINISHED asset). A straggler
    * frame arriving after its cursor expired RE-OPENS the asset with a
    * fresh cursor — scene numbering restarts at 0 from that frame,
    * exactly as if the tail were a new asset; a pipeline that cannot
    * bound decode latency should widen the gap rather than lean on
    * re-open semantics. LATE frames — event_ts at or behind the
    * watermark, i.e. more than `idleGap` behind the stream's max event
    * time — are DROPPED by the engine before this operator runs (the
    * standard watermark contract; the eviction spec pins it): a dropped
    * frame emits NO row, it does not re-open its asset. That is the
    * price of bounded state; a pipeline whose decode latency can exceed
    * `idleGap` must widen the gap, not expect late output. Frames
    * within a micro-batch sort by index (decode emits in order; a batch
    * may interleave); ACROSS batches in-order delivery per asset is the
    * ingest contract, as for every cursor-carrying stream. Cut rule and integer energies are the
    * batch kernel's own, so stream assignments equal m105's
    * bit-for-bit (parity spec feeds frames split mid-asset across
    * batches).
    *
    * WHY event time and not `ProcessingTimeTimeout`: with a
    * processing-time timeout registered, the micro-batch engine's
    * `shouldRunAnotherBatch` is ALWAYS true (wall-clock always
    * advances), so under the default trigger the query spins empty
    * timeout-check batches back-to-back — a long-running ingest stream
    * burns a cluster while idle, and `processAllAvailable()` (hence any
    * test harness awaiting quiescence) never returns. Event-time
    * timeouts only schedule extra batches when the WATERMARK advances,
    * which only happens on new data — idle stream, idle cluster. */
  def sceneAssign(frames: Dataset[Frame],
      threshold: Long = 150L,
      idleGap: String = "30 minutes"): Dataset[FrameScene] = {
    import frames.sparkSession.implicits._
    frames
      .withWatermark("event_ts", idleGap)
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState[SceneCursor, FrameScene](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (doc: Long, it: Iterator[Frame], state: GroupState[SceneCursor]) =>
          if (state.hasTimedOut) {
            // idle asset = finished asset: evict its cursor, emit nothing
            state.remove()
            Iterator.empty
          } else {
            var cur = state.getOption.getOrElse(SceneCursor(-1L, 0L, 0L))
            val arr = it.toArray.sortBy(_.frame_idx)
            val out = arr.map { f =>
              val scene =
                if (cur.lastIdx < 0) 0L
                else if (math.abs(f.energy - cur.lastEnergy) > threshold)
                  cur.scene + 1
                else cur.scene
              cur = SceneCursor(f.frame_idx, f.energy, scene)
              FrameScene(doc, f.frame_idx, f.energy, scene)
            }
            state.update(cur)
            // evict once the watermark passes last-frame-ts + idleGap;
            // rows older than the watermark were already dropped by the
            // engine, so this timestamp is always > the current watermark
            state.setTimeoutTimestamp(arr.map(_.event_ts.getTime).max,
              idleGap)
            out.iterator
          }
      }
  }

  /** Per-asset streaming state for [[sceneKeyframes]]: the m105 cursor
    * plus the OPEN scene's frame buffer (reversed arrival order). */
  case class SceneKfState(lastIdx: Long, lastEnergy: Long, scene: Long,
      frames: List[(Long, Long)])
  case class SceneKeyframe(doc_id: Long, scene_idx: Long,
      keyframe_idx: Long, energy: Long)

  /** Streaming keyframe selection — the live twin of batch
    * `m106_scene_keyframes`, closing the video story end-to-end on the
    * ingest direction: decode → [[sceneAssign]]-style cut detection →
    * ONE representative frame per scene, emitted the moment the scene
    * CLOSES (the next cut arrives) rather than when the asset finishes —
    * so captioning/embedding of shot 1 starts while shot 2 is still
    * decoding. Selection math is the batch kernel's own, floats never
    * touched: keyframe = argmin |e·cn − se| (distance to the scene mean
    * ranked in exact integers), ties to the earliest frame — so streamed
    * keyframes equal m106's bit-for-bit (the parity spec splits assets
    * mid-scene across micro-batches).
    *
    * State per asset = the m105 cursor + ONLY the open scene's frames:
    * closed scenes leave state the moment they emit, so state is bounded
    * by scene length × assets-in-flight, not stream length. The final
    * open scene of an asset flushes on the same EVENT-TIME idle timeout
    * as [[sceneAssign]]'s cursor eviction (idle asset = finished asset);
    * a cut-free asset's buffer grows with the asset — a production
    * pipeline bounds shot length upstream (decoders emit scene-change
    * hints) or widens thresholds, and the contract is documented rather
    * than silently truncated. */
  def sceneKeyframes(frames: Dataset[Frame],
      threshold: Long = 150L,
      idleGap: String = "30 minutes"): Dataset[SceneKeyframe] = {
    import frames.sparkSession.implicits._
    def close(doc: Long, scene: Long,
        fs: List[(Long, Long)]): SceneKeyframe = {
      val ordered = fs.reverse
      val cn = ordered.length.toLong
      val se = ordered.iterator.map(_._2).sum
      val k = ordered.iterator
        .map { case (fi, e) => (math.abs(e * cn - se), fi, e) }.min
      SceneKeyframe(doc, scene, k._2, k._3)
    }
    frames
      .withWatermark("event_ts", idleGap)
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState[SceneKfState, SceneKeyframe](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (doc: Long, it: Iterator[Frame], state: GroupState[SceneKfState]) =>
          if (state.hasTimedOut) {
            // idle asset = finished asset: flush its final open scene
            val out = state.getOption.filter(_.frames.nonEmpty)
              .map(s => close(doc, s.scene, s.frames))
            state.remove()
            out.iterator
          } else {
            var cur = state.getOption
              .getOrElse(SceneKfState(-1L, 0L, 0L, Nil))
            val arr = it.toArray.sortBy(_.frame_idx)
            val out =
              scala.collection.mutable.ArrayBuffer.empty[SceneKeyframe]
            arr.foreach { f =>
              if (cur.lastIdx >= 0 &&
                  math.abs(f.energy - cur.lastEnergy) > threshold) {
                out += close(doc, cur.scene, cur.frames)
                cur = SceneKfState(f.frame_idx, f.energy, cur.scene + 1,
                  List(f.frame_idx -> f.energy))
              } else {
                cur = SceneKfState(f.frame_idx, f.energy, cur.scene,
                  (f.frame_idx -> f.energy) :: cur.frames)
              }
            }
            state.update(cur)
            state.setTimeoutTimestamp(arr.map(_.event_ts.getTime).max,
              idleGap)
            out.iterator
          }
      }
  }

  /** Running per-source governance scorecard — the live twin of batch
    * `t101_source_scorecard`'s distributive columns: per source, running
    * doc/token counts plus how many docs pass the t99 Gopher gates and how
    * many route as code under the t96 rule. The per-doc signals are the
    * SHARED map-side kernel (`TextAnalysis.scorecardSignals`) — the exact
    * expressions the batch card aggregates — so stream and batch cannot
    * drift. State is one running-sum row per source (dimension-bounded,
    * like [[runningMixture]]). The batch card's two count-distinct columns
    * (n_langs, dup_surplus) are deliberately absent: running DISTINCT
    * state grows with the stream, so a live dashboard takes the
    * distributive subset and leaves exact distincts to the batch card —
    * the same split production lambda architectures make. */
  def runningScorecard(docs: DataFrame): DataFrame =
    graft.operators.TextAnalysis.scorecardSignals(docs)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("n_tokens"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        sum(when(col("is_code"), 1L).otherwise(0L)).as("n_code"))
}
