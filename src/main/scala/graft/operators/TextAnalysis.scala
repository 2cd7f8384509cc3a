package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft
import graft.functions.GraftFunctions

/** Text-analysis operators for a large-scale training-data pipeline
  * (SURVEY.md §7.8 extension surface; no analog in the reference, which has
  * no text functions beyond CONCAT — `functions/Concat.java`).
  *
  * Everything here is per-row, codegen-friendly expression work: at 100 TB it
  * runs map-side with zero shuffle, and Parquet column pruning means only
  * `text` (+ keys) is ever read.
  */
object TextAnalysis {

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Graft.table(s, d, n)

  /** Non-empty whitespace tokens of trimmed text (shared definition; the
    * DuckDB oracles use the equivalent
    * `list_filter(regexp_split_to_array(trim(text),'\s+'), x -> x != '')`).
    * The split class is RE2's `\s` = `[\t\n\f\r ]` exactly — Java's `\s`
    * would additionally treat \x0B as whitespace and silently diverge from
    * the oracle on control characters. */
  def tokens(text: Column): Column =
    filter(split(trim(text), "[ \\t\\n\\f\\r]+"), tk => tk =!= "")

  /** The t93/t94/t95 word stream of a document: every `[a-z]+` run of the
    * lowercased text. */
  def alphaWords(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+"), lit(0))

  /** t87's per-document average surprisal: the negated micro-nat sum over
    * `n` bigrams, rounded HALF_UP to a whole micro-nat. Negating before
    * the division keeps the rounding direction engine-independent. */
  def avgSurprisalMicro(logpSum: Column, n: Column): Column =
    round((-logpSum).cast("double") / n.cast("double")).cast("long")

  /** t102's per-document surprisal in nats at 6 dp, from the micro-nat
    * log-prob sum over `n` tokens. */
  def surprisalNats(lqSum: Column, n: Column): Column =
    round(-(lqSum.cast("double") / (n * 1000000)), 6)

  /** t102's bucket of a surprisal against its language's tercile edges. */
  def tercileBucket(surprisal: Column, e1: Column, e2: Column): Column =
    when(surprisal <= e1, "head")
      .when(surprisal <= e2, "middle")
      .otherwise("tail")

  /** t94's character count of a word array. */
  def bpeChars(ws: Column): Column =
    aggregate(ws, lit(0L), (a, w) => a + length(w).cast("long"))

  /** t94's symbol count: each word rewritten by the merges in rank order
    * (merge i fuses to marker char `i`; a chained `replace` is greedy BPE),
    * then its length summed. */
  def bpeSyms(ws: Column, merges: Seq[Column]): Column =
    aggregate(transform(ws, w =>
      merges.zipWithIndex.foldLeft(w) { case (acc, (m, i)) =>
        replace(acc, m, lit(i.toString)) }),
      lit(0L), (a, w) => a + length(w).cast("long"))

  /** t94's symbols-per-char ratio at 6 dp; NULL for an alpha-free doc. */
  def bpeCompression(nChars: Column, nSyms: Column): Column =
    round(when(nChars === 0, lit(null))
      .otherwise(nSyms.cast("double") / nChars.cast("double")), 6)

  private val stopwords = Seq("the", "and", "of", "to", "a", "in", "is")

  private def hits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, tk => tk.isin(words.map(w => w: Any): _*)))

  /** NULL-on-zero division, matching DuckDB (`x/0.0 IS NULL` there, a
    * DIVIDE_BY_ZERO error under Spark ANSI): an empty document's ratios are
    * undefined, and at 100 TB empty documents EXIST — one of them must not
    * abort a corpus-wide scan, and both engines must agree it is NULL. */
  private def ratio(num: Column, den: Column): Column =
    when(den === 0, lit(null).cast("double")).otherwise(num / den)

  /** The t99 Gopher rule bundle over any (doc_id, text) frame — shared by
    * the t99 QueryDef, the p102 ingest-gate capstone, and the streaming
    * admission twin ([[graft.streaming.DocStreams.admit]]) so the gate
    * thresholds exist in exactly one place. Map-side only. `keepText`
    * carries the text column through (the streaming twin computes band
    * keys from it downstream — a join back would be a stream-stream
    * self-join, state where none is needed). */
  private[graft] def gopherVerdict(docs: DataFrame,
      keepText: Boolean = false): DataFrame = {
    val carry = if (keepText) Seq(col("text")) else Nil
    docs
      .select(col("doc_id") +: tokens(col("text")).as("toks") +: carry: _*)
      .select(Seq(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        aggregate(transform(col("toks"), tk => length(tk)), lit(0),
          (acc, x) => acc + x).as("sum_len"),
        size(filter(col("toks"), tk => tk.rlike("[A-Za-z]")))
          .as("n_alpha"),
        size(filter(col("toks"),
          tk => tk.isin(stopwords.map(w => w: Any): _*)))
          .as("stop_hits")) ++ carry: _*)
      .select(Seq(col("doc_id"), col("n_tokens"),
        round(ratio(col("sum_len").cast("double"),
          col("n_tokens").cast("double")), 6).as("mean_word_chars"),
        round(ratio(col("n_alpha").cast("double"),
          col("n_tokens").cast("double")), 6).as("frac_alpha"),
        col("stop_hits")) ++ carry: _*)
      .withColumn("keep",
        col("n_tokens").between(10, 100000) &&
          coalesce(col("mean_word_chars").between(2.0, 12.0),
            lit(false)) &&
          coalesce(col("frac_alpha") >= 0.6, lit(false)) &&
          col("stop_hits") >= 2)
  }

  /** t99's oracle CTE chain over an arbitrary source CTE/table name —
    * ends at `g` = (doc_id, n_tokens, keep). Shared with p102. */
  private[operators] def gopherCtesSql(src: String): String =
    s"""gtk AS (
       |  SELECT doc_id,
       |         list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |                     x -> x != '') AS toks
       |  FROM $src),
       |gm AS (
       |  SELECT doc_id,
       |         CAST(len(toks) AS INT) AS n_tokens,
       |         CASE WHEN len(toks) = 0 THEN NULL
       |              ELSE ROUND(CAST(list_sum(list_transform(toks,
       |                     x -> len(x))) AS DOUBLE) /
       |                   CAST(len(toks) AS DOUBLE), 6) END
       |           AS mean_word_chars,
       |         CASE WHEN len(toks) = 0 THEN NULL
       |              ELSE ROUND(CAST(len(list_filter(toks,
       |                     x -> regexp_matches(x, '[A-Za-z]')))
       |                     AS DOUBLE) /
       |                   CAST(len(toks) AS DOUBLE), 6) END
       |           AS frac_alpha,
       |         CAST(len(list_filter(toks, x -> list_contains(
       |             ['the','and','of','to','a','in','is'], x)))
       |           AS INT) AS stop_hits
       |  FROM gtk),
       |g AS (
       |  SELECT doc_id, n_tokens,
       |         (n_tokens BETWEEN 10 AND 100000)
       |           AND COALESCE(mean_word_chars BETWEEN 2.0 AND 12.0,
       |                        FALSE)
       |           AND COALESCE(frac_alpha >= 0.6, FALSE)
       |           AND stop_hits >= 2 AS keep
       |  FROM gm)""".stripMargin

  /** Per-document governance signals shared by batch `t101` and the
    * streaming scorecard twin ([[graft.streaming.DocStreams]]): content
    * hash, token count, the t99 Gopher gates on the same rounded grid, and
    * the t96 code-routing rule. Map-side expression work ONLY — the same
    * code path serves `spark.read` and `spark.readStream`, which is what
    * makes the live twin bit-identical to the batch card by construction.
    * Input needs (source, lang, text). */
  private[graft] def scorecardSignals(docs: DataFrame): DataFrame = {
    val lines = filter(split(col("text"), "\n"),
      l => length(trim(l)) > 0)
    val codeLines = filter(lines, l =>
      length(regexp_replace(l, "[^;{}()=\\[\\]<>]", "")) * 4 >=
        length(l))
    docs
      .select(col("source"), col("lang"), md5(col("text")).as("h"),
        tokens(col("text")).as("toks"),
        size(lines).as("n_lines"), size(codeLines).as("n_code_lines"))
      .select(col("source"), col("lang"), col("h"),
        size(col("toks")).as("n_tokens"),
        round(ratio(
          aggregate(transform(col("toks"), tk => length(tk)), lit(0),
            (acc, x) => acc + x).cast("double"),
          size(col("toks")).cast("double")), 6).as("mean_word_chars"),
        round(ratio(
          size(filter(col("toks"), tk => tk.rlike("[A-Za-z]")))
            .cast("double"),
          size(col("toks")).cast("double")), 6).as("frac_alpha"),
        hits(col("toks"), stopwords).as("stop_hits"),
        coalesce(col("n_code_lines").cast("double") >
          col("n_lines").cast("double") * 0.3, lit(false))
          .as("is_code"))
      .withColumn("keep",
        col("n_tokens").between(10, 100000) &&
          coalesce(col("mean_word_chars").between(2.0, 12.0),
            lit(false)) &&
          coalesce(col("frac_alpha") >= 0.6, lit(false)) &&
          col("stop_hits") >= 2)
  }

  /** Winnowed fingerprint sets per doc — (doc_id, fps) from a (doc_id,
    * text) frame (t88's kernel, shared with d95's near-dup matcher): min
    * shingle-hash of every `w`-gram window, deduplicated; empty below
    * w+k-1 tokens. Pure expression work, but deliberately TWO projections:
    * the hash array must land as a materialized column before the window
    * lambda reads it, because a lambda body re-evaluates any embedded
    * subtree per element — one fused expression re-ran the full
    * shingle+md5 chain for EVERY window, O(n²) hashes per doc (measured
    * 18 s instead of <1 s for t88 at sf0.1). */
  private[operators] def winnowDocs(df: DataFrame, k: Int = 3, w: Int = 4)
      : DataFrame = {
    val hs = col("hs")
    df.select(col("doc_id"),
      transform(GraftFunctions.word_shingles(col("text"), k),
        g => Dedup.hash60(g) % 2147483647L).as("hs"))
      .select(col("doc_id"), when(size(hs) >= w,
        array_distinct(transform(sequence(lit(0), size(hs) - w),
          i => array_min(slice(hs, i + 1, lit(w))))))
        .otherwise(typedLit(Seq.empty[Long])).as("fps"))
  }

  /** Sliding-window token chunks from a (doc_id, text) frame — t90's
    * kernel, shared with the streaming ingest path
    * ([[graft.streaming.DocStreams.chunkDocs]]): size-`k` windows at
    * stride `s`, the last window keeps the tail remainder, empty docs
    * chunk to nothing. Pure map-side expression work (tokenize → chunk
    * count → posexplode), so the same plan is valid over a static frame
    * and a micro-batch. */
  private[graft] def chunkDocs(df: DataFrame, k: Int = 32, s: Int = 24)
      : DataFrame = {
    val base = df
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
      .select(col("doc_id"), col("toks"), col("n"),
        when(col("n") <= 0, lit(0))
          .when(col("n") <= k, lit(1))
          .otherwise(ceil((col("n") - k).cast("double") / s)
            .cast("int") + 1).as("nch"))
    base.select(col("doc_id"), col("toks"), col("n"),
        posexplode(when(col("nch") > 0,
            sequence(lit(0), col("nch") - 1))
          .otherwise(typedLit(Seq.empty[Int]))))
      .select(col("doc_id"),
        col("pos").cast("int").as("chunk_idx"),
        (col("col") * s + 1).cast("int").as("chunk_start"),
        least(lit(k), col("n") - col("col") * s).cast("int")
          .as("chunk_len"),
        md5(concat_ws(" ", slice(col("toks"), col("col") * s + 1, lit(k))))
          .as("chunk_hash"))
  }

  /** t88's oracle CTE chain (doc_id, fps list) — shared by d95. */
  private[operators] val winnowCtes =
    """toks AS (
      |  SELECT doc_id, list_filter(
      |           regexp_split_to_array(trim(text), '\s+'),
      |           x -> x != '') AS toks
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, list_transform(range(1, len(toks) - 1),
      |           i -> array_to_string(toks[i:i+2], ' ')) AS gs
      |  FROM toks),
      |hashes AS (
      |  SELECT doc_id, list_transform(gs,
      |           g -> ('0x' || substr(md5(g), 1, 15))::BIGINT
      |                % 2147483647) AS hs
      |  FROM grams),
      |fps AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |           range(0, len(hs) - 4 + 1),
      |           i -> list_min(hs[i+1:i+4]))) AS fps
      |  FROM hashes)""".stripMargin

  /** The t95 word stream: every [a-z]+ run of the lowercased text, one
    * row per occurrence, doc_id retained. */
  private def dsirWords(s: SparkSession, d: String): DataFrame =
    Graft.tableParallel(s, d, "documents")
      .select(col("doc_id"), explode(alphaWords(col("text"))).as("w"))

  /** The shared per-(doc, word) count frame under t95 and the weight
    * table — ONE pinned doc_id exchange under every consumer (the d98
    * pinned-exchange discipline), so the corpus tokenize executes once
    * per query instead of once per aggregate shape (measured 3 tokenize
    * passes before: raw + tot + doc each re-derived `words`). */
  private def dsirDocCounts(s: SparkSession, d: String): DataFrame =
    // NO pinned repartition (r14): every consumer (t95's scorer, the
    // weight table's raw and tot aggregates) reads the identical
    // (doc_id, w, c) column set, so AQE exchange reuse already executes
    // this aggregate — and the corpus tokenize below it — exactly once
    // per query (PlanGuardSpec pins the 1-scan final plan). The r13
    // doc_id pin added an exchange BELOW the aggregate, which forfeits
    // map-side partial aggregation and ships raw word occurrences;
    // interleaved same-JVM A/B (min-of-5): pin 1.240 s vs no-pin
    // 0.979 s. Reverted.
    dsirWords(s, d).groupBy("doc_id", "w").agg(count(lit(1)).as("c"))

  /** The t95 DSIR weight table (w, wm): add-1-smoothed unigram
    * log-likelihood ratio target-vs-raw in exact micro-nat integers —
    * vocabulary-bounded, the MODEL ARTIFACT the streaming twin freezes
    * and broadcasts. */
  private[graft] def dsirWeights(s: SparkSession, d: String): DataFrame = {
    // Derive occurrence counts from the per-(doc, word) frame instead of
    // the raw token stream: Σ per-doc counts == the stream counts exactly
    // (integers), and every consumer now sits above dsirDocCounts' one
    // pinned exchange — the tokenize+explode of the corpus runs once.
    val doc = dsirDocCounts(s, d)
    val isTgt = col("doc_id") % 10 === 0
    val raw = doc.groupBy("w").agg(sum(col("c")).as("cr"),
      sum(when(isTgt, col("c")).otherwise(0L)).as("ct"))
    val tot = doc.agg(sum(col("c")).as("r_total"),
      sum(when(isTgt, col("c")).otherwise(0L)).as("t_total"),
      countDistinct(col("w")).as("v"))
    raw.crossJoin(broadcast(tot))
      .select(col("w"), round((
        log((col("ct") + 1).cast("double") /
          (col("t_total") + col("v")).cast("double")) -
        log((col("cr") + 1).cast("double") /
          (col("r_total") + col("v")).cast("double"))) * 1000000)
        .cast("long").as("wm"))
  }

  /** t100's Naive Bayes model frames (train half, Laplace smoothing):
    * `wc` = (clang, word, cnt) per-(language, word) occurrence counts and
    * `cls` = (clang, n_tok, v, prior DECIMAL(18,6)). Shared by the batch
    * QueryDef and the serve-twin artifact export ([[nbModelMicros]]) so
    * the two cannot drift. Plan notes: the explicit isNotNull(lang) lives
    * INSIDE the shared train subtrees so the cls join's inferred filter
    * cannot fork them into per-consumer corpus scans (the t91/d85
    * scan-fork mechanic — measured 5 scans instead of 3 before the fix;
    * inner joins on clang drop null-lang rows in both engines, so the
    * filter is semantics-neutral), and the vocab count references `cnt`
    * via when(cnt > 0, word) — semantically identical (cnt >= 1 by
    * construction) but it keeps the vocab branch's column set equal to
    * langTok's so column pruning cannot specialize its copy of the wc
    * aggregate and break AQE exchange reuse (a third corpus scan
    * without it). */
  private[graft] def nbModel(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val wc = nbWordCounts(s, d)
    (wc, nbCls(s, d, wc))
  }

  /** The wc half of [[nbModel]], split out so [[nbModelMicroFrames]] can
    * materialize it once (localCheckpoint) and derive cls from the
    * materialized frame instead of re-running the train tokenize. */
  private def nbWordCounts(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val toks = docs.select(col("doc_id"), col("lang"),
      explode(tokens(lower(col("text")))).as("word"))
    val train = toks.filter(col("doc_id") % 2 === 0)
      .filter(col("lang").isNotNull)
    train.groupBy(col("lang").as("clang"), col("word"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** The cls half of [[nbModel]], parameterized over the wc frame (raw
    * lineage from [[nbModel]], or a checkpointed one from
    * [[nbModelMicroFrames]]). */
  private def nbCls(s: SparkSession, d: String, wc: DataFrame): DataFrame = {
    val docs = t(s, d, "documents")
    val langTok = wc.groupBy("clang").agg(sum(col("cnt")).as("n_tok"))
    val langDocs = docs.filter(col("doc_id") % 2 === 0)
      .filter(col("lang").isNotNull)
      .groupBy(col("lang").as("clang"))
      .agg(count(lit(1)).as("n_docs"))
    val vocab = wc.agg(
      countDistinct(when(col("cnt") > 0, col("word"))).as("v"))
    val totDocs = langDocs.agg(sum(col("n_docs")).as("total_docs"))
    val cls = langDocs.join(langTok, "clang")
      .crossJoin(vocab).crossJoin(totDocs)
      .select(col("clang"), col("n_tok"), col("v"),
        round(log(col("n_docs").cast("double") /
          col("total_docs").cast("double")), 6)
          .cast("decimal(18,6)").as("prior"))
    cls
  }

  /** t100's per-doc prediction frame (doc_id, lang, predicted, score,
    * correct) — the scoring chain shared by t100 (per-doc output) and
    * t104 (the confusion-matrix evaluation). See the t100 QueryDef doc
    * for the determinism grid and plan shape. */
  private[graft] def nbPredictions(s: SparkSession, d: String): DataFrame = {
    val (wc, cls) = nbModel(s, d)
    val toks = t(s, d, "documents").select(col("doc_id"), col("lang"),
      explode(tokens(lower(col("text")))).as("word"))
    // score: test tokens collapse to (doc, word, k) once, then meet
    // the broadcast model; unseen words smooth to cnt=0.
    //
    // The t107-style sparse decomposition (prior + Σ_known k·lm +
    // dm·(n_tok − n_known), logs precomputed per vocab entry) was built,
    // oracle-verified bit-exact, and MEASURED SLOWER here (r14
    // interleaved same-JVM A/B, min-of-5: t100 1.609 vs 1.486 s, t104
    // 2.102 vs 1.792 s) — then reverted. Why the t107 analogy does not
    // transfer: t107's dense form shuffled occurrences × |classes| into
    // a sort-merge likelihood join, so sparsifying shrank a corpus-sized
    // EXCHANGE; here the whole blown-up stream sits BEHIND broadcasts
    // (cls and wc are vocab-bounded build sides) and collapses map-side
    // in the partial aggregate — the ×|classes| cost is parallel CPU
    // only, while the sparse form added a real (doc, lang, clang)
    // assembly join + two materialization jobs. The per-row
    // log+round+DECIMAL work is the price of the simpler single-job
    // plan, bounded by |classes| per test token.
    val tw = toks.filter(col("doc_id") % 2 === 1)
      .groupBy("doc_id", "lang", "word").agg(count(lit(1)).as("k"))
    val scored = tw.crossJoin(broadcast(cls))
      .join(broadcast(wc),
        wc("clang") === cls("clang") && wc("word") === tw("word"),
        "left")
      .select(tw("doc_id"), tw("lang"), cls("clang"), cls("prior"),
        (col("k").cast("decimal(18,0)") *
          round(log((coalesce(col("cnt"), lit(0L)).cast("double") + 1.0) /
            (col("n_tok") + col("v")).cast("double")), 6)
            .cast("decimal(18,6)")).as("contrib"))
      .groupBy(col("doc_id"), col("lang"), col("clang"), col("prior"))
      .agg(sum(col("contrib")).as("ll"))
      .select(col("doc_id"), col("lang"), col("clang"),
        (col("prior") + col("ll")).as("score"))
    val best = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("score").desc, col("clang").asc)
    scored.withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"),
        col("clang").as("predicted"),
        col("score").cast("double").as("score"),
        (col("lang") === col("clang")).as("correct"))
  }

  /** The t100 oracle chain ending at `pred` = (doc_id, lang, predicted,
    * score, correct) — shared by the t100 and t104 oracles. */
  private val nbPredCtes =
    """tk AS (
      |  SELECT doc_id, lang,
      |         unnest(list_filter(
      |           regexp_split_to_array(trim(lower(text)), '\s+'),
      |           x -> x != '')) AS word
      |  FROM documents),
      |tr AS (SELECT * FROM tk WHERE doc_id % 2 = 0),
      |wc AS (SELECT lang AS clang, word,
      |              CAST(COUNT(*) AS BIGINT) AS cnt
      |       FROM tr GROUP BY 1, 2),
      |lt AS (SELECT clang, SUM(cnt) AS n_tok FROM wc GROUP BY 1),
      |ld AS (SELECT lang AS clang, CAST(COUNT(*) AS BIGINT) AS n_docs
      |       FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
      |vv AS (SELECT CAST(COUNT(DISTINCT word) AS BIGINT) AS v
      |       FROM wc),
      |tot AS (SELECT SUM(n_docs) AS total_docs FROM ld),
      |cls AS (
      |  SELECT ld.clang, lt.n_tok, vv.v,
      |         CAST(ROUND(LN(CAST(ld.n_docs AS DOUBLE) /
      |                  CAST(tot.total_docs AS DOUBLE)), 6)
      |           AS DECIMAL(18,6)) AS prior
      |  FROM ld JOIN lt USING (clang)
      |  CROSS JOIN vv CROSS JOIN tot),
      |tw AS (SELECT doc_id, lang, word,
      |              CAST(COUNT(*) AS BIGINT) AS k
      |       FROM tk WHERE doc_id % 2 = 1 GROUP BY 1, 2, 3),
      |sc AS (
      |  SELECT tw.doc_id, tw.lang, cls.clang,
      |         cls.prior + SUM(CAST(tw.k AS DECIMAL(18,0)) *
      |           CAST(ROUND(LN(
      |             CAST(COALESCE(wc.cnt, 0) + 1 AS DOUBLE) /
      |             CAST(cls.n_tok + cls.v AS DOUBLE)), 6)
      |             AS DECIMAL(18,6))) AS score
      |  FROM tw CROSS JOIN cls
      |  LEFT JOIN wc ON wc.clang = cls.clang AND wc.word = tw.word
      |  GROUP BY tw.doc_id, tw.lang, cls.clang, cls.prior),
      |pred AS (
      |  SELECT doc_id, lang, clang AS predicted,
      |         CAST(score AS DOUBLE) AS score,
      |         lang = clang AS correct
      |  FROM (SELECT *, ROW_NUMBER() OVER (
      |          PARTITION BY doc_id
      |          ORDER BY score DESC, clang) AS rn
      |        FROM sc)
      |  WHERE rn = 1)""".stripMargin

  /** The frozen NB model for the streaming serve twin
    * ([[graft.streaming.DocStreams.nbClassify]]), in exact 6-dp micro-nat
    * integers: per-language (prior, unseen-word default) micros and
    * per-(language, word) log-likelihood micros. The log terms are the
    * batch scorer's own Spark expressions (round-6 then DECIMAL), so
    * stream scores are bit-identical by construction.
    *
    * The driver-side likelihood map is VOCABULARY-CAPPED: only the top
    * `maxTermsPerClass` terms per class (by training count, word asc on
    * ties) are frozen, so the collected map is provably bounded by
    * k × |classes| regardless of corpus vocabulary — at open-web scale
    * the vocabulary is 10⁸⁺ terms and an uncapped freeze would OOM the
    * driver (the k-bounded discipline of `VectorStreams.freeze`).
    * Evicted terms fall to the class's unseen-word default `dm` =
    * log(1/(n_tok+v)) — the model's own OOV floor, which every seen
    * term's likelihood strictly exceeds, so eviction only DAMPENS a
    * rare term's vote, never inverts it. Scoring stays bit-identical to
    * batch for any document whose words survive the cap in every class
    * (the spec pins this); the default cap is far above any test-corpus
    * vocabulary, so the shipped twins are exactly the batch model. */
  private[graft] def nbModelMicros(s: SparkSession, d: String,
      maxTermsPerClass: Int = 1000000)
      : (Map[String, (Long, Long)], Map[(String, String), Long]) = {
    val (langStatsDf, likDf) = nbModelMicroFrames(s, d, maxTermsPerClass)
    nbModelCollect(langStatsDf, likDf)
  }

  /** Driver-side freeze of already-derived model FRAMES — shared by
    * [[nbModelMicros]] and the serving dispatcher
    * ([[graft.streaming.DocStreams.nbClassifier]]), whose under-cap
    * branch collects from its checkpointed frames instead of re-running
    * the training pipeline. */
  private[graft] def nbModelCollect(langStatsDf: DataFrame, likDf: DataFrame)
      : (Map[String, (Long, Long)], Map[(String, String), Long]) = {
    val langStats = langStatsDf
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val lik = likDf
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    (langStats, lik)
  }

  /** The same model artifact as DATAFRAMES — `(clang, pm, dm)` and
    * `(clang, word, lm)` in the identical exact micro units (the two
    * faces share this one definition, so they cannot drift). This is the
    * scale path past [[nbModelMicros]]'s driver-side Map: a
    * many-language corpus multiplies classes until k × |classes| no
    * longer fits one JVM heap, while these frames feed
    * [[graft.streaming.DocStreams.nbClassifyJoin]] as a JOIN build side
    * — Catalyst broadcasts them while small and degrades to a shuffled
    * join when not, with no driver ceiling either way. */
  private[graft] def nbModelMicroFrames(s: SparkSession, d: String,
      maxTermsPerClass: Int = 1000000): (DataFrame, DataFrame) = {
    // Materialize the two bounded training artifacts ONCE (round 13):
    // without this, the langStats consumer (checkpointed at serve
    // dispatch / in nbClassifyJoin) and the lik consumer each re-ran the
    // full train tokenize+aggregate in separate jobs — AQE exchange
    // reuse only deduplicates within one execution, never across jobs.
    // wc is vocab × |classes|-bounded and cls is |classes|-bounded (the
    // same executor-side-bounded argument as the lik join build side —
    // nothing here is corpus-sized or driver-collected).
    val wc = Graft.cut(nbWordCounts(s, d))
    val cls = Graft.cut(nbCls(s, d, wc))
    val langStats = cls.select(col("clang"),
      (col("prior") * 1000000).cast("long").as("pm"),
      (round(log(lit(1.0) /
        (col("n_tok") + col("v")).cast("double")), 6)
        .cast("decimal(18,6)") * 1000000).cast("long").as("dm"))
    // the cap window only rides the plan when it can BIND: with
    // maxTermsPerClass = Int.MaxValue (the join twin's uncapped model) a
    // rnk <= MaxValue filter keeps every row but still forces a full
    // per-class sort of the vocabulary — exactly the 10^8-term scale
    // path the uncapped form exists for
    val wCap = org.apache.spark.sql.expressions.Window
      .partitionBy("clang").orderBy(col("cnt").desc, col("word").asc)
    val capped =
      if (maxTermsPerClass == Int.MaxValue) wc
      else wc.withColumn("rnk", row_number().over(wCap))
        .filter(col("rnk") <= maxTermsPerClass)
    val lik = capped
      .join(cls.select("clang", "n_tok", "v"), "clang")
      .select(col("clang"), col("word"),
        (round(log((col("cnt") + 1).cast("double") /
          (col("n_tok") + col("v")).cast("double")), 6)
          .cast("decimal(18,6)") * 1000000).cast("long").as("lm"))
    (langStats, lik)
  }

  /** [[graft.streaming.DocStreams.nbClassify]] re-expressed as JOINS
    * over the model frames ([[nbModelMicroFrames]]) — identical answers
    * (the parity spec pins bit-equality against the Map twin; oracle
    * `t107` pins it against an independent DuckDB derivation), no
    * frozen driver-side Map. The Map twin's ceiling is real: its frozen
    * likelihood map is capped at k terms/class, but a many-language
    * corpus multiplies CLASSES until k × |classes| no longer fits one
    * JVM heap. Here the likelihood table is a join build side —
    * Catalyst broadcasts it while small and degrades to a shuffled join
    * when not (only the |langs|-bounded prior/default frame is forced
    * broadcast).
    *
    * Scores per DISTINCT (doc_id, text) and joins the verdict back to
    * every input row: the Map twin emits one prediction per arriving
    * ROW (a stream may redeliver), so a doc_id-keyed groupBy would
    * collapse duplicates — and merge the token streams of two different
    * texts sharing an id. The scoring key is xxhash64(doc_id, text) so
    * the text itself never rides a shuffle key (the group rows are
    * per-token); a same-batch 64-bit collision is the only way two
    * documents could merge. Zero-token docs score on priors alone.
    * Batch-side only (the per-doc window needs a complete frame) — a
    * serve twin runs it inside foreachBatch, where every micro-batch is
    * a batch frame. */
  def nbClassifyJoin(docs: DataFrame, langStats: DataFrame,
      wordLik: DataFrame): DataFrame = {
    // Materialize the |langs|-bounded prior/default frame ONCE: its
    // lineage is the full training pipeline, the plan below uses it
    // twice (dm side and pm side), and the empty-model guard must read
    // it too — localCheckpoint turns all three into reads of a handful
    // of materialized rows (callers that serve per micro-batch
    // checkpoint their model frames at dispatch, DocStreams.nbClassifier,
    // so this is then a truncation of already-materialized lineage).
    val langs = Graft.cut(langStats.select("clang", "pm", "dm"))
    // mirror the Map twin's empty-model contract (DocStreams.nbClassify
    // requires langStats.nonEmpty): with zero model rows the verdict
    // join back to `based` drops EVERY input row, so a serve twin on a
    // dry training corpus would silently emit nothing instead of
    // erroring.
    require(langs.head(1).nonEmpty,
      "nbClassifyJoin needs a trained model: langStats is empty " +
        "(was the training corpus dry?)")
    val based = docs.select(col("doc_id").cast("long").as("doc_id"),
      coalesce(col("text"), lit("")).as("text"))
      .withColumn("tkey", xxhash64(col("doc_id"), col("text")))
    val uniq = based.select("tkey", "text").distinct()
    // t100's token Column: the Map twin, this join twin and batch t100
    // tokenize through the same expression, so they agree in any JVM
    // locale (Spark's lower() of non-ASCII text follows the default one)
    val toks = uniq.select(col("tkey"),
      explode(tokens(lower(col("text")))).as("word"))
    // per-(doc, lang) token contribution: known words take lm, OOV
    // takes the class default dm — LEFT join on (clang, word), then
    // integer micro sums (partition- and order-independent, the same
    // exactness argument as the Map twin)
    // Sparse-scoring decomposition (round 13): tok_sum(doc, lang)
    //   = Σ_known k·lm + dm·(n_tok − n_known)
    // — exact integer micros, so bit-identical to the dense
    // coalesce(lm, dm)-per-occurrence form (the parity spec and the t107
    // oracle both pin it), but the likelihood join now sees the batch's
    // DISTINCT (doc, word) counts instead of occurrences × |langs|: the
    // old shape crossJoined every token occurrence with every class
    // BEFORE the join, so its partial aggregation collapsed nothing and
    // the join exchange carried the blown-up stream (profiled 4.45 MB —
    // occurrences × |langs| — at sf0.1; at open-web scale it is
    // |tokens| × |classes| rows into the one corpus-sized exchange).
    val twc = toks.groupBy("tkey", "word").agg(count(lit(1)).as("k"))
    // ntok hangs off the SAME uniq exchange as twc, not off twc: the two
    // consumers prune twc to different column sets, which defeats AQE
    // exchange reuse and re-ran the (tkey, word) aggregate twice
    // (profiled as two identical 0.26 s stages).
    val ntok = toks.groupBy("tkey").agg(count(lit(1)).as("n_tok_all"))
    val known = twc.join(wordLik, Seq("word"))
      .groupBy("tkey", "clang")
      .agg(sum(col("k") * col("lm")).as("known_sum"),
        sum(col("k")).as("n_known"))
    val scores = uniq.select("tkey")
      .join(ntok, Seq("tkey"), "left")
      .crossJoin(broadcast(langs))
      .join(known, Seq("tkey", "clang"), "left")
      .select(col("tkey"), col("clang"),
        (col("pm") + coalesce(col("known_sum"), lit(0L)) +
          col("dm") * (coalesce(col("n_tok_all"), lit(0L)) -
            coalesce(col("n_known"), lit(0L)))).as("score"),
        coalesce(col("n_tok_all"), lit(0L)).as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("tkey").orderBy(col("score").desc, col("clang").asc)
    val best = scores.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("tkey"), col("n_tokens"),
        col("clang").as("lang"), col("score").as("score_micro"))
    based.join(best, Seq("tkey"))
      .select(col("doc_id"), col("n_tokens"), col("lang"),
        col("score_micro"))
  }

  /** Corpus-level greedy BPE: the 3 merge tables (pr = 2-symbol pair,
    * cnt = occurrence-weighted count) over the lowercase-alpha word stream,
    * each round rewriting the stream with the winner fused to a fresh
    * single-char marker ('0','1','2' — impossible inside [a-z]+ words).
    * Shared by t93 (the merge table itself) and t94 (tokenizer application).
    */
  private[graft] def bpeMergeTables(
      s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    // The classic BPE-trainer shape (Sennrich's own implementation):
    // collapse the corpus ONCE to the word-frequency dictionary, then
    // every merge round counts pairs over the VOCABULARY weighted by
    // word frequency — identical counts (pairs are occurrence-weighted
    // either way, so the oracle over the raw stream agrees bit-for-bit)
    // but each round's explode+rewrite is vocab-bounded, not
    // corpus-bounded. The one corpus-sized pass is the initial groupBy,
    // whose exchange partial-aggregates to ≤|vocab| rows per partition;
    // at 100 TB rounds cost dictionary work only. (The persist
    // alternative on the raw occurrence stream was MEASURED SLOWER at
    // sf0.1 — 2.60 -> 3.26 s — row-materializing an exploded corpus
    // stream costs more than codegen recompute; collapsing to the
    // dictionary is the right fix, not caching.)
    // Each frame here is VOCABULARY-bounded; materializing them turns
    // the 3-round chain into Sennrich's sequential trainer — without the
    // checkpoints, round k's lineage re-executes every earlier round AND
    // the corpus tokenize (per-consumer column pruning defeats exchange
    // reuse across the chain, the q73/t102 mechanics).
    val wf = t(s, d, "documents")
      .select(explode(alphaWords(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .transform(Graft.cut(_))
    def topPair(ws: DataFrame): DataFrame = ws
      .filter(length(col("w")) >= 2)
      .select(col("wc"), explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        p => col("w").substr(p, lit(2)))).as("pr"))
      .groupBy("pr").agg(sum(col("wc")).as("cnt"))
      .orderBy(col("cnt").desc, col("pr").asc)
      .limit(1)
    def rewrite(ws: DataFrame, top: DataFrame, marker: String) = ws
      .crossJoin(broadcast(top.select(col("pr").as("mp"))))
      .select(replace(col("w"), col("mp"), lit(marker)).as("w"),
        col("wc"))
    val t1 = Graft.cut(topPair(wf))
    val w1 = Graft.cut(rewrite(wf, t1, "0"))
    val t2 = Graft.cut(topPair(w1))
    val w2 = Graft.cut(rewrite(w1, t2, "1"))
    val t3 = Graft.cut(topPair(w2))
    (t1, t2, t3)
  }

  /** Materialize the three learned merge pairs in rank order, ENFORCING
    * the documented t93 contract: a corpus that runs dry before 3 merges
    * (no length-≥2 alpha word left to pair) makes `topPair` return zero
    * rows, and the lazy `rewrite` crossJoin would then silently empty
    * the word stream. Engine-side (t93/t94 as DataFrames) the declared
    * dry-corpus behavior is EMPTY OUTPUT, not an error — same policy as
    * d87's empty graph. Any caller that freezes the merge strings as a
    * model artifact (streaming bpeApply, export) must come through here
    * so the dry corpus fails loudly at training time instead of
    * producing a tokenizer with missing rules. */
  private[graft] def collectMerges(s: SparkSession, d: String): Seq[String] = {
    val (t1, t2, t3) = bpeMergeTables(s, d)
    Seq(t1, t2, t3).zipWithIndex.map { case (tp, i) =>
      val rows = tp.collect()
      require(rows.nonEmpty,
        s"BPE training contract violated: corpus ran dry before merge " +
          s"${i + 1} of 3 (no pairable alpha word remains)")
      rows.head.getString(0)
    }
  }

  /** t82/t102's unigram model artifact: (term, lq) with lq = the corpus
    * unigram log-probability in integer micro-nats — vocabulary-bounded,
    * broadcast at every consumer, and the frame the streaming bucketer
    * freezes. */
  private[graft] def unigramLq(s: SparkSession, d: String): DataFrame = {
    val terms = Graft.tableParallel(s, d, "documents")
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
    lqFromCounts(terms.groupBy("term").agg(count(lit(1)).as("cnt")))
  }

  /** (term, lq) micro-nat log-probs from a (term, cnt) vocabulary frame —
    * the ONE formula [[unigramLq]] (t82 + the streaming freeze) and
    * [[perplexityParts]] (t102) share, so batch and stream surprisal
    * cannot silently drift (they previously inlined two copies). */
  private def lqFromCounts(vocab: DataFrame): DataFrame = {
    val total = vocab.agg(sum(col("cnt")).as("total"))
    vocab.crossJoin(broadcast(total))
      .select(col("term"),
        round(log(col("cnt").cast("double") / col("total")) * 1000000)
          .cast("long").as("lq"))
  }

  /** t102's two frames: `sl` = (doc_id, lang, surprisal) for every doc
    * with ≥ 1 token, and `edges` = (lang, e1, e2) — the per-language
    * tercile cut values from the grid-bounded value histogram (see the
    * t102 QueryDef doc for the scale argument). Shared with the streaming
    * twin's freeze step so stream and batch cannot drift. */
  private[graft] def perplexityParts(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val docs = Graft.tableParallel(s, d, "documents")
    // ONE corpus tokenize (round 13): the unigram model's vocabulary
    // counts AND the per-doc scoring both derive from one MATERIALIZED
    // per-(doc, lang, term) count frame. Materialization (not just a
    // shared subtree) is load-bearing: column pruning specializes each
    // consumer's copy of the subtree below its exchange (different
    // pruned column sets → no AQE exchange reuse), and the profiled plan
    // ran the tokenize 3× and the count aggregate 4×. The checkpoint
    // costs one exchange-equivalent materialization of Σk-collapsed
    // counts; at 100 TB that replaces a full second (and third) corpus
    // tokenize. Carrying lang as a grouping key (functionally dependent
    // on doc_id) also removes the separate docs join for sl. Σ per-doc k
    // == stream counts and Σ k·lq == per-occurrence Σ lq exactly
    // (integers), so surprisal is bit-identical.
    val tf = docs.select(col("doc_id"), col("lang"),
      explode(tokens(lower(col("text")))).as("term"))
      .groupBy("doc_id", "lang", "term").agg(count(lit(1)).as("k"))
      // CORPUS-scale frame (one row per distinct (doc, term)), so the
      // lineage cut goes through Graft.cut: reliable storage when
      // GRAFT_CHECKPOINT_DIR is set (an executor loss would make
      // localCheckpoint blocks unrecoverable and fail the job at 100 TB),
      // localCheckpoint in single-JVM bench/tests.
      .transform(Graft.cut(_))
    // Σ per-doc k == the occurrence counts exactly (integers), so this
    // vocabulary — and lqFromCounts over it — is bit-identical to
    // unigramLq's occurrence-stream derivation.
    val lq = lqFromCounts(
      tf.groupBy("term").agg(sum(col("k")).as("cnt")))
    val sl = tf.join(broadcast(lq), "term")
      .groupBy("doc_id", "lang")
      .agg(surprisalNats(sum(col("k") * col("lq")), sum(col("k")))
        .as("surprisal"))
    val hist = sl.groupBy("lang", "surprisal")
      .agg(count(lit(1)).as("c"))
    val wcum = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("surprisal")
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = hist.withColumn("cum", sum(col("c")).over(wcum))
    val nl = sl.groupBy("lang").agg(count(lit(1)).as("n"))
    val edges = cum.join(broadcast(nl), "lang")
      .groupBy("lang")
      .agg(min(when(col("cum") * 3 >= col("n"), col("surprisal")))
        .as("e1"),
        min(when(col("cum") * 3 >= col("n") * 2, col("surprisal")))
          .as("e2"))
    (sl, edges)
  }

  /** t106's α=0.5 temperature-mixture kernel over a prepared
    * (doc_id, source, ntok) frame — factored so the overflow-edge
    * property spec can feed token counts no real corpus text could.
    * Keep test: hash_ppm(doc) · tok_src · Σ√tok < (Σtok/2) · √tok_src
    * · 1e6, compared in DECIMAL(38,0): at real 100 TB token counts
    * (tok ~2.5e13, Σ√tok ~1e7) the left side reaches ~1e26 — int64
    * silently WRAPS there and the keep set becomes hash noise, while
    * DECIMAL(38,0) holds products to ~1e38, past any corpus that fits
    * int64 source totals. Decimal compares stay whole-stage-codegen'd,
    * so the widening costs a few cycles per row on the one
    * broadcast-back filter, not a new plan shape. */
  private[graft] def temperatureKeep(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    val totals = docs.groupBy("source").agg(sum("ntok").as("tok_n"))
      .withColumn("sq",
        floor(sqrt(col("tok_n").cast("double"))).cast("long"))
      .withColumn("sum_sq", sum(col("sq")).over(w))
      .withColumn("tot_all", sum(col("tok_n")).over(w))
      .withColumn("budget", expr("tot_all div 2"))
    val dec = DecimalType(38, 0)
    docs.join(broadcast(totals), "source")
      .filter((Dedup.hash60(col("doc_id")) % 1000000L).cast(dec)
        * col("tok_n").cast(dec) * col("sum_sq").cast(dec)
        < col("budget").cast(dec) * col("sq").cast(dec)
          * lit(1000000L).cast(dec))
      .select(col("doc_id"), col("source"), col("ntok"))
  }

  /** Oracle CTE chain mirroring [[bpeMergeTables]] (declared before `defs`:
    * object init is textual order). */
  private val bpeCtes =
    """words AS (
      |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      |  FROM documents),
      |b1 AS (SELECT w, unnest(range(1, length(w))) AS p FROM words),
      |t1 AS (SELECT substr(w, p, 2) AS pr, COUNT(*) AS cnt
      |       FROM b1 GROUP BY 1 ORDER BY cnt DESC, pr LIMIT 1),
      |w1 AS (SELECT replace(w, (SELECT pr FROM t1), '0') AS w
      |       FROM words),
      |b2 AS (SELECT w, unnest(range(1, length(w))) AS p FROM w1),
      |t2 AS (SELECT substr(w, p, 2) AS pr, COUNT(*) AS cnt
      |       FROM b2 GROUP BY 1 ORDER BY cnt DESC, pr LIMIT 1),
      |w2 AS (SELECT replace(w, (SELECT pr FROM t2), '1') AS w
      |       FROM w1),
      |b3 AS (SELECT w, unnest(range(1, length(w))) AS p FROM w2),
      |t3 AS (SELECT substr(w, p, 2) AS pr, COUNT(*) AS cnt
      |       FROM b3 GROUP BY 1 ORDER BY cnt DESC, pr LIMIT 1)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "t70_token_stats",
      (s, d) => {
        val toks = tokens(col("text"))
        t(s, d, "documents").select(
          col("doc_id"),
          length(col("text")).as("n_chars_actual"),
          size(toks).as("n_tokens"),
          size(array_distinct(toks)).as("n_distinct_tokens"),
          aggregate(transform(toks, tk => length(tk)), lit(0), (acc, x) => acc + x)
            .as("sum_token_len"))
      },
      Some("""SELECT doc_id, CAST(LENGTH(text) AS INT) AS n_chars_actual,
                     CAST(len(toks) AS INT) AS n_tokens,
                     CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
                     CAST(list_sum(list_transform(toks, t -> len(t))) AS INT) AS sum_token_len
              FROM (SELECT doc_id, text,
                      list_filter(regexp_split_to_array(trim(text), '\s+'),
                                  x -> x != '') AS toks
                    FROM documents)""")),

    QueryDef(
      "t83_mixture_report", // the data-card / mixture table every corpus
                            // release ships: per (source, lang) document and
                            // token counts plus corpus share. Scale shape:
                            // token counting is map-side expression work,
                            // the groupBy moves one partial row per
                            // (source, lang) per partition, and the 1-row
                            // total broadcasts back — the whole report is
                            // one pass over the text regardless of corpus
                            // size. Counts are exact integers; shares are
                            // integer-ratio doubles rounded to 6, so the
                            // report is engine-exact.
      (s, d) => {
        val docs = Graft.tableParallel(s, d, "documents")
        val toks = tokens(col("text"))
        val grp = docs.select(col("source"), col("lang"),
            size(toks).cast("long").as("ntok"),
            length(col("text")).cast("long").as("nch"))
          .groupBy("source", "lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("ntok")).as("n_tokens"),
            sum(col("nch")).as("n_chars"))
        // corpus totals via a global window over the GROUPED frame — its
        // row count is the (source × lang) dimension cardinality, so the
        // single-partition window is bounded at any corpus size, and the
        // text is scanned exactly once (a broadcast-totals crossJoin was
        // measured re-running the whole scan for the 1-row aggregate)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(lit(1))
        grp.select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
          col("n_chars"),
          round(col("n_docs").cast("double") /
            sum(col("n_docs")).over(w), 6).as("doc_share"),
          round(col("n_tokens").cast("double") /
            sum(col("n_tokens")).over(w), 6).as("token_share"))
      },
      Some("""WITH grp AS (
             |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |         CAST(SUM(len(list_filter(
             |             regexp_split_to_array(trim(text), '\s+'),
             |             x -> x != ''))) AS BIGINT) AS n_tokens,
             |         CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars
             |  FROM documents GROUP BY source, lang),
             |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tot_docs,
             |               CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens
             |        FROM grp)
             |SELECT source, lang, n_docs, n_tokens, n_chars,
             |       ROUND(CAST(n_docs AS DOUBLE) / tot_docs, 6) AS doc_share,
             |       ROUND(CAST(n_tokens AS DOUBLE) / tot_tokens, 6) AS token_share
             |FROM grp CROSS JOIN tot""".stripMargin)),

    QueryDef(
      "t71_quality_score", // the quality gate EVERY corpus document passes
                           // through — all six inputs (chars, punct,
                           // digits, tokens, stopword hits, distinct
                           // tokens) come from ONE codegen scan of the
                           // text (functions.TextMetrics) instead of two
                           // regexp_replace traversals + tokenize +
                           // array_distinct (four interpreted passes,
                           // measured 4.5× DuckDB at sf0.1). Two
                           // projections on purpose: the struct
                           // materializes once, then six field reads —
                           // CollapseProject would otherwise inline the
                           // kernel into every consumer expression.
      (s, d) => {
        val m = GraftFunctions.text_metrics(col("text"))
        val nTok = col("m.n_tokens").cast("double")
        val nChars = col("m.n_chars").cast("double")
        val punct = col("m.n_punct").cast("double")
        val stop = col("m.n_stop").cast("double")
        val digits = col("m.n_digits").cast("double")
        val distinctRatio = ratio(col("m.n_distinct").cast("double"), nTok)
        t(s, d, "documents")
          .select(col("doc_id"), m.as("m"))
          .select(
            col("doc_id"),
            round(ratio(punct, nChars), 6).as("punct_ratio"),
            round(ratio(stop, nTok), 6).as("stopword_ratio"),
            round(ratio(digits, nChars), 6).as("digit_ratio"),
            round(distinctRatio, 6).as("distinct_ratio"),
            round(
              greatest(lit(0.0),
                lit(1.0) - ratio(punct, nChars) * 5 - ratio(digits, nChars) * 2)
                * distinctRatio,
              6).as("quality"))
      },
      Some("""SELECT doc_id,
                     ROUND(punct / n_chars, 6) AS punct_ratio,
                     ROUND(stop / n_tok, 6) AS stopword_ratio,
                     ROUND(digits / n_chars, 6) AS digit_ratio,
                     ROUND(dr, 6) AS distinct_ratio,
                     ROUND(GREATEST(0.0, 1.0 - punct / n_chars * 5 - digits / n_chars * 2) * dr,
                           6) AS quality
              FROM (SELECT doc_id,
                      CAST(LENGTH(text) AS DOUBLE) AS n_chars,
                      CAST(len(toks) AS DOUBLE) AS n_tok,
                      CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) AS punct,
                      CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS digits,
                      CAST(len(list_filter(toks, t -> t IN ('the','and','of','to','a','in','is'))) AS DOUBLE) AS stop,
                      CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS dr
                    FROM (SELECT doc_id, text,
                            list_filter(regexp_split_to_array(trim(text), '\s+'),
                                        x -> x != '') AS toks
                          FROM documents))""")),

    QueryDef(
      "t72_lang_id", // n-gram/marker-word heuristic language id
      (s, d) => {
        val toks = tokens(col("text"))
        val he = hits(toks, Seq("the", "and", "of", "to"))
        val hs = hits(toks, Seq("el", "la", "de", "los"))
        val hf = hits(toks, Seq("le", "et", "les", "des"))
        val hd = hits(toks, Seq("der", "die", "und", "das"))
        t(s, d, "documents")
          .select(col("doc_id"), col("lang").as("labeled_lang"),
            he.as("he"), hs.as("hs"), hf.as("hf"), hd.as("hd"))
          .select(
            col("doc_id"), col("labeled_lang"),
            when(col("he") >= col("hs") && col("he") >= col("hf") &&
              col("he") >= col("hd") && col("he") > 0, "en")
              .when(col("hs") >= col("hf") && col("hs") >= col("hd") &&
                col("hs") > 0, "es")
              .when(col("hf") >= col("hd") && col("hf") > 0, "fr")
              .when(col("hd") > 0, "de")
              .otherwise("und").as("pred_lang"))
      },
      Some("""SELECT doc_id, labeled_lang,
                     CASE WHEN he >= hs AND he >= hf AND he >= hd AND he > 0 THEN 'en'
                          WHEN hs >= hf AND hs >= hd AND hs > 0 THEN 'es'
                          WHEN hf >= hd AND hf > 0 THEN 'fr'
                          WHEN hd > 0 THEN 'de'
                          ELSE 'und' END AS pred_lang
              FROM (SELECT doc_id, lang AS labeled_lang,
                      len(list_filter(toks, t -> t IN ('the','and','of','to'))) AS he,
                      len(list_filter(toks, t -> t IN ('el','la','de','los'))) AS hs,
                      len(list_filter(toks, t -> t IN ('le','et','les','des'))) AS hf,
                      len(list_filter(toks, t -> t IN ('der','die','und','das'))) AS hd
                    FROM (SELECT doc_id, lang, text,
                            list_filter(regexp_split_to_array(trim(text), '\s+'),
                                        x -> x != '') AS toks
                          FROM documents))""")),

    QueryDef(
      "t73_fingerprint", // rolling polynomial hash, custom codegen Expression
      (s, d) => t(s, d, "documents").select(
        col("doc_id"),
        GraftFunctions.poly_fingerprint(col("text")).as("fp")),
      // Same fold in DuckDB: h = (h*31 + byte) mod (largest prime < 2^53).
      // Text is ASCII (verified), so ord(char) == utf8 byte.
      Some("""SELECT doc_id,
                     list_reduce(
                       list_prepend(0::BIGINT,
                         list_transform(string_split(text, ''), c -> ord(c)::BIGINT)),
                       (a, b) -> (a * 31 + b) % 9007199254740881) AS fp
              FROM documents""")),

    QueryDef(
      "t74_bpe_tokens", // sub-word-ish regex tokenization (runs-of-class
                        // pieces; true BPE needs a learned merge table)
      (s, d) => {
        val pat = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
        val pieces = regexp_extract_all(col("text"), lit(pat), lit(0))
        t(s, d, "documents").select(
          col("doc_id"),
          size(pieces).as("n_pieces"),
          size(array_distinct(pieces)).as("n_distinct_pieces"))
      },
      Some("""SELECT doc_id,
                     CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS n_pieces,
                     CAST(len(list_distinct(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS INT) AS n_distinct_pieces
              FROM documents""")),

    QueryDef(
      "p99_training_pipeline", // capstone composition: the operators chained
                               // the way a real corpus-prep job runs them —
                               // quality gate -> exact dedup -> per-language
                               // token accounting
      (s, d) => {
        val toks = tokens(col("text"))
        val distinctRatio = size(array_distinct(toks)).cast("double") /
          size(toks).cast("double")
        val scored = graft.Graft.tableParallel(s, d, "documents")
          .withColumn("n_tok", size(toks))
          .withColumn("dr", distinctRatio)
          .filter(col("dr") > 0.6 && col("n_tok") >= 20)
        val keep = scored
          .withColumn("keep",
            min(col("doc_id")).over(
              org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))))
          .filter(col("doc_id") === col("keep"))
        keep.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok").cast("long")).as("total_tokens"),
            round(avg(col("dr")), 6).as("avg_distinct_ratio"))
      },
      Some("""WITH scored AS (
                SELECT doc_id, lang, text,
                       len(toks) AS n_tok,
                       CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dr
                FROM (SELECT doc_id, lang, text,
                        list_filter(regexp_split_to_array(trim(text), '\s+'),
                                    x -> x != '') AS toks
                      FROM documents)
                WHERE CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) > 0.6
                  AND len(toks) >= 20),
              keep AS (
                SELECT * FROM (
                  SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep
                  FROM scored)
                WHERE doc_id = keep)
              SELECT lang, COUNT(*) AS n_docs,
                     CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
                     ROUND(AVG(dr), 6) AS avg_distinct_ratio
              FROM keep GROUP BY lang""")),

    QueryDef(
      "p100_corpus_prep", // FULL-STACK capstone — the four stage families
                          // this round completed, chained the way a corpus
                          // build actually runs them: quality gate (t71's
                          // ratios) → exact dedup (d80's min-id rule) →
                          // benchmark decontamination (d88's gram
                          // containment, benchmark derived in-plan and
                          // BROADCAST — the corpus is never shuffled for
                          // it) → token-budget mixture sampling (t86's
                          // integer hash-threshold rule over the CLEANED
                          // totals) → the per (source, lang) data card.
                          // Scale shape: one corpus scan feeds the gate/
                          // dedup/decontam chain map-side except the
                          // single md5 dedup exchange; the budget pass
                          // re-aggregates only the surviving docs; every
                          // verdict is deterministic, so the same corpus
                          // ships from any engine, any partitioning.
      (s, d) => {
        val toks = tokens(col("text"))
        val docs = Graft.tableParallel(s, d, "documents")
          .select(col("doc_id"), col("source"), col("lang"), col("text"),
            size(toks).cast("long").as("n_tok"),
            ratio(size(array_distinct(toks)).cast("double"),
              size(toks).cast("double")).as("dr"))
        val gated = docs.filter(col("dr") > 0.6 && col("n_tok") >= 20)
        val deduped = gated
          .withColumn("keepid", min(col("doc_id")).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(md5(col("text")))))
          .filter(col("doc_id") === col("keepid"))
        val benchArr = Graft.tableParallel(s, d, "documents")
          .filter(col("doc_id") % 100 === 0)
          .select(explode(Dedup.shingles(col("text"), 5)).as("g"))
          .select(Dedup.hash60(col("g")).as("h"))
          .agg(collect_set(col("h")).as("bench")) // 1 row, broadcast
        // gram hashes land as a materialized column BELOW the crossJoin:
        // computed beside `bench` in one select, CollapseProject inlines
        // the whole shingle+md5 chain into the join condition and
        // re-evaluates it THREE times per row (audited); across a join
        // boundary the condition can only reference the attribute
        val hashed = deduped.select(col("doc_id"), col("source"),
          col("lang"), col("n_tok"),
          transform(Dedup.shingles(col("text"), 5),
            g => Dedup.hash60(g)).as("gh"))
        val clean = hashed.crossJoin(broadcast(benchArr))
          // integer form of frac <= 0.2 (exactly equivalent; one intersect)
          .filter(size(col("gh")) === 0 ||
            size(array_intersect(col("gh"), col("bench"))) * 5 <= size(col("gh")))
          .select(col("doc_id"), col("source"), col("lang"), col("n_tok"))
          // pin ONE materialization of the gate→dedup→decontam chain: the
          // budget totals and the sampling join both read this exchange
          // (otherwise the whole chain re-executes per consumer);
          // source-hash satisfies the totals groupBy, the join, AND the
          // final (source, lang) card, so no further shuffle runs
          .repartition(col("source"))
        val totals = clean.groupBy("source")
          .agg(sum("n_tok").as("tok_n"),
            // zero-valued anchors, PROVABLY zero for any data (min - min
            // of the same aggregate, coalesce for the all-NULL edge; the
            // earlier least(min(..), 0) form would have shifted the
            // sampling threshold had doc_id ever been negative). The
            // optimizer still cannot fold them, so this branch keeps
            // reading doc_id and lang and column pruning projects its
            // copy of `clean` IDENTICALLY to the sampling branch's.
            // Asymmetric pruning below the pinned exchange would fork the
            // subtrees and kill the runtime stage reuse (a dropped-column
            // anchor gets eliminated; these flow into the threshold, so
            // they stay).
            coalesce(min(col("doc_id")) - min(col("doc_id")), lit(0L))
              .as("z1"),
            coalesce((min(length(col("lang"))) - min(length(col("lang"))))
              .cast("long"), lit(0L)).as("z2"))
          .withColumn("min_tok", min(col("tok_n")).over(
            org.apache.spark.sql.expressions.Window.partitionBy()))
        clean.join(broadcast(totals), "source")
          .filter((Dedup.hash60(col("doc_id")) % 1000000L) * col("tok_n")
            < col("min_tok") * 1000000L + col("z1") + col("z2"))
          .groupBy("source", "lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("total_tokens"))
      },
      Some("""WITH toked AS (
             |  SELECT doc_id, source, lang, text,
             |         list_filter(regexp_split_to_array(trim(text), '\s+'),
             |                     x -> x != '') AS toks
             |  FROM documents),
             |docs AS (
             |  SELECT doc_id, source, lang, text, toks,
             |         CAST(len(toks) AS BIGINT) AS n_tok,
             |         CAST(len(list_distinct(toks)) AS DOUBLE)
             |           / len(toks) AS dr
             |  FROM toked),
             |gated AS (SELECT * FROM docs WHERE dr > 0.6 AND n_tok >= 20),
             |dedup AS (
             |  SELECT * FROM (
             |    SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keepid
             |    FROM gated)
             |  WHERE doc_id = keepid),
             |bench AS (
             |  SELECT DISTINCT ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
             |  FROM (SELECT unnest(
             |          CASE WHEN len(toks) >= 5
             |               THEN list_distinct(list_transform(
             |                      range(1, len(toks) - 3),
             |                      i -> array_to_string(toks[i:i+4], ' ')))
             |               ELSE [] END) AS g
             |        FROM toked WHERE doc_id % 100 = 0)),
             |benchl AS (SELECT COALESCE(list(h), []) AS bh FROM bench),
             |clean AS (
             |  SELECT doc_id, source, lang, n_tok FROM (
             |    SELECT doc_id, source, lang, n_tok,
             |           CASE WHEN len(gh) = 0 THEN 0.0
             |                ELSE CAST(len(list_intersect(gh, bh)) AS DOUBLE)
             |                     / len(gh) END AS frac
             |    FROM (SELECT doc_id, source, lang, n_tok, bh,
             |            list_transform(
             |              CASE WHEN len(toks) >= 5
             |                   THEN list_distinct(list_transform(
             |                          range(1, len(toks) - 3),
             |                          i -> array_to_string(toks[i:i+4], ' ')))
             |                   ELSE [] END,
             |              g -> ('0x' || substr(md5(g), 1, 15))::BIGINT) AS gh
             |          FROM dedup CROSS JOIN benchl))
             |  WHERE frac <= 0.2),
             |totals AS (
             |  SELECT source, tok_n, MIN(tok_n) OVER () AS min_tok
             |  FROM (SELECT source, SUM(n_tok) AS tok_n FROM clean
             |        GROUP BY source))
             |SELECT c.source, c.lang,
             |       CAST(COUNT(*) AS BIGINT) AS n_docs,
             |       CAST(SUM(c.n_tok) AS BIGINT) AS total_tokens
             |FROM clean c JOIN totals t ON c.source = t.source
             |WHERE (('0x' || substr(md5(c.doc_id::VARCHAR), 1, 15))::BIGINT
             |        % 1000000) * t.tok_n < t.min_tok * 1000000
             |GROUP BY c.source, c.lang""".stripMargin)),

    QueryDef(
      "t75_json_extract", // typed extraction from the events.props JSON column
      (s, d) => t(s, d, "events")
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .filter(col("k") > 50),
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
              FROM events WHERE CAST(json_extract_string(props, '$.k') AS INT) > 50""")),

    QueryDef(
      "t76_normalize", // canonical text normalization — the first stage of
                       // every training-data pipeline: lowercase, strip
                       // non-alphanumerics, collapse whitespace. Map-side
                       // only; regex kept in the RE2-compatible subset so
                       // Spark (java.util.regex) and DuckDB (RE2) agree.
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          trim(regexp_replace(
            regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "),
            " +", " ")).as("norm_text"))
        .withColumn("norm_len", length(col("norm_text"))),
      Some("""SELECT doc_id, norm_text,
                     CAST(LENGTH(norm_text) AS INT) AS norm_len
              FROM (SELECT doc_id,
                      trim(regexp_replace(
                        regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                        ' +', ' ', 'g')) AS norm_text
                    FROM documents)""")),

    QueryDef(
      "t78_split_sample", // deterministic train/val/test assignment: the
                          // reproducible-sampling idiom for training data.
                          // hash60(doc_id) mod 100 buckets the corpus 80/10/10
                          // with no RNG — the same doc lands in the same
                          // split on any engine, any partitioning, any day;
                          // map-side only, so it composes with every other
                          // pipeline stage for free.
      (s, d) => {
        val bucket = Dedup.hash60(col("doc_id").cast("string")) % 100
        t(s, d, "documents")
          .select(col("doc_id"),
            when(bucket < 80, "train").when(bucket < 90, "val")
              .otherwise("test").as("split"))
      },
      Some("""SELECT doc_id,
                     CASE WHEN b < 80 THEN 'train'
                          WHEN b < 90 THEN 'val'
                          ELSE 'test' END AS split
              FROM (SELECT doc_id,
                      ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS b
                    FROM documents)""")),

    QueryDef(
      "t77_vocab", // corpus vocabulary: global term counts, top 100 — the
                   // tokenizer-training / frequency-filter building block.
                   // One shuffle on the term, map-side partial counts,
                   // TakeOrdered top-k (no global sort materialization).
      (s, d) => Graft.tableParallel(s, d, "documents")
        .select(explode(tokens(lower(col("text")))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term").asc)
        .limit(100),
      Some("""SELECT term, CAST(COUNT(*) AS BIGINT) AS n
              FROM (SELECT unnest(list_filter(
                      regexp_split_to_array(trim(lower(text)), '\s+'),
                      x -> x != '')) AS term
                    FROM documents)
              GROUP BY term
              ORDER BY n DESC, term ASC LIMIT 100""")),

    QueryDef(
      "t79_tfidf_topterms", // per-document top-3 terms by tf-idf — the
                            // keyword/topic-signal building block. idf is
                            // rounded to 6 decimals BEFORE the tf multiply,
                            // so both engines order by identical doubles
                            // (ln parity at 1e-6 is the q40-proven
                            // tolerance). Scale shape: one shuffle on
                            // (doc, term) with map-side combine, the
                            // |vocab|-sized df table broadcast back, per-doc
                            // window top-k — the corpus text is read once.
      (s, d) => {
        val docs = Graft.tableParallel(s, d, "documents")
        // ONE exchange for the term-level data: tokenize map-side, then
        // pin the partitioning to doc_id BEFORE the tf aggregate — both
        // the (doc_id, term) groupBy and the per-doc top-k window are
        // satisfied by HashPartitioning(doc_id), so neither adds a
        // shuffle. The previous shape shuffled term-level rows twice
        // (once on (doc_id, term) for tf, again on doc_id for the
        // window) — measured 8x the oracle.
        val terms = docs.select(col("doc_id"),
            explode(tokens(lower(col("text")))).as("term"))
          .repartition(col("doc_id"))
        val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val nDocs = docs.select(count(lit(1)).as("n_docs"))
        // idf is a function of df alone — compute (and round) it on the
        // |vocab|-sized side BEFORE the broadcast, not per scored row:
        // Spark's Round on doubles allocates a BigDecimal per evaluation
        // and ln() isn't free either (the t82 lesson)
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(nDocs))
          .select(col("term"),
            round(log((col("n_docs") + 1).cast("double") / (col("df") + 1)), 6)
              .as("idf"))
        // top-3 via per-doc array sort instead of a row_number window: the
        // groupBy collapses each doc to ONE row holding its scored terms
        // (bounded by doc vocabulary), sort_array orders them inside the
        // row, and posexplode re-emits exactly 3 — no partition-wide window
        // sort over the full term-level data. Struct field order gives the
        // tie-break for free: (-tfidf asc, term asc) = (tfidf desc, term
        // asc).
        val scored = tf.join(broadcast(dfreq), "term")
          .select(col("doc_id"), col("term"), col("tf"),
            round(col("tf") * col("idf"), 6).as("tfidf"))
        scored.groupBy("doc_id")
          .agg(slice(sort_array(collect_list(struct(
            (-col("tfidf")).as("neg"), col("term"), col("tf"),
            col("tfidf")))), 1, 3).as("top"))
          .select(col("doc_id"),
            posexplode(col("top")).as(Seq("pos", "t")))
          .select(col("doc_id"), col("t.term").as("term"),
            col("t.tf").as("tf"), col("t.tfidf").as("tfidf"),
            (col("pos") + 1).cast("integer").as("rnk"))
      },
      Some("""WITH terms AS (
             |  SELECT doc_id, unnest(list_filter(
             |           regexp_split_to_array(trim(lower(text)), '\s+'),
             |           x -> x != '')) AS term
             |  FROM documents),
             |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
             |       FROM terms GROUP BY doc_id, term),
             |dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
             |          FROM tf GROUP BY term),
             |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
             |SELECT doc_id, term, tf, tfidf, rnk FROM (
             |  SELECT tf.doc_id, tf.term, tf.tf,
             |         ROUND(tf.tf * ROUND(LN(CAST(n.n_docs + 1 AS DOUBLE)
             |                                / (dfreq.df + 1)), 6), 6) AS tfidf,
             |         ROW_NUMBER() OVER (
             |           PARTITION BY tf.doc_id
             |           ORDER BY ROUND(tf.tf * ROUND(LN(CAST(n.n_docs + 1 AS DOUBLE)
             |                                           / (dfreq.df + 1)), 6), 6) DESC,
             |                    tf.term ASC) AS rnk
             |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n)
             |WHERE rnk <= 3""".stripMargin)),

    QueryDef(
      "t81_pii_redaction", // PII scrubbing — the compliance stage of every
                           // corpus pipeline. The corpus has no PII, so the
                           // plan derives it: a synthetic email (first two
                           // tokens) and a phone suffix are appended, then
                           // redacted back out by RE2-safe patterns
                           // (identical semantics in java.util.regex and
                           // DuckDB's RE2). Map-side only; the oracle
                           // mirrors construction and redaction exactly.
      (s, d) => {
        val emailPat = "[A-Za-z0-9.]+@[A-Za-z0-9.]+\\.[a-z]{2,}"
        val phonePat = "555-[0-9]{4}"
        val toks = tokens(col("text"))
        // try_element_at, not element_at: ANSI mode (Spark 4 default) makes
        // element_at THROW past the array end, where DuckDB's toks[2] is
        // NULL — a 0/1-token doc must yield a NULL row in both engines,
        // not a crash (same convention as corpusNear's slice guard)
        val withPii = concat(
          try_element_at(toks, lit(1)), lit("@"),
          try_element_at(toks, lit(2)), lit(".com "),
          col("text"),
          lit(" call 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
        t(s, d, "documents")
          .select(col("doc_id"), withPii.as("pii_text"))
          .select(col("doc_id"),
            size(regexp_extract_all(col("pii_text"), lit(emailPat), lit(0)))
              .as("n_emails"),
            size(regexp_extract_all(col("pii_text"), lit(phonePat), lit(0)))
              .as("n_phones"),
            md5(regexp_replace(
              regexp_replace(col("pii_text"), emailPat, "<EMAIL>"),
              phonePat, "<PHONE>")).as("redacted_hash"))
      },
      Some("""SELECT doc_id,
             |       CAST(len(regexp_extract_all(pii_text,
             |              '[A-Za-z0-9.]+@[A-Za-z0-9.]+\.[a-z]{2,}')) AS INT)
             |         AS n_emails,
             |       CAST(len(regexp_extract_all(pii_text, '555-[0-9]{4}')) AS INT)
             |         AS n_phones,
             |       md5(regexp_replace(
             |             regexp_replace(pii_text,
             |               '[A-Za-z0-9.]+@[A-Za-z0-9.]+\.[a-z]{2,}', '<EMAIL>', 'g'),
             |             '555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_hash
             |FROM (SELECT doc_id,
             |        toks[1] || '@' || toks[2] || '.com ' || text ||
             |        ' call 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
             |          AS pii_text
             |      FROM (SELECT doc_id, text,
             |              list_filter(regexp_split_to_array(trim(text), '\s+'),
             |                          x -> x != '') AS toks
             |            FROM documents))""".stripMargin)),

    QueryDef(
      "t82_surprisal", // unigram LM surprisal per document — the
                       // perplexity-filter quality signal (CCNet-style):
                       // -avg ln P(token) under the corpus's own unigram
                       // distribution. Per-token logprobs are quantized to
                       // integer micro-nats BEFORE summing, so the
                       // aggregate is order-independent and engine-exact
                       // (the DECIMAL-sum idiom, applied to logs). Scale
                       // shape: one (doc,term) scan, |vocab| counts
                       // broadcast back, one groupBy per doc.
      (s, d) => {
        val docs = Graft.tableParallel(s, d, "documents")
        val terms = docs.select(col("doc_id"),
          explode(tokens(lower(col("text")))).as("term"))
        val vocab = terms.groupBy("term").agg(count(lit(1)).as("cnt"))
        val total = vocab.agg(sum(col("cnt")).as("total"))
        // quantize the logprob ON THE VOCAB SIDE (≤|vocab| rows) before the
        // broadcast — Spark's Round on doubles allocates a BigDecimal per
        // evaluation, and computing it after the join paid that per
        // (doc, term) occurrence; the joined rows now just carry the
        // integer micro-nats. Same values (lq is a function of the term).
        val vocabLq = vocab.crossJoin(broadcast(total))
          .select(col("term"),
            round(log(col("cnt").cast("double") / col("total")) * 1000000)
              .cast("long").as("lq"))
        terms.join(broadcast(vocabLq), "term")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            round(-(sum(col("lq")).cast("double") /
              (count(lit(1)) * 1000000)), 6).as("surprisal"))
          .withColumn("high_perplexity", col("surprisal") > 8.0)
      },
      Some("""WITH terms AS (
             |  SELECT doc_id, unnest(list_filter(
             |           regexp_split_to_array(trim(lower(text)), '\s+'),
             |           x -> x != '')) AS term
             |  FROM documents),
             |vocab AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
             |          FROM terms GROUP BY term),
             |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab)
             |SELECT doc_id, n_tokens, surprisal, surprisal > 8.0 AS high_perplexity
             |FROM (
             |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             |         ROUND(-(CAST(SUM(lq) AS DOUBLE) / (COUNT(*) * 1000000)), 6)
             |           AS surprisal
             |  FROM (SELECT t.doc_id,
             |          CAST(ROUND(LN(CAST(v.cnt AS DOUBLE) / tot.total) * 1000000)
             |               AS BIGINT) AS lq
             |        FROM terms t JOIN vocab v ON t.term = v.term CROSS JOIN tot)
             |  GROUP BY doc_id)""".stripMargin)),

    QueryDef(
      "t80_repetition", // intra-document repetition score (the Gopher-style
                        // quality gate for boilerplate/looping text): the
                        // fraction of 3-gram OCCURRENCES that are repeats of
                        // an earlier gram in the same doc. Entirely map-side
                        // (one codegen shingle pass per row, no shuffle at
                        // any scale).
      (s, d) => {
        val all = GraftFunctions.word_shingles(col("text"), 3)
        t(s, d, "documents")
          .select(col("doc_id"),
            size(all).as("n_grams"),
            size(array_distinct(all)).as("n_distinct"))
          .select(col("doc_id"), col("n_grams"), col("n_distinct"),
            round(when(col("n_grams") > 0,
              lit(1.0) - col("n_distinct").cast("double") /
                col("n_grams").cast("double")).otherwise(0.0), 6)
              .as("rep_ratio"))
          .withColumn("repetitive", col("rep_ratio") > 0.2)
      },
      Some("""SELECT doc_id, n_grams, n_distinct, rep_ratio,
             |       rep_ratio > 0.2 AS repetitive
             |FROM (
             |  SELECT doc_id, CAST(len(grams) AS INT) AS n_grams,
             |         CAST(len(list_distinct(grams)) AS INT) AS n_distinct,
             |         ROUND(CASE WHEN len(grams) > 0
             |                    THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
             |                               / len(grams)
             |                    ELSE 0.0 END, 6) AS rep_ratio
             |  FROM (SELECT doc_id,
             |          CASE WHEN len(toks) >= 3
             |               THEN list_transform(range(1, len(toks) - 1),
             |                      i -> array_to_string(toks[i:i+2], ' '))
             |               ELSE [] END AS grams
             |        FROM (SELECT doc_id,
             |                list_filter(regexp_split_to_array(trim(text), '\s+'),
             |                            x -> x != '') AS toks
             |              FROM documents)))""".stripMargin)),

    QueryDef(
      "t85_bigram_lm", // train the bigram LM count table (the KenLM-style
                       // artifact behind t82's surprisal filter, one order
                       // up): corpus bigram counts, prefix marginals, and
                       // conditional log P(w2|w1) in integer micro-nats.
                       // The marginal is the bigram-prefix sum — so the
                       // model is self-consistent (probabilities sum to 1
                       // per prefix) and needs NO second corpus pass.
                       // Scale shape: one partial-aggregated shuffle on
                       // the bigram key collapses the corpus to ≤|vocab|²
                       // rows; the prefix-marginal window runs over that
                       // COLLAPSED table partitioned by w1 — state bounded
                       // by vocabulary, not corpus. Micro-nat quantization
                       // keeps the log engine-exact (the t82 idiom).
      (s, d) => {
        val grams = Graft.tableParallel(s, d, "documents")
          .select(explode(
            graft.functions.GraftFunctions.word_shingles(
              lower(col("text")), 2)).as("g"))
        val counts = grams.groupBy("g").agg(count(lit(1)).as("c2"))
          .select(substring_index(col("g"), " ", 1).as("w1"),
            substring_index(col("g"), " ", -1).as("w2"), col("c2"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("w1")
        counts
          .withColumn("c1", sum(col("c2")).over(w))
          .withColumn("logp_micro",
            round(log(col("c2").cast("double") / col("c1").cast("double"))
              * 1000000).cast("long"))
      },
      Some("""SELECT w1, w2, c2, CAST(SUM(c2) OVER (PARTITION BY w1) AS BIGINT) AS c1,
             |       CAST(ROUND(LN(CAST(c2 AS DOUBLE) /
             |             CAST(SUM(c2) OVER (PARTITION BY w1) AS DOUBLE)) * 1000000)
             |            AS BIGINT) AS logp_micro
             |FROM (
             |  SELECT string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2,
             |         CAST(COUNT(*) AS BIGINT) AS c2
             |  FROM (
             |    SELECT array_to_string(toks[i:i+1], ' ') AS g
             |    FROM (SELECT toks, unnest(range(1, len(toks))) AS i
             |          FROM (SELECT list_filter(
             |                  regexp_split_to_array(trim(lower(text)), '\s+'),
             |                  x -> x != '') AS toks
             |                FROM documents)
             |          WHERE len(toks) >= 2))
             |  GROUP BY w1, w2)""".stripMargin)),

    QueryDef(
      "t84_sequence_pack", // GPT-style concat-and-chunk packing plan: within
                           // each source, documents concatenate in doc_id
                           // order and split into fixed 512-token training
                           // sequences; a doc belongs to the chunk where it
                           // STARTS (greedy concat-and-chunk — boundary
                           // overflow flows into the next chunk, the
                           // standard pretraining tokenizer-sharding rule).
                           // Scale shape: token counts are map-side
                           // expression work, the only exchange is the
                           // per-source running total. A single source CAN
                           // dominate a corpus, so the prefix sum must not
                           // assume one source fits one task — on a real
                           // cluster this window becomes the classic
                           // two-pass distributed prefix sum (per-partition
                           // subtotals broadcast, then a map-side offset
                           // add), which the range-partitioned window sort
                           // Spark plans here already approximates: the
                           // sort key is (source, doc_id), so ranges split
                           // a big source across tasks and only the
                           // running-total carry is sequential.
      (s, d) => {
        val ctx = 512
        val docs = Graft.tableParallel(s, d, "documents")
          .select(col("source"), col("doc_id"),
            size(tokens(col("text"))).cast("long").as("ntok"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("doc_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        docs
          .withColumn("end_off", sum(col("ntok")).over(w))
          .withColumn("chunk_id",
            ((col("end_off") - col("ntok")) / ctx).cast("long"))
          .groupBy(col("source"), col("chunk_id"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("ntok")).as("chunk_tokens"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
      },
      Some("""SELECT source, chunk_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |       CAST(SUM(ntok) AS BIGINT) AS chunk_tokens,
             |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
             |FROM (
             |  SELECT source, doc_id, ntok,
             |         CAST(FLOOR((SUM(ntok) OVER (
             |             PARTITION BY source ORDER BY doc_id
             |             ROWS UNBOUNDED PRECEDING) - ntok) / 512.0)
             |           AS BIGINT) AS chunk_id
             |  FROM (SELECT source, doc_id,
             |          CAST(len(list_filter(
             |              regexp_split_to_array(trim(text), '\s+'),
             |              x -> x != '')) AS BIGINT) AS ntok
             |        FROM documents))
             |GROUP BY source, chunk_id""".stripMargin)),

    QueryDef(
      "t87_bigram_surprisal", // per-doc perplexity under the t85 bigram LM —
                              // the CCNet-style quality filter, one order
                              // above t82's unigram surprisal. The LM is
                              // treated as what it is in production: a
                              // MODEL ARTIFACT, aggregated once (≤|vocab|²
                              // rows, corpus-bounded) and BROADCAST to the
                              // scorers, exactly how a KenLM model ships to
                              // every node in a CCNet pipeline. The doc side
                              // pays ONE exchange pinned to doc_id (the t79
                              // idiom: hash(doc_id) satisfies the clustered
                              // distribution of both the (doc_id, gram)
                              // count and the final per-doc sum, so neither
                              // aggregation re-shuffles). Scoring is exact
                              // integer math in micro-nats (Σ count·logp —
                              // associative, partition-order independent);
                              // the ONLY float op is the final avg division
                              // on identical operands, negated before
                              // rounding so HALF_UP agrees across engines.
                              // Self-trained LM ⇒ total coverage, no OOV
                              // smoothing term to diverge on. Docs under 2
                              // tokens have no bigrams and drop out, as in
                              // the oracle.
      (s, d) => {
        val grams = Graft.tableParallel(s, d, "documents")
          .select(col("doc_id"), explode(
            GraftFunctions.word_shingles(lower(col("text")), 2)).as("g"))
        val counts = grams.groupBy("g").agg(count(lit(1)).as("c2"))
        val w1win = org.apache.spark.sql.expressions.Window
          .partitionBy(substring_index(col("g"), " ", 1))
        val lm = counts.select(col("g"),
          round(log(col("c2").cast("double") /
            sum(col("c2")).over(w1win).cast("double")) * 1000000)
            .cast("long").as("logp_micro"))
        val docGrams = grams.repartition(col("doc_id"))
          .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        docGrams.join(broadcast(lm), "g")
          .groupBy("doc_id")
          .agg(sum(col("c")).as("n_bigrams"),
            sum(col("c") * col("logp_micro")).as("logp_sum_micro"))
          .select(col("doc_id"), col("n_bigrams"), col("logp_sum_micro"),
            avgSurprisalMicro(col("logp_sum_micro"), col("n_bigrams"))
              .as("avg_surprisal_micro"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(
             |           regexp_split_to_array(trim(lower(text)), '\s+'),
             |           x -> x != '') AS toks
             |  FROM documents),
             |grams AS (
             |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS g
             |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
             |        FROM toks WHERE len(toks) >= 2)),
             |lm AS (
             |  SELECT g, CAST(ROUND(LN(CAST(c2 AS DOUBLE) /
             |           CAST(SUM(c2) OVER (
             |             PARTITION BY string_split(g, ' ')[1]) AS DOUBLE))
             |           * 1000000) AS BIGINT) AS logp_micro
             |  FROM (SELECT g, COUNT(*) AS c2 FROM grams GROUP BY g)),
             |doc AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c
             |        FROM grams GROUP BY doc_id, g)
             |SELECT doc_id, n_bigrams, logp_sum_micro,
             |       CAST(ROUND(CAST(-logp_sum_micro AS DOUBLE)
             |                  / CAST(n_bigrams AS DOUBLE)) AS BIGINT)
             |         AS avg_surprisal_micro
             |FROM (SELECT d.doc_id, CAST(SUM(d.c) AS BIGINT) AS n_bigrams,
             |             CAST(SUM(d.c * lm.logp_micro) AS BIGINT)
             |               AS logp_sum_micro
             |      FROM doc d JOIN lm USING (g) GROUP BY d.doc_id)""".stripMargin)),

    QueryDef(
      "t88_winnow_fingerprints", // winnowing (Schleimer et al., SIGMOD'03 —
                                 // the MOSS fingerprinting scheme): per doc,
                                 // the MIN shingle hash of every w=4-gram
                                 // window, deduplicated. Selection-based
                                 // fingerprinting with the winnowing
                                 // guarantee: any shared passage of at
                                 // least w+k-1 tokens shares at least one
                                 // selected fingerprint, at ~1/w the index
                                 // size of the full d82 shingle index — the
                                 // standard density/recall trade for
                                 // plagiarism and near-dup detection. Scale
                                 // shape: everything (shingle, hash, window
                                 // min, dedup) is per-row expression work —
                                 // ZERO shuffle; downstream matching joins
                                 // on the fingerprint exactly like d82's
                                 // posting list, over a 4x smaller index.
      // explode_OUTER + isNotNull, not plain explode: the optimizer infers
      // `size(fps) > 0` from a non-outer generate and pushes it below the
      // projections, inlining the whole winnow expression (md5 chain
      // INSIDE the per-window lambda) into a Filter — O(n²) hashes per doc,
      // measured 35 s instead of <1 s at sf0.1. Outer generate + an
      // explicit post-filter keeps the kernel evaluated exactly once.
      (s, d) => winnowDocs(t(s, d, "documents").select("doc_id", "text"))
        .select(col("doc_id"), explode_outer(col("fps")).as("fp"))
        .filter(col("fp").isNotNull),
      Some(s"""WITH $winnowCtes
             |SELECT doc_id, unnest(fps) AS fp FROM fps""".stripMargin)),

    QueryDef(
      "t86_mixture_sample", // the APPLY side of t83's data card: downsample
                            // every source to the smallest source's token
                            // budget (uniform token mixture), the
                            // temperature→0 end of the mixture-weighting
                            // family used to rebalance pretraining corpora.
                            // Deterministic, RNG-free: a doc is kept iff
                            // hash60(doc_id) mod 1e6 falls under its
                            // source's keep-rate — the same docs survive on
                            // any engine, any partitioning, any day, and the
                            // rate test is pure integer math (bucket * tok_n
                            // < min_tok * 1e6) so no float rounding can
                            // flip a doc at the boundary. Scale shape: token
                            // counts are map-side expression work; the only
                            // exchange is the tiny per-source total (20
                            // rows), which broadcasts back into a map-side
                            // filter — the corpus itself never shuffles, so
                            // this composes with any downstream stage for
                            // free at 100 TB.
      (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            size(tokens(col("text"))).cast("long").as("ntok"))
        // min via a whole-partition window over the ALREADY-AGGREGATED
        // per-source frame (|sources| rows) — an agg+crossJoin here would
        // duplicate the totals subtree and re-scan the corpus a third time
        // (plan-audited); the single-partition window is over 20 rows
        val totals = docs.groupBy("source").agg(sum("ntok").as("tok_n"))
          .withColumn("min_tok", min(col("tok_n")).over(
            org.apache.spark.sql.expressions.Window.partitionBy()))
        docs.join(broadcast(totals), "source")
          .filter((Dedup.hash60(col("doc_id")) % 1000000L) * col("tok_n")
            < col("min_tok") * 1000000L)
          .select(col("doc_id"), col("source"), col("ntok"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, source,
             |         CAST(len(list_filter(
             |             regexp_split_to_array(trim(text), '\s+'),
             |             x -> x != '')) AS BIGINT) AS ntok
             |  FROM documents),
             |tot AS (SELECT source, SUM(ntok) AS tok_n FROM toks GROUP BY source),
             |mn AS (SELECT MIN(tok_n) AS min_tok FROM tot)
             |SELECT doc_id, t.source, ntok
             |FROM toks t JOIN tot USING (source) CROSS JOIN mn
             |WHERE (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
             |        % 1000000) * tok_n < min_tok * 1000000""".stripMargin)),

    QueryDef(
      "t106_temperature_mixture", // the GENERAL point of the mixture-
                            // weighting family t86 anchors at
                            // temperature→0: α = 0.5 rebalancing (the
                            // multilingual-pretraining standard — each
                            // source's share of a half-corpus token
                            // budget ∝ tok_i^α, upweighting tails
                            // without flattening heads). EXACT INTEGER
                            // throughout: tok^0.5 becomes the integer
                            // sqrt FLOOR(SQRT(tok)) — IEEE sqrt of an
                            // integer-valued double is exact on perfect
                            // squares and nowhere near an integer
                            // otherwise, so the floor cannot differ
                            // between engines — and the keep test is
                            // hash_ppm · tok_i · Σsq < B · sq_i · 1e6,
                            // compared in DECIMAL(38,0) ([[temperatureKeep]]
                            // — at real 100 TB token counts the product
                            // reaches ~1e26, far past int64; the property
                            // spec pins the overflow edge against a
                            // BigInt oracle).
                            // A source whose target exceeds its size is
                            // kept whole (hash_ppm < 1e6 always):
                            // upsampling means repetition, a policy
                            // decision this operator refuses to make
                            // silently. Same deterministic RNG-free
                            // hash-bucket selection and single
                            // broadcast-back scale shape as t86 — the
                            // corpus never shuffles.
      (s, d) => temperatureKeep(t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          size(tokens(col("text"))).cast("long").as("ntok"))),
      Some("""WITH toks AS (
             |  SELECT doc_id, source,
             |         CAST(len(list_filter(
             |             regexp_split_to_array(trim(text), '\s+'),
             |             x -> x != '')) AS BIGINT) AS ntok
             |  FROM documents),
             |tot AS (SELECT source, SUM(ntok) AS tok_n FROM toks
             |        GROUP BY source),
             |ws AS (SELECT source, tok_n,
             |              CAST(FLOOR(SQRT(CAST(tok_n AS DOUBLE)))
             |                   AS BIGINT) AS sq
             |       FROM tot),
             |g AS (SELECT SUM(tok_n) // 2 AS budget, SUM(sq) AS sum_sq
             |      FROM ws)
             |SELECT doc_id, t.source, ntok
             |FROM toks t JOIN ws USING (source) CROSS JOIN g
             |WHERE ((('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
             |        % 1000000))::HUGEINT * tok_n::HUGEINT * sum_sq::HUGEINT
             |      < budget::HUGEINT * sq::HUGEINT * 1000000::HUGEINT"""
        .stripMargin)),

    QueryDef(
      "t89_token_entropy", // per-doc unigram token entropy — the
                           // Gopher-style "gibberish or natural?" quality
                           // signal (low entropy = looping/boilerplate,
                           // max = all-distinct). H = ln n − (1/n)·Σ c·ln c
                           // with the Σ quantized to integer micro-nats per
                           // distinct term BEFORE summing (t82's idiom), so
                           // the aggregate is order-independent and
                           // engine-exact. Scale shape: ONE doc_id-pinned
                           // exchange (t79's trick) satisfies both the
                           // (doc, term) count and the per-doc rollup —
                           // entropy of a 100 TB corpus is one shuffle of
                           // (doc_id, term) pairs, no windows, no state
                           // proportional to doc length anywhere.
      (s, d) => {
        val docs = Graft.tableParallel(s, d, "documents")
        val terms = docs.select(col("doc_id"),
            explode(tokens(lower(col("text")))).as("term"))
          .repartition(col("doc_id"))
        val counts = terms.groupBy("doc_id", "term")
          .agg(count(lit(1)).as("c"))
        val ln_n = log(col("n_tokens").cast("double"))
        counts.groupBy("doc_id")
          .agg(sum(col("c")).as("n_tokens"),
            count(lit(1)).as("n_distinct"),
            sum(round(col("c").cast("double") *
              log(col("c").cast("double")) * 1000000).cast("long")).as("qsum"))
          .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
            round(ln_n - col("qsum").cast("double") /
              (col("n_tokens") * 1000000), 6).as("entropy"),
            round(when(col("n_tokens") > 1,
                (ln_n - col("qsum").cast("double") /
                  (col("n_tokens") * 1000000)) / ln_n)
              .otherwise(0.0), 6).as("norm_entropy"))
      },
      Some("""WITH terms AS (
             |  SELECT doc_id, unnest(list_filter(
             |           regexp_split_to_array(trim(lower(text)), '\s+'),
             |           x -> x != '')) AS term
             |  FROM documents),
             |counts AS (
             |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM terms GROUP BY doc_id, term),
             |per_doc AS (
             |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
             |         CAST(COUNT(*) AS BIGINT) AS n_distinct,
             |         CAST(SUM(CAST(ROUND(CAST(c AS DOUBLE) *
             |               LN(CAST(c AS DOUBLE)) * 1000000) AS BIGINT))
             |           AS BIGINT) AS qsum
             |  FROM counts GROUP BY doc_id)
             |SELECT doc_id, n_tokens, n_distinct,
             |       ROUND(LN(CAST(n_tokens AS DOUBLE)) -
             |             CAST(qsum AS DOUBLE) / (n_tokens * 1000000), 6)
             |         AS entropy,
             |       ROUND(CASE WHEN n_tokens > 1 THEN
             |               (LN(CAST(n_tokens AS DOUBLE)) -
             |                CAST(qsum AS DOUBLE) / (n_tokens * 1000000)) /
             |               LN(CAST(n_tokens AS DOUBLE))
             |             ELSE 0.0 END, 6) AS norm_entropy
             |FROM per_doc""".stripMargin)),

    QueryDef(
      "t90_doc_chunks", // sliding-window token chunking (RAG / context-prep):
                        // size-32 chunks at stride 24 (8-token overlap), a
                        // doc's last chunk keeps the tail remainder. Pure
                        // map-side expression work — tokenize, compute the
                        // chunk count, posexplode the per-chunk structs; at
                        // 100 TB this is a zero-shuffle scan whose output is
                        // ~n/24 rows per n-token doc. Chunk identity is the
                        // md5 of the space-joined window (feeds the d-series
                        // dedup ops downstream). Empty docs chunk to nothing
                        // (posexplode and DuckDB unnest both drop []).
      (s, d) => chunkDocs(Graft.tableParallel(s, d, "documents")),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(
             |           regexp_split_to_array(trim(text), '\s+'),
             |           x -> x != '') AS toks
             |  FROM documents),
             |base AS (
             |  SELECT doc_id, toks, CAST(len(toks) AS INT) AS n,
             |         CASE WHEN len(toks) <= 0 THEN 0
             |              WHEN len(toks) <= 32 THEN 1
             |              ELSE CAST(CEIL(CAST(len(toks) - 32 AS DOUBLE) / 24)
             |                        AS INT) + 1
             |         END AS nch
             |  FROM toks)
             |SELECT doc_id,
             |       CAST(unnest(range(0, nch)) AS INT) AS chunk_idx,
             |       CAST(unnest(list_transform(range(0, nch),
             |              i -> i * 24 + 1)) AS INT) AS chunk_start,
             |       CAST(unnest(list_transform(range(0, nch),
             |              i -> LEAST(32, n - i * 24))) AS INT) AS chunk_len,
             |       unnest(list_transform(range(0, nch),
             |              i -> md5(array_to_string(
             |                     toks[(i*24+1):(i*24+32)], ' '))))
             |         AS chunk_hash
             |FROM base""".stripMargin)),

    QueryDef(
      "t91_bm25", // BM25 retrieval scoring (k1=1.2, b=0.75, Lucene idf) for
                  // a fixed query-term set — the ranking complement to t79's
                  // tf-idf topic signal. Scale shape: ONE doc_id-pinned
                  // exchange feeds dl, query-term tf, and the final per-doc
                  // sum (exchange reuse, the d89 pattern); df/idf/avgdl live
                  // on |query|- and 1-row frames broadcast back. Per-term
                  // contributions are quantized to integer micro-units
                  // before the doc sum, idf rounded to 6 before the multiply
                  // (t79's ln-parity rule), so ranking ties break
                  // identically on both engines.
      (s, d) => {
        // tf for the fixed query terms AND dl computed map-side per doc —
        // no explode, no (doc, term) blow-up: |query| is small, so per-doc
        // counting beats shuffling every token occurrence. One exchange
        // pins the frame; the global stats aggregate and the scorer both
        // read it (ReuseExchange — join-free on purpose: an equi-join here
        // would push inferred not-null filters into ONE branch's scan and
        // break subtree identity, silently re-scanning the corpus; plan-
        // audited to a single FileScan).
        val toks = tokens(lower(col("text")))
        val base = Graft.tableParallel(s, d, "documents")
          .select(col("doc_id"), toks.as("toks"))
          .select(col("doc_id"),
            size(col("toks")).cast("long").as("dl"),
            size(filter(col("toks"), t => t === "table")).cast("long").as("tf0"),
            size(filter(col("toks"), t => t === "spark")).cast("long").as("tf1"),
            size(filter(col("toks"), t => t === "vector")).cast("long").as("tf2"))
          .repartition(col("doc_id"))
        def dfc(tf: String) = sum(when(col(tf) > 0, 1L).otherwise(0L))
        val stats = base.agg(
          sum(when(col("dl") > 0, 1L).otherwise(0L)).as("n_d"),
          sum(col("dl")).as("tot_dl"),
          dfc("tf0").as("df0"), dfc("tf1").as("df1"), dfc("tf2").as("df2"))
        // idf/avgdl land on the 1-row side BEFORE the broadcast (the t82
        // rule: Round allocates a BigDecimal per evaluation)
        def idf(df: String) = round(log(
          (col("n_d").cast("double") - col(df) + 0.5) / (col(df) + 0.5) + 1), 6)
        val istats = stats.select(
          (col("tot_dl").cast("double") / col("n_d")).as("avgdl"),
          idf("df0").as("idf0"), idf("df1").as("idf1"), idf("df2").as("idf2"))
        def qc(tf: String, idfc: String) = when(col(tf) > 0,
          round(col(idfc) * (col(tf) * 2.2) /
            (col(tf) + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
            * 1000000).cast("long")).otherwise(0L)
        base.crossJoin(broadcast(istats))
          .select(col("doc_id"),
            ((col("tf0") > 0).cast("long") + (col("tf1") > 0).cast("long") +
              (col("tf2") > 0).cast("long")).as("n_terms"),
            col("dl"),
            round((qc("tf0", "idf0") + qc("tf1", "idf1") + qc("tf2", "idf2"))
              .cast("double") / 1000000, 6).as("score"))
          // score (not n_terms) as the match predicate: score references the
          // broadcast stats side, so Catalyst cannot push this filter below
          // the crossJoin into the corpus scan — which would fork the scan
          // away from the stats branch and kill the exchange reuse
          .filter(col("score") > 0)
          .orderBy(col("score").desc, col("doc_id"))
          .limit(20)
      },
      Some("""WITH base AS (
             |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
             |         CAST(len(list_filter(toks, x -> x = 'table')) AS BIGINT) AS tf0,
             |         CAST(len(list_filter(toks, x -> x = 'spark')) AS BIGINT) AS tf1,
             |         CAST(len(list_filter(toks, x -> x = 'vector')) AS BIGINT) AS tf2
             |  FROM (SELECT doc_id, list_filter(
             |          regexp_split_to_array(trim(lower(text)), '\s+'),
             |          x -> x != '') AS toks
             |        FROM documents)),
             |stats AS (
             |  SELECT CAST(COUNT(*) FILTER (WHERE dl > 0) AS BIGINT) AS n_d,
             |         CAST(SUM(dl) AS BIGINT) AS tot_dl,
             |         CAST(COUNT(*) FILTER (WHERE tf0 > 0) AS BIGINT) AS df0,
             |         CAST(COUNT(*) FILTER (WHERE tf1 > 0) AS BIGINT) AS df1,
             |         CAST(COUNT(*) FILTER (WHERE tf2 > 0) AS BIGINT) AS df2
             |  FROM base),
             |istats AS (
             |  SELECT CAST(tot_dl AS DOUBLE) / n_d AS avgdl,
             |         ROUND(LN((CAST(n_d AS DOUBLE) - df0 + 0.5) / (df0 + 0.5) + 1), 6) AS idf0,
             |         ROUND(LN((CAST(n_d AS DOUBLE) - df1 + 0.5) / (df1 + 0.5) + 1), 6) AS idf1,
             |         ROUND(LN((CAST(n_d AS DOUBLE) - df2 + 0.5) / (df2 + 0.5) + 1), 6) AS idf2
             |  FROM stats)
             |SELECT doc_id, n_terms, dl, score FROM (
             |  SELECT doc_id,
             |         CAST((tf0 > 0)::INT + (tf1 > 0)::INT + (tf2 > 0)::INT
             |              AS BIGINT) AS n_terms,
             |         dl,
             |         ROUND(CAST(
             |             (CASE WHEN tf0 > 0 THEN CAST(ROUND(idf0 * (tf0 * 2.2) /
             |                (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
             |                * 1000000) AS BIGINT) ELSE 0 END) +
             |             (CASE WHEN tf1 > 0 THEN CAST(ROUND(idf1 * (tf1 * 2.2) /
             |                (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
             |                * 1000000) AS BIGINT) ELSE 0 END) +
             |             (CASE WHEN tf2 > 0 THEN CAST(ROUND(idf2 * (tf2 * 2.2) /
             |                (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl))
             |                * 1000000) AS BIGINT) ELSE 0 END)
             |           AS DOUBLE) / 1000000, 6) AS score
             |  FROM base CROSS JOIN istats)
             |WHERE score > 0
             |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    QueryDef(
      "t92_adaptive_quality", // per-language adaptive quality gate: keep the
                              // top quartile of each language by t71's
                              // quality score (rank-based exact — CCNet
                              // filters per-language because a global
                              // threshold over-prunes low-resource
                              // languages). rn*4 <= n is the integer-exact
                              // quartile rule; (quality desc, doc_id) makes
                              // the kept SET deterministic across ties.
                              // Scale shape: quality is map-side expression
                              // work, then one exchange on lang shared by
                              // the rank and count windows. A language CAN
                              // dominate a corpus — the per-lang sort is the
                              // same range-partitioned window t84 documents;
                              // swap to the two-pass rank-histogram idiom
                              // (q15's) if a single lang outgrows a task.
      (s, d) => {
        val toks = tokens(col("text"))
        val nTok = size(toks).cast("double")
        val nChars = length(col("text")).cast("double")
        val punct = (length(col("text")) -
          length(regexp_replace(col("text"), "[\\p{Punct}]", ""))).cast("double")
        val digits = (length(col("text")) -
          length(regexp_replace(col("text"), "[0-9]", ""))).cast("double")
        val dr = ratio(size(array_distinct(toks)).cast("double"), nTok)
        val scored = Graft.tableParallel(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            round(greatest(lit(0.0),
              lit(1.0) - ratio(punct, nChars) * 5 - ratio(digits, nChars) * 2)
              * dr, 6).as("quality"))
        val byLang = org.apache.spark.sql.expressions.Window.partitionBy("lang")
        scored
          .withColumn("rn", row_number().over(
            byLang.orderBy(col("quality").desc_nulls_last, col("doc_id"))))
          .withColumn("n", count(lit(1)).over(byLang))
          .filter(col("rn") * 4 <= col("n"))
          .groupBy("lang")
          .agg(min(col("n")).as("n_docs"), count(lit(1)).as("n_kept"),
            min(col("quality")).as("q_threshold"))
      },
      Some("""WITH scored AS (
             |  SELECT doc_id, lang,
             |         ROUND(GREATEST(0.0,
             |             1.0 - punct / n_chars * 5 - digits / n_chars * 2)
             |           * dr, 6) AS quality
             |  FROM (SELECT doc_id, lang,
             |          CAST(LENGTH(text) AS DOUBLE) AS n_chars,
             |          CAST(LENGTH(text) - LENGTH(regexp_replace(text,
             |               '[[:punct:]]', '', 'g')) AS DOUBLE) AS punct,
             |          CAST(LENGTH(text) - LENGTH(regexp_replace(text,
             |               '[0-9]', '', 'g')) AS DOUBLE) AS digits,
             |          CAST(len(list_distinct(toks)) AS DOUBLE)
             |            / CAST(len(toks) AS DOUBLE) AS dr
             |        FROM (SELECT doc_id, lang, text,
             |                list_filter(regexp_split_to_array(trim(text), '\s+'),
             |                            x -> x != '') AS toks
             |              FROM documents))),
             |ranked AS (
             |  SELECT lang, quality,
             |         ROW_NUMBER() OVER (PARTITION BY lang
             |           ORDER BY quality DESC NULLS LAST, doc_id) AS rn,
             |         CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n
             |  FROM scored)
             |SELECT lang, CAST(MIN(n) AS BIGINT) AS n_docs,
             |       CAST(COUNT(*) AS BIGINT) AS n_kept,
             |       MIN(quality) AS q_threshold
             |FROM ranked WHERE rn * 4 <= n GROUP BY lang""".stripMargin)),

    QueryDef(
      "t93_bpe_merges", // BPE merge-rule TRAINING — the learning step t74's
                        // doc disclaims ("true BPE needs a learned merge
                        // table"): 3 greedy corpus-level merges over the
                        // lowercase-alpha word stream. Each round counts
                        // all adjacent symbol pairs (occurrence-weighted),
                        // picks the global argmax (ties → lexicographic),
                        // and rewrites the corpus with the winning pair
                        // fused to a fresh single-char marker ('0','1','2'
                        // — impossible in [a-z]+ words, so markers never
                        // collide), exactly Sennrich's alphabet-extension
                        // trick that keeps pair counting a char-bigram scan
                        // at every round. replace() is left-to-right
                        // non-overlapping in both engines = greedy BPE
                        // application ("aaa" + (a,a) → [aa][a]).
                        // Contract: the corpus must support 3 merges (any
                        // real corpus does); one that runs dry mid-chain
                        // hits engine-specific empty-scalar semantics and
                        // is out of scope, like d87's empty-graph edge.
                        //
                        // Scale shape per round: pair counting partial-
                        // aggregates map-side to ≤|alphabet|² rows per
                        // partition (the shuffle carries hundreds of rows,
                        // never corpus volume); the winning pair is a
                        // 1-row broadcast; the rewrite is pure map. So a
                        // merge costs one corpus scan + an alphabet-bounded
                        // shuffle — at 100 TB you persist the rewritten
                        // stream between rounds instead of recomputing
                        // lineage (a deployment choice; the plan shape is
                        // already one-pass-per-merge either way, the
                        // textbook distributed BPE layout). Output expands
                        // markers back through the earlier pairs so the
                        // merge table reads as real subword units.
      (s, d) => {
        val (t1, t2, t3) = bpeMergeTables(s, d)
        val sel = t1.select(lit(1).as("merge_rank"), col("pr"), col("cnt"))
          .unionAll(t2.select(lit(2).as("merge_rank"), col("pr"),
            col("cnt")))
          .unionAll(t3.select(lit(3).as("merge_rank"), col("pr"),
            col("cnt")))
        // markers only ever reference EARLIER merges, so one expansion
        // pass in reverse creation order ('1'→pair2 first, which may
        // introduce '0's, then '0'→pair1) fully resolves any pair
        def expand(c: Column, p1: Column, p2: Column): Column =
          replace(replace(c, lit("1"), p2), lit("0"), p1)
        sel
          .crossJoin(broadcast(t1.select(col("pr").as("e1"))))
          .crossJoin(broadcast(t2.select(col("pr").as("e2"))))
          .select(col("merge_rank"),
            expand(col("pr").substr(lit(1), lit(1)), col("e1"), col("e2"))
              .as("left_unit"),
            expand(col("pr").substr(lit(2), lit(1)), col("e1"), col("e2"))
              .as("right_unit"),
            col("cnt"))
      },
      Some(s"""WITH $bpeCtes,
             |sel AS (
             |  SELECT 1 AS merge_rank, pr, cnt FROM t1
             |  UNION ALL SELECT 2, pr, cnt FROM t2
             |  UNION ALL SELECT 3, pr, cnt FROM t3)
             |SELECT merge_rank,
             |       replace(replace(substr(pr, 1, 1),
             |               '1', (SELECT pr FROM t2)),
             |               '0', (SELECT pr FROM t1)) AS left_unit,
             |       replace(replace(substr(pr, 2, 1),
             |               '1', (SELECT pr FROM t2)),
             |               '0', (SELECT pr FROM t1)) AS right_unit,
             |       cnt
             |FROM sel""".stripMargin)),

    QueryDef(
      "t94_bpe_apply", // tokenizer APPLICATION — close the t93 train loop:
                       // re-tokenize every document with the 3 learned
                       // merges and account the compression (chars in the
                       // alpha word stream vs symbols after merging; each
                       // merged symbol is one marker char, so symbol count
                       // = string length). The merge table is 3 one-row
                       // broadcasts feeding a pure map-side per-doc
                       // transform + fold — applying a trained tokenizer
                       // at 100 TB is scan + map, nothing else (training
                       // cost lives in t93; a deployment persists its tiny
                       // merge table instead of re-deriving lineage).
                       // replace() chains in merge order = greedy BPE.
                       // Empty/alpha-free docs: 0 chars, NULL ratio (the
                       // shared NULL-on-zero division rule).
      (s, d) => {
        val (t1, t2, t3) = bpeMergeTables(s, d)
        val docs = t(s, d, "documents")
          .select(col("doc_id"), alphaWords(col("text")).as("ws"))
        docs
          .crossJoin(broadcast(t1.select(col("pr").as("p1"))))
          .crossJoin(broadcast(t2.select(col("pr").as("p2"))))
          .crossJoin(broadcast(t3.select(col("pr").as("p3"))))
          .select(col("doc_id"), bpeChars(col("ws")).as("n_chars"),
            bpeSyms(col("ws"), Seq(col("p1"), col("p2"), col("p3")))
              .as("n_syms"))
          .select(col("doc_id"), col("n_chars"), col("n_syms"),
            bpeCompression(col("n_chars"), col("n_syms")).as("compression"))
      },
      Some(s"""WITH $bpeCtes,
             |docs AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
             |  FROM documents),
             |app AS (
             |  -- merge pairs must be plain columns: DuckDB rejects
             |  -- subqueries inside lambda bodies
             |  SELECT doc_id,
             |         COALESCE(CAST(list_sum(list_transform(ws,
             |             w -> length(w))) AS BIGINT), 0) AS n_chars,
             |         COALESCE(CAST(list_sum(list_transform(ws,
             |             w -> length(replace(replace(replace(w,
             |                    p1, '0'), p2, '1'), p3, '2'))))
             |           AS BIGINT), 0) AS n_syms
             |  FROM docs
             |  CROSS JOIN (SELECT pr AS p1 FROM t1)
             |  CROSS JOIN (SELECT pr AS p2 FROM t2)
             |  CROSS JOIN (SELECT pr AS p3 FROM t3))
             |SELECT doc_id, n_chars, n_syms,
             |       CASE WHEN n_chars = 0 THEN NULL
             |            ELSE ROUND(CAST(n_syms AS DOUBLE) /
             |                       CAST(n_chars AS DOUBLE), 6) END
             |         AS compression
             |FROM app""".stripMargin)),

    QueryDef(
      "t95_dsir_select", // DSIR-style data selection: score every document
                         // by the unigram log-likelihood ratio between a
                         // target distribution (the benchmark-like docs,
                         // doc_id % 10 == 0) and the raw corpus, both
                         // add-1-smoothed over the shared vocabulary, and
                         // keep the top 50. The weight table is vocabulary-
                         // bounded — aggregated once and BROADCAST to the
                         // scorers (the t87 model-artifact shape); scoring
                         // is exact integer micro-nats (Σ count·weight,
                         // associative, partition-order free — the only
                         // float op is one LN per vocab word on operands
                         // identical in both engines). Selection avoids a
                         // corpus-wide window: the 50-row TakeOrdered
                         // boundary broadcasts back as a (negated-score,
                         // doc_id) struct threshold, so at 100 TB the
                         // decision is scan + broadcast compare, and ties
                         // at the boundary stay deterministic.
      (s, d) => {
        // `doc` and the weight table's internal counts share ONE canonical
        // dsirDocCounts subtree — AQE exchange reuse materializes the
        // tokenize once for the whole query (was 3 corpus passes).
        val wt = dsirWeights(s, d)
        val doc = dsirDocCounts(s, d)
        val scored = doc.join(broadcast(wt), "w")
          .groupBy("doc_id")
          .agg(sum(col("c")).as("n_words"),
            sum(col("c") * col("wm")).as("score_micro"))
        val thr = scored
          .orderBy(col("score_micro").desc, col("doc_id")).limit(50)
          .agg(max(struct((-col("score_micro")).as("ns"),
            col("doc_id").as("di"))).as("thr"))
        scored.crossJoin(broadcast(thr))
          .select(col("doc_id"), col("n_words"), col("score_micro"),
            (struct((-col("score_micro")).as("ns"),
              col("doc_id").as("di")) <= col("thr")).as("selected"))
      },
      Some("""WITH words AS (
             |  SELECT doc_id,
             |         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
             |  FROM documents),
             |raw AS (
             |  SELECT w, COUNT(*) AS cr,
             |         SUM(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS ct
             |  FROM words GROUP BY w),
             |tot AS (
             |  SELECT COUNT(*) AS r_total,
             |         SUM(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END)
             |           AS t_total,
             |         COUNT(DISTINCT w) AS v
             |  FROM words),
             |wt AS (
             |  SELECT w, CAST(ROUND((
             |           LN(CAST(ct + 1 AS DOUBLE) /
             |              CAST(t_total + v AS DOUBLE)) -
             |           LN(CAST(cr + 1 AS DOUBLE) /
             |              CAST(r_total + v AS DOUBLE))) * 1000000)
             |         AS BIGINT) AS wm
             |  FROM raw CROSS JOIN tot),
             |doc AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
             |        FROM words GROUP BY doc_id, w),
             |scored AS (
             |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
             |         CAST(SUM(c * wm) AS BIGINT) AS score_micro
             |  FROM doc JOIN wt USING (w) GROUP BY doc_id)
             |SELECT doc_id, n_words, score_micro, rnk <= 50 AS selected
             |FROM (SELECT *, ROW_NUMBER() OVER (
             |        ORDER BY score_micro DESC, doc_id) AS rnk
             |      FROM scored)""".stripMargin)),

    QueryDef(
      "t96_code_detect", // code-vs-prose separation — the corpus routing
                         // signal a mixed crawl needs before training
                         // (code and prose want different tokenizers,
                         // dedup keys and mixture weights): per line, a
                         // symbol-density test (structural characters
                         // ;{}()=[]<> at ≥25% of the line) flags
                         // code-looking lines; a document routes as code
                         // when >30% of its nonempty lines look like
                         // code. Pure map-side expression work — one
                         // pruned scan, zero shuffle at any corpus size;
                         // the regex is a plain character class with
                         // identical RE2/Java semantics. Empty docs and
                         // all-blank docs report NULL fraction under the
                         // shared NULL-on-zero rule (never routed as
                         // code).
      (s, d) => {
        val lines = filter(split(col("text"), "\n"),
          l => length(trim(l)) > 0)
        val codeLines = filter(lines, l =>
          length(regexp_replace(l, "[^;{}()=\\[\\]<>]", "")) * 4 >=
            length(l))
        t(s, d, "documents")
          .select(col("doc_id"),
            size(lines).as("n_lines"),
            size(codeLines).as("n_code_lines"))
          .select(col("doc_id"), col("n_lines"), col("n_code_lines"),
            round(when(col("n_lines") === 0, lit(null))
              .otherwise(col("n_code_lines").cast("double") /
                col("n_lines").cast("double")), 6).as("code_frac"),
            coalesce(col("n_code_lines").cast("double") >
              col("n_lines").cast("double") * 0.3, lit(false))
              .as("is_code"))
      },
      Some("""WITH ln AS (
             |  SELECT doc_id,
             |         list_filter(string_split(text, chr(10)),
             |                     l -> length(trim(l)) > 0) AS lines
             |  FROM documents),
             |cnt AS (
             |  SELECT doc_id,
             |         CAST(len(lines) AS INT) AS n_lines,
             |         CAST(len(list_filter(lines, l ->
             |           length(regexp_replace(l, '[^;{}()=\[\]<>]', '',
             |                                 'g')) * 4 >= length(l)))
             |           AS INT) AS n_code_lines
             |  FROM ln)
             |SELECT doc_id, n_lines, n_code_lines,
             |       CASE WHEN n_lines = 0 THEN NULL
             |            ELSE ROUND(CAST(n_code_lines AS DOUBLE) /
             |                       CAST(n_lines AS DOUBLE), 6) END
             |         AS code_frac,
             |       COALESCE(CAST(n_code_lines AS DOUBLE) >
             |                CAST(n_lines AS DOUBLE) * 0.3, FALSE)
             |         AS is_code
             |FROM cnt""".stripMargin)),

    QueryDef(
      "t97_boilerplate", // boilerplate-line accounting — the cleanup
                         // signal extraction (trafilatura/CCNet) keys on:
                         // a line appearing in ≥5 distinct documents is
                         // navigation/footer/license furniture, not
                         // content. Per doc: nonempty-line count, how
                         // many are boilerplate, and the fraction. Scale
                         // shape: the line-frequency index is ONE
                         // partial-aggregated exchange keyed on the
                         // trimmed line (the d82 posting-list idiom at
                         // line granularity); the flag joins back by the
                         // same key, and docs with no nonempty lines
                         // still report (0, 0, NULL) via the corpus-side
                         // left join — the shared NULL-on-zero rule.
      (s, d) => {
        val ln = Graft.tableParallel(s, d, "documents")
          .select(col("doc_id"), explode(filter(
            transform(split(col("text"), "\n"), l => trim(l)),
            l => length(l) > 0)).as("line"))
        val boiler = ln.groupBy("line")
          .agg(countDistinct(col("doc_id")).as("df"))
          .filter(col("df") >= 5)
          .select(col("line"), lit(true).as("bl"))
        val perDoc = ln.join(boiler, Seq("line"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_lines"),
            count(col("bl")).as("n_boiler"))
        Graft.tableParallel(s, d, "documents").select(col("doc_id"))
          .join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_lines"), lit(0L)).as("n_lines"),
            coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
          .select(col("doc_id"), col("n_lines"), col("n_boiler"),
            round(when(col("n_lines") === 0, lit(null))
              .otherwise(col("n_boiler").cast("double") /
                col("n_lines").cast("double")), 6).as("boiler_frac"))
      },
      Some("""WITH ln AS (
             |  SELECT doc_id, l AS line FROM (
             |    SELECT doc_id,
             |           unnest(list_transform(string_split(text, chr(10)),
             |                                 x -> trim(x))) AS l
             |    FROM documents)
             |  WHERE length(l) > 0),
             |boiler AS (
             |  SELECT line FROM ln GROUP BY line
             |  HAVING COUNT(DISTINCT doc_id) >= 5),
             |per_doc AS (
             |  SELECT n.doc_id,
             |         CAST(COUNT(*) AS BIGINT) AS n_lines,
             |         CAST(COUNT(b.line) AS BIGINT) AS n_boiler
             |  FROM ln n LEFT JOIN boiler b ON b.line = n.line
             |  GROUP BY n.doc_id)
             |SELECT d.doc_id,
             |       COALESCE(p.n_lines, 0) AS n_lines,
             |       COALESCE(p.n_boiler, 0) AS n_boiler,
             |       CASE WHEN COALESCE(p.n_lines, 0) = 0 THEN NULL
             |            ELSE ROUND(CAST(p.n_boiler AS DOUBLE) /
             |                       CAST(p.n_lines AS DOUBLE), 6) END
             |         AS boiler_frac
             |FROM documents d LEFT JOIN per_doc p USING (doc_id)""".stripMargin)),

    QueryDef(
      "t98_sentence_stats", // sentence-level quality signals: count and
                            // mean length of sentences (split on
                            // [.!?]+ runs, trimmed, empties dropped) —
                            // mean sentence length is a standard prose
                            // quality gate (too short = listicle/menu
                            // fragments, too long = unsegmented dumps).
                            // Pure map-side expression work over one
                            // pruned scan; the split class is a plain
                            // character class with identical RE2/Java
                            // semantics, lengths are exact integers and
                            // the single division rounds HALF_UP in both
                            // engines. Sentence-free docs report NULL
                            // mean under the shared NULL-on-zero rule.
      (s, d) => {
        val sents = filter(
          transform(split(col("text"), "[.!?]+"), x => trim(x)),
          x => length(x) > 0)
        t(s, d, "documents")
          .select(col("doc_id"),
            size(sents).cast("long").as("n_sentences"),
            aggregate(sents, lit(0L),
              (a, x) => a + length(x).cast("long")).as("total_chars"))
          .select(col("doc_id"), col("n_sentences"), col("total_chars"),
            round(when(col("n_sentences") === 0, lit(null))
              .otherwise(col("total_chars").cast("double") /
                col("n_sentences").cast("double")), 6)
              .as("mean_sentence_chars"))
      },
      Some("""WITH sn AS (
             |  SELECT doc_id,
             |         list_filter(list_transform(
             |           regexp_split_to_array(text, '[.!?]+'),
             |           x -> trim(x)), x -> length(x) > 0) AS sents
             |  FROM documents)
             |SELECT doc_id,
             |       CAST(len(sents) AS BIGINT) AS n_sentences,
             |       COALESCE(CAST(list_sum(list_transform(sents,
             |           x -> length(x))) AS BIGINT), 0) AS total_chars,
             |       CASE WHEN len(sents) = 0 THEN NULL
             |            ELSE ROUND(CAST(list_sum(list_transform(sents,
             |                   x -> length(x))) AS DOUBLE) /
             |                 CAST(len(sents) AS DOUBLE), 6) END
             |         AS mean_sentence_chars
             |FROM sn""".stripMargin)),

    QueryDef(
      "t99_gopher_rules", // the Gopher-style rule-bundle document filter
                          // (Rae et al. 2021, arXiv:2112.11446 §A1.1): a
                          // document survives only if it passes ALL of a
                          // set of cheap structural gates — token count in
                          // range, mean word length in range, enough
                          // alphabetic words, minimum stopword evidence.
                          // Distinct from t71 (a weighted score) and t92
                          // (a per-language adaptive rank cut): this is
                          // the hard AND-of-thresholds gate real corpora
                          // (Gopher/MassiveText, RefinedWeb) apply BEFORE
                          // any learned scorer. Scale shape: pure map-side
                          // expression work over one pruned scan — at
                          // 100 TB it is embarrassingly parallel with zero
                          // shuffle. The rounded ratio columns feed the
                          // verdict in BOTH engines, so the keep flag is
                          // engine-exact; empty docs report NULL ratios and
                          // are dropped (coalesce(false)) — the shared
                          // NULL-on-zero rule, not an abort.
      (s, d) => gopherVerdict(t(s, d, "documents")),
      Some("""WITH tk AS (
             |  SELECT doc_id,
             |         list_filter(regexp_split_to_array(trim(text), '\s+'),
             |                     x -> x != '') AS toks
             |  FROM documents),
             |m AS (
             |  SELECT doc_id,
             |         CAST(len(toks) AS INT) AS n_tokens,
             |         CASE WHEN len(toks) = 0 THEN NULL
             |              ELSE ROUND(CAST(list_sum(list_transform(toks,
             |                     x -> len(x))) AS DOUBLE) /
             |                   CAST(len(toks) AS DOUBLE), 6) END
             |           AS mean_word_chars,
             |         CASE WHEN len(toks) = 0 THEN NULL
             |              ELSE ROUND(CAST(len(list_filter(toks,
             |                     x -> regexp_matches(x, '[A-Za-z]')))
             |                     AS DOUBLE) /
             |                   CAST(len(toks) AS DOUBLE), 6) END
             |           AS frac_alpha,
             |         CAST(len(list_filter(toks, x -> list_contains(
             |             ['the','and','of','to','a','in','is'], x)))
             |           AS INT) AS stop_hits
             |  FROM tk)
             |SELECT doc_id, n_tokens, mean_word_chars, frac_alpha,
             |       stop_hits,
             |       (n_tokens BETWEEN 10 AND 100000)
             |         AND COALESCE(mean_word_chars BETWEEN 2.0 AND 12.0,
             |                      FALSE)
             |         AND COALESCE(frac_alpha >= 0.6, FALSE)
             |         AND stop_hits >= 2 AS keep
             |FROM m""".stripMargin)),

    QueryDef(
      "t100_nb_classifier", // trained document classifier — the fastText /
                            // logistic-scorer stage of a data pipeline
                            // (GPT-3's WebText quality model, CCNet's LM
                            // filter) expressed as multinomial Naive Bayes
                            // with Laplace smoothing: TRAIN on the even
                            // half of the corpus (per-language word counts
                            // + priors), SCORE the odd half, predict
                            // argmax. Scale shape: the model is
                            // vocab × |lang| — bounded — so both model
                            // frames broadcast; the corpus-sized work is
                            // one tokenize+groupBy per half. All
                            // log-probabilities are rounded to 6 dp and
                            // summed as DECIMAL(18,6) multiplied by exact
                            // integer occurrence counts, so the score —
                            // and therefore the argmax — is
                            // partition-order independent and engine-exact.
                            // 6 dp, not more: libm ln() implementations
                            // differ in the last ulp (~1e-13 abs here), so
                            // a per-term rounding grid must keep tie
                            // boundaries ~1e-7 away — measured: a 9-dp
                            // grid actually flipped one term between Spark
                            // and DuckDB at sf0.01. The score is then an
                            // exact multiple of 1e-6 and casts to the same
                            // double in both engines with no second round.
      (s, d) => nbPredictions(s, d),
      Some(s"""WITH $nbPredCtes
             |SELECT doc_id, lang, predicted, score, correct
             |FROM pred""".stripMargin)),

    QueryDef(
      "t107_nb_classify_join", // the NB SERVE twin's JOIN form, oracle-
                          // checked: t100 proves the batch classifier;
                          // this proves the driver-Map-free serving
                          // kernel (nbClassifyJoin — the likelihood
                          // table as a JOIN build side instead of a
                          // frozen k×|classes| driver map) produces the
                          // same argmax and the same EXACT micro-nat
                          // integer scores on the eval half. The oracle
                          // re-derives the micros in the DECIMAL domain
                          // (score × 1e6 is an exact integer before any
                          // double appears) plus the prior-only rows
                          // for zero-token docs the twin must still
                          // answer. Scale shape: tokens × |langs|
                          // contribution rows partial-aggregate
                          // map-side; the model frames are join build
                          // sides with no driver ceiling.
      (s, d) => {
        // Int.MaxValue = the UNCAPPED model — for the join form the cap
        // is pure overhead (its reason to exist is bounding the Map
        // twin's driver collect): skipping it drops the per-class
        // vocabulary sort window from the lik build, and the uncapped
        // table is exactly what the oracle derives at any scale.
        val (langStats, lik) = nbModelMicroFrames(s, d, Int.MaxValue)
        val eval = t(s, d, "documents")
          .filter(col("doc_id") % 2 === 1)
          .select("doc_id", "text")
        nbClassifyJoin(eval, langStats, lik)
      },
      Some(s"""WITH $nbPredCtes,
             |ntok AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_tokens
             |         FROM tw GROUP BY 1),
             |zt AS (SELECT doc_id FROM documents
             |       WHERE doc_id % 2 = 1
             |         AND doc_id NOT IN (SELECT doc_id FROM tw)),
             |scz AS (SELECT zt.doc_id, cls.clang,
             |               CAST(cls.prior AS DECIMAL(28,6)) AS score
             |        FROM zt CROSS JOIN cls),
             |scall AS (
             |  SELECT doc_id, clang, CAST(score AS DECIMAL(28,6)) AS score
             |  FROM sc
             |  UNION ALL SELECT * FROM scz),
             |best AS (
             |  SELECT doc_id, clang, score
             |  FROM (SELECT *, ROW_NUMBER() OVER (
             |          PARTITION BY doc_id
             |          ORDER BY score DESC, clang) AS rn
             |        FROM scall)
             |  WHERE rn = 1)
             |SELECT b.doc_id,
             |       COALESCE(n.n_tokens, 0) AS n_tokens,
             |       b.clang AS lang,
             |       CAST(b.score * 1000000 AS BIGINT) AS score_micro
             |FROM best b LEFT JOIN ntok n USING (doc_id)""".stripMargin)),

    QueryDef(
      "t104_confusion_matrix", // classifier EVALUATION artifact — the
                               // per-language confusion matrix + recall a
                               // model card publishes for t100's trained
                               // scorer: for every (actual, predicted)
                               // language pair, the doc count and the
                               // share of the actual language's test docs
                               // (recall on the diagonal, confusion mass
                               // off it). Routing a corpus by a skewed
                               // classifier silently starves the confused
                               // languages — this is the table that makes
                               // it visible. Scale shape: t100's scoring
                               // chain (vocab-bounded model broadcasts),
                               // then a |langs|²-bounded aggregate and a
                               // |langs|-row broadcast join for the
                               // totals; recall = exact integer division
                               // rounded at 6 dp.
      (s, d) => {
        val pred = nbPredictions(s, d)
          .select(col("lang"), col("predicted"))
        // ONE execution of the scoring chain (r14): `pred` used to feed
        // TWO aggregates with different column sets (totals without
        // `predicted`), so column pruning forked the whole NB train+score
        // pipeline into two executions (the q73/d96 mechanics). Deriving
        // n_actual as Σ_predicted n from the confusion counts is the same
        // exact integer, and the counts frame is |langs|²-bounded — the
        // cheapest possible materialization point.
        // CONFIRMED r14 by interleaved same-JVM A/B vs the two-consumer
        // baseline (min-of-7): counts-derived 1.365 s vs 1.619 s.
        val counts = Graft.cut(pred.groupBy("lang", "predicted")
          .agg(count(lit(1)).as("n")))
        val totals = counts.groupBy("lang").agg(sum(col("n")).as("n_actual"))
        counts.join(broadcast(totals), "lang")
          .select(col("lang"), col("predicted"), col("n"), col("n_actual"),
            round(col("n").cast("double") / col("n_actual").cast("double"),
              6).as("share"))
      },
      Some(s"""WITH $nbPredCtes
             |SELECT lang, predicted, n, n_actual,
             |       ROUND(CAST(n AS DOUBLE) / CAST(n_actual AS DOUBLE), 6)
             |         AS share
             |FROM (SELECT lang, predicted, CAST(COUNT(*) AS BIGINT) AS n
             |      FROM pred GROUP BY 1, 2) c
             |JOIN (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_actual
             |      FROM pred GROUP BY 1) t USING (lang)""".stripMargin)),

    QueryDef(
      "t101_source_scorecard", // the per-SOURCE governance scorecard — the
                               // one-page table a corpus release reviews
                               // before setting mixture weights: per
                               // source, volume (docs, tokens, languages),
                               // quality (Gopher rule pass rate on exactly
                               // t99's gates, code-document rate on
                               // exactly t96's rule) and redundancy
                               // (exact-dup surplus via the d80 md5 key).
                               // A reconciliation spec pins the rates to
                               // the t99/t96 per-doc outputs, so the
                               // scorecard can never drift from the
                               // operators it summarizes. Scale shape: ONE
                               // corpus scan; every per-doc signal is
                               // map-side expression work; the two
                               // count-distincts (lang, md5) plan through
                               // Catalyst's Expand, whose partial
                               // aggregation collapses to distinct
                               // (source, lang) / (source, h) combos
                               // map-side — the exchange carries ~one row
                               // per distinct doc text, the same
                               // unavoidable volume as d80's exact-dedup
                               // shuffle, NOT 3× the corpus. Sources are
                               // few, but the partial agg means the
                               // per-source reduce sees pre-collapsed
                               // rows, not a skewed raw stream.
      (s, d) => {
        val perDoc = scorecardSignals(t(s, d, "documents"))
        perDoc.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("lang")).as("n_langs"),
            sum(col("n_tokens")).cast("long").as("n_tokens"),
            round(sum(col("n_tokens")).cast("double") /
              count(lit(1)).cast("double"), 6).as("mean_doc_tokens"),
            round(sum(when(col("keep"), 1L).otherwise(0L)).cast("double") /
              count(lit(1)).cast("double"), 6).as("gopher_rate"),
            round(sum(when(col("is_code"), 1L).otherwise(0L))
              .cast("double") /
              count(lit(1)).cast("double"), 6).as("code_rate"),
            (count(lit(1)) - countDistinct(col("h"))).cast("long")
              .as("dup_surplus"))
      },
      Some("""WITH tk AS (
             |  SELECT source, lang, md5(text) AS h,
             |         list_filter(regexp_split_to_array(trim(text), '\s+'),
             |                     x -> x != '') AS toks,
             |         list_filter(string_split(text, chr(10)),
             |                     l -> length(trim(l)) > 0) AS lines
             |  FROM documents),
             |m AS (
             |  SELECT source, lang, h,
             |         CAST(len(toks) AS INT) AS n_tokens,
             |         CASE WHEN len(toks) = 0 THEN NULL
             |              ELSE ROUND(CAST(list_sum(list_transform(toks,
             |                     x -> len(x))) AS DOUBLE) /
             |                   CAST(len(toks) AS DOUBLE), 6) END
             |           AS mean_word_chars,
             |         CASE WHEN len(toks) = 0 THEN NULL
             |              ELSE ROUND(CAST(len(list_filter(toks,
             |                     x -> regexp_matches(x, '[A-Za-z]')))
             |                     AS DOUBLE) /
             |                   CAST(len(toks) AS DOUBLE), 6) END
             |           AS frac_alpha,
             |         CAST(len(list_filter(toks, x -> list_contains(
             |             ['the','and','of','to','a','in','is'], x)))
             |           AS INT) AS stop_hits,
             |         COALESCE(CAST(len(list_filter(lines, l ->
             |             length(regexp_replace(l, '[^;{}()=\[\]<>]', '',
             |                                   'g')) * 4 >= length(l)))
             |             AS DOUBLE) >
             |           CAST(len(lines) AS DOUBLE) * 0.3, FALSE)
             |           AS is_code
             |  FROM tk),
             |v AS (
             |  SELECT *, (n_tokens BETWEEN 10 AND 100000)
             |        AND COALESCE(mean_word_chars BETWEEN 2.0 AND 12.0,
             |                     FALSE)
             |        AND COALESCE(frac_alpha >= 0.6, FALSE)
             |        AND stop_hits >= 2 AS keep
             |  FROM m)
             |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
             |       ROUND(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 6)
             |         AS mean_doc_tokens,
             |       ROUND(CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END)
             |             AS DOUBLE) / COUNT(*), 6) AS gopher_rate,
             |       ROUND(CAST(SUM(CASE WHEN is_code THEN 1 ELSE 0 END)
             |             AS DOUBLE) / COUNT(*), 6) AS code_rate,
             |       CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT)
             |         AS dup_surplus
             |FROM v GROUP BY source""".stripMargin)),

    QueryDef(
      "t102_perplexity_buckets", // CCNet-style perplexity bucketing: each
                                 // document lands in the head / middle /
                                 // tail THIRD of its own LANGUAGE's
                                 // surprisal distribution (Wenzek et al.,
                                 // CCNet — the split used to stratify
                                 // Common Crawl by LM quality before
                                 // sampling). Composes t82's unigram
                                 // surprisal with per-language tercile
                                 // edges computed DISTRIBUTED: the edges
                                 // come from a (lang, surprisal) VALUE
                                 // HISTOGRAM — one partial-agg exchange —
                                 // with a running count per language and
                                 // the edge as MIN(value | 3·cum ≥ k·n),
                                 // all exact integer comparisons (no
                                 // float division can flip a boundary
                                 // doc). The per-lang window runs over
                                 // the HISTOGRAM (distinct 6-dp surprisal
                                 // values), never documents — the q72
                                 // lesson applied: a per-doc NTILE would
                                 // funnel each language through one task;
                                 // the value grid is bounded (~10⁷ rows
                                 // per language worst case) regardless of
                                 // corpus size. Edges (|langs| rows)
                                 // broadcast back; bucketing is by VALUE,
                                 // so equal-surprisal docs share a bucket
                                 // deterministically in both engines.
      (s, d) => {
        val (sl, edges) = perplexityParts(s, d)
        sl.join(broadcast(edges), "lang")
          .select(col("doc_id"), col("lang"), col("surprisal"),
            tercileBucket(col("surprisal"), col("e1"), col("e2"))
              .as("bucket"))
      },
      Some("""WITH terms AS (
             |  SELECT doc_id, unnest(list_filter(
             |           regexp_split_to_array(trim(lower(text)), '\s+'),
             |           x -> x != '')) AS term
             |  FROM documents),
             |vocab AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
             |          FROM terms GROUP BY term),
             |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab),
             |surp AS (
             |  SELECT doc_id,
             |         ROUND(-(CAST(SUM(lq) AS DOUBLE) /
             |                 (COUNT(*) * 1000000)), 6) AS surprisal
             |  FROM (SELECT t.doc_id,
             |          CAST(ROUND(LN(CAST(v.cnt AS DOUBLE) / tot.total)
             |               * 1000000) AS BIGINT) AS lq
             |        FROM terms t JOIN vocab v ON t.term = v.term
             |        CROSS JOIN tot)
             |  GROUP BY doc_id),
             |sl AS (SELECT s.doc_id, d.lang, s.surprisal
             |       FROM surp s JOIN documents d USING (doc_id)),
             |hist AS (SELECT lang, surprisal, CAST(COUNT(*) AS BIGINT) AS c
             |         FROM sl GROUP BY 1, 2),
             |cum AS (SELECT lang, surprisal,
             |               SUM(c) OVER (PARTITION BY lang
             |                 ORDER BY surprisal
             |                 ROWS BETWEEN UNBOUNDED PRECEDING
             |                 AND CURRENT ROW) AS cum
             |        FROM hist),
             |nl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
             |       FROM sl GROUP BY 1),
             |edges AS (
             |  SELECT c.lang,
             |         MIN(CASE WHEN c.cum * 3 >= n.n
             |                  THEN c.surprisal END) AS e1,
             |         MIN(CASE WHEN c.cum * 3 >= n.n * 2
             |                  THEN c.surprisal END) AS e2
             |  FROM cum c JOIN nl n USING (lang) GROUP BY c.lang)
             |SELECT sl.doc_id, sl.lang, sl.surprisal,
             |       CASE WHEN sl.surprisal <= e.e1 THEN 'head'
             |            WHEN sl.surprisal <= e.e2 THEN 'middle'
             |            ELSE 'tail' END AS bucket
             |FROM sl JOIN edges e USING (lang)""".stripMargin)),

    QueryDef(
      "t103_token_fertility", // tokenizer FERTILITY by language — the
                              // multilingual-equity metric every tokenizer
                              // report publishes (tokens per word, and
                              // symbols per char as compression): a
                              // tokenizer trained on skewed data splits
                              // under-represented languages into more
                              // pieces, inflating their training cost and
                              // shrinking their effective context window.
                              // Applies t93's learned merge table (the
                              // t94 kernel — three 1-row broadcasts,
                              // replace-chain in merge order = greedy
                              // BPE) and aggregates per LANGUAGE instead
                              // of per document. Scale shape: scan + map
                              // against the broadcast merges, then one
                              // |langs|-bounded partial-agg exchange;
                              // integer sums make every ratio
                              // engine-exact. NULL ratios for a language
                              // with zero alpha words (the shared
                              // NULL-on-zero rule).
      (s, d) => {
        val (t1, t2, t3) = bpeMergeTables(s, d)
        val docs = t(s, d, "documents")
          .select(col("lang"), alphaWords(col("text")).as("ws"))
        docs
          .crossJoin(broadcast(t1.select(col("pr").as("p1"))))
          .crossJoin(broadcast(t2.select(col("pr").as("p2"))))
          .crossJoin(broadcast(t3.select(col("pr").as("p3"))))
          .select(col("lang"),
            size(col("ws")).cast("long").as("nw"),
            bpeChars(col("ws")).as("nc"),
            bpeSyms(col("ws"), Seq(col("p1"), col("p2"), col("p3")))
              .as("ns"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("nw")).as("n_words"),
            sum(col("nc")).as("n_chars"),
            sum(col("ns")).as("n_tokens"),
            round(when(sum(col("nw")) === 0, lit(null))
              .otherwise(sum(col("ns")).cast("double") /
                sum(col("nw")).cast("double")), 6).as("fertility"),
            round(when(sum(col("nc")) === 0, lit(null))
              .otherwise(sum(col("ns")).cast("double") /
                sum(col("nc")).cast("double")), 6).as("compression"))
      },
      Some(s"""WITH $bpeCtes,
             |docs AS (
             |  SELECT lang, regexp_extract_all(lower(text), '[a-z]+') AS ws
             |  FROM documents),
             |app AS (
             |  SELECT lang, CAST(len(ws) AS BIGINT) AS nw,
             |         COALESCE(CAST(list_sum(list_transform(ws,
             |             w -> length(w))) AS BIGINT), 0) AS nc,
             |         COALESCE(CAST(list_sum(list_transform(ws,
             |             w -> length(replace(replace(replace(w,
             |                    p1, '0'), p2, '1'), p3, '2'))))
             |           AS BIGINT), 0) AS ns
             |  FROM docs
             |  CROSS JOIN (SELECT pr AS p1 FROM t1)
             |  CROSS JOIN (SELECT pr AS p2 FROM t2)
             |  CROSS JOIN (SELECT pr AS p3 FROM t3))
             |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |       CAST(SUM(nw) AS BIGINT) AS n_words,
             |       CAST(SUM(nc) AS BIGINT) AS n_chars,
             |       CAST(SUM(ns) AS BIGINT) AS n_tokens,
             |       CASE WHEN SUM(nw) = 0 THEN NULL
             |            ELSE ROUND(CAST(SUM(ns) AS DOUBLE) /
             |                       CAST(SUM(nw) AS DOUBLE), 6) END
             |         AS fertility,
             |       CASE WHEN SUM(nc) = 0 THEN NULL
             |            ELSE ROUND(CAST(SUM(ns) AS DOUBLE) /
             |                       CAST(SUM(nc) AS DOUBLE), 6) END
             |         AS compression
             |FROM app GROUP BY lang""".stripMargin))
  )
}
