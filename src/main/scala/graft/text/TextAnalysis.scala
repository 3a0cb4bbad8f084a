package graft.text

import graft.Tier.PinOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (north-star scope —
  * SURVEY.md §7.2.8; no reference counterpart, the reference's only text
  * handling is typed XML ingest `YoutubeDataset_loader_final.py:16-53`).
  *
  * Everything here is Catalyst expressions over the `documents` table —
  * built-ins plus the native codegen'd [[graft.functions.Tokens]] behind
  * [[tokens]], no UDFs — so the whole stage stays inside whole-stage
  * codegen and runs map-side with zero shuffles: exactly what you want
  * when the input is 100 TB of raw text and the output feeds a tokenizer
  * fleet.
  */
object TextAnalysis {

  /** Whitespace tokens of lowercased text (empty tokens dropped, so leading/
    * trailing whitespace can't produce phantom tokens): the function
    * `filter(split(lower(text), "\\s+"), t -> t <> "")` as one native
    * expression ([[graft.functions.Tokens]]). */
  def tokens(text: Column): Column = graft.functions.Tokens.tokens(text)

  /** BPE-ish pre-tokenization: letter runs, digit runs, or single
    * non-alphanumeric marks — the usual byte-pair pre-split shape. */
  val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
  def bpeTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(BpePattern), lit(0))

  /** Per-document token statistics: whitespace count, BPE-ish count, mean
    * token length. Σ token lengths = count of non-whitespace characters
    * (tokens are exactly the non-whitespace runs), so the mean needs no
    * per-element array fold — the `aggregate` HOF form of that sum is
    * interpreted per token, this regex length is whole-stage codegen. */
  def tokenStats(documents: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    documents.select(
      col("doc_id"),
      size(t).cast("bigint").as("n_tokens"),
      size(bpeTokens(col("text"))).cast("bigint").as("n_bpe_tokens"),
      // lower() first: tokens are lowercased and case folding can change
      // string LENGTH (e.g. U+0130 lowers to two chars), so measuring the
      // raw text would diverge from the mean length of the reported tokens
      round(
        length(regexp_replace(lower(col("text")), "\\s", "")).cast("double") /
          greatest(size(t), lit(1)).cast("double"), 4).as("avg_token_len"))
      .orderBy(col("doc_id"))
  }

  /** Quality scoring via length / punctuation / stopword ratios — the
    * standard cheap pre-filter before expensive pipeline stages. All ratios
    * in [0,1]; score is a fixed linear blend, rounded for cross-engine
    * comparability. */
  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "to", "and", "in", "is", "it", "for", "on", "with")

  /** Count of tokens equal to any of `words`, as ONE codegen'd regex scan:
    * a token is a maximal non-whitespace run, so "token == w" is exactly
    * "w preceded by start-or-whitespace and followed by whitespace-or-end".
    * The trailing boundary is a lookahead so its whitespace is NOT consumed
    * and adjacent marker tokens ("the the") each still match. Replaces the
    * interpreted `size(filter(tokens, array_contains(...)))` HOF — one
    * lambda call per token per list, the same interpreted-expression class
    * the MinHash/winnowing rewrites eliminated (measured 3.6× on q_langid). */
  private def tokenMatchCount(txt: Column, words: Seq[String]): Column =
    regexp_count(txt, lit(words.map(java.util.regex.Pattern.quote)
      .mkString("(^|\\s)(", "|", ")(?=\\s|$)")))

  def qualityScores(documents: DataFrame): DataFrame = {
    val txt = lower(col("text"))
    val nChars = greatest(length(txt), lit(1)).cast("double")
    val nPunct = (length(txt) - length(regexp_replace(txt, "[^a-z0-9\\s]", ""))).cast("double")
    // token count as a regex scan too (maximal non-whitespace runs ==
    // the non-empty pieces of split-on-\s+) — keeps the whole projection
    // free of interpreted array lambdas
    val nTokens = greatest(regexp_count(txt, lit("\\S+")), lit(1)).cast("double")
    val nStop = tokenMatchCount(txt, Stopwords).cast("double")
    val lengthScore = least(nChars / lit(500.0), lit(1.0))
    val punctRatio = nPunct / nChars
    val stopRatio = nStop / nTokens
    documents.select(
      col("doc_id"),
      round(lengthScore, 4).as("length_score"),
      round(punctRatio, 4).as("punct_ratio"),
      round(stopRatio, 4).as("stopword_ratio"),
      // blend the ROUNDED components: 4-decimal inputs make the blend exact
      // at ≤5 decimals, so round(…,5) never sits on a half-ulp boundary —
      // blending full-precision ratios diverged cross-engine at sf0.1 (four
      // docs landed exactly on .5e-4 and the engines' rounding split). Also
      // makes the score recomputable from the published component columns.
      round(lit(0.5) * round(lengthScore, 4) + lit(0.3) * round(stopRatio, 4)
        + lit(0.2) * (lit(1.0) - round(punctRatio, 4)), 5)
        .as("quality_score"))
      .orderBy(col("doc_id"))
  }

  /** Language-ID n-gram/stopword heuristic: per-language marker-word hit
    * counts, argmax with a fixed language-order tiebreak, "und" when no
    * marker hits. Deterministic by construction — accuracy depends on the
    * marker lists, the operator contract is the scoring shape. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "to", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "es" -> Seq("el", "la", "de", "que", "los", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"),
    "zh" -> Seq("de5", "shi4", "bu4", "le5", "zai4", "ren2"))

  def languageId(documents: DataFrame): DataFrame = {
    val txt = lower(col("text"))
    // one codegen'd regex scan per language (see tokenMatchCount) — the HOF
    // form ran an interpreted lambda per token per language, 5 languages
    // wide, and was the engine's last interpreted hot path
    val scored = documents.select(
      (col("doc_id") +: LangMarkers.map { case (lang, markers) =>
        tokenMatchCount(txt, markers).as(s"score_$lang")
      }): _*)
    val best = LangMarkers.map(_._1).foldLeft(lit("und") -> lit(0)) {
      case ((bestLang, bestScore), lang) =>
        val s = col(s"score_$lang")
        (when(s > bestScore, lang).otherwise(bestLang),
          when(s > bestScore, s).otherwise(bestScore))
    }
    scored.select(col("doc_id"), best._1.as("lang_pred"),
        best._2.cast("bigint").as("lang_score"))
      .orderBy(col("doc_id"))
  }

  /** Corpus vocabulary: top-k tokens by total frequency with document
    * frequency alongside — the first artifact of tokenizer training.
    * Shape: explode → one partial+final hash aggregate on the term (the
    * count AND the distinct-doc count come from one grouped pass over
    * (doc_id, term) rows, not two corpus scans) → TakeOrdered(k). */
  def vocabulary(documents: DataFrame, k: Int = 100): DataFrame =
    documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
      .groupBy(col("term"))
      .agg(sum(col("tf")).as("freq"), count(lit(1)).as("doc_freq"))
      .orderBy(col("freq").desc, col("term"))
      .limit(k)

  /** Vocabulary coverage curve: for each candidate vocabulary size k, the
    * share of all corpus token OCCURRENCES covered by the top-k types —
    * the statistic tokenizer sizing reads off ("32k types cover 97%; the
    * next 96k buy 2 points"), and the OOV-rate complement for a fixed
    * vocab budget. Ranking is (freq desc, term asc) — the [[vocabulary]]
    * total order, so boundary ties are deterministic cross-engine.
    *
    * Scale shape: the corpus collapses to its vocabulary in one
    * map-combined aggregate; the running-sum window and the |ks|-sized
    * output run over vocab-cardinality rows only (the BPE-merge rule:
    * collapse to the vocab FIRST). Integer token counts; the one ratio
    * rounds at 4. */
  def vocabCoverage(documents: DataFrame,
                    ks: Seq[Int] = Seq(100, 1000, 10000)): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    val ord = Window.orderBy(col("freq").desc, col("term"))
    val vocab = documents
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
      .select(col("freq"), row_number().over(ord).as("rank"),
        sum(col("freq"))
          .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("cum"))
      .pinTier // consumed by the total and every k's coverage row
    val total = vocab.agg(max(col("cum")).as("n_tokens"))
    // a k past the vocabulary size still reports (it covers 100%): the
    // banded join takes the max cum at rank <= k, so the curve is total
    // where the vocabulary runs out instead of silently dropping the row
    val ksDf = ks.map(_.toLong).toDF("vocab_k")
    vocab.join(broadcast(ksDf), col("rank") <= col("vocab_k"))
      .groupBy(col("vocab_k"))
      .agg(max(col("cum")).as("n_covered"))
      .crossJoin(broadcast(total))
      .select(col("vocab_k"), col("n_covered"), col("n_tokens"),
        round(col("n_covered") / col("n_tokens"), 4).as("coverage"))
      .orderBy(col("vocab_k"))
  }

  /** Gini coefficient of the vocabulary frequency distribution — the
    * inequality one-rower next to [[zipfFit]] (shape) and
    * [[vocabCoverage]] (budget): 0 = every type equally frequent,
    * →1 = occurrence mass concentrated in a few types. Computed by the
    * rank formula over ascending-sorted frequencies,
    * G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n — every sum an EXACT integer
    * (decimal(38,0) — rank×freq overflows int64 at corpus scale), so the
    * one double expression at the end runs on identical operands in
    * identical order both engines. Same vocab-tier window caveat as
    * vocabCoverage: the global rank sorts vocab-cardinality rows, never
    * the corpus. */
  def vocabGini(documents: DataFrame): DataFrame = {
    val ord = Window.orderBy(col("freq").asc, col("term").asc)
    val ranked = documents
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
      .select(col("freq").cast("decimal(38,0)").as("x"),
        row_number().over(ord).cast("decimal(38,0)").as("i"))
    ranked
      .agg(count(lit(1)).as("n_types"),
        sum(col("x")).as("s1"), sum(col("i") * col("x")).as("s2"))
      .select(col("n_types"), col("s1").cast("bigint").as("total_tokens"),
        round(lit(2.0) * col("s2").cast("double")
            / (col("n_types").cast("double") * col("s1").cast("double"))
          - (col("n_types") + 1).cast("double") / col("n_types").cast("double"),
          4).as("gini"))
  }

  /** Sketch-based heavy-hitters twin of [[vocabulary]] — the 100 TB form.
    * The exact pass shuffles every distinct term corpus-wide; at scale the
    * memory-bounded shape is (a) ONE count-min-sketch aggregate over the
    * token stream — partial sketches merge map-side, and what crosses the
    * wire is a few KB per partition regardless of corpus size — plus (b) a
    * candidate set from a deterministic mod-sample of documents (a true
    * heavy hitter appears in any constant-fraction sample with
    * overwhelming probability). Estimates are CMS point queries: never
    * below the true count, above by ≤ eps·N with prob ≥ confidence.
    *
    * The candidate set is bounded BEFORE it reaches the driver: document
    * sampling alone does not bound distinct terms (Heaps' law — a 10%
    * sample of a 100 TB corpus still holds tens of millions of terms), so
    * the sample is first reduced by a distributed grouped count and only
    * the top `candidateFactor`·k terms by sample frequency are collected
    * — a TakeOrdered of O(k) strings, not the sample vocabulary. A true
    * top-k heavy hitter's sample count concentrates near freq/sampleMod
    * (Chernoff), so it survives the cut with overwhelming probability.
    * The driver touches only the merged sketch and that O(k) candidate
    * list (the IVF-centroid pattern) — the corpus never funnels through
    * one node. Seeded hashing → deterministic but engine-specific
    * (rows-only gate; properties pinned in TextAnalysisSpec). */
  def vocabularyApprox(documents: DataFrame, k: Int = 100,
                       eps: Double = 0.0001, confidence: Double = 0.99,
                       seed: Int = 42, sampleMod: Int = 10,
                       candidateFactor: Int = 8): DataFrame = {
    val toks = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val sketch = toks.stat.countMinSketch("term", eps, confidence, seed)
    val candidates = toks
      .filter(pmod(col("doc_id"), lit(sampleMod)) === 0)
      .groupBy(col("term")).agg(count(lit(1)).as("sample_freq"))
      .orderBy(col("sample_freq").desc, col("term"))
      .limit(math.min(Int.MaxValue.toLong, candidateFactor.toLong * k).toInt)
      .select(col("term"))
      .collect().map(_.getString(0))
    val sp = documents.sparkSession
    import sp.implicits._
    candidates.toSeq
      .map(t => (t, sketch.estimateCount(t)))
      .toDF("term", "est_freq")
      .orderBy(col("est_freq").desc, col("term"))
      .limit(k)
  }

  /** Driver-gated promise audit for [[vocabularyApprox]] — count-min
    * point estimates are seeded-hash-specific, so the gate emits the
    * sketch's portable contract instead of the raw estimates (which stay
    * pinned in TextAnalysisSpec):
    *   - `n_terms`: the exact distinct-term count of the corpus, which the
    *     oracle recomputes independently (same tokenization as the
    *     oracle-green q_vocab);
    *   - `undercount_ok`: CMS point estimates NEVER undercount — the
    *     sketch's hard guarantee, checked for every emitted candidate
    *     against the exact frequency;
    *   - `topk_overlap_ok`: the sampled-candidate + estimate ranking
    *     recovers ≥ `minOverlap` of the true top `topk` terms (heavy
    *     hitters are exactly what survives sampling). */
  def vocabularyApproxAudit(documents: DataFrame, k: Int = 100,
                            topk: Int = 20,
                            minOverlap: Double = 0.8): DataFrame = {
    val approx = vocabularyApprox(documents, k).pinTier
    val exact = vocabulary(documents, Int.MaxValue).pinTier
    // the audit compares a k-sized candidate list against the CORPUS-scale
    // exact vocabulary: semi-prune the big side by the broadcast candidate
    // terms (map-side, ≤k survivors), then broadcast the survivors back —
    // the exact tier never shuffles for this join
    val exactSlim = exact.select(col("term"), col("freq"))
      .join(broadcast(approx.select(col("term"))), Seq("term"), "leftsemi")
    val under = approx
      .join(broadcast(exactSlim), Seq("term"), "left")
      .agg(count(when(col("est_freq") < coalesce(col("freq"), lit(0L)), 1))
        .as("n_under"))
    val exactTop = exact.orderBy(col("freq").desc, col("term")).limit(topk)
      .select(col("term"))
    val overlap = approx.orderBy(col("est_freq").desc, col("term")).limit(topk)
      .select(col("term"))
      .join(broadcast(exactTop), Seq("term"), "leftsemi")
      .agg(count(lit(1)).as("n_overlap"))
    exact.agg(count(lit(1)).as("n_terms"))
      .crossJoin(under).crossJoin(overlap)
      .select(lit("vocab_cms").as("method"), col("n_terms"),
        (col("n_under") === 0).as("undercount_ok"),
        (col("n_overlap").cast("double") / lit(topk.toDouble) >= lit(minOverlap))
          .as("topk_overlap_ok"))
  }

  /** Top terms per document by TF-IDF (ln(N/df) variant). Two grouped
    * aggregates + a WindowGroupLimit-rankable per-doc top-k; the document
    * count joins in as a one-row broadcast, never a driver-side constant
    * (the plan stays a single lazy DAG). Ranking uses the ROUNDED score
    * (then the term) so cross-engine libm drift below 1e-4 cannot flip
    * ranks: ties at equal rounded score are broken lexicographically in
    * both engines. */
  def topTermsTfIdf(documents: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = documents.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(df, Seq("term"))
      .join(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("term"), col("tfidf"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** Unigram surprisal — the cheap perplexity-filter analogue: score every
    * document by the mean negative log-probability of its tokens under the
    * corpus's own unigram distribution. Gibberish and boilerplate-free rare
    * text scores HIGH (surprising tokens), TEMPLATE/boilerplate text scores
    * LOW — the standard second-tier quality signal after the ratio
    * heuristics, without shipping a language model.
    *
    * Two grouped aggregates over exploded tokens (corpus term frequencies,
    * then per-doc means) + one broadcast of the single-row total. Every
    * token is in-vocabulary by construction (frequencies come from the same
    * corpus), so no OOV smoothing term is needed. Determinism for the
    * cross-engine hash: each token's surprisal is rounded to 6 decimals and
    * summed as an exact DECIMAL — partial-aggregation order can't move the
    * result (the [[graft.ops.Aggregations.dsum]] rule applied to logs). */
  def unigramSurprisal(documents: DataFrame): DataFrame = {
    val toks = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    // pinned: both the total and the scoring join read the term table,
    // and each unpinned read re-ran tokenize → explode → aggregate over
    // the corpus (r16; vocab-sized, so the pin is cheap)
    val tf = toks.groupBy(col("term")).agg(count(lit(1)).as("freq")).pinTier
    val total = tf.agg(sum(col("freq")).as("n_total"))
    toks
      .join(tf, Seq("term"))
      .join(broadcast(total))
      .select(col("doc_id"),
        round(-log(col("freq").cast("double") / col("n_total").cast("double")), 6)
          .cast("decimal(28,10)").as("lp"))
      .groupBy(col("doc_id"))
      // cast the exact decimal sum to double BEFORE dividing: decimal
      // division scale rules differ per engine, double division does not.
      // The final 4-dp cut is floor(x·10⁴ + 0.5)/10⁴, NOT round(): on a
      // half-boundary double (sf1 hit mean = 4.00095 exactly) Spark's
      // round half-ups the decimal STRING repr (→ 4.0010) while DuckDB
      // rounds the binary value (→ 4.0009); the floor form is the same
      // IEEE ops on both engines, so identical inputs give identical
      // outputs by construction.
      .agg(count(lit(1)).as("n_tokens"),
        (floor(sum(col("lp")).cast("double") / count(lit(1)) * 10000 + 0.5)
          / lit(10000.0)).as("mean_surprisal"))
      .orderBy(col("doc_id"))
  }

  /** Context-window chunking — split every document into fixed
    * token-count windows, the training-sequence packing primitive (a
    * tokenizer fleet consumes chunks, not documents). One posexplode + one
    * grouped aggregate on (doc_id, chunk_id = pos div k): map-side until
    * the per-chunk aggregate, one shuffle, chunk count = ⌈tokens/k⌉ per
    * doc, zero-token documents yield zero chunks. The chunk text is
    * reassembled order-exactly via sort_array over (pos, token) structs —
    * collect_list alone is partition-order-dependent; the closing
    * `transform` lambda runs once per ≤k-element output row (boundary
    * projection, same class as the verify-facing csv() casts — the heavy
    * work upstream stays codegen'd). Emitted as a 16-hex md5 fingerprint
    * per chunk so the result is compact and oracle-comparable. */
  def chunkDocuments(documents: DataFrame, chunkTokens: Int = 32): DataFrame =
    documents
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .withColumnsRenamed(Map("col" -> "tok"))
      .withColumn("chunk_id", floor(col("pos") / lit(chunkTokens)).cast("bigint"))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sort_array(collect_list(struct(col("pos"), col("tok")))).as("ordered"))
      .select(col("doc_id"), col("chunk_id"), col("n_tokens"),
        substring(md5(concat_ws(" ", transform(col("ordered"), x => x.getField("tok")))), 1, 16)
          .as("chunk_fp"))
      .orderBy(col("doc_id"), col("chunk_id"))

  /** Cross-document sequence packing — the concat-then-split packing index:
    * lay every document's tokens end to end in doc_id order and cut the
    * stream into fixed `contextTokens` windows, so short documents share a
    * training sequence and long ones span several (documents DO cross
    * sequence boundaries — the standard pretraining packing, zero padding
    * waste except the final window). Emits one row per (sequence, document
    * slice): which token range of which document lands where in which
    * sequence — the index a tokenizer fleet executes without this job ever
    * materializing the token stream itself.
    *
    * The only global state is the running token offset. Computed as a
    * two-level prefix sum so no stage ever sees a single-partition window:
    * docs are bucketed by doc_id range, a per-bucket window produces local
    * prefixes in parallel, and the bucket totals — `buckets` rows, however
    * big the corpus — take the one tiny ordered window before broadcasting
    * back as offsets. Offsets stay exact in Long; the floor-division casts
    * are exact below 2^53 tokens (a 100 TB corpus is ~2·10^13). */
  def packDocuments(documents: DataFrame, contextTokens: Int = 64,
                    buckets: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // pinned: three consumers (the max-id action, the local prefix window,
    // the bucket totals) — unpinned, the tokenize pass would run 3× over
    // the corpus; pinned, it runs once and 16 bytes/doc are retained
    val lens = documents
      .select(col("doc_id"), size(tokens(col("text"))).cast("bigint").as("n"))
      .filter(col("n") > 0)
      .pinTier
    // span of the doc_id range per bucket; one 1-row action (same class as
    // the fixpoint-stats head), null-safe for an empty corpus
    val maxId = Option(lens.agg(max(col("doc_id"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val span = math.max(1L, maxId / buckets + 1)
    val bucketed = lens.withColumn("bucket", (col("doc_id") / span).cast("bigint"))
    val wLocal = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixed = bucketed
      .withColumn("local_off", coalesce(sum(col("n")).over(wLocal), lit(0L)))
    // ≤ `buckets` rows: the ordered no-partition window is bounded by
    // construction, like the k-row rank numberings elsewhere
    val wBucket = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy(col("bucket")).agg(sum(col("n")).as("bn"))
      .withColumn("boff", coalesce(sum(col("bn")).over(wBucket), lit(0L)))
      .select(col("bucket"), col("boff"))
    val c = lit(contextTokens.toLong)
    prefixed
      .join(broadcast(offsets), Seq("bucket"))
      .withColumn("o", col("boff") + col("local_off"))
      .withColumn("seq_id", explode(sequence(
        floor(col("o") / c).cast("bigint"),
        floor((col("o") + col("n") - 1) / c).cast("bigint"))))
      .select(col("seq_id"), col("doc_id"),
        (greatest(col("o"), col("seq_id") * c) - col("o")).as("doc_from"),
        (greatest(col("o"), col("seq_id") * c) - col("seq_id") * c).as("seq_from"),
        (least(col("o") + col("n"), (col("seq_id") + 1) * c)
          - greatest(col("o"), col("seq_id") * c)).as("n_tokens"))
      .orderBy(col("seq_id"), col("doc_id"))
  }

  /** Deterministic pseudo-lines: the token stream cut into `lineTokens`-token
    * lines, emitted as `(doc_id, line_no, line)`. The corpus fixture carries
    * no newlines, so line-granular operators (the C4 cascade's real input
    * shape, [[graft.dedup.Dedup.boilerplateRemoval]]) derive their line tier
    * here; on a real crawl the same operators consume `split(text, '\n')`
    * directly. Same reassembly discipline as [[chunkDocuments]]: sort_array
    * over (pos, token) structs — collect_list alone is
    * partition-order-dependent. */
  def linesFromTokens(documents: DataFrame, lineTokens: Int = 10): DataFrame =
    documents
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .withColumnsRenamed(Map("col" -> "tok"))
      .withColumn("line_no", floor(col("pos") / lit(lineTokens)).cast("bigint"))
      .groupBy(col("doc_id"), col("line_no"))
      .agg(sort_array(collect_list(struct(col("pos"), col("tok")))).as("ordered"))
      .select(col("doc_id"), col("line_no"),
        concat_ws(" ", transform(col("ordered"), x => x.getField("tok"))).as("line"))

  /** Content fingerprint: 64-bit hex from the md5 of whitespace-normalized
    * text — the cheap exact-identity key for dedup joins (md5 exists in both
    * engines, so this one is oracle-checkable, unlike xxhash64). */
  def fingerprint(text: Column): Column =
    substring(md5(concat_ws(" ", tokens(text))), 1, 16)

  def fingerprints(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  /** Winnowing document fingerprint (rolling-hash selection): hash every
    * k-shingle, slide a window of w hashes, keep each window's minimum —
    * the classic local fingerprinting scheme for near-dup detection that is
    * robust to insertions. Pure array expressions, map-side. Uses xxhash64
    * (not in DuckDB) → invariant-tested, rows-only at the oracle gate. */
  /** Row form: one (doc_id, fp) row per distinct selected fingerprint.
    * Shingles come from window `lead` over posexploded tokens and the
    * per-window minimum from a sliding ROWS frame — both codegen'd. The
    * array-HOF formulation of this op was catastrophically slow: nested
    * lambdas re-evaluate their inner arrays per element (interpreted), and
    * CollapseProject undoes any attempt to stage the arrays as separate
    * projections — measured ~900 s at sf0.1 vs ~2 s for this form. */
  def winnowFingerprintRows(documents: DataFrame, k: Int = 4, w: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wlead = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val leads = (1 until k).map(i => lead(col("tok"), i).over(wlead))
    val shingled = documents
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n"), posexplode(col("toks")))
      .withColumnsRenamed(Map("col" -> "tok"))
      .select(col("doc_id"), col("n"), col("pos"),
        // poly_hash (r10): the oracle-replicable base hash — graduates the
        // winnow gates to full DuckDB recomputes (the MinHash precedent);
        // winnowing only needs an order-preserving-free deterministic value
        graft.functions.PolyHash.poly_hash(
          concat_ws(" ", (col("tok") +: leads): _*)).as("sh"))
      .filter(col("pos") <= greatest(col("n") - k, lit(0)))
    val wmin = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(0, w - 1)
    shingled
      .withColumn("fp", min(col("sh")).over(wmin))
      // valid window starts: shingleCount − w (the frame at the last valid
      // start still spans w rows; a shorter-than-w doc keeps start 0 whose
      // frame naturally truncates — matching slice semantics)
      .filter(col("pos") <= greatest(col("n") - (k - 1) - w, lit(0)))
      .select(col("doc_id"), col("fp"))
      .distinct()
  }

  def winnowFingerprints(documents: DataFrame, k: Int = 4, w: Int = 5): DataFrame =
    winnowFingerprintRows(documents, k, w)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("fp"))).as("winnow_fp"))
      .orderBy(col("doc_id"))

  /** Within-document repetition (the Gopher-rules quality signal): the
    * fraction of duplicate tokens and duplicate k-shingles inside each doc.
    * Heavily repetitive text (boilerplate, generated spam) scores high and
    * gets filtered before training. Row form — posexplode_outer (so empty
    * docs still report, with zero ratios) + window `lead` shingling +
    * count/count_distinct hash aggregates; only full k-shingles count.
    * Map-side until the per-doc aggregate; one shuffle on doc_id. */
  /** Zipf power-law fit of the vocabulary — the corpus-health diagnostic
    * (natural language sits near freq ∝ rank^(-α) with α ≈ 1; α far off or
    * a poor fit flags template/boilerplate/generated corpora): ordinary
    * least squares on the log-log rank/frequency curve via the SQL
    * regression aggregates (`regr_slope`/`regr_r2` — portable, so the
    * DuckDB oracle recomputes the fit itself, not just the inputs).
    * Output: one row `(n_vocab, alpha, r2)`.
    *
    * Scale shape: one token scan + one hash aggregate to the
    * vocabulary-sized count table (Zipf-bounded, not corpus-bounded), a
    * single-partition rank window over that table, one regression
    * aggregate. */
  def zipfFit(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val uni = documents.select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
    val ranked = uni.withColumn("rank",
      row_number().over(Window.orderBy(col("c").desc, col("word"))))
    ranked.agg(count(lit(1)).as("n_vocab"),
      round(expr("-regr_slope(ln(c), ln(rank))"), 4).as("alpha"),
      round(expr("regr_r2(ln(c), ln(rank))"), 4).as("r2"))
  }

  /** Top-k collocations by pointwise mutual information — the standard
    * corpus-analytics extraction of non-compositional phrases ("new york",
    * "machine learning") from adjacent-token bigrams:
    * PMI(x,y) = ln( P(x,y) / (P(x)·P(y)) ) with P(x,y) = c_xy / B over
    * bigram occurrences and P(x) = c_x / T over token occurrences; a
    * `minCount` support floor suppresses the rare-pair PMI explosion (the
    * classic failure mode: hapax pairs max out PMI).
    *
    * Scale shape: one doc-window pass for bigrams (the shingle idiom), two
    * hash aggregates (bigram counts, unigram counts), two broadcast joins
    * of the unigram table (vocabulary-sized, Zipf-bounded), one-row totals
    * broadcast, TakeOrdered for the top-k. Output orders by ROUNDED pmi
    * then the pair, so the cross-engine compare is tie-stable. */
  def collocations(documents: DataFrame, minCount: Long = 5, k: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val toks = documents
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), posexplode(col("toks")))
      .withColumnsRenamed(Map("col" -> "w1"))
      .withColumn("w2", lead(col("w1"), 1).over(w))
      .pinTier // unigram and bigram counts both read it
    val uni = toks.groupBy(col("w1").as("word"))
      .agg(count(lit(1)).as("c")).pinTier
    val totals = uni.agg(sum(col("c")).cast("double").as("t"))
    val bi = toks.filter(col("w2").isNotNull)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    val biTotal = toks.filter(col("w2").isNotNull)
      .agg(count(lit(1)).cast("double").as("b"))
    bi.join(broadcast(uni.select(col("word").as("w1"), col("c").as("c1"))), Seq("w1"))
      .join(broadcast(uni.select(col("word").as("w2"), col("c").as("c2"))), Seq("w2"))
      .crossJoin(broadcast(totals)).crossJoin(broadcast(biTotal))
      .select(col("w1"), col("w2"), col("n_pair"),
        round(log((col("n_pair") / col("b")) /
          ((col("c1") / col("t")) * (col("c2") / col("t")))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  def repetitionStats(documents: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val leads = (1 until k).map(i => lead(col("tok"), i).over(w))
    documents
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n"), posexplode_outer(col("toks")))
      .withColumnsRenamed(Map("col" -> "tok"))
      .withColumn("shingle", // null past the last full-shingle start (and for empty docs)
        when(col("pos") <= col("n") - k, concat_ws(" ", (col("tok") +: leads): _*)))
      .groupBy(col("doc_id"))
      .agg(
        count(col("tok")).as("n_tokens"),
        countDistinct(col("tok")).as("n_distinct_tokens"),
        count(col("shingle")).as("n_shingles"),
        countDistinct(col("shingle")).as("n_distinct_shingles"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        round(when(col("n_tokens") === 0, 0.0)
          .otherwise(lit(1.0) - col("n_distinct_tokens").cast("double") /
            col("n_tokens").cast("double")), 4).as("dup_token_ratio"),
        col("n_shingles"),
        round(when(col("n_shingles") === 0, 0.0)
          .otherwise(lit(1.0) - col("n_distinct_shingles").cast("double") /
            col("n_shingles").cast("double")), 4).as("dup_shingle_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Per-source curation report — the domain-level dashboard behind
    * blocklist/keep decisions in corpus curation: for every source, doc
    * count, mean quality, mean length, exact-dup rate (share of docs whose
    * content fingerprint repeats ANYWHERE in the corpus — cross-source
    * copies count against both sources) and the keep rate under the
    * quality threshold. Two shuffles total at any corpus size: a window
    * count over the 16-byte fingerprint (no join-back — the window's
    * exchange IS the dup lookup) and the per-source aggregate; quality and
    * fingerprints are map-side. Mean quality follows the dsum rule: the
    * 5-decimal scores sum exactly as decimals, so partial-aggregation
    * order can't move the reported mean. */
  def sourceReport(documents: DataFrame, qualityThreshold: Double = 0.3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = documents.select(
      col("doc_id"), col("source"),
      fingerprint(col("text")).as("fp"),
      size(tokens(col("text"))).cast("bigint").as("n_tokens"))
      .withColumn("n_fp", count(lit(1)).over(Window.partitionBy(col("fp"))))
    base
      .join(qualityScores(documents).select(col("doc_id"), col("quality_score")),
        Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(sum(col("quality_score").cast("decimal(18,6)")).cast("double")
          / count(lit(1)), 4).as("mean_quality"),
        round(sum(col("n_tokens")).cast("double") / count(lit(1)), 4).as("mean_tokens"),
        round(sum((col("n_fp") > 1).cast("long")).cast("double")
          / count(lit(1)), 4).as("dup_rate"),
        round(sum((col("quality_score") >= qualityThreshold).cast("long")).cast("double")
          / count(lit(1)), 4).as("keep_rate"))
      .orderBy(col("source"))
  }

  /** PII / URL scrubbing — the standard pre-training redaction pass. Both
    * patterns are dialect-portable (plain character classes, no lookarounds)
    * so the oracle runs the identical regexes. Map-side, no shuffle: at
    * 100 TB this is a pure scan-transform-write job. */
  val EmailPattern = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val UrlPattern = "https?://[^\\s]+"

  def scrubPii(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailPattern), lit(0)))
        .cast("bigint").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(UrlPattern), lit(0)))
        .cast("bigint").as("n_urls"),
      regexp_replace(regexp_replace(col("text"), EmailPattern, "<EMAIL>"),
        UrlPattern, "<URL>").as("scrubbed"))
      .orderBy(col("doc_id"))

  /** The Gopher rule battery (Rae et al. 2021 §A.1.1, the published
    * heuristic filter every large pre-training pipeline since has copied):
    * per-document structural metrics plus one boolean per rule plus the
    * conjunction verdict. Thresholds are the paper's; the "required word"
    * list is this engine's canonical [[Stopwords]] (the paper's 8-word
    * English list, adapted — documented deviation, same ≥2-distinct-hits
    * contract). Rules gate on the ROUNDED metrics (the [[qualityScores]]
    * precedent: a full-precision ratio sitting on a threshold boundary
    * rounds differently across engines; gating on the published 4-decimal
    * value makes the verdict recomputable from the report itself).
    *
    * Scale shape: pure map-side projection — one codegen'd scan, no
    * shuffle, no HOF lambdas in the hot path (counts are regex scans, the
    * distinct-stopword count is one array_intersect over the token array).
    * At 100 TB this is the cheapest full-corpus pass there is, which is
    * why it runs FIRST in a filter cascade: every doc it rejects never
    * reaches MinHash or an embedding model. */
  val GopherMinWords = 50L
  val GopherMaxWords = 100000L

  def gopherRules(documents: DataFrame): DataFrame = {
    val txt = lower(col("text"))
    val nWords = regexp_count(txt, lit("\\S+")).cast("bigint")
    val nWordsD = greatest(nWords, lit(1L)).cast("double")
    // Σ token lengths == non-whitespace char count (tokens are exactly the
    // maximal non-whitespace runs) — no per-element array fold needed
    val meanLen = round(
      length(regexp_replace(txt, "\\s", "")).cast("double") / nWordsD, 4)
    // Gopher's "symbols": hash marks and ellipses, counted per word
    val nHash = length(txt) - length(regexp_replace(txt, "#", ""))
    // the two ellipsis forms count separately: '...' removes 3 chars per
    // hit, '…' removes 1
    val nEll3 = (length(txt) - length(regexp_replace(txt, "\\.\\.\\.", ""))) / lit(3)
    val nEll1 = length(txt) - length(regexp_replace(txt, "…", ""))
    val symbolRatio = round((nHash + nEll3 + nEll1).cast("double") / nWordsD, 4)
    val lines = split(col("text"), "\n")
    val nLines = greatest(size(lines), lit(1)).cast("double")
    val bulletFrac = round(
      regexp_count(col("text"), lit("(?m)^\\s*[-*•‣▪]")).cast("double")
        / nLines, 4)
    val ellipsisLineFrac = round(
      regexp_count(col("text"), lit("(?m)(\\.\\.\\.|…)[ \\t]*$")).cast("double")
        / nLines, 4)
    // fraction of words containing at least one letter: same
    // boundary-anchored single-scan shape as tokenMatchCount
    val alphaFrac = round(
      regexp_count(txt, lit("(^|\\s)[^\\s]*[a-z][^\\s]*(?=\\s|$)")).cast("double")
        / nWordsD, 4)
    val stopHits = size(array_intersect(
      array_distinct(tokens(col("text"))),
      typedLit(Stopwords))).cast("bigint")
    val rWords = nWords.between(GopherMinWords, GopherMaxWords)
    val rMeanLen = meanLen.between(3.0, 10.0)
    val rSymbol = symbolRatio <= 0.1
    val rBullet = bulletFrac <= 0.9
    val rEllipsis = ellipsisLineFrac <= 0.3
    val rAlpha = alphaFrac >= 0.8
    val rStop = stopHits >= 2L
    documents.select(
      col("doc_id"),
      nWords.as("n_words"), meanLen.as("mean_word_len"),
      symbolRatio.as("symbol_ratio"), bulletFrac.as("bullet_frac"),
      ellipsisLineFrac.as("ellipsis_line_frac"), alphaFrac.as("alpha_word_frac"),
      stopHits.as("n_stopwords"),
      rWords.as("ok_words"), rMeanLen.as("ok_mean_len"), rSymbol.as("ok_symbols"),
      rBullet.as("ok_bullets"), rEllipsis.as("ok_ellipsis"),
      rAlpha.as("ok_alpha"), rStop.as("ok_stopwords"),
      (rWords && rMeanLen && rSymbol && rBullet && rEllipsis && rAlpha && rStop)
        .as("pass"))
      .orderBy(col("doc_id"))
  }

  /** The C4 line/page filter battery (Raffel et al. 2020 §2.2, the other
    * published heuristic cascade next to [[gopherRules]] — C4 cleans at
    * LINE granularity where Gopher judges whole documents):
    *
    *   - line retention: ≥ 3 words, ends in terminal punctuation
    *     (. ! ? "), does not mention "javascript" — the paper's rules
    *     verbatim;
    *   - page verdicts: ≥ 5 sentences across the RETAINED lines
    *     (sentence ≈ terminal-mark count, the paper's proxy), no curly
    *     brace (code), no "lorem ipsum", no dirty-word token (the paper
    *     uses the full "List of Dirty, Naughty…" — here a small
    *     placeholder list, parameterized: a deployment plugs its own;
    *     the MECHANISM, token-set intersection, is what's under test).
    *
    * Output per document: line totals, retained-line/sentence counts,
    * one boolean per page rule, and the conjunction verdict — the same
    * report-plus-verdict shape as [[gopherRules]], so the two cascades
    * compose into one cheap pre-MinHash gate.
    *
    * Scale shape: ONE scan — the line explode is a codegen'd Generate
    * (no HOF lambdas; per-line predicates are plain column ops), the
    * page-level booleans are computed before the explode and ride the
    * rows into a min-aggregate, and the only shuffle is the
    * map-combined per-doc aggregate. Counting sentence marks uses
    * `translate` (identical semantics in DuckDB, no regex dialect
    * risk); the retained-line regex stays inside the RE2-compatible
    * subset so the oracle can run it verbatim. */
  val C4LineKeep = "^\\s*\\S+(\\s+\\S+){2,}[.!?\"]\\s*$"
  val C4DirtyWords: Seq[String] = Seq("xxx", "porn", "viagra")

  def c4Filters(documents: DataFrame,
                dirtyWords: Seq[String] = C4DirtyWords): DataFrame = {
    val txt = lower(col("text"))
    val pre = documents.select(
      col("doc_id"),
      posexplode(split(col("text"), "\n")),
      (!txt.contains("{")).as("ok_no_brace"),
      (!txt.contains("lorem ipsum")).as("ok_no_lorem"),
      (size(array_intersect(array_distinct(tokens(col("text"))),
        typedLit(dirtyWords))) === 0).as("ok_dirty_words"))
      .withColumnsRenamed(Map("col" -> "line"))
    val kept = col("line").rlike(C4LineKeep) &&
      !lower(col("line")).contains("javascript")
    val marks = (length(col("line"))
      - length(translate(col("line"), ".!?", ""))).cast("long")
    pre
      .withColumn("keep_line", kept)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("keep_line"), 1L).otherwise(0L)).as("n_kept_lines"),
        sum(when(col("keep_line"), marks).otherwise(0L)).as("n_sentences"),
        min(col("ok_no_brace")).as("ok_no_brace"),
        min(col("ok_no_lorem")).as("ok_no_lorem"),
        min(col("ok_dirty_words")).as("ok_dirty_words"))
      .withColumn("ok_sentences", col("n_sentences") >= 5L)
      .select(col("doc_id"), col("n_lines"), col("n_kept_lines"),
        col("n_sentences"), col("ok_sentences"), col("ok_no_brace"),
        col("ok_no_lorem"), col("ok_dirty_words"),
        (col("ok_sentences") && col("ok_no_brace") && col("ok_no_lorem")
          && col("ok_dirty_words")).as("pass"))
      .orderBy(col("doc_id"))
  }

  /** Per-document character-distribution screen — the gibberish/binary
    * axis the token-level heuristics miss entirely: base64 blobs,
    * hex dumps and compressed junk sail through length/stopword/alpha
    * checks while their CHARACTER distributions are unmistakable.
    * Emits, per document: character count, distinct characters, Shannon
    * entropy over the character frequencies (bits), the most-frequent
    * character's share — and verdicts: natural text sits in a
    * [minEntropy, maxEntropy] band (≈4.1–4.4 bits for English incl.
    * space; lowercased base64/hex junk sits ≥ 5.2; binary/
    * base64 pushes toward log₂|alphabet|, runs of one character toward
    * 0) with no single character dominating (`maxTopShare`).
    *
    * Floats follow the [[graft.ops.Profiling.diversityReport]] rule:
    * shares come from exact integer counts, each term is one identical
    * IEEE expression per character, and only the Σ over ≤|alphabet|
    * terms is order-sensitive — published at round-4, gates on the
    * rounded value. Empty documents report null stats and fail the
    * entropy band (nothing to screen — surfaced, not hidden).
    *
    * Scale shape: one per-character explode (codegen'd Generate — chars,
    * not tokens, so ~5× the token row count, still linear) into a
    * map-combined (doc, char) count, then the per-doc aggregate; the
    * zero-fill join back is doc-keyed. Lowercased first so case carries
    * no entropy (the screen targets the alphabet, not the casing). */
  def charStats(documents: DataFrame,
                minEntropy: Double = 2.0, maxEntropy: Double = 5.0,
                maxTopShare: Double = 0.3): DataFrame = {
    val perChar = documents
      .select(col("doc_id"), explode(split(lower(col("text")), "")).as("ch"))
      .filter(col("ch") =!= "") // empty docs split to [""] in both engines
      .groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("c"))
    // H = log2(N) − (Σ c·log2 c)/N — the one-pass identity: no second
    // total-attaching pass, exact integer c per term, one rounded publish
    val stats = perChar
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_chars"),
        count(lit(1)).as("n_distinct_chars"),
        sum(col("c") * log(2.0, col("c"))).as("clog"),
        max(col("c")).as("maxc"))
      .select(col("doc_id"), col("n_chars"), col("n_distinct_chars"),
        round(log(2.0, col("n_chars")) - col("clog") / col("n_chars"), 4)
          .as("char_entropy"),
        round(col("maxc") / col("n_chars"), 4).as("top_char_share"))
    documents.select(col("doc_id"))
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("n_distinct_chars"), lit(0L)).as("n_distinct_chars"),
        col("char_entropy"), col("top_char_share"),
        (col("char_entropy").isNotNull
          && col("char_entropy").between(minEntropy, maxEntropy)
          && col("top_char_share") <= maxTopShare).as("pass"))
      .orderBy(col("doc_id"))
  }

  /** Interpolated Kneser–Ney bigram probabilities (Kneser & Ney 1995 /
    * Chen & Goodman 1998 — the standard n-gram LM smoothing, and the exact
    * statistic a KenLM-style corpus-quality scorer trains on):
    *
    *   P(w2|w1) = max(c(w1w2)−d, 0)/c(w1·) + d·N1+(w1·)/c(w1·) · Pcont(w2)
    *   Pcont(w2) = N1+(·w2) / N1+(··)
    *
    * with c over within-document adjacent token pairs (no cross-doc
    * bigrams) and N1+ the distinct-continuation counts — the insight that
    * "Francisco" is frequent but only ever follows "San" lives entirely in
    * Pcont. Emits the top-k bigrams by count with their smoothed
    * probability; every input to the formula is an exact integer count, so
    * the rounded p_kn is engine-portable (the oracle recomputes the same
    * counts and applies the formula in the same operation order).
    *
    * Scale shape: the [[collocations]] token tier (one window lead per
    * doc), then three hash aggregates (bigram counts, forward
    * continuations, backward continuations) — all map-side-combined; the
    * continuation tables join back vocabulary-sized (broadcast), never
    * corpus-sized. */
  def kneserNeyBigrams(documents: DataFrame, discount: Double = 0.75,
                       k: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val pairs = documents
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), posexplode(col("toks")))
      .withColumnsRenamed(Map("col" -> "w1"))
      .withColumn("w2", lead(col("w1"), 1).over(w))
      .filter(col("w2").isNotNull)
      .select(col("w1"), col("w2"))
      .pinTier // three aggregates read the pair tier
    val bi = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c")).pinTier
    // forward: c(w1·) as a prefix total, N1+(w1·) distinct continuations
    val fwd = bi.groupBy(col("w1"))
      .agg(sum(col("c")).as("c_w1"), count(lit(1)).as("n1_fwd"))
    // backward: N1+(·w2) distinct predecessors; N1+(··) total bigram types
    val bwd = bi.groupBy(col("w2")).agg(count(lit(1)).as("n1_bwd"))
    val types = bi.agg(count(lit(1)).cast("double").as("n1_all"))
    bi
      .join(broadcast(fwd), Seq("w1"))
      .join(broadcast(bwd), Seq("w2"))
      .crossJoin(broadcast(types))
      .select(col("w1"), col("w2"), col("c"),
        round(
          greatest(col("c") - lit(discount), lit(0.0)) / col("c_w1")
            + lit(discount) * col("n1_fwd") / col("c_w1")
              * (col("n1_bwd") / col("n1_all")), 4).as("p_kn"))
      .orderBy(col("c").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** The first BPE merge table (Sennrich et al. 2016): adjacent symbol-pair
    * frequencies over the pre-tokenized vocabulary — the statistic the
    * first merge step of byte-pair tokenizer training maximizes, and the
    * first thing to inspect when choosing a tokenizer for a corpus.
    *
    * Scale shape — the actual BPE training trick: the corpus collapses to
    * its VOCABULARY first (one corpus-sized hash aggregate), and the
    * character-pair explosion runs over distinct words weighted by their
    * frequency — vocabulary-sized, thousands of times smaller than the
    * token stream at 100 TB. The per-word pair enumeration is an
    * interpreted `transform` HOF, acceptable exactly because it runs over
    * the vocab tier, not the corpus (the rule the regex rewrites in
    * [[qualityScores]]/[[tokenMatchCount]] exist to enforce on
    * corpus-sized paths). A pair occurring twice inside one word counts
    * twice — BPE counting, mirrored in the oracle. */
  def bpeFirstMerges(documents: DataFrame, k: Int = 50): DataFrame = {
    val vocab = documents
      .select(explode(bpeTokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    vocab
      .filter(length(col("word")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("freq")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)
  }

  /** The FULL BPE training loop (VERDICT r10 "missing" #5) —
    * [[bpeFirstMerges]] ranks only the first merge table; a real
    * tokenizer-training pipeline iterates merge → re-pair → recount N
    * times (Sennrich et al. 2016). Fixed-round fixpoint, the
    * pagerank/k-means precedent: N is a training hyperparameter, so the
    * unrolled loop stays oracle-checkable.
    *
    * State encoding — the cross-engine trick: each word's symbol sequence
    * is a string with every symbol individually wrapped in U+001F
    * separators (`␟a␟␟b␟␟c␟`). Merging pair (s1,s2) is then a plain
    * non-overlapping left-to-right string `replace` of `␟s1␟␟s2␟` with
    * `␟s1s2␟` — IDENTICAL semantics in Spark (UTF8String.replace) and
    * DuckDB, including the greedy "aaa → aa+a" overlap rule, and because
    * each symbol carries its own separator pair, adjacent occurrences
    * (`abab`) share no characters and both merge, exactly like the
    * regex-based reference implementation. U+001F cannot collide:
    * [[BpePattern]] symbols are lowercase runs, digit runs, or single
    * non-space marks — multi-symbol words are purely alphanumeric.
    *
    * Scale shape: the corpus collapses to the (word, freq) vocabulary
    * first (one shuffle — the BPE economics that make training tractable
    * at 100 TB); every round is then vocabulary-bounded: one map-combined
    * pair count, ONE driver round-trip for the argmax row (O(1), the
    * k-means round precedent), one map-side replace. The per-round state
    * is pinned so the plan cannot grow with N.
    *
    * Output: one row per merge rank — (rank, s1, s2, merged, n). */
  def bpeTrain(documents: DataFrame, nMerges: Int = 8): DataFrame = {
    val spark = documents.sparkSession
    val Sep = "\u001f"
    def esc(s: String): String = s.replace("'", "''")
    var vocab = documents
      .select(explode(bpeTokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(concat(lit(Sep),
        array_join(filter(split(col("word"), ""), x => x =!= ""),
          Sep + Sep), lit(Sep)).as("ws"), col("freq"))
      .pinTier
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    var i = 1
    var exhausted = false
    while (i <= nMerges && !exhausted) {
      val best = vocab
        .select(col("freq"),
          expr(s"filter(split(ws, '$Sep'), x -> x <> '')").as("syms"))
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(syms) - 1)," +
            " k -> struct(element_at(syms, k) AS s1," +
            " element_at(syms, k + 1) AS s2))")).as("p"))
        .groupBy(col("p.s1"), col("p.s2"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("s1"), col("s2"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (s1, s2, n) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((i, s1, s2, s1 + s2, n))
        val search = s"$Sep${esc(s1)}$Sep$Sep${esc(s2)}$Sep"
        val repl = s"$Sep${esc(s1)}${esc(s2)}$Sep"
        val prev = vocab
        vocab = vocab
          .select(expr(s"replace(ws, '$search', '$repl')").as("ws"), col("freq"))
          .pinTier
        prev.unpersist(blocking = false)
        i += 1
      }
    }
    vocab.unpersist(blocking = false)
    import spark.implicits._
    merges.toSeq.toDF("rank", "s1", "s2", "merged", "n")
      .select(col("rank").cast("int").as("rank"), col("s1"), col("s2"),
        col("merged"), col("n"))
      .orderBy(col("rank"))
  }

  /** Tokenizer APPLICATION — encode the corpus with the merge table
    * [[bpeTrain]] just learned: per document, word count, pre-merge
    * symbol count (characters) and post-merge BPE token count — the
    * compression-ratio stat a tokenizer-training pipeline reports, and
    * the shape token-budget planning needs per document.
    *
    * Scale shape: the learned merges are N driver-side rows, applied as a
    * chain of N codegen'd `replace` calls over each word occurrence — a
    * pure map-side scan, zero joins; the only exchange is the per-doc
    * aggregate. (A vocab-join variant would shuffle the corpus on `word`
    * for no benefit — the replace chain is cheaper than the join it
    * avoids.) Symbol counts derive from separator arithmetic: each symbol
    * carries exactly two U+001F wrappers. */
  def bpeEncode(documents: DataFrame, nMerges: Int = 8): DataFrame = {
    val Sep = "\u001f"
    def esc(s: String): String = s.replace("'", "''")
    val merges = bpeTrain(documents, nMerges)
      .select(col("s1"), col("s2")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    var chain = s"concat('$Sep', array_join(" +
      s"filter(split(word, ''), x -> x <> ''), '$Sep$Sep'), '$Sep')"
    merges.foreach { case (s1, s2) =>
      chain = s"replace($chain, '$Sep${esc(s1)}$Sep$Sep${esc(s2)}$Sep'," +
        s" '$Sep${esc(s1)}${esc(s2)}$Sep')"
    }
    documents
      .select(col("doc_id"), explode(bpeTokens(col("text"))).as("word"))
      .select(col("doc_id"), length(col("word")).as("n_chars_w"),
        (((length(expr(chain)) -
          length(translate(expr(chain), Sep, ""))) / 2)
          .cast("bigint")).as("n_bpe_w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_chars_w")).cast("bigint").as("n_chars"),
        sum(col("n_bpe_w")).cast("bigint").as("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Tokenizer fertility audit: per-source BPE tokens-per-word and
    * chars-per-token under the freshly trained merge table — the
    * tokenizer-efficiency report a mixture owner reads before committing
    * a vocabulary (a source with fertility ≫ corpus mean pays its token
    * budget on fragmentation, not content; Rust/Ács fertility in the
    * multilingual-tokenizer literature). Rides [[bpeEncode]]'s per-doc
    * counts — one extra broadcast-joinable source lookup and one
    * source-sized aggregate; ratios are exact-integer quotients rounded
    * once at the report boundary. */
  def bpeFertility(documents: DataFrame, nMerges: Int = 8): DataFrame =
    bpeEncode(documents, nMerges)
      .join(documents.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("n_bpe_tokens")).as("n_bpe_tokens"))
      .select(col("source"), col("n_docs"), col("n_words"), col("n_chars"),
        col("n_bpe_tokens"),
        round(col("n_bpe_tokens") / col("n_words").cast("double"), 4)
          .as("fertility"),
        round(col("n_chars") / col("n_bpe_tokens").cast("double"), 4)
          .as("chars_per_token"))
      .orderBy(col("source"))

  /** Duplication-aware mixture planning — [[mixturePlan]] with the
    * available-token ledger counted over exact-dedup SURVIVORS only
    * (first-occurrence-wins on the [[fingerprint]], the q_exact_dedup
    * policy): a source that pads its mass with verbatim copies plans
    * epochs against tokens that deduplication will delete, so the naive
    * plan silently over-epochs exactly the worst sources. Emits both
    * ledgers (raw and unique) so the report shows what dedup cost each
    * source; planned tokens divide the budget by TARGET share as in
    * [[mixturePlan]], but epochs divide by the UNIQUE mass. Cost: the
    * one-shuffle exact-dedup fingerprint pass + the mixture aggregate. */
  def mixturePlanDedupAware(documents: DataFrame,
                            targetWeights: Seq[(String, Double)],
                            tokenBudget: Long): DataFrame = {
    require(targetWeights.nonEmpty && targetWeights.forall(_._2 >= 0.0),
      "mixturePlanDedupAware: weights must be non-negative and non-empty")
    val spark = documents.sparkSession
    import spark.implicits._
    val wSum = targetWeights.map(_._2).sum
    val weights = targetWeights.toDF("source", "w")
    val survivors = documents.join(
      graft.dedup.Dedup.exactDedup(documents)
        .select(col("keep_doc_id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    def ledger(df: DataFrame, docsCol: String, toksCol: String): DataFrame =
      df.select(col("source"), size(tokens(col("text"))).cast("bigint").as("t"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as(docsCol), sum(col("t")).as(toksCol))
    ledger(documents, "n_docs", "avail_tokens")
      .join(ledger(survivors, "n_unique_docs", "unique_tokens"), Seq("source"))
      .join(broadcast(weights), Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_unique_docs"),
        col("avail_tokens"), col("unique_tokens"),
        coalesce(col("w"), lit(0.0)).as("w"))
      .select(col("source"), col("n_docs"), col("n_unique_docs"),
        col("avail_tokens"), col("unique_tokens"),
        round(col("w") / lit(wSum), 6).as("target_share"),
        floor(lit(tokenBudget) * col("w") / lit(wSum)).cast("bigint")
          .as("planned_tokens"))
      .withColumn("epochs",
        round(col("planned_tokens").cast("double") / col("unique_tokens"), 4))
      .withColumn("oversampled", col("epochs") > 1.0)
      .orderBy(col("source"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling") — the standard modern
    * answer to "which raw-crawl documents resemble my target domain":
    * fit bag-of-hashed-n-gram models over a TARGET slice (p) and the
    * rest of the corpus (q), score every document by the log-likelihood
    * ratio Σ_feat [ln p(b) − ln q(b)] of its hashed features, keep the
    * positive-ratio documents. Features are unigrams + adjacent bigrams
    * hashed into `nBuckets` buckets with the oracle-replicable
    * [[graft.functions.PolyHash]] (the MinHash graduation trick —
    * seeded xxhash64 here would force a promise gate); models are
    * add-one smoothed.
    *
    * Scale shape, 100 TB: one corpus-wide feature explode (pinned —
    * three consumers), two B-bounded model aggregates (map-combined on
    * the bucket), a one-row totals frame, the B-row log-ratio table
    * broadcast back onto the feature stream (map-side score join), and
    * ONE doc-keyed aggregate. Nothing quadratic, nothing corpus-sized
    * shuffles except the two keyed aggregates any scoring pass needs.
    * Floats follow the q_doc_nll discipline: identical operation order
    * in both engines, only the per-doc sum is rounded (4 dp), and the
    * keep verdict derives from the ROUNDED value so the threshold is
    * engine-portable. */
  def dsirWeights(documents: DataFrame, targetSources: Seq[String],
                  nBuckets: Int = 1024): DataFrame = {
    import graft.functions.PolyHash.poly_hash
    require(targetSources.nonEmpty, "dsirWeights needs a target slice")
    val feats = documents
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("source"), explode(concat(col("toks"),
        expr("CASE WHEN size(toks) >= 2 THEN transform(" +
          "sequence(1, size(toks) - 1), i -> concat_ws(' '," +
          " element_at(toks, i), element_at(toks, i + 1)))" +
          " ELSE array() END"))).as("feat"))
      .select(col("doc_id"), col("source"),
        pmod(poly_hash(col("feat")), lit(nBuckets.toLong)).as("bucket"))
      .pinTier
    val isTarget = col("source").isin(targetSources: _*)
    val t = feats.filter(isTarget)
      .groupBy(col("bucket")).agg(count(lit(1)).as("c_t"))
    val r = feats.filter(!isTarget)
      .groupBy(col("bucket")).agg(count(lit(1)).as("c_r"))
    val totals = feats.agg(
      sum(when(isTarget, 1L).otherwise(0L)).as("n_t"),
      sum(when(isTarget, 0L).otherwise(1L)).as("n_r"))
    val ratio = t.join(r, Seq("bucket"), "full_outer")
      .select(col("bucket"), coalesce(col("c_t"), lit(0L)).as("c_t"),
        coalesce(col("c_r"), lit(0L)).as("c_r"))
      .crossJoin(broadcast(totals))
      .select(col("bucket"),
        (log(col("c_t") + lit(1.0)) - log(col("n_t") + lit(nBuckets.toDouble))
          - log(col("c_r") + lit(1.0))
          + log(col("n_r") + lit(nBuckets.toDouble))).as("lr"))
    feats
      .join(broadcast(ratio), Seq("bucket"))
      .groupBy(col("doc_id"))
      // + 0.0 normalizes IEEE negative zero: a sum a hair below zero
      // rounds to -0.0 on one engine and 0.0 on the other (observed at
      // sf1), and the two print differently while comparing equal
      .agg(count(lit(1)).as("n_feats"),
        (round(sum(col("lr")), 4) + lit(0.0)).as("llr"))
      .select(col("doc_id"), col("n_feats"), col("llr"),
        (col("llr") > 0).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** BM25 ad-hoc retrieval over the corpus (Robertson/Spärck Jones; the
    * Lucene `ln(1 + (N − df + ½)/(df + ½))` idf form) — the lexical
    * serving surface next to the ANN family: score every document
    * against a term query and return the top-k. Entirely integer/
    * rational inputs, so the gate is a full cross-engine recompute; the
    * k-boundary ranks on the ROUNDED score with a doc_id tiebreak.
    *
    * Scale shape, 100 TB: the `isin(query)` filter lands BEFORE the
    * explode's aggregate, so the per-(doc, term) tf tier is bounded by
    * matching docs × |query|, never the token stream; df and idf are
    * |query|-row broadcasts; document lengths are one map-side pass
    * joined doc-keyed; corpus stats ride a one-row broadcast. One
    * TakeOrdered top-k, no global sort. */
  def bm25TopK(documents: DataFrame, queryTerms: Seq[String], k: Int = 20,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK needs at least one query term")
    val lens = documents
      .select(col("doc_id"), size(tokens(col("text"))).cast("bigint").as("dl"))
      .pinTier
    val stats = lens.agg(count(lit(1)).as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val tf = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .pinTier
    val idf = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats.select(col("n_docs"))))
      .select(col("term"),
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5))
          / (col("df") + lit(0.5))).as("idf"))
    tf
      .join(broadcast(idf), Seq("term"))
      .join(lens, Seq("doc_id"))
      .crossJoin(broadcast(stats.select(col("avgdl"))))
      .select(col("doc_id"), col("term"),
        (col("idf") * col("tf") * lit(k1 + 1.0)
          / (col("tf") + lit(k1) * (lit(1.0 - b)
            + lit(b) * col("dl") / col("avgdl")))).as("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), round(sum(col("s")), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Exact phrase search over positional postings — the third standard IR
    * leg after [[bm25TopK]]/[[bm25Rm3]] (term queries find documents that
    * MENTION the words; phrase queries find the words in SEQUENCE — the
    * quoted-query semantics every search box promises). Matches are
    * counted by anchoring on the first term's positions and demanding
    * each later term at the exact offset: one positional-posting
    * self-equi-join per phrase term, keyed on (doc_id, position) — the
    * classic positional-index intersection, never a text re-scan per
    * term pair. Emits `(doc_id, n_matches)` for matching docs, ranked by
    * (count desc, doc_id), top `k`.
    *
    * Scale shape: the positional postings for the PHRASE'S OWN terms only
    * (term-pruned scan, same as bm25TopK's tf stage), then |phrase|−1
    * equi joins on (doc_id, pos+offset) — each join's build side is one
    * term's postings. At serve time the same intersection runs against a
    * positional [[InvertedIndex]] tier; this is the oracle/recompute
    * form. */
  def phraseSearch(documents: DataFrame, phrase: Seq[String],
                   k: Int = 20): DataFrame = {
    require(phrase.size >= 2, "phraseSearch needs at least a 2-term phrase")
    val pos = documents
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "term")))
      .filter(col("term").isin(phrase.distinct: _*))
      .pinTier
    val anchor = pos.filter(col("term") === phrase.head)
      .select(col("doc_id"), col("pos"))
    val matched = phrase.zipWithIndex.tail.foldLeft(anchor) {
      case (acc, (t, i)) =>
        acc.join(
          pos.filter(col("term") === t)
            .select(col("doc_id"), (col("pos") - i).as("pos")),
          Seq("doc_id", "pos"))
    }
    matched.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"))
      .orderBy(col("n_matches").desc, col("doc_id"))
      .limit(k)
  }

  /** Pseudo-relevance-feedback query expansion (the RM3 shape, Lavrenko &
    * Croft 2001 / Abdul-Jaleel et al. 2004) — the second standard IR leg
    * after [[bm25TopK]]: run the query, mine the top `fbDocs` results for
    * the terms that characterize them, re-run with the expanded term set.
    * Uniform-weight expansion (the interpolation λ is omitted: this
    * engine's serving layer fuses by RANK — q_hybrid_rrf — so calibrated
    * per-term weights would be discarded downstream anyway; documented
    * simplification, not an accident).
    *
    * Expansion selection is deterministic end-to-end: candidate terms are
    * the feedback pool's tokens minus the original query terms, weighted
    * by round(Σ_pool tf/dl · idf, 6) — the relevance-model Σ P(t|d)
    * estimate with the corpus idf as the P(t|C) discount — and the top
    * `fbTerms` cut ranks on the ROUNDED weight with a term tiebreak (the
    * q_source_terms k-boundary rule). Final scoring is [[bm25TopK]]'s
    * expression verbatim over the expanded set.
    *
    * Scale shape: pass 1 is bm25TopK (term-pruned corpus scan); the pool
    * is fbDocs rows → its token analysis is pool-bounded and the
    * candidate set broadcasts (both the corpus-df semi-join and the final
    * term filter are broadcast-side, never a corpus shuffle); pass 2 is
    * one more term-pruned scan. Both passes become posting-list probes
    * against the standing [[InvertedIndex]] at serve time — the
    * recompute form here is the oracle shape. */
  def bm25Rm3(documents: DataFrame, queryTerms: Seq[String], k: Int = 20,
              fbDocs: Int = 10, fbTerms: Int = 5,
              k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25Rm3 needs at least one query term")
    require(fbDocs >= 1 && fbTerms >= 0,
      s"bm25Rm3: need fbDocs >= 1 and fbTerms >= 0, got fbDocs=$fbDocs fbTerms=$fbTerms")
    val pool = bm25TopK(documents, queryTerms, fbDocs, k1, b)
      .select(col("doc_id"))
    val lens = documents
      .select(col("doc_id"), size(tokens(col("text"))).cast("bigint").as("dl"))
      .pinTier
    val stats = lens.agg(count(lit(1)).as("n_docs"))
    // candidate terms: the pool's tokens minus the query's own terms,
    // with their within-pool Σ tf/dl mass (pool-bounded rows)
    // per-doc tf/dl rounds to 6 ONCE and accumulates as decimal — the
    // pool mass is a published-selection input, so a float sum's
    // accumulation order must not be able to flip the round-6 boundary
    val poolTf = documents.join(broadcast(pool), Seq("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(not(col("term").isin(queryTerms: _*)))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .join(lens, Seq("doc_id"))
      .groupBy(col("term"))
      .agg(sum(round(col("tf").cast("double") / col("dl"), 6)
        .cast("decimal(18,6)")).cast("double").as("mass"))
    // corpus df for the candidates only (broadcast semi-join prune)
    val df = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .join(broadcast(poolTf.select(col("term"))), Seq("term"), "left_semi")
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val expansion = poolTf.join(df, Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("term"),
        round(col("mass") * log(lit(1.0)
          + (col("n_docs") - col("df") + lit(0.5))
          / (col("df") + lit(0.5))), 6).as("w"))
      .orderBy(col("w").desc, col("term"))
      .limit(fbTerms)
      .select(col("term")).collect().map(_.getString(0)).toSeq
    // the expansion is ≤ fbTerms strings pulled to the driver — the
    // O(k)-bounded collect class (a term LIST is the query object)
    bm25TopK(documents, (queryTerms ++ expansion).distinct, k, k1, b)
  }

  /** DSIR's SELECTION step — importance RESAMPLING via the Gumbel-top-k
    * trick (sampling ∝ exp(llr) without replacement ≡ top-k of
    * llr + Gumbel noise). The noise is derived, not drawn:
    * u = (poly_hash("seed:" + doc_id) + 0.5) / 2³¹−1 ∈ (0,1), g =
    * −ln(−ln u) — so the draw is reproducible cross-engine and the gate
    * stays a full recompute (a `rand()` here would be engine-private).
    * The k-boundary ranks on the ROUNDED key with a doc_id tiebreak (the
    * q_source_terms rule: rank on the published value, keep the cut
    * engine-portable).
    *
    * Scale shape: [[dsirWeights]]' linear pipeline plus a TakeOrdered
    * top-k — no global sort; the selection adds zero shuffles. */
  def dsirResample(documents: DataFrame, targetSources: Seq[String],
                   k: Int = 100, nBuckets: Int = 1024,
                   seed: String = "gumbel1"): DataFrame = {
    import graft.functions.PolyHash.poly_hash
    val u = (poly_hash(concat(lit(seed + ":"), col("doc_id").cast("string")))
      + lit(0.5)) / lit(graft.functions.PolyHash.Mod.toDouble)
    dsirWeights(documents, targetSources, nBuckets)
      .select(col("doc_id"), col("llr"),
        round(col("llr") - log(-log(u)), 4).as("g_key"))
      .orderBy(col("g_key").desc, col("doc_id"))
      .limit(k)
      .orderBy(col("doc_id"))
  }

  /** Per-document bigram log-loss under the corpus's own Kneser–Ney model
    * — the KenLM/CCNet-style perplexity filter: documents whose token
    * sequences the corpus LM finds surprising (high mean negative
    * log-likelihood) are boilerplate, garbled, or off-distribution, and
    * this is the standard score pipelines threshold on. Self-scoring by
    * construction (the model is trained on the same corpus it scores), so
    * every document bigram has c ≥ 1 and the smoothed probability is
    * always defined — no backoff path needed. Emits (doc_id, n_bigrams,
    * mean_nll in nats, rounded); zero-bigram documents are absent by
    * contract (nothing to score).
    *
    * Scale shape: the [[kneserNeyBigrams]] aggregates (all map-combined)
    * plus ONE join of the per-doc bigram stream against the bigram-TYPE
    * model table — vocabulary²-bounded, usually broadcastable, and even
    * as a shuffle join it is keyed on the bigram, never doc-cardinality
    * on the build side. Probabilities enter the join at full precision
    * (the identical operation order both engines evaluate — the
    * q_kn_bigrams proof), and only the per-doc mean is rounded. */
  def docBigramLogLoss(documents: DataFrame,
                       discount: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val pairs = documents
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), posexplode(col("toks")))
      .withColumnsRenamed(Map("col" -> "w1"))
      .withColumn("w2", lead(col("w1"), 1).over(w))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), col("w1"), col("w2"))
      .pinTier // model aggregates + the scoring join all read it
    val bi = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c")).pinTier
    val fwd = bi.groupBy(col("w1"))
      .agg(sum(col("c")).as("c_w1"), count(lit(1)).as("n1_fwd"))
    val bwd = bi.groupBy(col("w2")).agg(count(lit(1)).as("n1_bwd"))
    val types = bi.agg(count(lit(1)).cast("double").as("n1_all"))
    val model = bi
      .join(broadcast(fwd), Seq("w1"))
      .join(broadcast(bwd), Seq("w2"))
      .crossJoin(broadcast(types))
      .select(col("w1"), col("w2"),
        (greatest(col("c") - lit(discount), lit(0.0)) / col("c_w1")
          + lit(discount) * col("n1_fwd") / col("c_w1")
            * (col("n1_bwd") / col("n1_all"))).as("p"))
    pairs
      .join(model, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log(col("p"))), 4).as("mean_nll"))
      .orderBy(col("doc_id"))
  }

  /** CCNet's perplexity-tertile split (Wenzek et al. 2020 §3.3): score
    * every document under the corpus LM ([[docBigramLogLoss]]) and cut
    * each SOURCE into head/middle/tail thirds by ascending perplexity —
    * the bucketing the CCNet pipeline publishes and downstream mixing
    * recipes consume ("train on head+middle of each language"). Tertile
    * assignment is `ntile(3)` over the deterministic (mean_nll, doc_id)
    * order, so the boundary is engine-portable with no float-threshold
    * risk.
    *
    * Scale shape: the log-loss pass (linear, see [[docBigramLogLoss]]),
    * one doc-keyed join to recover the source, ONE source-partitioned
    * window. A source whose per-shard cardinality breaks the window at
    * extreme scale would switch to approx-percentile thresholds (the
    * q_winsorize_approx class) — documented, not needed at any tested
    * multiple. */
  def perplexityBuckets(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("mean_nll"), col("doc_id"))
    docBigramLogLoss(documents)
      .join(documents.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("mean_nll"),
        when(ntile(3).over(w) === 1, "head")
          .when(ntile(3).over(w) === 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** χ²-most-indicative terms per source — the classic feature-selection
    * statistic (Manning/Schütze IR ch.13) behind "what vocabulary makes
    * this crawl source different", and the features a domain classifier
    * for source-mixture curation trains on. 2×2 contingency per
    * (source, term) over DOCUMENT presence (not token counts):
    * χ² = N·(n11·n00 − n10·n01)² / ((n11+n10)(n01+n00)(n11+n01)(n10+n00)),
    * positive associations only (n11·N > df·source-size, exact integer
    * cross-multiplication — no ratio rounding in the filter), top-k per
    * source ranked by the ROUNDED χ² with a term tiebreak (ranking on the
    * published value keeps the k-boundary engine-portable).
    *
    * Scale shape: one distinct doc-term tier (the TF-IDF shuffle), then
    * every joined side is vocabulary- or source-cardinality and
    * broadcast; the denominator is computed in double from the first
    * factor on (at corpus scale the integer product overflows ~N⁴). */
  def sourceIndicativeTerms(documents: DataFrame, k: Int = 10,
                            minDf: Long = 5L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docTerms = documents
      .select(col("doc_id"), col("source"),
        explode(array_distinct(tokens(col("text")))).as("term"))
    val bySrc = docTerms.groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("n11"))
    val df = docTerms.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val srcSizes = documents.groupBy(col("source")).agg(count(lit(1)).as("srcN"))
    val total = documents.agg(count(lit(1)).as("n"))
    val scored = bySrc
      .join(broadcast(df), Seq("term"))
      .join(broadcast(srcSizes), Seq("source"))
      .crossJoin(broadcast(total))
      .filter(col("n11") * col("n") > col("df") * col("srcN"))
      .withColumn("n10", col("df") - col("n11"))
      .withColumn("n01", col("srcN") - col("n11"))
      .withColumn("n00", col("n") - col("df") - col("n01"))
      .withColumn("chi2", round(
        col("n") * pow(col("n11") * col("n00") - col("n10") * col("n01"), 2.0)
          / ((col("n11") + col("n10")).cast("double") * (col("n01") + col("n00"))
            * (col("n11") + col("n01")) * (col("n10") + col("n00"))), 4))
    scored
      .withColumn("rnk", row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("chi2").desc, col("term"))))
      .filter(col("rnk") <= k)
      .select(col("source"), col("rnk").cast("bigint").as("rnk"),
        col("term"), col("n11"), col("chi2"))
      .orderBy(col("source"), col("rnk"))
  }

  /** Heaps'-law fit of vocabulary growth — `V(N) ≈ K·N^β` over cumulative
    * token count N and cumulative distinct-term count V (β ≈ 0.4–0.6 for
    * natural language; β near 1 flags ID-soup/generated corpora whose
    * vocabulary never saturates, β near 0 flags template spam — the
    * growth-curve complement to [[zipfFit]]'s static rank curve).
    *
    * The curve is sampled at `nBuckets` doc-id-range checkpoints, NOT per
    * doc: cumulative-per-doc needs a corpus-wide ordered window, while the
    * bucketed form is two hash aggregates (per-bucket token counts; each
    * term attributed to the bucket of its FIRST doc — min(doc_id), the
    * first-occurrence idiom) plus an nBuckets-row running sum and the
    * portable `regr_slope`/`regr_intercept`/`regr_r2` aggregates (the
    * zipfFit precedent — DuckDB recomputes the fit itself, not just the
    * inputs). Bucket assignment is integer arithmetic
    * (`doc_id·nBuckets / (max_id+1)`) so the cut points are exact in any
    * engine. Output: one row (n_buckets, total_tokens, n_vocab, beta, k,
    * r2).
    *
    * Scale shape: one token scan feeding two map-combined aggregates (doc-
    * then bucket-keyed; term-then-bucket-keyed), a broadcast one-row max,
    * an nBuckets-row window, a one-row regression — no corpus-wide sort at
    * any point. */
  def heapsLaw(documents: DataFrame, nBuckets: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val maxId = documents.agg(max(col("doc_id")).as("max_id"))
    val toks = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    // integer floor division (`div`, `//` in DuckDB) — exact cut points,
    // no float rounding at bucket boundaries in either engine
    val tokCounts = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"))
      .crossJoin(broadcast(maxId))
      .withColumn("b", expr(s"(doc_id * $nBuckets) div (max_id + 1)"))
      .groupBy(col("b")).agg(sum(col("n_toks")).as("toks"))
    val newTerms = toks.groupBy(col("term"))
      .agg(min(col("doc_id")).as("first_doc"))
      .crossJoin(broadcast(maxId))
      .withColumn("b", expr(s"(first_doc * $nBuckets) div (max_id + 1)"))
      .groupBy(col("b")).agg(count(lit(1)).as("new_terms"))
    val w = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = tokCounts.join(newTerms, Seq("b"), "left")
      .select(col("b"), col("toks"),
        coalesce(col("new_terms"), lit(0L)).as("new_terms"))
      .select(col("b"),
        sum(col("toks")).over(w).as("n"),
        sum(col("new_terms")).over(w).as("v"))
      .filter(col("n") > 0 && col("v") > 0)
    pts.agg(
      count(lit(1)).as("n_buckets"),
      max(col("n")).as("total_tokens"),
      max(col("v")).as("n_vocab"),
      round(expr("regr_slope(ln(v), ln(n))"), 4).as("beta"),
      round(expr("exp(regr_intercept(ln(v), ln(n)))"), 4).as("k"),
      round(expr("regr_r2(ln(v), ln(n))"), 4).as("r2"))
  }

  /** Training-mixture planner — the token-budget allocation table every
    * pretraining run starts from (the LLaMA/Pile "epochs over each
    * source" table): given target mixture weights and a total token
    * budget, how many tokens each source must contribute and how many
    * passes over the available data that implies (epochs > 1 ⇒
    * oversampling — the repetition-risk flag from Muennighoff et al.
    * 2023). Sources without a target weight plan to zero; weights need
    * not sum to 1 (they are normalized by their sum, so callers can pass
    * raw priorities).
    *
    * Determinism: available tokens are integer counts; planned tokens are
    * `floor(budget·w/Σw)` — exact integer images of one IEEE division
    * chain; epochs is rounded at the gate. Scale shape: one token scan to
    * a source-keyed map-combined aggregate (sources are few), a broadcast
    * literal weights table, zero windows. */
  def mixturePlan(documents: DataFrame, targetWeights: Seq[(String, Double)],
                  tokenBudget: Long): DataFrame = {
    require(targetWeights.nonEmpty && targetWeights.forall(_._2 >= 0.0),
      "mixturePlan: weights must be non-negative and non-empty")
    val spark = documents.sparkSession
    import spark.implicits._
    val wSum = targetWeights.map(_._2).sum
    val weights = targetWeights.toDF("source", "w")
    val avail = documents
      .select(col("source"), size(tokens(col("text"))).cast("bigint").as("n_toks"))
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"), sum(col("n_toks")).as("avail_tokens"))
    avail.join(broadcast(weights), Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("avail_tokens"),
        coalesce(col("w"), lit(0.0)).as("w"))
      .select(col("source"), col("n_docs"), col("avail_tokens"),
        round(col("w") / lit(wSum), 6).as("target_share"),
        floor(lit(tokenBudget) * col("w") / lit(wSum)).cast("bigint")
          .as("planned_tokens"))
      .withColumn("epochs",
        round(col("planned_tokens").cast("double") / col("avail_tokens"), 4))
      .withColumn("oversampled", col("epochs") > lit(1.0))
      .orderBy(col("source"))
  }
}
