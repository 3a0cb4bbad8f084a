package graft.dedup

import graft.Tier.PinOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/** Deduplication operators for training-data pipelines (north-star scope).
  *
  * Four tiers, cheapest first — the standard corpus-dedup funnel:
  *   1. exact (hash group-by)                — one shuffle on a 16-byte key;
  *   2. n-gram Jaccard via shingle join      — exact near-dup, quadratic only
  *      within shared-shingle buckets;
  *   3. MinHash + LSH banding                — near-dup at corpus scale: the
  *      candidate join is on band keys, so cost is O(candidates), not O(n²);
  *   4. SimHash + Hamming banding            — 64-bit sketch, 8 bytes/doc of
  *      shuffle, the cheapest wide-net pass.
  * At 100 TB only (1), (3) and (4) are viable corpus-wide; (2) is the
  * verifier you run on the candidate pairs the sketches surface — which is
  * exactly how [[minhashNearDups]] composes them.
  *
  * Everything is built-in array/hash expressions (no UDFs) except the
  * MinHash signatures: those come from one per-document kernel
  * ([[MinHashKernel]]) after a single doc_id shuffle, and the band join and
  * Jaccard verify stay in Catalyst.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Tier 1 — exact dedup: group by content fingerprint, keep the smallest
    * doc_id (deterministic winner; `dropDuplicates` would keep an arbitrary
    * row — SURVEY.md §2.4 A10). */
  def exactDedup(documents: DataFrame): DataFrame =
    documents
      .groupBy(TextAnalysis.fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_doc_id"))

  // ------------------------------------------------------------- shingles

  /** Word k-shingles of a document, distinct. A zero-token document has NO
    * shingles (empty array) — matching [[shingleRows]], which emits zero
    * rows for it; without the guard the degenerate `slice` would produce
    * one empty-string shingle and two empty documents would score
    * Jaccard 1.0 against each other. */
  def shingles(text: Column, k: Int = 3): Column = {
    val t = TextAnalysis.tokens(text)
    when(size(t) === 0, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), greatest(size(t) - (k - 1), lit(1))),
        i => concat_ws(" ", slice(t, i, lit(k))))))
  }

  /** One row per (doc_id, distinct shingle), built with window `lead` over
    * exploded tokens instead of per-document array slicing: lead/concat_ws
    * stay inside whole-stage codegen, while the array-HOF form
    * ([[shingles]]) is interpreted per slice. Semantics match [[shingles]]
    * exactly, including the shorter-than-k document case (concat_ws skips
    * the null leads, mirroring slice's truncation). Shingles never span
    * input rows: the window orders each doc_id's tokens by (row id, pos)
    * and a lead past its row's last token is null, so two rows sharing a
    * doc_id contribute their own shingles, as the oracle's per-row
    * `list_transform` does. One shuffle (the window, on doc_id alone,
    * which the distinct and downstream doc_id windows reuse). */
  def shingleRows(documents: DataFrame, k: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("row"), col("pos"))
    val leads = (1 until k).map(i =>
      when(col("pos") + i < col("n"), lead(col("tok"), i).over(w)))
    documents
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"),
        monotonically_increasing_id().as("row"))
      .select(col("doc_id"), col("row"), size(col("toks")).as("n"),
        posexplode(col("toks")))
      .withColumnsRenamed(Map("col" -> "tok"))
      .select(col("doc_id"), col("n"), col("pos"),
        concat_ws(" ", (col("tok") +: leads): _*).as("shingle"))
      .filter(col("pos") <= greatest(col("n") - k, lit(0)))
      .select(col("doc_id"), col("shingle"))
      .distinct()
  }

  /** Per-document n-gram novelty — how much of each document the corpus has
    * ALREADY seen in earlier documents (doc_id order = ingestion order):
    * the share of a doc's distinct k-shingles whose first corpus occurrence
    * is a smaller doc_id. The curation stat behind "is this crawl snapshot
    * adding anything" and the streaming-ingest admission score; low-novelty
    * tails are boilerplate/syndication even when no single pair crosses a
    * near-dup threshold. Exact integers + one round-4 ratio, so the report
    * is oracle-recomputable.
    *
    * Scale shape: linear where the pair tiers are quadratic — the shingle
    * tier shuffles once on the shingle key into a map-combined min
    * aggregate, and the join back attaches exactly ONE first_doc row per
    * (doc, shingle) occurrence, so a stop-shingle fans out |docs carrying
    * it| rows, never df². No df cap needed, and the aggregate side arrives
    * already partitioned by the groupBy. */
  def noveltyReport(documents: DataFrame, k: Int = 3): DataFrame = {
    val sh = shingleRows(documents, k).pinTier // two consumers below
    val firstSeen = sh.groupBy(col("shingle"))
      .agg(min(col("doc_id")).as("first_doc"))
    sh.join(firstSeen, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L))
          .as("n_seen_before"))
      .select(col("doc_id"), col("n_shingles"), col("n_seen_before"),
        round(lit(1.0) - col("n_seen_before") / col("n_shingles"), 4)
          .as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** Cross-document boilerplate-line removal — the CCNet/RefinedWeb paragraph
    * dedup pass (Wenzek et al. 2020 §3.1 dedup lines across shards; Penedo
    * et al. 2023 line-wise corrections): a line that recurs verbatim across
    * ≥ `maxLineDocFreq` DISTINCT documents is template chrome (nav bars,
    * cookie banners, footers), not content, and is cut from every document
    * that carries it. Document-level dedup can't see this — no two pages
    * are near-dups, yet the same footer is in all of them — which is why
    * the line pass runs FIRST in the CCNet funnel, before any pair tier.
    *
    * Input is a line tier `(doc_id, line_no, line)` (real corpora:
    * `split(text, '\n')`; the newline-free fixture derives lines via
    * [[graft.text.TextAnalysis.linesFromTokens]]). Output per document:
    * `(doc_id, n_lines, n_kept, n_dropped, clean_fp)` where `clean_fp` is
    * the md5-16 of the kept lines rejoined in line order — the exact
    * reconstruction pin, same discipline as the span-trim gate. Documents
    * whose every line is boilerplate still appear (md5 of the empty string).
    *
    * Scale shape, 100 TB: the doc-frequency aggregate map-combines on the
    * 16-byte line fingerprint after a per-partition distinct; the drop set
    * (lines with df ≥ threshold) is a few thousand rows at any corpus size
    * — template chrome, by definition, repeats — so the removal itself is a
    * broadcast LEFT ANTI, a map-side drop with no corpus-side shuffle; the
    * per-doc rebuild is the one doc_id-keyed exchange. The line tier is
    * pinned: three consumers (totals, df aggregate, kept rebuild).
    *
    * The "drop set is small" assumption is GUARDED, not asserted (r10
    * verdict's one unguarded-smallness finding): the default
    * `maxLineDocFreq = 30` keeps it to template chrome, but a caller
    * passing a low threshold over a huge corpus would otherwise hand an
    * unbounded frame to `broadcast()`. The drop set is counted (one cheap
    * re-aggregate over the pinned tier) and sized against the shared
    * [[graft.graph.Fixpoint]] budget; past the budget the removal
    * falls back to a shuffled LEFT ANTI on the fingerprint — the plan a
    * billion-distinct-line threshold misuse would need — and Stress forces
    * that branch every run via the same `maxBroadcastBytes=0` switch the
    * graph fixpoints use, so the fallback is never dead code. */
  def boilerplateRemoval(lines: DataFrame, maxLineDocFreq: Int = 30): DataFrame = {
    val fps = lines
      .select(col("doc_id"), col("line_no"), col("line"),
        substring(md5(col("line")), 1, 16).as("fp"))
      .pinTier
    val dropFps = fps.select(col("fp"), col("doc_id")).distinct()
      .groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= maxLineDocFreq)
      .select(col("fp"))
    val dropSide = graft.graph.Fixpoint.broadcaster(dropFps, dropFps.count(),
      "boilerplate_dropset")(dropFps)
    val kept = fps.join(dropSide, Seq("fp"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        sort_array(collect_list(struct(col("line_no"), col("line")))).as("ordered"))
      .select(col("doc_id"), col("n_kept"),
        substring(md5(concat_ws("\n",
          transform(col("ordered"), x => x.getField("line")))), 1, 16).as("clean_fp"))
    fps.groupBy(col("doc_id")).agg(count(lit(1)).as("n_lines"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("clean_fp"), substring(md5(lit("")), 1, 16)).as("clean_fp"))
      .orderBy(col("doc_id"))
  }

  /** Substring-level duplication statistics — the span form of corpus dedup
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL'22: repeated ≥N-token substrings are the main memorization
    * vector, and document-level dedup misses them entirely). Exact
    * suffix-array spans need char-level machinery no shuffle engine should
    * attempt; the standard practical form used here marks every token
    * covered by a k-token shingle that occurs ≥2 times in the corpus
    * (within- OR cross-document — both count, as in the concatenated-corpus
    * suffix array), then merges overlapping/contiguous covered intervals
    * [p, p+k−1] into maximal spans (positions p, q merge iff q − p ≤ k).
    *
    * Output per document: `(doc_id, n_dup_spans, dup_tokens, total_tokens,
    * dup_ratio)` — zero-filled for clean documents, so the frame doubles as
    * a removal policy input (drop/trim docs by `dup_ratio`).
    *
    * Scale shape: one window by doc_id (the positioned shingle tier), one
    * shuffle on the shingle for the occurrence count, a LEFT SEMI join back
    * on the shingle (the key set is distinct, so — unlike the pair joins in
    * the Jaccard tier — no row can multiply and no df cap is needed), and
    * one more doc_id window for the island merge. At 100 TB the shingle
    * occurrence shuffle keys would be `xxhash64(shingle)` (8 bytes vs the
    * k-token string) — a drop-in swap kept as the string here so the DuckDB
    * oracle can recompute the gate verbatim. */
  def duplicateSpanStats(documents: DataFrame, k: Int = 5): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val leads = (1 until k).map(i => lead(col("tok"), i).over(w))
    // positioned (non-distinct) shingle tier — shingleRows' window-lead
    // idiom, keeping pos and n for the interval arithmetic below; pinned:
    // the occurrence count and the position semi-join both read it
    val rows = documents
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n"), posexplode(col("toks")))
      .withColumnsRenamed(Map("col" -> "tok"))
      .select(col("doc_id"), col("n"), col("pos"),
        concat_ws(" ", (col("tok") +: leads): _*).as("shingle"))
      .filter(col("pos") <= greatest(col("n") - k, lit(0)))
      .pinTier
    val dupKeys = rows.groupBy(col("shingle"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
      .select(col("shingle"))
    val dupPos = rows.join(dupKeys, Seq("shingle"), "leftsemi")
      .select(col("doc_id"), col("n"), col("pos"))
    // gaps-and-islands: a new span starts when this position's interval
    // cannot touch the previous one (gap > k; first row's null lag falls
    // into otherwise). Span token length clamps to the document end for
    // the shorter-than-k truncated-shingle case.
    val islands = dupPos
      .withColumn("new_span",
        when(col("pos") - lag(col("pos"), 1).over(w) <= k, lit(0)).otherwise(lit(1)))
      .withColumn("span_id",
        sum(col("new_span")).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("pos")).as("mn"), max(col("pos")).as("mx"), max(col("n")).as("n"))
      .select(col("doc_id"),
        (least(col("mx") + k, col("n")) - col("mn")).cast("bigint").as("len"))
    val perDoc = islands.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"), sum(col("len")).as("dup_tokens"))
    documents
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("bigint").as("total_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        col("total_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)) /
          greatest(col("total_tokens"), lit(1L)), 4).as("dup_ratio"))
      .orderBy(col("doc_id"))
  }

  /** The removal policy on top of [[duplicateSpanStats]] — rebuild each
    * document's canonical token stream with every duplicated-span token
    * removed, and classify the outcome:
    *   - `drop`: duplicated coverage ≥ `dropRatio` of the document (mostly
    *     boilerplate — remove entirely; emitted with an empty stream);
    *   - `trim`: some coverage — covered tokens cut, the rest kept in order;
    *   - `keep`: no duplicated span touches the document.
    * Removal is of EVERY covered occurrence (the conservative choice; a
    * keep-one-copy policy needs a global election over span clusters, which
    * buys little — Lee et al. report the variant choice barely moves
    * downstream metrics). The rebuilt stream is the lowercased
    * space-joined token sequence — the canonical form a training pipeline
    * tokenizes anyway — and the gate emits its md5 so the DuckDB oracle
    * cross-checks the exact reconstruction, not just counts.
    *
    * Scale shape: [[duplicateSpanStats]]'s tiers plus one bounded explode
    * (covered positions — ≤ k rows per duplicated position), one LEFT ANTI
    * join on (doc_id, pos), and one ordered re-assembly aggregate per doc.
    */
  def trimDuplicateSpans(documents: DataFrame, k: Int = 5,
                         dropRatio: Double = 0.8): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val leads = (1 until k).map(i => lead(col("tok"), i).over(w))
    val toks = documents
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n"), posexplode(col("toks")))
      .withColumnsRenamed(Map("col" -> "tok"))
      .pinTier // read by the shingle tier AND the rebuild
    val rows = toks
      .select(col("doc_id"), col("n"), col("pos"),
        concat_ws(" ", (col("tok") +: leads): _*).as("shingle"))
      .filter(col("pos") <= greatest(col("n") - k, lit(0)))
      .pinTier
    val dupKeys = rows.groupBy(col("shingle"))
      .agg(count(lit(1)).as("occ")).filter(col("occ") >= 2)
      .select(col("shingle"))
    // covered token positions: each duplicated shingle position covers
    // [p, min(p+k-1, n-1)] — a ≤k-row explode, then distinct
    val covered = rows.join(dupKeys, Seq("shingle"), "leftsemi")
      .select(col("doc_id"),
        explode(sequence(col("pos"), least(col("pos") + (k - 1), col("n") - 1)))
          .as("pos"))
      .distinct()
    val kept = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok"))).as("kept_text"))
    documents
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("bigint").as("total_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("total_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
      .select(col("doc_id"),
        when(col("total_tokens") === 0, lit("keep"))
          .when((col("total_tokens") - col("n_kept")) /
            greatest(col("total_tokens"), lit(1L)) >= dropRatio, lit("drop"))
          .when(col("n_kept") < col("total_tokens"), lit("trim"))
          .otherwise(lit("keep")).as("action"),
        when((col("total_tokens") - col("n_kept")) /
            greatest(col("total_tokens"), lit(1L)) >= dropRatio &&
            col("total_tokens") > 0, lit(0L))
          .otherwise(col("n_kept")).as("n_tokens_kept"),
        col("total_tokens"),
        when((col("total_tokens") - col("n_kept")) /
            greatest(col("total_tokens"), lit(1L)) >= dropRatio &&
            col("total_tokens") > 0, md5(lit("")))
          .otherwise(md5(col("kept_text"))).as("kept_md5"))
      .orderBy(col("doc_id"))
  }

  /** Cross-source duplication overlap matrix — the curation diagnostic that
    * drives SOURCE-level decisions (which crawl snapshots, mirrors or feeds
    * duplicate into which): near-dup pairs from [[ngramJaccardPairs]]
    * attributed to their source pair, with each pair's share of all
    * near-dup pairs. `source_a ≤ source_b` lexically (the matrix is
    * symmetric; the diagonal is within-source duplication — mirrors and
    * re-crawls show up OFF-diagonal).
    *
    * Scale shape: the pair tier's cost dominates (see ngramJaccardPairs);
    * attribution adds two equi-joins of the pair list against the
    * (doc_id, source) projection — pair-list-sized, not corpus-sized —
    * plus one aggregate over the source-pair matrix (|sources|² rows at
    * most). */
  def crossSourceOverlap(documents: DataFrame, k: Int = 3,
                         threshold: Double = 0.5): DataFrame = {
    val pairs = ngramJaccardPairs(documents, k, threshold)
      .select(col("doc_a"), col("doc_b"))
    val src = documents.select(col("doc_id"), col("source"))
    val attributed = pairs
      .join(src.withColumnsRenamed(Map("doc_id" -> "doc_a", "source" -> "sa")), Seq("doc_a"))
      .join(src.withColumnsRenamed(Map("doc_id" -> "doc_b", "source" -> "sb")), Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
    // pinned: the share denominator below re-reads this aggregate, and
    // without the pin its crossJoin subtree re-ran the ENTIRE shingle
    // self-join + pair aggregate a second time (the pinned shingle tier
    // only covers the tokenize stage) — r16, the one crossJoin-scalar
    // site in the library whose scalar side shared an unpinned expensive
    // subtree with the main output
    val counts = attributed.groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .pinTier
    counts.crossJoin(broadcast(counts.agg(sum(col("n_pairs")).as("total"))))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        round(col("n_pairs") / col("total"), 4).as("pair_share"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Document-frequency cap for the exact shingle pair tiers
    * ([[ngramJaccardPairs]], [[containmentPairs]]): a shingle occurring in
    * more than this many documents is a stop-shingle ("the of and",
    * boilerplate headers) — it carries no near-dup signal, and its join
    * bucket alone contributes df²/2 candidate rows, which at 100 TB (where
    * such shingles appear in MOST documents) is the difference between an
    * equi-join and a de-facto cross join on one key. Pairs are therefore
    * defined over the df ≤ cap shingle universe — a documented semantic
    * (classic stop-word removal before Jaccard), mirrored verbatim in the
    * DuckDB oracle SQL, with the truncation made visible by
    * [[hotShingleReport]]. Chosen well above any natural fixture df
    * (max 7 at sf0.01, 25 at sf0.1, ~200 at the x8 stress multiple) so it
    * binds only on genuine stop-shingles; the uncapped corpus-scale answer
    * for high-df content is the MinHash path, whose banding is per-document
    * and immune to single-key skew. Same precedent as
    * [[winnowNearDups]]'s maxDocFreq=50 and [[simhashNearDups]]'s
    * maxBandFreq=1000. */
  val DefaultMaxShingleDocFreq: Int = 500

  /** The capped shingle tier shared by the exact pair operators: distinct
    * (doc_id, shingle) rows with stop-shingles (df > maxDocFreq) removed
    * via a LEFT ANTI join against the (tiny) hot-key set, then the per-doc
    * set size window. The hot-key aggregate is a hash aggregate on the
    * shingle — O(rows) however skewed the key is (partial aggregation
    * collapses each mapper's copies first); only the PAIR join after it
    * would have been quadratic. */
  private def cappedShingleTier(documents: DataFrame, k: Int, maxDocFreq: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val raw = shingleRows(documents, k)
    val hot = raw.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDocFreq)
      .select(col("shingle"))
    raw.join(hot, Seq("shingle"), "left_anti")
      .withColumn("n", count(lit(1)).over(w))
  }

  /** Visibility companion to [[DefaultMaxShingleDocFreq]]: ONE row per
    * corpus — distinct shingles, how many are hot (df > cap), and the
    * share of shingle OCCURRENCES the cap removes from the pair tiers.
    * Run it whenever the cap could plausibly bind; a hot share above a few
    * percent means the corpus has heavy boilerplate and document-level
    * Jaccard under the cap is measuring the non-boilerplate remainder.
    * Fully oracle-recomputable (counts over the deterministic tier). */
  def hotShingleReport(documents: DataFrame, k: Int = 3,
                       maxDocFreq: Int = DefaultMaxShingleDocFreq): DataFrame =
    shingleRows(documents, k)
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("df") > maxDocFreq, 1)).as("n_hot"),
        coalesce(sum(when(col("df") > maxDocFreq, col("df"))), lit(0L))
          .as("hot_occurrences"),
        sum(col("df")).as("total_occurrences"))
      .select(col("n_shingles"), col("n_hot"), col("hot_occurrences"),
        round(col("hot_occurrences") / col("total_occurrences"), 4)
          .as("hot_share"))

  /** Tier 2 — exact n-gram Jaccard near-dup pairs: join docs on shared
    * shingles, count the intersection, derive |A∪B| = |A|+|B|−|A∩B|.
    * The join key is the shingle, so only documents sharing text ever meet —
    * no cross join; stop-shingles are dropped first (df cap — see
    * [[DefaultMaxShingleDocFreq]]: without it one corpus-wide shingle makes
    * a single join key quadratic). Jaccard is over the capped shingle
    * universe, mirrored in the oracle. Output: (doc_a < doc_b,
    * jaccard ≥ threshold).
    *
    * The shingle tier is pinned (same localCheckpoint pattern as
    * [[simhashNearDups]]): three consumers read it (sizes, join side a,
    * join side b), and without the pin Spark re-runs the whole
    * tokenize → posexplode → window-lead → distinct pipeline per consumer —
    * at corpus scale that is 3× the tokenization cost of the entire input. */
  def ngramJaccardPairs(documents: DataFrame, k: Int = 3, threshold: Double = 0.5,
                        maxDocFreq: Int = DefaultMaxShingleDocFreq): DataFrame = {
    // set size rides along on the tier as a window count (the window's
    // doc_id exchange replaces what used to be a separate `sizes` aggregate
    // plus TWO post-intersection joins), and the tier is pinned so the two
    // join sides read it instead of re-running tokenize → shingle → distinct
    val rows = cappedShingleTier(documents, k, maxDocFreq)
      .pinTier
    val a = rows.select(col("doc_id").as("doc_a"), col("n").as("n_a"), col("shingle"))
    val b = rows.select(col("doc_id").as("doc_b"), col("n").as("n_b"), col("shingle"))
    a.join(b, Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      // n_a/n_b are constant within each (doc_a, doc_b) group — min() is the
      // cheapest deterministic way to carry them through the aggregate
      .agg(count(lit(1)).as("n_shared"), min(col("n_a")).as("n_a"), min(col("n_b")).as("n_b"))
      .withColumn("jaccard",
        round(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Asymmetric containment pairs — catches what symmetric Jaccard
    * structurally cannot: a short document wholly quoted inside a much
    * longer one scores |A∩B|/|A∪B| ≈ |A|/|B| (tiny), but containment
    * |A∩B|/|A| = 1.0. The standard complement to near-dup scoring when
    * hunting quote/subset duplication in a corpus. Same scale shape as
    * [[ngramJaccardPairs]] — equi-join on the shingle, quadratic only
    * within shared-shingle buckets, stop-shingles capped out first (see
    * [[DefaultMaxShingleDocFreq]]) — and the same pinned tier; emitted
    * per ORDERED pair (a≠b, both directions possible) because containment
    * is directional. */
  def containmentPairs(documents: DataFrame, k: Int = 3, threshold: Double = 0.8,
                       maxDocFreq: Int = DefaultMaxShingleDocFreq): DataFrame = {
    val rows = cappedShingleTier(documents, k, maxDocFreq)
      .pinTier
    val a = rows.select(col("doc_id").as("doc_a"), col("n").as("n_a"), col("shingle"))
    val b = rows.select(col("doc_id").as("doc_b"), col("shingle"))
    a.join(b, Seq("shingle"))
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"), min(col("n_a")).as("n_a"))
      .withColumn("containment",
        round(col("n_shared").cast("double") / col("n_a").cast("double"), 4))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Incremental (snapshot-delta) near-dedup — the corpus-UPDATE operator:
    * a new crawl batch lands next to an existing corpus, and each batch
    * document must be classified before admission: `dup_corpus` (near-dup
    * of an existing document), `dup_batch` (near-dup of an EARLIER batch
    * document — first-in wins within the batch), or `new`. Batch membership
    * here is `doc_id mod batchMod == 0` (stand-in predicate, same
    * convention as [[contaminationReport]]); verdicts carry the winning
    * match and its Jaccard (highest score, ties to the lower match id) so
    * rejects are auditable.
    *
    * Scale shape: one pinned shingle tier over batch ∪ corpus, then two
    * equi-joins on the shingle key — batch×corpus and batch×earlier-batch.
    * The batch side of both joins is the (small) new crawl, so join fan-out
    * is bounded by batch size × shared-shingle frequency, never corpus²;
    * in production the corpus shingle tier is the incrementally-maintained
    * index you already hold, not a recompute. */
  def incrementalDedup(documents: DataFrame, k: Int = 3,
                       threshold: Double = 0.5, batchMod: Int = 7): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val rows = shingleRows(documents, k)
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("is_batch", pmod(col("doc_id"), lit(batchMod)) === 0)
      .pinTier
    val batch = rows.filter(col("is_batch"))
      .select(col("doc_id"), col("n"), col("shingle"))
    val other = rows.select(col("doc_id").as("match_id"), col("n").as("n_m"),
      col("shingle"), col("is_batch").as("m_batch"))
    // batch×corpus and batch×earlier-batch in ONE join pass: a candidate is
    // any shingle-sharing partner that is either non-batch or an earlier
    // batch doc
    val scored = batch.join(other, Seq("shingle"))
      .filter(!col("m_batch") || col("match_id") < col("doc_id"))
      .groupBy(col("doc_id"), col("match_id"))
      .agg(count(lit(1)).as("n_shared"), min(col("n")).as("n_a"),
        min(col("n_m")).as("n_b"), first(col("m_batch")).as("m_batch"))
      .withColumn("jaccard",
        round(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
    val wBest = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("jaccard").desc, col("match_id"))
    val best = scored
      .withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("doc_id"),
        when(col("m_batch"), lit("dup_batch")).otherwise(lit("dup_corpus"))
          .as("verdict"),
        col("match_id"), col("jaccard"))
    documents
      .filter(pmod(col("doc_id"), lit(batchMod)) === 0)
      .select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("verdict"), lit("new")).as("verdict"),
        col("match_id"), col("jaccard"))
      .orderBy(col("doc_id"))
  }

  /** Benchmark decontamination — the training-data hygiene step n-gram
    * dedup doesn't cover: score every corpus document by how many of its
    * k-shingles also appear in a benchmark/eval set, so contaminated
    * documents can be dropped before training. Same scale shape as
    * [[ngramJaccardPairs]]: the only join is an equi-join on the shingle
    * (left-semi against the distinct benchmark shingle set — at production
    * scale that set is millions of rows, far too big to broadcast, and the
    * semi join shuffles on the shingle key like any fact-fact join).
    * Benchmark membership is `doc_id mod benchMod == 0` here (a stand-in
    * predicate — in production swap the `isBench` expression for a semi
    * join against the eval-set membership table). Output: every
    * non-benchmark doc with its shingle count, overlap count, and
    * contamination ratio. */
  def contaminationReport(documents: DataFrame, k: Int = 5, benchMod: Int = 20): DataFrame = {
    // pinned: three consumers (bench shingles, sizes, hits) — see
    // ngramJaccardPairs on why the shared shingle tier must not recompute
    val sh = shingleRows(documents, k).pinTier
    val isBench = pmod(col("doc_id"), lit(benchMod)) === 0
    val benchShingles = sh.filter(isBench).select(col("shingle")).distinct()
    val corpus = sh.filter(!isBench)
    val hits = corpus
      .join(benchShingles, Seq("shingle"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
    reportFrom(corpus, hits)
  }

  /** [[contaminationReport]] with the corpus-side shuffle replaced by a
    * broadcast bloom prefilter — the 100 TB shape. The semi join in the
    * exact variant shuffles EVERY corpus shingle on the shingle key; here a
    * bloom filter of the benchmark shingle set
    * ([[graft.functions.BloomFunctions]], a few MB however big the corpus
    * is) drops non-overlapping shingles map-side inside codegen, and only
    * the surviving fraction — in a healthy corpus a few percent — reaches
    * the exact semi-join verify that removes bloom false positives. Output
    * is therefore bit-identical to [[contaminationReport]] (same oracle),
    * while the shuffled corpus volume scales with the contamination rate
    * instead of the corpus. */
  def contaminationReportBloom(documents: DataFrame, k: Int = 5, benchMod: Int = 20,
                               numBits: Long = graft.functions.BloomFunctions.DefaultNumBits): DataFrame = {
    import graft.functions.BloomFunctions
    val sh = shingleRows(documents, k).pinTier
    val isBench = pmod(col("doc_id"), lit(benchMod)) === 0
    // pinned: the bench set is read twice (bloom build — an eager action —
    // and the exact verify join); without the pin the second consumer would
    // re-run the distinct over the bench slice
    val benchShingles = sh.filter(isBench).select(col("shingle"))
      .distinct().pinTier
    val corpus = sh.filter(!isBench)
    val bloom = BloomFunctions.buildBloom(benchShingles, col("shingle"), numBits = numBits)
    val hits = corpus
      .filter(BloomFunctions.mightContain(bloom, col("shingle")))
      .join(benchShingles, Seq("shingle"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
    reportFrom(corpus, hits)
  }

  /** Shared contamination-report tail: per-doc shingle counts joined with
    * hit counts, zero-filled, ratio rounded for oracle hash-match. */
  private def reportFrom(corpus: DataFrame, hits: DataFrame): DataFrame = {
    val sizes = corpus.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    sizes
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        round(coalesce(col("n_contaminated"), lit(0L)).cast("double")
          / col("n_shingles"), 4).as("contamination"))
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------- minhash

  /** The MinHash "permutation" family — deterministic and ORACLE-
    * REPLICABLE (the r9→r10 graduation of q_minhash_neardups from a
    * recall promise gate to a full DuckDB recompute): permutation j maps
    * a shingle's code-point polynomial hash ([[graft.functions.PolyHash]],
    * both engines compute it identically) through the order-1 universal
    * family h_j(x) = (a_j·x + b_j) mod p, p = 2³¹−1. The (a_j, b_j)
    * constants are pure functions of j — the oracle SQL interpolates the
    * same literal numbers, so nothing engine-specific remains anywhere in
    * the pipeline. All products stay < 2⁶² (no overflow divergence). */
  def minhashPerm(j: Int): (Long, Long) = {
    val p = graft.functions.PolyHash.Mod
    val a = (2654435761L * (j + 1) + 0x9E3779B9L) % (p - 1) + 1
    val b = (2246822519L * (j + 1) + 0x85EBCA6BL) % p
    (a, b)
  }

  /** The WIDE family's constants — same derivation formulas over the
    * 61-bit Mersenne prime (the documented PolyHash widening). */
  def minhashPerm61(j: Int): (Long, Long) = {
    val p = graft.functions.PolyHash61.Mod
    val a = (2654435761L * (j + 1) + 0x9E3779B9L) % (p - 1) + 1
    val b = (2246822519L * (j + 1) + 0x85EBCA6BL) % p
    (a, b)
  }

  /** Tier 3a — MinHash signatures: numPerm universal-family permutations
    * over the shingle's polynomial base hash; signature[j] = min over the
    * document's distinct shingles. Computed by the per-document kernel
    * [[MinHashKernel]]: one pass over the doc_id-partitioned token rows
    * hashes each distinct shingle once (the numPerm permutations are pure
    * integer arithmetic on that base value) and folds the minimums, 8·numPerm
    * bytes per doc out. `wide` switches the base hash and the permutation
    * family to the 61-bit Mersenne prime ([[graft.functions.PolyHash61]]):
    * 2³⁰ fewer birthday collisions in the candidate tier at large corpus
    * size, identical verified pair sets (A/B-asserted in PolyHash61Spec),
    * still exactly oracle-replicable (DuckDB HUGEINT). Default stays 31-bit
    * — the cheaper arithmetic, and collisions only cost verify work. The
    * doc_id must be integral. */
  def minhashSignatures(documents: DataFrame, k: Int = 3, numPerm: Int = 64,
                        wide: Boolean = false): DataFrame =
    MinHashKernel.signatures(documents, k, numPerm, wide)
      .select(col("doc_id"), col("signature"))

  /** Tier 3b — LSH banding: split the signature into bands of r rows; docs
    * sharing any band hash are candidates. Probability a pair with Jaccard s
    * collides: 1−(1−s^r)^b — the (b, r) choice tunes the S-curve. The
    * group-by key is (band index, band hash): only colliding docs shuffle
    * together. */
  def lshCandidates(signatures: DataFrame, bands: Int = 16, numPerm: Int = 64): DataFrame = {
    require(numPerm % bands == 0, s"numPerm=$numPerm must divide into bands=$bands")
    val r = numPerm / bands
    // the band key is the r-value sub-array ITSELF (arrays are orderable
    // join keys): exact band equality with no hash in the path, so the
    // candidate set is deterministic and the oracle recomputes it verbatim
    // (a band hash would admit collision pairs no other engine replays)
    val banded = signatures.select(
      col("doc_id"),
      posexplode(array((0 until bands).map { bnd =>
        slice(col("signature"), bnd * r + 1, r)
      }: _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_key"))
    val a = banded.withColumnRenamed("doc_id", "doc_a")
    val b = banded.withColumnRenamed("doc_id", "doc_b")
    a.join(b, Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** Tier 3 composed — MinHash/LSH candidates verified with exact Jaccard
    * (the candidate set is tiny, so the exact verify is cheap even at
    * corpus scale). One pinned [[MinHashKernel]] pass feeds both the
    * signatures of the band join and the shingle sets of the verify; both
    * stay in Catalyst. The doc_id must be integral. */
  def minhashNearDups(documents: DataFrame, k: Int = 3, numPerm: Int = 64,
                      bands: Int = 16, threshold: Double = 0.5,
                      wide: Boolean = false): DataFrame = {
    val sigs = MinHashKernel.signatures(documents, k, numPerm, wide)
    val cands = lshCandidates(sigs.select(col("doc_id"), col("signature")), bands, numPerm)
    val docs = sigs.select(col("doc_id"), col("sh"))
    cands
      .join(docs.withColumnsRenamed(Map("doc_id" -> "doc_a", "sh" -> "sh_a")), Seq("doc_a"))
      .join(docs.withColumnsRenamed(Map("doc_id" -> "doc_b", "sh" -> "sh_b")), Seq("doc_b"))
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ------------------------------------------------------------ winnowing

  /** Winnowing near-dups: documents sharing ≥ minShared selected
    * rolling-hash fingerprints ([[graft.text.TextAnalysis.winnowFingerprints]])
    * are near-dup candidates — the MOSS-style scheme, robust to insertions
    * because fingerprints are window-local. Join is on fingerprint value:
    * only docs sharing content ever meet. */
  def winnowNearDups(documents: DataFrame, k: Int = 4, w: Int = 5,
                     minShared: Int = 3, maxDocFreq: Int = 50): DataFrame = {
    val fps = graft.text.TextAnalysis.winnowFingerprintRows(documents, k, w)
    // Doc-frequency cap: winnowing biases selection toward globally small
    // hash values, so a fingerprint common to the corpus gets selected by
    // EVERY document containing it — without this cap one ubiquitous fp
    // shared by n docs contributes n²/2 join rows (observed: 926 s at
    // sf0.1 vs ~4 s with the cap). A fingerprint in >maxDocFreq docs
    // carries no near-dup signal anyway — classic stop-shingle removal.
    val rare = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq)
      .select(col("fp"))
    val kept = fps.join(rare, Seq("fp"))
    val a = kept.withColumnRenamed("doc_id", "doc_a")
    val b = kept.withColumnRenamed("doc_id", "doc_b")
    a.join(b, Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // -------------------------------------------------------------- simhash

  /** Tier 4a — 64-bit SimHash: each token hash votes ±1 per bit position;
    * the sketch sets bit i when the vote sum is positive. One aggregate
    * fold over token hashes — map-side, 8 bytes per document out. */
  /** The per-bit hash family (r10 graduation, the [[minhashPerm]]
    * precedent): bit i of a token's sketch contribution is the PARITY of
    * the universal hash (a·x + b) mod p over the token's code-point
    * polynomial ([[graft.functions.PolyHash]]) — permutation constants
    * `minhashPerm(64 + i)`, disjoint from the MinHash family's 0..63. No
    * xxhash64 anywhere, so the DuckDB oracle re-derives every vote. */
  def simhashBit(i: Int): (Long, Long) = minhashPerm(64 + i)

  def simhash(text: Column): Column = {
    val p = lit(graft.functions.PolyHash.Mod)
    val aArr = array((0 until 64).map(i => lit(simhashBit(i)._1)): _*)
    val bArr = array((0 until 64).map(i => lit(simhashBit(i)._2)): _*)
    val votes = aggregate(
      transform(TextAnalysis.tokens(text),
        t => graft.functions.PolyHash.poly_hash(t)),
      array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(63)),
        (v, i) => v + when(
          ((element_at(aArr, (i + 1).cast("int")) * h
            + element_at(bArr, (i + 1).cast("int"))) % p) % 2 === 1,
          1).otherwise(-1)))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)),
        (v, i) => when(v > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** [[simhash]] as 64 codegen'd conditional-sum aggregates over exploded
    * token rows (the same interpreted-HOF → hash-aggregate rewrite as
    * MinHash; the column expression form is kept for composability and as
    * the semantics reference — [[DedupSpec]] pins them equal). The poly
    * base hash is computed once per token; the 64 bit-votes are integer
    * arithmetic on it. */
  def simhashes(documents: DataFrame): DataFrame = {
    val p = graft.functions.PolyHash.Mod
    val votes = (0 until 64).map { i =>
      val (a, b) = simhashBit(i)
      sum(when(((lit(a) * col("h") + lit(b)) % lit(p)) % 2 === 1, 1)
        .otherwise(-1)).as(s"v$i")
    }
    val packed = (0 until 64).map { i =>
      when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    documents
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), graft.functions.PolyHash.poly_hash(col("tok")).as("h"))
      .groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), packed.as("simhash"))
  }

  /** Tier 4b — SimHash near-dups: candidate pairs share at least one of four
    * 16-bit bands (any pair within Hamming distance 3 must agree on ≥1 band
    * — pigeonhole), verified with exact bit_count(xor) ≤ maxHamming.
    *
    * Band values live in a FIXED 16-bit space, so at corpus scale random
    * collisions grow as n²/65k per band — the same occupancy trap the
    * hyperplane-LSH path had (SURVEY §8 round-2 stress). Mitigation here is
    * a document-frequency cap on band values, as in [[winnowNearDups]]: a
    * band value shared by more than `maxBandFreq` documents is dominated by
    * random collisions and carries no near-dup signal, so its n²-ish bucket
    * is dropped instead of joined. True near-dup pairs agree on ~all four
    * bands, so losing one saturated band barely dents recall (pinned in
    * DedupSpec). */
  def simhashNearDups(documents: DataFrame, maxHamming: Int = 3,
                      maxBandFreq: Int = 1000): DataFrame = {
    // pin the sketches (8 bytes/doc): the band-frequency filter AND the
    // candidate join both read them, and without pinning the 64-vote
    // aggregation pipeline would run twice
    val sh = simhashes(documents).pinTier
    val banded0 = sh.select(
      col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map { bnd =>
        shiftright(col("simhash"), bnd * 16).bitwiseAND(lit(0xFFFFL))
      }: _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_val"))
    val rare = banded0.groupBy(col("band"), col("band_val"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxBandFreq)
      .select(col("band"), col("band_val"))
    val banded = banded0.join(rare, Seq("band", "band_val"))
    val a = banded.withColumnsRenamed(Map("doc_id" -> "doc_a", "simhash" -> "sh_a"))
    val b = banded.withColumnsRenamed(Map("doc_id" -> "doc_b", "simhash" -> "sh_b"))
    a.join(b, Seq("band", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Edit-distance near-dup tier: exact Levenshtein over PREFIX-BLOCKED
    * candidates — the classic record-linkage blocking scheme. Documents
    * sharing their first `prefixLen` normalized characters meet in one
    * equi-join bucket; each candidate pair is verified with the real edit
    * distance and kept at `dist ≤ maxDist`. This tier catches the
    * byte-level mutation class (typo farms, OCR re-scans, template fills
    * with short substitutions) that token-shingle Jaccard under-weights,
    * and deliberately MISSES prefix-divergent edits — recall for those is
    * the MinHash path's contract, same division of labor as the
    * simhash/winnow tiers.
    *
    * Scale shape: the join key is the prefix, so candidate cost is
    * Σ bucket² — bounded by the same stop-key rule as the shingle tiers:
    * a prefix shared by more than `maxBucket` documents is boilerplate
    * (every "<!DOCTYPE html>…" page on the web), carries no edit-distance
    * signal, and is dropped from the TIER (documented semantics, mirrored
    * in the oracle — [[DefaultMaxShingleDocFreq]] precedent). Levenshtein
    * itself is O(len²) per pair — at corpus scale, cap candidate text
    * length upstream (chunk or fingerprint first); the operator verifies
    * pairs, it does not promise sub-quadratic string compare. */
  def editDistancePairs(documents: DataFrame, maxDist: Int = 2,
                        prefixLen: Int = 12,
                        maxBucket: Int = 500): DataFrame = {
    val norm = documents.select(col("doc_id"),
      lower(col("text")).as("t"),
      substring(lower(col("text")), 1, prefixLen).as("pfx"))
    val hot = norm.groupBy(col("pfx"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket)
      .select(col("pfx"))
    // Pinned: BOTH pair sides read the tier, and the final orderBy's range
    // sampling re-reads the whole plan (the ngramJaccardPairs rationale).
    // Then repartitioned to CPU-proportional parallelism: Catalyst pushes
    // the Levenshtein predicate down INTO the join condition (an expensive
    // predicate is still "just a filter" to the optimizer), so the DP runs
    // inside the join stage — whose task count is the probe side's. A
    // few-MB tier coalesces to ~2 partitions on byte-based sizing while
    // every probed pair costs an O(len·maxDist) DP, the classic
    // bytes≠CPU blind spot; one cheap exchange of the (tiny) tier gives
    // the verification every core. Measured 5× at sf0.1.
    val tier = norm.join(hot, Seq("pfx"), "left_anti").pinTier
      .repartition(documents.sparkSession.sparkContext.defaultParallelism,
        col("pfx"))
    val a = tier.select(col("pfx"), col("doc_id").as("doc_a"), col("t").as("ta"))
    val b = tier.select(col("pfx"), col("doc_id").as("doc_b"), col("t").as("tb"))
    // Candidates carry ONLY the cheap predicates (pair ordering + the
    // length band: |len(a)−len(b)| lower-bounds the edit distance), and
    // are PINNED before verification. The pin is a deliberate optimizer
    // barrier: left to itself, Catalyst folds the Levenshtein predicate
    // into the join CONDITION and reorders it ahead of `doc_a < doc_b` —
    // the DP then runs inside the join on every raw match, including the
    // self-pairs and both orderings of every pair (identical strings never
    // hit the banded early-exit, so self-pairs are full O(len²) each).
    // Post-pin, the DP touches exactly the length-surviving candidate set.
    val candidates = a.join(b, Seq("pfx"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(abs(length(col("ta")) - length(col("tb"))) <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("ta"), col("tb"))
      .pinTier
    // THRESHOLDED Levenshtein: the banded DP is O(len·maxDist) instead
    // of O(len²) on rejects — and returns −1 above the threshold, which
    // the kept-set filter drops exactly like the full-DP `dist ≤ maxDist`
    // did (values ≤ threshold are exact, so the oracle's unbanded
    // levenshtein agrees on every emitted row)
    candidates
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("ta"), col("tb"), maxDist).as("dist"))
      .filter(col("dist").between(0, maxDist))
      .orderBy(col("doc_a"), col("doc_b"))
  }
}
