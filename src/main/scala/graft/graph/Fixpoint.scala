package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The graph fixpoints' shared scaffolding: one place for each decision
  * every iterative operator here (PageRank/PPR, HITS, both connected-
  * components variants, LPA, k-core, BFS) would otherwise re-make by hand.
  *
  *  - [[stateParts]]: state partitioning sized to the row count;
  *  - [[fits]]/[[broadcaster]]: broadcast the state while it fits a byte
  *    budget, shuffle-join past it;
  *  - [[pinRound]]: pin every p-th round and the last;
  *  - [[signature]]: the order-independent convergence signature;
  *  - [[sumToN]]: the GraphX sum-to-N score normalization;
  *  - [[iterate]]: the round loop that composes the three above it.
  *
  * Broadcast policy. Fixpoint state lives behind `localCheckpoint`s, whose
  * size statistics are UNKNOWN to Catalyst — left alone, every round plans
  * a full shuffle join even when the state is kilobytes. The fixpoints
  * therefore decide themselves, from BYTES shipped to every executor (not
  * a raw row count): estimated from the state's schema (fixed-width types
  * exactly, strings conservatively) and compared against a configurable
  * budget, so a wide-row state stops broadcasting earlier and a narrow
  * long/long state keeps the fast path longer. Within the budget, the rank
  * family keeps its state on the driver and broadcasts it as a primitive
  * vector each round ([[RankKernel]]); the other fixpoints broadcast the
  * state side of their per-round joins. Past it, all of them shuffle-join.
  *
  * Config: `spark.graft.fixpoint.maxBroadcastBytes` (default 32 MB — the
  * old 1M-row cutoff × ~32 B/row, and comfortably inside a 1 GiB-executor
  * broadcast budget at 100 TB cluster shape). Set to 0 to force the
  * shuffle-join branch — Stress uses exactly that to exercise the fallback
  * path every run, and FixpointSpec checks that both branches publish
  * identical rows.
  *
  * Each decision prints one `{"graft_fixpoint":…}` line with the estimate
  * and the branch taken, so bench/stress artifacts record which plan shape
  * ran (the same attribution rule as the netlib-backend log).
  */
private[graft] object Fixpoint {

  val ConfKey = "spark.graft.fixpoint.maxBroadcastBytes"
  val DefaultMaxBytes: Long = 32L * 1024 * 1024

  /** Estimated in-memory bytes of one state row: UnsafeRow null bitmap +
    * 8-byte slots for fixed-width fields, strings at a conservative 32 B
    * (graph ids in the wild: 11-char YouTube ids, sha-prefix doc ids). */
  def estimateRowBytes(schema: StructType): Long =
    8L + schema.fields.map(_.dataType match {
      case LongType | DoubleType | IntegerType | FloatType |
           ShortType | ByteType | BooleanType | DateType | TimestampType => 8L
      case StringType => 32L
      case _ => 64L // nested/binary state: assume wide
    }).sum

  /** True when `nRows` rows of `state`'s schema fit the broadcast budget. */
  def fits(state: DataFrame, nRows: Long, op: String): Boolean = {
    val max = state.sparkSession.conf
      .getOption(ConfKey).map(_.toLong).getOrElse(DefaultMaxBytes)
    val est = nRows * estimateRowBytes(state.schema)
    val bcast = est <= max
    println(s"""{"graft_fixpoint":"$op","n_rows":$nRows,"est_bytes":$est,""" +
      s""""max_bytes":$max,"broadcast":$bcast}""")
    bcast
  }

  /** The join-side wrapper for state of `nRows` rows shaped like `state`:
    * `broadcast` while it [[fits]], the identity (a shuffle join) past
    * the budget. Decided once, here, and logged once. */
  def broadcaster(state: DataFrame, nRows: Long, op: String): DataFrame => DataFrame = {
    val bcast = fits(state, nRows, op)
    df => if (bcast) broadcast(df) else df
  }

  /** State partitions for `nRows` rows: ~100k rows per partition, capped
    * at the core count. Iterating a few thousand rows across the full
    * session fan-out is pure scheduler overhead (measured 45% faster
    * PageRank at sf0.1); real vertex counts scale it back up. */
  def stateParts(state: DataFrame, nRows: Long): Int =
    math.max(1, math.min(state.sparkSession.sparkContext.defaultParallelism,
      (nRows / 100000L).toInt + 1))

  /** Pin cadence: the state after round `r` of `rounds` is pinned when `r`
    * is a multiple of `every` or the last round. Each pin is a full
    * materialize job, while a 2–3-round join nesting is still cheap for
    * Catalyst to analyze — only unbounded nesting is not (measured ~25%
    * faster than per-round pins for PageRank at sf0.1). */
  def pinRound(r: Int, every: Int, rounds: Int): Boolean =
    r % every == 0 || r == rounds

  /** Order-independent (row count, bit_xor of xxhash64(cols)) signature in
    * ONE aggregate. bit_xor, not a hash sum: a sum overflows ANSI long
    * arithmetic. Callers feed distinct rows, so xor cancellation of
    * duplicates cannot occur. */
  def signature(state: DataFrame, cols: String*): (Long, Long) = {
    val r = state.agg(count(lit(1)),
      coalesce(bit_xor(xxhash64(cols.map(col): _*)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The scale that makes column `c` of `state` sum to `n` (GraphX/
    * GraphFrames normalize scores to the vertex count). An empty or
    * all-zero state scales by `n` instead of reading a null sum or
    * dividing by zero — its scores are 0 (or absent) either way. */
  def sumToN(state: DataFrame, c: String, n: Long): Double = {
    val r = state.agg(sum(col(c))).head()
    scaleToN(if (r.isNullAt(0)) 0.0 else r.getDouble(0), n)
  }

  /** [[sumToN]]'s scale from an already computed `total`. */
  def scaleToN(total: Double, n: Long): Double =
    n.toDouble / (if (total == 0.0) 1.0 else total)

  /** The round loop: `rounds` applications of `step(state, round)` from
    * `state0`, pinning the state at the [[pinRound]] cadence with `pin`
    * (each operator keeps its own state partitioning). With `sigCols`,
    * every pinned state's [[signature]] is compared to the previous pin's
    * (`sig0`: the initial state's, when the caller already has it) and the
    * loop stops on a repeat — sound for monotone fixpoints, whose state
    * cannot return to an earlier value. The last round run is always
    * pinned, so callers read materialized state. */
  def iterate(state0: DataFrame, rounds: Int, pinEvery: Int,
              pin: DataFrame => DataFrame, sigCols: Seq[String] = Nil,
              sig0: Option[(Long, Long)] = None)
             (step: (DataFrame, Int) => DataFrame): DataFrame = {
    var state = state0
    var prevSig = sig0
    var r = 0
    var converged = false
    while (!converged && r < rounds) {
      r += 1
      state = step(state, r)
      if (pinRound(r, pinEvery, rounds)) {
        state = pin(state)
        if (sigCols.nonEmpty) {
          val s = signature(state, sigCols: _*)
          converged = prevSig.contains(s)
          prevSig = Some(s)
        }
      }
    }
    state
  }
}
