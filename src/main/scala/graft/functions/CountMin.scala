package graft.functions

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.Commit

/** Count–Min sketch (Cormode & Muthukrishnan 2005) over a keyed stream —
  * the MERGEABLE heavy-hitter counter a 100 TB pipeline tracks hot terms
  * / hot shingles / hot URLs with when the exact per-key aggregate
  * (`q_hot_shingles`' form) is itself corpus-sized state. The sketch is a
  * d×w counter matrix: every occurrence of key x increments counter
  * `(j, h_j(x) mod w)` for each of the d rows; a point estimate is the
  * MIN over its d counters — always ≥ the true count, over by at most
  * ≈ N/w with probability 1−(1/2)^d (the classic bound; spec-asserted on
  * the fixture).
  *
  * Spark shape: the sketch IS a bounded DataFrame `(row, col, cnt)` of at
  * most d·w rows — explode each key occurrence into its d (row, col)
  * cells and hash-aggregate (map-side combined: the only shuffle carries
  * ≤ d·w·partitions pre-combined rows, never the corpus). Sketches are
  * LINEAR, so shards merge counterwise ([[merge]]) — the property that
  * lets every executor/day/source build its own sketch and a reducer add
  * them, exactly like the HLL registers of q_distinct_hll.
  *
  * Cross-engine determinism (the graduation property): row hashes are the
  * [[graft.dedup.Dedup.minhashPerm]] order-1 universal family over the
  * [[PolyHash]] code-point base value, constants offset to row 128+
  * (disjoint from the MinHash 0–63 and SimHash 64–127 ranges), so DuckDB
  * re-derives every cell and every estimate as pure integer arithmetic —
  * the q_heavy_hitters_cms gate pins sketch AND estimates, not a recall
  * boolean. All intermediates stay < 2⁶² (the 31-bit family).
  */
object CountMin {

  /** Row-j universal-family constants — minhashPerm offset past the
    * SimHash range so the three sketch families never share a map. */
  def perm(j: Int): (Long, Long) = graft.dedup.Dedup.minhashPerm(128 + j)

  /** The (row, col) cell of `h` (a PolyHash base value) in row j. */
  private def cell(h: org.apache.spark.sql.Column, j: Int, w: Int) = {
    val (a, b) = perm(j)
    pmod((lit(a) * h + lit(b)) % lit(PolyHash.Mod), lit(w.toLong))
  }

  /** Build the sketch table `(row, col, cnt)` from a column of keys —
    * one row per OCCURRENCE (pre-aggregate duplicates away upstream only
    * if you want set-semantics counts). */
  def sketch(items: DataFrame, keyCol: String,
             d: Int = 4, w: Int = 1024): DataFrame = {
    require(d >= 1 && w >= 2, s"CountMin: need d >= 1, w >= 2 (got d=$d w=$w)")
    val h = PolyHash.poly_hash(col(keyCol))
    items
      .select(explode(array((0 until d).map(j =>
        struct(lit(j).as("row"), cell(h, j, w).as("col"))): _*)).as("rc"))
      .groupBy(col("rc.row").as("row"), col("rc.col").as("col"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Counterwise sum — sketches are linear, so shard sketches merge into
    * exactly the sketch of the concatenated stream (spec-asserted). */
  def merge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("row"), col("col"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Point estimates for the keys in `keys(keyCol)`: min over the d row
    * counters (a missing cell means no occurrence ever hashed there —
    * count 0). Output: (keyCol, cms_estimate). */
  def estimate(sk: DataFrame, keys: DataFrame, keyCol: String,
               d: Int = 4, w: Int = 1024): DataFrame = {
    val h = PolyHash.poly_hash(col(keyCol))
    keys
      .select(col(keyCol), posexplode(array((0 until d).map(j =>
        cell(h, j, w)): _*)).as(Seq("row", "col")))
      .join(sk, Seq("row", "col"), "left")
      .groupBy(col(keyCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_estimate"))
  }

  // ------------------------------------------------- standing sketch
  // The MAINTAINED form: the sketch persists as a versioned one-file
  // sidecar (it is ≤ d·w rows however large the stream), and each
  // micro-batch admission MERGES the batch's own sketch into it.
  // Exactly-once under foreachBatch's at-least-once delivery comes from
  // the version number ITSELF being the batch ledger: admission of
  // batchId b writes version b+1, and a replay of b (current version
  // already ≥ b+1) is skipped — merging is NOT idempotent (a re-merge
  // double-counts), so the ledger, not an anti-join, carries the
  // exactly-once contract here. Versions follow the ComponentsIndex
  // crash rule (write v=N+1, readers take the highest _SUCCESS-complete
  // version): a crashed admission is invisible and the replay that
  // follows finds version b, admits, and commits b+1. Each commit then
  // deletes the complete versions before its predecessor, so the
  // directory holds two versions however long the stream. Single writer,
  // like every standing tier. Bootstrap: the standing sketch starts
  // EMPTY (no version — reads as zero cells), the
  // indexMaintenanceStreamGate rule.

  private def complete(spark: SparkSession, path: String)(v: Long) =
    Commit.fs(spark, new Path(path)).exists(new Path(path, s"v=$v/_SUCCESS"))

  /** Highest `_SUCCESS`-complete version (0 = empty sketch). */
  def currentVersion(spark: SparkSession, path: String): Long =
    Commit.versions(spark, path, complete(spark, path)).lastOption.getOrElse(0L)

  /** The standing sketch's current cells (empty frame at version 0). */
  def readStanding(spark: SparkSession, path: String): DataFrame = {
    val v = currentVersion(spark, path)
    if (v == 0L) {
      import spark.implicits._
      Seq.empty[(Int, Long, Long)].toDF("row", "col", "cnt")
    } else spark.read.parquet(s"$path/v=$v")
  }

  /** Admit micro-batch `batchId` (0-based, monotonic — foreachBatch's
    * contract): merge its sketch into the standing one and commit
    * version batchId+1. A replayed batch (version already committed)
    * is a no-op. Returns true when the batch was admitted. */
  def admit(spark: SparkSession, batch: DataFrame,
            keyCol: String, path: String, batchId: Long,
            d: Int = 4, w: Int = 1024): Boolean = {
    val cur = currentVersion(spark, path)
    if (cur >= batchId + 1) false // replay — already counted exactly once
    else {
      merge(readStanding(spark, path), sketch(batch, keyCol, d, w))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$path/v=${batchId + 1}")
      Commit.retire(spark, path, complete(spark, path))
      true
    }
  }
}
