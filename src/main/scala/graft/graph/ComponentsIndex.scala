package graft.graph

import graft.Tier.PinOps
import graft.lake.Commit
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The standing components index — the third standing structure next to
  * [[graft.dedup.ShingleIndex]] (dedup) and [[graft.sim.IvfIndex]] (ANN):
  * component labels persisted once, and each NEW edge batch (today's
  * near-dup pairs, today's co-occurrences) admitted by re-solving ONLY the
  * components the batch touches. Without it, every nightly batch pays the
  * full-corpus contraction for what is usually a handful of merges.
  *
  * Admission economics: the solve is bounded by the AFFECTED subgraph
  * (members and edges of components containing a batch endpoint, plus the
  * batch itself) — batch-bounded in practice since near-dup components are
  * quasi-cliques, not corpus-spanning chains. The standing structures are
  * touched only as pruned columnar scans: labels (two long columns) filter
  * map-side against the broadcast batch-endpoint set, edges against the
  * broadcast member set. Nothing corpus-sized shuffles on admission.
  *
  * Correctness: components are closed under edges, so an unaffected
  * component cannot change (no batch edge touches it) and the affected
  * region's exact solution comes from the same star contraction the full
  * build uses — merged labels are IDENTICAL to a full recompute over
  * (standing ∪ batch) edges, which is exactly how the driver gate checks
  * it (shared closure oracle, the incremental-dedup precedent).
  * Min-vertex-id labels merge stably: the minimum of a merged component is
  * the minimum over its members, whatever partial labels said before.
  *
  * Persistence is a versioned atomic commit (the
  * [[graft.jobs.EventLogMaintenance]] pattern — the r9 advisor flagged the
  * previous append-then-overwrite order as crash-inconsistent: edges could
  * land whose new vertices had no labels until the identical batch was
  * replayed). Layout:
  *
  * ```
  * path/edges/part_v=N/…parquet   ← commit N's NEW edges (append-only)
  * path/labels_v=N/…parquet       ← commit N's full (id, component) set
  * path/_current                  ← one line: committed version N
  * ```
  *
  * Both artifacts of a commit are written under the NEXT version before
  * `_current` flips via write-temp + atomic rename; readers resolve
  * `_current` first and prune `part_v > current` out of the edge scan
  * (`part_v` is a partition column — uncommitted directories are never
  * even listed into the plan). A crash at any point leaves the old version
  * fully consistent, and ANY subsequent admission — the same batch or a
  * different one — first deletes the orphaned `> current` directories and
  * proceeds correctly; no same-batch-replay recovery requirement remains.
  */
object ComponentsIndex {

  private def undirect(pairs: DataFrame, a: String, b: String): DataFrame =
    pairs
      .filter(col(a) =!= col(b))
      .select(least(col(a), col(b)).as("a"), greatest(col(a), col(b)).as("b"))
      .distinct()

  /** The committed version, or 0 when nothing has committed yet. Version
    * directories become visible only through the atomic pointer flip, so
    * a missing `_current` means an empty (or never-built) index. */
  def currentVersion(spark: SparkSession, path: String): Long =
    Commit.pointer(spark, path).getOrElse(0L)

  /** Write both commit artifacts under version `toV`, then flip the
    * pointer. Deleting stale `> current` leftovers from a crashed attempt
    * happens here so every writer path shares the recovery rule. */
  private def commit(spark: SparkSession, path: String,
                     newEdges: DataFrame, labels: DataFrame,
                     toV: Long): Unit = {
    val f = Commit.fs(spark, new Path(path))
    f.mkdirs(new Path(path))
    // clear orphans from any crashed prior attempt (invisible to readers,
    // but mode("overwrite") below must not merge with half-written files)
    val edgeDir = new Path(path, s"edges/part_v=$toV")
    val labelDir = new Path(path, s"labels_v=$toV")
    f.delete(edgeDir, true)
    f.delete(labelDir, true)
    newEdges.write.mode("overwrite").parquet(edgeDir.toString)
    labels.write.mode("overwrite").parquet(labelDir.toString)
    Commit.flip(spark, path, toV)
    // retire the superseded label snapshot (edges are append-only; labels
    // keep only the committed version plus its predecessor for readers
    // that resolved the pointer just before the flip)
    if (toV >= 3) f.delete(new Path(path, s"labels_v=${toV - 2}"), true)
  }

  /** Build (overwrite) the standing index from a pair-list snapshot. */
  def build(pairs: DataFrame, path: String,
            a: String = "doc_a", b: String = "doc_b"): Unit = {
    val spark = pairs.sparkSession
    val und = undirect(pairs, a, b).pinTier
    val labels = Components.connectedComponentsStar(und, "a", "b").pinTier
    commit(spark, path, und, labels, currentVersion(spark, path) + 1)
  }

  def labels(spark: SparkSession, path: String): DataFrame = {
    val v = currentVersion(spark, path)
    spark.read.parquet(new Path(path, s"labels_v=$v").toString)
  }

  /** The committed undirected edge set — every `part_v <= current`
    * partition of the append-only edge log (partition pruning keeps
    * uncommitted directories out of the scan). */
  def edges(spark: SparkSession, path: String): DataFrame = {
    val v = currentVersion(spark, path)
    spark.read.parquet(new Path(path, "edges").toString)
      .filter(col("part_v") <= v)
      .select(col("a"), col("b"))
  }

  /** Admit an edge batch: re-solve the touched components, merge, commit
    * atomically, and return the merged (id, component) labels. Idempotent
    * per edge — a replayed batch adds no edges and re-solves to the same
    * labels; a crashed admission is invisible and any later admission
    * clears its leftovers. */
  def admit(spark: SparkSession, batchPairs: DataFrame, path: String,
            a: String = "doc_a", b: String = "doc_b"): DataFrame = {
    val fromV = currentVersion(spark, path)
    val batch = undirect(batchPairs, a, b).pinTier
    val standing = labels(spark, path)
    val standingEdges = edges(spark, path)
    // batch endpoints and the components they touch — both batch-bounded,
    // both broadcast into pruned scans of the standing structures
    val eps = batch.select(col("a").as("id"))
      .union(batch.select(col("b").as("id"))).distinct().pinTier
    val affected = standing
      .join(broadcast(eps), Seq("id"), "left_semi")
      .select(col("component")).distinct().pinTier
    val members = standing
      .join(broadcast(affected), Seq("component"), "left_semi")
      .select(col("id")).pinTier
    // closure: an edge of an affected component has BOTH endpoints in it,
    // so one-sided membership identifies the full affected edge set
    val subEdges = standingEdges
      .join(broadcast(members.select(col("id").as("a"))), Seq("a"), "left_semi")
    val solved = Components.connectedComponentsStar(
      subEdges.unionByName(batch), "a", "b")
    val merged = standing
      .join(broadcast(affected), Seq("component"), "left_anti")
      .select(col("id"), col("component"))
      .unionByName(solved.select(col("id"), col("component")))
      .pinTier // materialized before the commit swaps the labels pointer
    val newEdges = batch.join(standingEdges, Seq("a", "b"), "left_anti").pinTier
    commit(spark, path, newEdges, merged, fromV + 1)
    merged
  }
}
