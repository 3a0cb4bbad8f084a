package graft.serve

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Filters
import graft.ops.TopK.clampK

/** The interactive phase-2 query surface — the reference GUI's
  * "Frequency by search condition" page (`guiV5.py:649-710`: a form whose
  * blank fields mean "ignore this filter", a total/matching count pair,
  * and a top-200-by-views result table) plus the cache-backed report
  * pages (`guiV5.py:59-78`), re-expressed as a thin parameter-binding
  * layer over the oracle-tested operators.
  *
  * Serve-layer rules the reference's Streamlit callbacks follow implicitly
  * and this API enforces explicitly:
  *
  *   - **k is clamped** to [1, [[graft.ops.TopK.MaxK]]]: a user-supplied
  *     page size can never become an unbounded driver collect. The ops
  *     top-K entry points the GUI reaches directly apply the same clamp.
  *   - **Counting is one pruned scan**, not two: the reference runs
  *     `df.count()` then `filtered.count()` (`guiV5.py:254-256`) — two full
  *     passes. [[counts]] computes both in a single aggregate whose scan is
  *     column-pruned to exactly the filter columns; at 100 TB that halves
  *     the dominant cost of every search.
  *   - **Pages are deterministic**: the GUI sorts by views alone
  *     (`guiV5.py:259`), which leaves tied rows in nondeterministic file
  *     order — re-running a page could show different rows. Every ordering
  *     here appends the id as a tiebreak, so page N is the same rows on
  *     every execution and pagination never skips/duplicates across pages.
  *   - **Pagination stays in the TakeOrderedAndProject regime**: offset+limit
  *     over a sort plans a bounded top-(offset+k) per partition, never a
  *     global sort — but that also means deep paging costs offset+k; the
  *     clamp on page depth keeps the bound honest.
  *   - **Cache reads are schema-validated** before serving ([[Caches.read]]),
  *     so a stale or foreign cache fails fast instead of rendering nulls.
  *   - **Cache reads resolve the schema from one footer, no Spark job**
  *     ([[graft.model.Tables.parquet]]): Spark's own schema inference
  *     launches a job per read, a fixed cost on every report request.
  *   - **Enrichment is a pruned scan plus a driver-side join**
  *     ([[graft.ops.Joins.enrichWithPrunedDim]]): two jobs, no broadcast
  *     and no pin, for any k-row result.
  */
object Api {

  /** The GUI's fixed table size (`guiV5.py:261`: top 200 by views). */
  val DefaultK = 200

  /** Deepest allowed page: top-(offset+k) per partition is the physical
    * cost of a page, so unbounded depth would be an unbounded sort buffer. */
  val MaxPage = 100

  /** A search form submission. `None` (or a blank category) means "ignore
    * this filter" — the GUI's blank-field/zero convention
    * (`guiV5.py:678-690`). */
  final case class SearchRequest(
      category: Option[String] = None,
      minLength: Option[Long] = None,
      maxLength: Option[Long] = None,
      minViews: Option[Long] = None,
      k: Int = DefaultK,
      page: Int = 0)

  def clampPage(p: Int): Int = math.max(0, math.min(p, MaxPage))

  private def predicates(req: SearchRequest): Seq[Column] = Seq(
    req.category.filter(_.nonEmpty).map(col("category") === _),
    req.minLength.map(col("length") >= _),
    req.maxLength.map(col("length") <= _),
    req.minViews.map(col("views") >= _)).flatten

  /** Total and matching counts in ONE pass: a single aggregate over a scan
    * pruned to the filter columns (`count_if` for the hit side). The
    * reference's two sequential counts (`guiV5.py:254-256`) scan twice. */
  def counts(videos: DataFrame, req: SearchRequest): DataFrame = {
    val hit = predicates(req).reduceOption(_ && _).getOrElse(lit(true))
    videos.agg(
      count(lit(1)).as("total"),
      count(when(hit, 1)).as("hits"))
  }

  /** One result page: filter → order by (views desc, id) → offset/limit.
    * Column set is the GUI's result table (`guiV5.py:258-261`). */
  def searchPage(videos: DataFrame, req: SearchRequest): DataFrame = {
    val k = clampK(req.k)
    val page = clampPage(req.page)
    Filters.dynamicFilter(videos, predicates(req))
      .select(col("id"), col("category"), col("views"), col("length"))
      .orderBy(col("views").desc, col("id"))
      .offset(page * k)
      .limit(k)
  }

  /** The full form submission — counts + first page, like the GUI's
    * "Run search" button. Two jobs; both scans are pruned and pushed. */
  def frequencySearch(videos: DataFrame, req: SearchRequest): (Long, Long, DataFrame) = {
    val c = counts(videos, req).head()
    (c.getLong(0), c.getLong(1), searchPage(videos, req))
  }

  /** TPC-H twin of the search form over `orders` — the shape the
    * correctness gate pins against DuckDB (same clamp, order, offset,
    * limit semantics; columns from [[Filters.searchOrders]]). */
  def ordersSearchPage(orders: DataFrame,
                       status: Option[String] = None,
                       minPrice: Option[Double] = None,
                       maxPrice: Option[Double] = None,
                       priority: Option[String] = None,
                       k: Int = DefaultK, page: Int = 0): DataFrame =
    Filters.searchOrders(orders, status, minPrice, maxPrice, priority)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .offset(clampPage(page) * clampK(k))
      .limit(clampK(k))

  /** One-pass total/hits for the orders twin (oracle-checked). */
  def ordersSearchCounts(orders: DataFrame,
                         status: Option[String] = None,
                         minPrice: Option[Double] = None,
                         maxPrice: Option[Double] = None,
                         priority: Option[String] = None): DataFrame = {
    val preds = Seq(
      status.map(col("o_orderstatus") === _),
      minPrice.map(col("o_totalprice") >= _),
      maxPrice.map(col("o_totalprice") <= _),
      priority.map(col("o_orderpriority") === _)).flatten
    val hit = preds.reduceOption(_ && _).getOrElse(lit(true))
    orders.agg(count(lit(1)).as("total"), count(when(hit, 1)).as("hits"))
  }

  /** Serve a precomputed report cache with re-slice — the GUI's phase-2
    * read path (`guiV5.py:59-78`: load cache, validate columns, filter /
    * top-k in the page). Schema validation happens BEFORE any row is
    * served; the slice is a plan over the cached parquet, so category
    * filters prune at the cache scan. */
  def cachedReportPage(spark: SparkSession, path: String,
                       requiredColumns: Seq[String],
                       slice: Seq[Column] = Nil,
                       orderBy: Seq[Column] = Nil,
                       k: Int = DefaultK): DataFrame = {
    val cached = Caches.read(spark, path, requiredColumns)
    val sliced = Filters.dynamicFilter(cached, slice)
    val ordered =
      if (orderBy.nonEmpty) sliced.orderBy(orderBy: _*) else sliced
    ordered.limit(clampK(k))
  }
}
