package graftbench

import java.io.File
import java.security.MessageDigest
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.Success
import org.apache.spark.graftbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry}
import graft.graph.EdgeTier
import graft.jobs.Precompute
import graft.model.Tables
import graft.ops.{Joins, TopK}
import graft.serve.Api

/** The benchmark's JVM side: runs one workload of a plan written by
  * `perfbench/run.py` and writes raw timings, listener records and the
  * operation outputs to a result file. It calls graft only through its
  * public entry points and attributes Spark work with listeners it
  * registers itself; every derived metric is computed in Python.
  *
  * Usage: graftbench.Main <plan.json> <result.json>
  */
object Main {

  type JMap = java.util.Map[String, AnyRef]

  /** Wall clock in epoch milliseconds with nanoTime resolution, so spans
    * line up with the millisecond event times Spark's listeners report. */
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNano) / 1e6

  def obj(kv: (String, Any)*): JMap = {
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    kv.foreach { case (k, v) => m.put(k, toJava(v)) }
    m
  }

  def toJava(v: Any): AnyRef = v match {
    case null => null
    case m: java.util.Map[_, _] => m
    case m: scala.collection.Map[_, _] =>
      val o = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => o.put(k.toString, toJava(x)) }
      o
    case s: Iterable[_] => s.map(toJava).toList.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  // ---- listeners -------------------------------------------------------

  final case class TaskRec(stage: Int, launch: Long, finish: Long, cpuNs: Long,
                           gcMs: Long, shuffleWrite: Long, spill: Long,
                           failed: Boolean, attempt: Int)
  final case class JobRec(id: Int, group: String, start: Long, stages: Seq[Int])

  /** Every task and job of the process, written in both modes: the
    * untraced run sums task CPU and times jobs over the timed window; the
    * traced run also attributes them to spans. */
  final class Recorder extends SparkListener {
    val tasks = new ConcurrentLinkedQueue[TaskRec]()
    val jobs = new ConcurrentLinkedQueue[JobRec]()
    val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.add(JobRec(e.jobId, group, e.time, e.stageIds))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.put(e.jobId, e.time)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = Option(e.taskMetrics)
      tasks.add(TaskRec(e.stageId, i.launchTime, i.finishTime,
        m.map(_.executorCpuTime).getOrElse(0L),
        m.map(_.jvmGCTime).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
        e.reason != Success, i.attemptNumber))
    }
  }

  /** Planning time and file-scan volume of every query execution (traced
    * runs only). Scan metrics are read from the executed plan, descending
    * through the adaptive wrappers that `TreeNode.collect` does not. */
  final class PlanRecorder extends QueryExecutionListener {
    val execs = new ConcurrentLinkedQueue[JMap]()

    private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(scans) ++ o.subqueries.flatMap(scans)
    }

    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val start = phases.values.map(_.startTimeMs).reduceOption(_ min _)
        .getOrElse(System.currentTimeMillis())
      val found = scans(qe.executedPlan)
      def metric(f: FileSourceScanExec, k: String) =
        f.metrics.get(k).map(_.value).getOrElse(0L)
      execs.add(obj("start" -> start,
        "plan_ms" -> phases.values.map(_.durationMs).sum,
        "files" -> found.map(metric(_, "numFiles")).sum,
        "bytes" -> found.map(metric(_, "filesSize")).sum))
    }

    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Micro-batch count and duration of every streaming query (traced). */
  final class StreamRecorder extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[JMap]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      batches.add(obj("at" -> nowMs(), "batch" -> p.batchId,
        "ms" -> Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
        "rows" -> p.numInputRows))
    }
  }

  // ---- spans -----------------------------------------------------------

  final case class Span(id: String, parent: String, name: String, layer: String,
                        start: Double, eagerEnd: Double, end: Double)

  def main(args: Array[String]): Unit = {
    val mapper = new ObjectMapper()
    val plan = mapper.readValue(new File(args(0)), classOf[JMap]).asScala
    def str(k: String) = plan(k).toString
    def int(k: String) = plan(k).asInstanceOf[Number].intValue
    val trace = plan("trace").asInstanceOf[Boolean]
    val dataDir = str("data_dir")
    val runDir = str("run_dir")
    val cores = int("cores")
    val seconds = plan("seconds").asInstanceOf[Number].doubleValue
    val procStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = GraftSession.local(cores, appName = "graftbench")
    val sc = spark.sparkContext
    val sessionS = (nowMs() - procStartMs) / 1000.0
    val rec = new Recorder
    sc.addSparkListener(rec)
    val planRec = new PlanRecorder
    val streamRec = new StreamRecorder
    if (trace) {
      spark.listenerManager.register(planRec)
      spark.streams.addListener(streamRec)
    }

    val spans = new ConcurrentLinkedQueue[Span]()
    val spanSeq = new AtomicInteger(0)

    /** Runs `body` as one span; in traced runs its Spark jobs carry the
      * span id as job group. `body` returns the DataFrame (its return marks
      * the end of the eager part) and the span ends once rows reach the
      * driver. */
    def span[T](name: String, layer: String, parent: String)(
        body: => DataFrame)(collect: DataFrame => T): (Span, T) = {
      val id = s"s${spanSeq.incrementAndGet()}"
      if (trace) sc.setJobGroup(id, name, interruptOnCancel = false)
      try {
        val t0 = nowMs()
        val df = body
        val te = nowMs()
        val out = collect(df)
        val s = Span(id, parent, name, layer, t0, te, nowMs())
        spans.add(s)
        (s, out)
      } finally if (trace) sc.clearJobGroup()
    }

    def rowsHash(rows: Seq[Row]): String = {
      val md = MessageDigest.getInstance("SHA-256")
      rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
      md.digest().map("%02x".format(_)).mkString
    }

    val layers = plan("layers").asInstanceOf[JMap].asScala.map { case (k, v) => k -> v.toString }
    val setupKind = str("setup")
    val setupReps = int("setup_reps")

    // ---- set-up: standing tiers / caches built fresh in this run, -------
    // several times (set-up time is their median)
    val tierBuild = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tierProbe = scala.collection.mutable.ArrayBuffer.empty[Double]
    val setupTimes = (0 until setupReps).map { rep =>
      val t0 = nowMs()
      setupKind match {
        case "edge_tier" =>
          EdgeTier.invalidate(dataDir)
          val b0 = nowMs()
          EdgeTier.coOccurrence(spark, dataDir)
          tierBuild += (nowMs() - b0) / 1000.0
          val p0 = nowMs()
          EdgeTier.coOccurrence(spark, dataDir).count()
          EdgeTier.undirected(spark, dataDir).count()
          tierProbe += (nowMs() - p0) / 1000.0
        case "precompute" =>
          span("netaggJob", "jobs", "setup") {
            Precompute.netaggJob(spark, dataDir, s"$runDir/caches/rep$rep")
            null
          }(_ => ())
      }
      (nowMs() - t0) / 1000.0
    }

    // ---- serve layer requests -----------------------------------------
    lazy val orders = Tables.orders(spark, dataDir)
    lazy val customer = Tables.customer(spark, dataDir)
    val cacheDir = s"$runDir/caches/rep${setupReps - 1}"

    def opt(m: JMap, k: String): Option[AnyRef] = Option(m.get(k))
    def request(r: JMap): DataFrame = {
      val kind = r.get("kind").toString
      def num(k: String) = r.get(k).asInstanceOf[Number].intValue
      kind match {
        case "search_counts" | "search_page" =>
          val status = opt(r, "status").map(_.toString)
          val minP = opt(r, "min_price").map(_.asInstanceOf[Number].doubleValue)
          val maxP = opt(r, "max_price").map(_.asInstanceOf[Number].doubleValue)
          val prio = opt(r, "priority").map(_.toString)
          if (kind == "search_counts") Api.ordersSearchCounts(orders, status, minP, maxP, prio)
          else Api.ordersSearchPage(orders, status, minP, maxP, prio, num("k"), num("page"))
        case "report" =>
          val order = r.get("order").asInstanceOf[java.util.List[java.util.List[AnyRef]]]
            .asScala.map { o =>
              val c = col(o.get(0).toString)
              if (o.get(1).asInstanceOf[Boolean]) c.desc else c.asc
            }.toSeq
          Api.cachedReportPage(spark, s"$cacheDir/${r.get("cache")}",
            r.get("columns").asInstanceOf[java.util.List[String]].asScala.toSeq,
            Nil, order, num("k"))
        case "topk" => TopK.topOrdersByPrice(orders, num("k"))
        case "enrich" => Joins.enrichTopOrders(orders, customer, num("k"))
      }
    }

    /** One request: its parts run in order, each a child span. */
    def serve(r: JMap, parent: String): (Boolean, java.util.List[AnyRef], String) = {
      val parts = r.get("parts").asInstanceOf[java.util.List[JMap]].asScala
      try {
        val out = parts.map { p =>
          val (_, rows) = span(p.get("kind").toString,
            layers(p.get("kind").toString), parent)(request(p))(_.collect().toSeq)
          toJava(rows.map(r => r.toSeq.map(canon)))
        }
        (true, out.asJava, null)
      } catch {
        case e: Exception => (false, null, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }

    val burst = plan.get("burst").map(_.asInstanceOf[java.util.List[JMap]].asScala).getOrElse(Nil)
    val burstS = {
      val t0 = nowMs()
      burst.zipWithIndex.foreach { case (r, i) => serve(r, s"burst$i") }
      (nowMs() - t0) / 1000.0
    }

    // ---- timed region ----------------------------------------------------
    // (op, input directory) in the seed's order
    val ops = plan.get("ops").map(_.asInstanceOf[java.util.List[java.util.List[String]]]
      .asScala.toSeq.map(o => (o.get(0), o.get(1)))).getOrElse(Nil)
    val passes = scala.collection.mutable.ArrayBuffer.empty[JMap]
    val opRecords = new ConcurrentLinkedQueue[JMap]()
    val firstRows = scala.collection.mutable.LinkedHashMap.empty[String, (Seq[Row], StructType)]
    val timedStart = nowMs()
    str("kind") match {
      case "batch" =>
        val queries = SparkEntry.queries
        var go = true
        while (go) {
          val p0 = nowMs()
          val pass = passes.size
          val pid = s"pass$pass"
          ops.foreach { case (op, dir) =>
            try {
              var schema: StructType = null
              val (s, rows) = span(op, layers(op), pid)(queries(op)(spark, dir)) { df =>
                schema = df.schema
                df.collect().toSeq
              }
              if (!firstRows.contains(op)) firstRows(op) = (rows, schema)
              opRecords.add(obj("op" -> op, "pass" -> pass, "span" -> s.id,
                "start" -> s.start, "end" -> s.end, "rows" -> rows.size,
                "hash" -> rowsHash(rows), "ok" -> true))
            } catch {
              case e: Exception =>
                opRecords.add(obj("op" -> op, "pass" -> pass, "ok" -> false,
                  "error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}"))
            }
          }
          val p1 = nowMs()
          passes += obj("id" -> pid, "start" -> p0, "end" -> p1)
          val elapsed = (p1 - timedStart) / 1000.0
          go = elapsed + (p1 - p0) / 1000.0 <= seconds
        }
      case "serve" =>
        val reqs = plan("requests").asInstanceOf[java.util.List[JMap]].asScala.toIndexedSeq
        val minReq = int("min_requests")
        val next = new AtomicInteger(0)
        val deadline = timedStart + seconds * 1000.0
        val clients = (0 until int("clients")).map { c =>
          new Thread(() => {
            var i = next.getAndIncrement()
            while (i < reqs.size && (i < minReq || nowMs() < deadline)) {
              val t0 = nowMs()
              val (ok, rows, err) = serve(reqs(i), s"req$i")
              opRecords.add(obj("req" -> i, "client" -> c, "start" -> t0,
                "end" -> nowMs(), "ok" -> ok, "rows" -> rows, "error" -> err))
              i = next.getAndIncrement()
            }
          }, s"graftbench-client-$c")
        }
        clients.foreach(_.start())
        clients.foreach(_.join())
        passes += obj("id" -> "loop", "start" -> timedStart, "end" -> nowMs())
    }
    val timedEnd = nowMs()

    // ---- after the timed region: outputs, context, listener records ------
    Bus.drain(sc)
    val outputs = firstRows.map { case (op, (rows, schema)) =>
      val path = s"$runDir/out/$op"
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(path)
      op -> path
    }
    val canaries = graft.Bench.canaries(spark, dataDir).map { case (n, f) =>
      val t0 = nowMs(); f(); n -> (nowMs() - t0) / 1000.0
    }
    Bus.drain(sc)
    val jobEnds = rec.jobEnds.asScala
    val status = scala.io.Source.fromFile("/proc/self/status")
    val hwmKb = try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(0L) finally status.close()

    val result = obj(
      "workload" -> str("workload"),
      "trace" -> trace,
      "session_s" -> sessionS,
      "setup_reps_s" -> setupTimes,
      "burst_s" -> burstS,
      "edge_tier_build_s" -> tierBuild,
      "edge_tier_probe_s" -> tierProbe,
      "timed" -> obj("start" -> timedStart, "end" -> timedEnd),
      "passes" -> passes,
      "records" -> opRecords.asScala.toSeq,
      "outputs" -> outputs,
      "oracle_sql" -> plan("oracles").asInstanceOf[java.util.List[String]].asScala
        .flatMap(op => SparkEntry.oracleSql.get(op).map(op -> _)).toMap,
      "tasks" -> rec.tasks.asScala.toSeq.map(t => Seq(t.stage, t.launch, t.finish,
        t.cpuNs, t.gcMs, t.shuffleWrite, t.spill, t.failed, t.attempt)),
      "jobs" -> rec.jobs.asScala.toSeq.map(j => obj("id" -> j.id,
        "group" -> j.group, "start" -> j.start,
        "end" -> Option(jobEnds.getOrElse(j.id, null)).map(_.longValue).getOrElse(j.start),
        "stages" -> j.stages)),
      "spans" -> (if (trace) spans.asScala.toSeq.map(s => obj("id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "start" -> s.start, "eager_end" -> s.eagerEnd, "end" -> s.end)) else Nil),
      "executions" -> (if (trace) planRec.execs.asScala.toSeq else Nil),
      "stream_batches" -> (if (trace) streamRec.batches.asScala.toSeq else Nil),
      "canaries" -> canaries.toMap,
      "peak_rss_mb" -> hwmKb / 1024.0,
      "context" -> obj(
        "spark_version" -> spark.version,
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
        "blas" -> graft.Bench.blasBackend,
        "cores" -> cores,
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "nproc" -> Runtime.getRuntime.availableProcessors))
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(args(1)), result)
    spark.stop()
  }

  /** A result value as the output check compares it: timestamps as UTC
    * text, decimals and floats as doubles, nested arrays as lists. */
  def canon(v: Any): Any = v match {
    case null => null
    case t: java.sql.Timestamp =>
      t.toInstant.toString.replace("T", " ").stripSuffix("Z")
    case d: java.math.BigDecimal => d.doubleValue
    case f: Float => f.toDouble
    case s: scala.collection.Seq[_] => s.map(canon).asJava
    case x => x
  }
}
