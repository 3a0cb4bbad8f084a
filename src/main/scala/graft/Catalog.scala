package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** CATALOG.md generator (VERDICT r9 "next" #6): 168 queries is past what a
  * reader can navigate from `SparkEntry.scala` alone, so this derives a
  * per-query catalog — description, implementing operator, oracle class,
  * stress coverage — from the REGISTRY ITSELF plus the registration-site
  * comments, and `CatalogSpec` pins the checked-in file to the generated
  * content: adding or changing a query without regenerating fails the
  * suite, so the catalog can never silently rot.
  *
  * Derivations, all mechanical:
  *   - description: the `//` comment block directly above the query's
  *     registration in SparkEntry.scala (first sentence);
  *   - implementation: the first `Object.method(` call in the
  *     registration body, resolved to its `def` site by scanning
  *     `src/main` (file:line — clickable in most editors);
  *   - oracle class: `full recompute` (DuckDB re-derives every value),
  *     `promise gate` (the oracle pins contract booleans — the SQL
  *     contains a literal `TRUE AS`, ContractSpec's documented set), or
  *     `rows-only` (no oracle entry — currently empty);
  *   - shared oracle: two queries checked by byte-identical SQL;
  *   - stress: membership in `Stress.StressQueries` (the scale-trend
  *     harness).
  *
  * Usage: `sbt "runMain graft.Catalog"` regenerates `CATALOG.md`.
  */
object Catalog {

  private val EntrySrc = "src/main/scala/graft/SparkEntry.scala"

  /** (name, registration line, cleaned one-line description, body). */
  private def registrations(): Seq[(String, Int, String, String)] = {
    val lines = Files.readAllLines(Paths.get(EntrySrc)).asScala.toVector
    val reg = """^\s*"(q_\w+)" ->""".r
    val sites = lines.zipWithIndex.collect {
      case (l, i) if reg.findFirstMatchIn(l).isDefined =>
        (reg.findFirstMatchIn(l).get.group(1), i)
    }
    sites.zipWithIndex.map { case ((name, i), k) =>
      // walk back over the contiguous comment block
      var j = i - 1
      val comment = new scala.collection.mutable.ArrayBuffer[String]
      while (j >= 0 && lines(j).trim.startsWith("//")) {
        comment.prepend(lines(j).trim.stripPrefix("//").trim)
        j -= 1
      }
      val desc = comment.mkString(" ")
        .replaceAll("^-+\\s*", "").replaceAll("\\s*-+$", "")
        .replaceAll("\\s+", " ").trim
      val end = if (k + 1 < sites.size) sites(k + 1)._2 else lines.size
      val body = lines.slice(i, end).mkString("\n")
      (name, i + 1, desc, body)
    }
  }

  /** Resolve the first operator call in a registration body to its
    * definition site. Harness/plumbing objects are skipped so the row
    * points at the OPERATOR, not at `Tables.lineitem` or the telemetry
    * wrapper. Returns (call label, def site markdown). */
  private def implSite(body: String,
                       defs: Map[String, Seq[(String, Int, String)]])
      : (String, String) = {
    val call = """([A-Za-z][A-Za-z0-9]*)\.([a-z][A-Za-z0-9]*)\(""".r
    val skip = Set("Tables", "Telemetry", "Scratch", "s", "col", "math", "java",
      "Seq", "Window", "Files", "String")
    call.findAllMatchIn(body)
      .map(m => (m.group(1), m.group(2)))
      .find { case (obj, m) =>
        !skip.contains(obj) && defs.getOrElse(m, Nil).exists(_._3.contains(s"object $obj")) }
      .flatMap { case (obj, m) =>
        defs(m).find(_._3.contains(s"object $obj"))
          .map { case (f, l, _) => (s"$obj.$m", s"`$f:$l`") } }
      .getOrElse(("registration body", "`SparkEntry.scala` (inline)"))
  }

  /** Every `def name` site under src/main, with its enclosing object. */
  private def defSites(): Map[String, Seq[(String, Int, String)]] = {
    val root = Paths.get("src/main/scala/graft")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toVector
    val defRe = """^\s*(?:private\s+)?def ([a-zA-Z0-9]+)[\[(:]""".r
    val objRe = """^(?:private\s+)?object (\w+)""".r
    files.flatMap { p =>
      val ls = Files.readAllLines(p).asScala.toVector
      var obj = ""
      ls.zipWithIndex.flatMap { case (l, i) =>
        objRe.findFirstMatchIn(l.trim).foreach(m => obj = s"object ${m.group(1)}")
        defRe.findFirstMatchIn(l).map(m =>
          (m.group(1), (p.toString.stripPrefix("src/main/scala/graft/"), i + 1, obj)))
      }
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  }

  def generate(): String = {
    // the `"q_…" ->` pattern also matches the oracle-SQL block later in
    // the file: keep only names in the QUERY registry, first site wins
    val known = SparkEntry.queries.keySet
    val seen = scala.collection.mutable.Set[String]()
    val regs = registrations().filter { case (name, _, _, _) =>
      known.contains(name) && seen.add(name) }
    val defs = defSites()
    val oracle = SparkEntry.oracleSql
    val sqlCounts = oracle.values.groupBy(identity).view.mapValues(_.size).toMap
    val stressed = Stress.StressQueries.toSet
    val rows = regs.map { case (name, line, desc, body) =>
      val oracleClass = oracle.get(name) match {
        case None => "rows-only"
        case Some(sql) if sql.contains("TRUE AS") => "promise gate"
        case Some(sql) if sqlCounts(sql) > 1 => "full recompute (shared)"
        case Some(_) => "full recompute"
      }
      val (callLabel, site) = implSite(body, defs)
      val d =
        if (desc.nonEmpty) desc
        else if (callLabel == "registration body") "defined inline at the registration site"
        else s"see `$callLabel` scaladoc"
      val short = (if (d.length <= 220) d else d.take(217) + "...")
        .replace("|", "\\|")
      s"| `$name` | $short | $site | $oracleClass | " +
        s"${if (stressed.contains(name)) "yes" else "—"} | `SparkEntry.scala:$line` |"
    }
    val header =
      s"""# Query catalog
         !
         !Generated by `sbt "runMain graft.Catalog"` from the
         !`SparkEntry.queries` registry — do not edit by hand; `CatalogSpec`
         !fails the suite when this file drifts from the registry.
         !
         !${regs.size} queries. Oracle classes: **full recompute** = the
         !DuckDB oracle re-derives every value from the parquet tables;
         !**(shared)** = two queries are checked by byte-identical oracle SQL
         !(incremental vs full recompute pairs); **promise gate** = the
         !oracle recomputes counts but pins engine-specific contract booleans
         !(the documented ContractSpec set). **Stress** = the query is
         !scale-trended by `graft.Stress` (x1..x8, selected families x32).
         !
         !| query | description | implementation | oracle | stress | registered |
         !|---|---|---|---|---|---|
         !""".stripMargin('!')
    header + rows.mkString("\n") + "\n"
  }

  def main(args: Array[String]): Unit = {
    Files.writeString(Paths.get("CATALOG.md"), generate())
    println(s"wrote CATALOG.md (${SparkEntry.queries.size} queries)")
  }
}
