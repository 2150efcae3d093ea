package graft.cli

import graft.Graft
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** Interactive VelesQL REPL — the reference's CLI surface
  * (`crates/velesdb-cli/src/repl.rs`, `repl_commands.rs:26-50`)
  * re-expressed over the Spark engine. One session = one [[Graft]]
  * instance over a data dir (user collections + dataset parquet).
  *
  * Dot-command surface (reference names kept verbatim; `\`-prefixed
  * aliases accepted like `repl_commands.rs` does):
  *  - `.quit` / `.exit` / `.q`, `.help` / `.h`, `.clear`
  *  - `.collections` / `.tables` — user collections + dataset tables
  *  - `.schema <c>`, `.describe <c>`, `.count <c>`, `.sample <c> [n]`
  *    (`<c>` optional once `.use <c>` set an active collection,
  *    session.rs:22 `active_collection`)
  *  - `.timing on|off`, `.format table|json` (repl.rs:38-41
  *    OutputFormat)
  *  - `.set k v` / `.show` / `.reset` — session settings
  *    (session.rs `custom`); they bind as `$k` query parameters, the
  *    engine's P12 surface, so `.set min_len 80` then
  *    `SELECT … WHERE length > $min_len` works like a psql variable
  *  - `.use <c>` — active collection: default target for the
  *    inspection commands AND the MATCH graph scope (a user
  *    collection's own edge store), mirroring `\use`
  *  - `.info` — data dir, engine/Spark versions, collection count
  *  - `EXPLAIN <query>` — the plan-intent tree (explain.rs node names)
  *
  * Everything else is VelesQL, executed through [[Graft.sql]] (parse
  * cache, plan memo, guardrails and `WITH (timeout_ms)` all apply —
  * the REPL is a thin loop, not a second engine). Output rows are
  * capped at the `max_results` session setting (default 100, the
  * reference default, session.rs:20).
  */
class ReplSession(val g: Graft, out: java.io.PrintStream) {

  private var timing = true // repl.rs:30 default
  private var formatJson = false
  private var active: Option[String] = None
  private var params: Map[String, Any] = Map.empty
  private val defaultMaxResults = 100

  private def maxResults: Int = {
    // clamp: a negative value turned every query into a Spark
    // negative-limit error, and Int.MaxValue overflowed the +1 probe
    // (r15 review finding)
    def clamp(n: Long): Int = math.min(math.max(n, 1L), 1000000L).toInt
    params.get("max_results") match {
      case Some(n: Long) => clamp(n)
      case Some(n: Double) => clamp(n.toLong)
      case _ => defaultMaxResults
    }
  }

  /** Handle one input line; returns false when the session should end. */
  def handle(line0: String): Boolean = {
    val line = line0.trim
    if (line.isEmpty) return true
    try {
      if (line.startsWith(".") || line.startsWith("\\")) command(line)
      else { query(line); true }
    } catch {
      case e: graft.velesql.VelesError =>
        out.println(s"Error: ${e.getMessage}"); true
      case e: IllegalArgumentException =>
        out.println(s"Error: ${e.getMessage}"); true
      case e: org.apache.spark.sql.AnalysisException =>
        out.println(s"Error: ${e.getSimpleMessage}"); true
      // execution-time failures (SparkException from collect — a deleted
      // underlying file, ANSI overflow, UDF error) must not kill the
      // session: print and keep reading, like the reference REPL
      // (repl.rs error loop)
      case scala.util.control.NonFatal(e) =>
        out.println(s"Error: ${Option(e.getMessage).getOrElse(e.toString)}")
        true
    }
  }

  private def command(line: String): Boolean = {
    val parts = line.split("\\s+").toSeq
    val cmd = parts.head.replace('\\', '.') // \set == .set (repl_commands.rs:45-49)
    cmd match {
      case ".quit" | ".exit" | ".q" => false
      case ".help" | ".h" => help(); true
      case ".collections" | ".tables" => listTables(); true
      case ".schema" => target(parts).foreach(schema); true
      case ".describe" | ".desc" => target(parts).foreach(describe); true
      case ".count" => target(parts).foreach { c =>
        out.println(s"Count: ${rowCount(c)} records") }; true
      case ".sample" =>
        // `.sample 10` with an active collection: the bare number is
        // the row count, not a collection name (r15 review finding)
        val numericOnly = parts.drop(1) match {
          case Seq(x) if x.toIntOption.isDefined && active.isDefined => true
          case _ => false
        }
        val tparts = if (numericOnly) Seq(parts.head) else parts
        target(tparts).foreach { c =>
          val n = (if (numericOnly) parts.drop(1) else parts.drop(2))
            .headOption.flatMap(_.toIntOption).filter(_ > 0).getOrElse(5)
          render(g.catalog.table(c).limit(n))
        }; true
      case ".timing" => parts.drop(1).headOption match {
        case None => out.println(s"Timing is ${if (timing) "ON" else "OFF"}")
        case Some(v) if Set("on", "true", "1")(v.toLowerCase) =>
          timing = true; out.println("Timing ON")
        case Some(v) if Set("off", "false", "0")(v.toLowerCase) =>
          timing = false; out.println("Timing OFF")
        case _ => out.println("Use: .timing on|off")
      }; true
      case ".format" => parts.drop(1).headOption.map(_.toLowerCase) match {
        case None => out.println(s"Format is ${if (formatJson) "json" else "table"}")
        case Some("table") => formatJson = false; out.println("Format: table")
        case Some("json") => formatJson = true; out.println("Format: json")
        case _ => out.println("Use: .format table|json")
      }; true
      case ".set" => parts.drop(1) match {
        case Seq(k, rest @ _*) if rest.nonEmpty =>
          params += (k -> parseValue(rest.mkString(" ")))
          out.println(s"$k = ${params(k)}")
        case _ => out.println("Usage: .set <key> <value>")
      }; true
      case ".show" =>
        if (params.isEmpty) out.println("(no session settings)")
        else params.toSeq.sortBy(_._1)
          .foreach { case (k, v) => out.println(s"  $k = $v") }
        true
      case ".reset" => params = Map.empty; out.println("Settings reset"); true
      case ".use" => parts.drop(1).headOption match {
        case Some(c) if g.catalog.exists(c) =>
          active = Some(c); out.println(s"Active collection: $c")
        case Some(c) => out.println(s"Error: collection '$c' not found")
        case None => active = None; out.println("Active collection cleared")
      }; true
      case ".clear" => out.print("\u001b[2J\u001b[1;1H"); true
      case ".info" => info(); true
      case other => out.println(s"Unknown command: $other"); true
    }
  }

  /** `<cmd> <name>` or the active collection (session.rs active_collection). */
  private def target(parts: Seq[String]): Option[String] =
    parts.drop(1).headOption.orElse(active).orElse {
      out.println(s"Usage: ${parts.head} <collection_name> (or .use <c> first)")
      None
    } match {
      case Some(c) if g.catalog.exists(c) => Some(c)
      case Some(c) => out.println(s"Error: collection '$c' not found"); None
      case None => None
    }

  private def rowCount(c: String): Long =
    if (g.collections.exists(c)) g.collections.count(c)
    else g.catalog.table(c).count()

  private def schema(c: String): Unit = {
    out.println(s"Collection: $c")
    if (g.collections.exists(c)) {
      val (idCol, vecCol, metric) = g.collections.metaOf(c)
      out.println(s"  Id column: $idCol")
      out.println(s"  Vector:    ${vecCol.getOrElse("(none)")}")
      out.println(s"  Metric:    $metric")
      out.println(s"  Points:    ${rowCount(c)}")
    } else {
      g.catalog.table(c).schema.fields.foreach { f =>
        out.println(s"  ${f.name}: ${f.dataType.simpleString}")
      }
    }
  }

  private def describe(c: String): Unit = {
    schema(c)
    if (g.collections.exists(c)) {
      val (_, vecCol, _) = g.collections.metaOf(c)
      // reference estimates vectors-only memory as dim × 4 bytes × count
      // (repl_commands.rs:157-163); dimension read from one stored row
      vecCol.foreach { v =>
        val dim = g.catalog.table(c).select(v).where(col(v).isNotNull)
          .limit(1).collect()
          .headOption.map(_.getSeq[Any](0).length).getOrElse(0)
        val mb = rowCount(c).toDouble * dim * 4 / 1e6
        out.println(f"  Dimension: $dim")
        out.println(f"  Est. Memory: $mb%.2f MB (vectors only)")
      }
    }
  }

  private def listTables(): Unit = {
    val cols = g.collections.list()
    if (cols.nonEmpty) {
      out.println("Collections:")
      cols.foreach(c => out.println(s"  - $c"))
    }
    val data = graft.Tables.All.filter(t => g.catalog.exists(t) &&
      !cols.contains(t))
    if (data.nonEmpty) {
      out.println("Dataset tables:")
      data.foreach(t => out.println(s"  - $t"))
    }
    if (cols.isEmpty && data.isEmpty) out.println("(empty data dir)")
  }

  private def info(): Unit = {
    out.println(s"Engine:      graft (VelesQL on Spark)")
    out.println(s"Spark:       ${g.spark.version}")
    out.println(s"Collections: ${g.collections.list().size}")
    out.println(s"Compiled:    ${g.compileCount.get()} plans this session")
    active.foreach(c => out.println(s"Active:      $c"))
  }

  private def help(): Unit = out.println(
    """Commands (also \-prefixed):
      |  .quit .exit .q          leave the REPL
      |  .collections .tables    list collections + dataset tables
      |  .schema [c]             id/vector/metric or table schema
      |  .describe [c]           schema + dimension + est. memory
      |  .count [c]  .sample [c] [n]
      |  .use <c>                set active collection (+ MATCH scope)
      |  .set k v  .show  .reset session settings, bound as $k params
      |  .timing on|off  .format table|json  .clear  .info
      |Anything else runs as VelesQL; EXPLAIN <query> shows the plan.""".stripMargin)

  private def query(text: String): Unit = {
    if (text.toUpperCase.startsWith("EXPLAIN ")) {
      graft.velesql.Explain.explain(text.substring(8)) match {
        case Right(tree) => out.println(tree)
        case Left(err) => out.println(s"Error: $err")
      }
      return
    }
    val t0 = System.nanoTime()
    val (names, rows) = g.run(text, params, graphScope = active) { df =>
      (df.schema.fieldNames, df.limit(maxResults + 1).collect())
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val capped = rows.length > maxResults
    render(names, rows.take(maxResults))
    if (capped) out.println(s"(output capped at $maxResults rows — .set max_results N to raise)")
    if (timing) out.println(f"Took $ms%.1f ms")
  }

  private def render(df: DataFrame): Unit =
    render(df.schema.fieldNames, df.collect())

  private def cell(v: Any): String = v match {
    case null => "NULL"
    case s: Seq[_] => s.map(cell).mkString("[", ", ", "]")
    case a: Array[_] => a.map(cell).mkString("[", ", ", "]")
    case m: Map[_, _] => m.map { case (k, x) => s"$k: ${cell(x)}" }.mkString("{", ", ", "}")
    case r: Row => cell(r.toSeq)
    case other => other.toString
  }

  private def jsonCell(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case s: Seq[_] => s.map(jsonCell).mkString("[", ",", "]")
    case a: Array[_] => a.map(jsonCell).mkString("[", ",", "]")
    case b: Boolean => b.toString
    // bare NaN/Infinity are invalid JSON — emit null like JSON APIs do
    case d: java.lang.Double if d.isNaN || d.isInfinite => "null"
    case f: java.lang.Float if f.isNaN || f.isInfinite => "null"
    case n: Number => n.toString
    case r: Row => r.schema.fieldNames.zip(r.toSeq)
      .map { case (k, x) => s"${jsonCell(k)}:${jsonCell(x)}" }
      .mkString("{", ",", "}")
    case other => jsonCell(other.toString)
  }

  private def render(names: Array[String], rows: Array[Row]): Unit = {
    if (formatJson) {
      rows.foreach { r =>
        out.println(names.zip(r.toSeq)
          .map { case (k, v) => s"${jsonCell(k)}:${jsonCell(v)}" }
          .mkString("{", ",", "}"))
      }
      out.println(s"(${rows.length} rows)")
      return
    }
    val cells = rows.map(r => r.toSeq.map(cell).toArray)
    val widths = names.indices.map { i =>
      (names(i).length +: cells.map(_(i).length).toSeq).max
    }
    def fmtRow(vals: Seq[String]): String =
      vals.zip(widths).map { case (v, w) => v.padTo(w, ' ') }
        .mkString("| ", " | ", " |")
    val sep = widths.map("-" * _).mkString("+-", "-+-", "-+")
    out.println(sep)
    out.println(fmtRow(names.toSeq))
    out.println(sep)
    cells.foreach(c => out.println(fmtRow(c.toSeq)))
    out.println(sep)
    out.println(s"(${rows.length} rows)")
  }

  /** `.set` values type like VelesQL `$param` literals: integer, float,
    * boolean, else string. */
  private def parseValue(raw: String): Any =
    raw.toLongOption match {
      case Some(l) => l
      case None => raw.toDoubleOption match {
        case Some(d) => d
        case None => raw.toBooleanOption.getOrElse(raw)
      }
    }
}

/** `runMain graft.cli.Repl <dataDir> [-c "<query>"]`: interactive loop
  * on stdin, or one-shot `-c` execution (the reference's
  * `velesdb query` subcommand, main.rs Commands::Query). */
object Repl {
  def main(args: Array[String]): Unit = {
    // a leading flag is NOT a data dir (`Repl -c "..."` used to treat
    // "-c" as the directory; r15 review finding)
    val dataDir = args.headOption.filterNot(_.startsWith("-"))
      .getOrElse("/root/testdata/sf0.001")
    val spark = graft.SessionTuning.service(8)
    spark.sparkContext.setLogLevel("ERROR")
    val session = new ReplSession(Graft(spark, dataDir), System.out)
    val oneShot = args.sliding(2).collectFirst { case Array("-c", q) => q }
    val script = args.sliding(2).collectFirst { case Array("-f", p) => p }
    (oneShot, script) match {
      case (Some(q), _) => session.handle(q)
      case (None, Some(p)) =>
        // psql-style script mode (sbt's own shell eats piped stdin, so
        // scripted use goes through a file)
        scala.io.Source.fromFile(p).getLines()
          .takeWhile(session.handle).foreach(_ => ())
      case _ =>
        val interactive = System.console() != null
        if (interactive) println(s"graft VelesQL REPL — data dir $dataDir (.help for commands)")
        Iterator.continually {
          if (interactive) print("veles> ")
          scala.io.StdIn.readLine()
        }.takeWhile(l => l != null && session.handle(l)).foreach(_ => ())
    }
    spark.stop()
  }
}
