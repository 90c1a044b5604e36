package graft.lake

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types._

/** SQL surface for lake MAINTENANCE and DML — the statement families
  * Delta exposes through its parser extension, re-expressed over
  * [[TxTable]]:
  *
  *   - `OPTIMIZE '<path>'` — bin-pack / incremental re-cluster
  *   - `OPTIMIZE '<path>' ZORDER BY (a, b)` — global 2-D re-cluster
  *   - `VACUUM '<path>' [RETAIN <n> VERSIONS] [RETAIN <h> HOURS]
  *     [DRY RUN]` — reclaim unreferenced data/sidecar files
  *     (version-based retention, default 1; age guard default 168
  *     hours — an HOURS window under the floor needs the
  *     [[TxLog.retentionDurationCheckKey]] opt-out, Delta's
  *     retentionDurationCheck rule); DRY RUN reports without deleting
  *   - `VACUUM LOG '<path>' [RETAIN <n> VERSIONS]` — log retention
  *     ([[TxLog.cleanLog]]; default 10)
  *   - `DESCRIBE HISTORY '<path>'` — the commit ledger with operation
  *     metrics
  *   - `DESCRIBE DETAIL '<path>' [VERSION AS OF <v>]` — table detail
  *     ([[TxTable.detail]])
  *   - `RESTORE '<path>' TO VERSION AS OF <v> | TO TIMESTAMP AS OF
  *     <ms>` — rewind as a new commit (wall-clock form via in-commit
  *     stamps)
  *   - `REORG [TABLE] '<path>' APPLY (PURGE)` — materialize deletion
  *     vectors ([[TxTable.reorgPurge]])
  *   - `CONVERT '<path>' [PARTITIONED BY (a, b)]` — adopt a plain
  *     parquet directory in place ([[TxTable.convertInPlace]])
  *   - `CLONE <src> TO <dst>` — src a quoted path or catalog
  *     identifier; dst a quoted path or a TxCatalog identifier (the
  *     clone lands at the managed path, which IS registration)
  *   - `CLONE '<src>' TO '<dst>' [DEEP] [VERSION AS OF <v> |
  *     TIMESTAMP AS OF <millis>]` — shallow (reference) or deep (copy)
  *     clone, optionally of an older version ([[TxTable.cloneTo]])
  *   - `ALTER '<path>' ALTER COLUMN <c> SET|DROP NOT NULL` — column
  *     invariant ([[TxTable.addNotNull]]/[[TxTable.dropNotNull]])
  *   - `DELETE FROM '<path>' WHERE <pred>` — copy-on-write delete
  *   - `UPDATE '<path>' SET a = <e> [, ...] [WHERE <pred>]`
  *   - `MERGE INTO '<path>' [AS] t USING <source> [AS] s ON t.k = s.k
  *     [AND ...] WHEN MATCHED [AND <c>] THEN UPDATE SET <assigns>|* |
  *     DELETE | WHEN NOT MATCHED [AND <c>] THEN INSERT * | WHEN NOT
  *     MATCHED BY SOURCE [AND <c>] THEN UPDATE SET <assigns> | DELETE`
  *     — `<source>` is a quoted lake path, a registered view/table
  *     name, or a parenthesized subquery; the two sides MUST be
  *     aliased `t` and `s` (that is how clause expressions reference
  *     them, mirroring [[TxTable.MergeInto]]'s contract)
  *
  * Read and DDL surfaces:
  *
  *   - `SELECT ... FROM '<path>' [VERSION AS OF <v> | TIMESTAMP AS OF
  *     <ms>]` (also `JOIN '<path>'`, WITH/VALUES heads, any mix of
  *     path and catalog sources) — each path source resolves through
  *     [[TxTable.read]]/[[TxTable.readAsOfTimestamp]] as a temp view
  *     and Spark plans the rewritten statement
  *   - `SELECT ... FROM TABLE_CHANGES('<path>', <from>, <to>)` —
  *     Delta's CDF table-valued function: the source is a
  *     [[TxTable.readChanges]] slice (`_change_type` /
  *     `_commit_version` tagged)
  *   - `CREATE TABLE '<path>' [PARTITIONED BY (...)] AS <query>`
  *   - `INSERT INTO '<path>' [(cols)] <query|VALUES ...>`
  *   - `ALTER '<path>' ADD CONSTRAINT <name> CHECK (<expr>)`
  *   - `ALTER '<path>' ADD COLUMN <name> <type>` (metadata-only)
  *   - `ALTER '<path>' SET TBLPROPERTIES ('k'='v', ...)` /
  *     `UNSET TBLPROPERTIES ('k', ...)` — persisted table properties
  *     ([[graft.lake.TxLog.Meta.config]]; `txlog.*` keys validate)
  *
  * DML statements only claim a statement whose target is a QUOTED
  * PATH right after the keyword — `DELETE FROM catalog_table` still
  * reaches Spark's own parser untouched.
  *
  * Two routes to the same commands: `spark.sql(...)` on a session built
  * with [[graft.functions.GraftExtensions]] (injectParser delegates
  * everything that is not one of these shapes to Spark's parser
  * verbatim), or [[LakeSql.run]] on ANY session — the harness/test
  * entry, since a session's parser is fixed at build time.
  */
object LakeSql {

  private val OptZ =
    """(?is)\s*OPTIMIZE\s+'([^']+)'\s+ZORDER\s+BY\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)\s*""".r
  private val Opt = """(?is)\s*OPTIMIZE\s+'([^']+)'\s*""".r
  private val VacLog =
    """(?is)\s*VACUUM\s+LOG\s+'([^']+)'(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?\s*""".r
  private val Vac =
    """(?is)\s*VACUUM\s+'([^']+)'(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?(?:\s+RETAIN\s+(\d+)\s+HOURS)?(\s+DRY\s+RUN)?\s*""".r
  private val Hist = """(?is)\s*DESCRIBE\s+HISTORY\s+'([^']+)'\s*""".r
  private val Analyze =
    """(?is)\s*ANALYZE\s+(?:TABLE\s+)?'([^']+)'(?:\s+COMPUTE\s+STATISTICS)?\s*""".r
  private val ShowParts =
    """(?is)\s*SHOW\s+PARTITIONS\s+'([^']+)'\s*""".r
  private val Rest =
    """(?is)\s*RESTORE\s+'([^']+)'\s+TO\s+(?:VERSION\s+AS\s+OF\s+(\d+)|TIMESTAMP\s+AS\s+OF\s+(\d+))\s*""".r
  private val Reorg =
    """(?is)\s*REORG\s+(?:TABLE\s+)?'([^']+)'\s+APPLY\s*\(\s*PURGE\s*\)\s*""".r
  private val Convert =
    """(?is)\s*CONVERT\s+'([^']+)'(?:\s+PARTITIONED\s+BY\s*\(\s*([\w\s,]+?)\s*\))?\s*""".r
  private val CloneRe =
    """(?is)\s*CLONE\s+'([^']+)'\s+TO\s+'([^']+)'(\s+DEEP)?(?:\s+VERSION\s+AS\s+OF\s+(\d+)|\s+TIMESTAMP\s+AS\s+OF\s+(\d+))?\s*""".r
  private val NotNull =
    """(?is)\s*ALTER\s+'([^']+)'\s+ALTER\s+COLUMN\s+(\w+)\s+(SET|DROP)\s+NOT\s+NULL\s*""".r
  private val SetProps =
    """(?is)\s*ALTER\s+'([^']+)'\s+SET\s+TBLPROPERTIES\s*\((.+)\)\s*""".r
  private val UnsetProps =
    """(?is)\s*ALTER\s+'([^']+)'\s+UNSET\s+TBLPROPERTIES\s*\((.+)\)\s*""".r
  /** One `'key' = 'value'` pair of a TBLPROPERTIES list ('' escapes a
    * literal quote, Spark's string-literal rule). */
  private val PropPair = """'((?:[^']|'')*)'\s*=\s*'((?:[^']|'')*)'""".r
  private val PropKey = """'((?:[^']|'')*)'""".r
  private def unq(s: String): String = s.replace("''", "'")
  private val Ctas =
    """(?is)\s*CREATE\s+TABLE\s+'([^']+)'(?:\s+PARTITIONED\s+BY\s*\(\s*([\w\s,]+?)\s*\))?\s+AS\s+(.+)""".r
  private val Ins =
    """(?is)\s*INSERT\s+INTO\s+'([^']+)'(?:\s*\(\s*([\w\s,]+?)\s*\)\s+)?\s*(.+)""".r
  private val AddCons =
    """(?is)\s*ALTER\s+'([^']+)'\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)\s*""".r
  private val AddCol =
    """(?is)\s*ALTER\s+'([^']+)'\s+ADD\s+COLUMN\s+(\w+)\s+(.+?)\s*""".r

  private val Del =
    """(?is)\s*DELETE\s+FROM\s+'([^']+)'\s+WHERE\s+(.+?)\s*""".r
  private val UpdHead = """(?is)\s*UPDATE\s+'([^']+)'\s+SET\s+(.+?)\s*""".r
  private val MergeHead =
    """(?is)\s*MERGE\s+INTO\s+'([^']+)'(?:\s+(?:AS\s+)?t)?\s+USING\s+(.+?)\s*""".r

  /** One of the maintenance/DML statement shapes, or None — the caller
    * (the injected parser) delegates None to Spark's own parser.
    *
    * Targets may be quoted paths OR catalog identifiers: `DESCRIBE
    * HISTORY lake.db.t`, `OPTIMIZE db.t`, `MERGE INTO db.t t USING ...`
    * resolve the name through a registered [[graft.lake.catalog
    * .TxCatalog]] or a session-catalog `USING txlog` entry
    * ([[identPath]]) and re-parse with the resolved path spliced in —
    * claimed ONLY when the name resolves to a lake table, so every
    * other identifier statement reaches Spark's parser untouched
    * (native catalogs handle their own DELETE/time travel). */
  def parse(sqlText: String): Option[LogicalPlan] = {
    // a CLONE destination may be an identifier too: rewrite it to the
    // catalog's managed path BEFORE the grammar match (source first,
    // via the shared IdentTarget splice below)
    def destRewritten(s: String): String = s match {
      case CloneIdentDst(head, id, rest) =>
        graft.lake.catalog.TxCatalog
          .pathFor(id.split('.').toSeq.map(_.trim))
          .map(p => s"$head'$p'$rest").getOrElse(s)
      case _ => s
    }
    parseQuoted(destRewritten(sqlText)).orElse(sqlText match {
      case IdentTarget(head, id, rest) =>
        identPath(id).flatMap(p => parseQuoted(
          destRewritten(s"${normalizeHead(head)}'$p'$rest")))
      case _ => None
    })
  }

  /** Statement families that take a table target, with an IDENTIFIER in
    * target position (the quoted-path form was already tried). */
  private val IdentTarget = {
    val id = """(?:[A-Za-z_]\w*\.){0,2}[A-Za-z_]\w*"""
    ("""(?is)^(\s*(?:OPTIMIZE|VACUUM\s+LOG|VACUUM|DESCRIBE\s+HISTORY|""" +
      """ANALYZE(?:\s+TABLE)?|SHOW\s+PARTITIONS|""" +
      """RESTORE|REORG(?:\s+TABLE)?|ALTER(?:\s+TABLE)?|DELETE\s+FROM|""" +
      """UPDATE|MERGE\s+INTO|CLONE)\s+)(""" + id + """)\b(.*)$""").r
  }

  /** `... TO <identifier>` in a CLONE's DESTINATION position: the
    * target table does not exist yet, so this resolves through
    * [[graft.lake.catalog.TxCatalog.pathFor]] — the catalog's
    * name→path rule WITHOUT an existence check. Cloning into a
    * TxCatalog warehouse path IS registration (the filesystem is the
    * metastore), so `CLONE src TO cat.ns.t` both copies and registers
    * in one statement. */
  private val CloneIdentDst = {
    val id = """(?:[A-Za-z_]\w*\.){1,2}[A-Za-z_]\w*"""
    ("""(?is)^(\s*CLONE\s+'[^']+'\s+TO\s+)(""" + id + """)\b(.*)$""").r
  }

  /** The quoted-path grammar says `ALTER '<p>'` / `REORG '<p>'` — strip
    * the optional TABLE keyword the identifier forms naturally carry. */
  private def normalizeHead(head: String): String =
    head.trim.replaceAll("(?i)^(ALTER|REORG)\\s+TABLE$", "$1") + " "

  /** Resolve a dotted identifier to a lake-table root: a registered
    * [[graft.lake.catalog.TxCatalog]] name first, then the session
    * catalog's metastore (`provider = txlog` entries, optionally
    * `spark_catalog.`-qualified). None for anything else — the caller
    * must fall through to Spark. */
  private[lake] def identPath(id: String): Option[String] = {
    val parts = id.split('.').toSeq.map(_.trim)
    if (parts.exists(p => p.isEmpty || !p.forall(isWordChar))) None
    else graft.lake.catalog.TxCatalog.resolve(parts).orElse {
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .flatMap { spark =>
          val dbTbl = parts match {
            case Seq(t) => Some((Option.empty[String], t))
            case Seq(d, t) => Some((Some(d), t))
            case Seq(c, d, t) if c.equalsIgnoreCase("spark_catalog") =>
              Some((Some(d), t))
            case _ => None
          }
          dbTbl.flatMap { case (db, tbl) =>
            scala.util.Try {
              val meta = spark.sessionState.catalog.getTableMetadata(
                org.apache.spark.sql.catalyst.TableIdentifier(tbl, db))
              if (meta.provider.exists(_.equalsIgnoreCase("txlog")))
                Some(meta.location.toString)
              else None
            }.toOption.flatten
          }
        }
    }
  }

  private def parseQuoted(sqlText: String): Option[LogicalPlan] =
    sqlText match {
    case OptZ(p, a, b) => Some(OptimizeCommand(p, Some((a, b))))
    case Opt(p)        => Some(OptimizeCommand(p, None))
    case VacLog(p, n)  =>
      Some(VacuumLogCommand(p, Option(n).map(_.toInt).getOrElse(10)))
    case Vac(p, n, hrs, dry) =>
      // no RETAIN HOURS → -1: TxTable resolves the table-level
      // txlog.retention.hours property, else the 168 h default
      Some(VacuumCommand(p, Option(n).map(_.toInt).getOrElse(1),
        minAgeMs = Option(hrs).map(_.toLong * 3600 * 1000).getOrElse(-1L),
        dryRun = dry != null))
    case Hist(p)       => Some(HistoryCommand(p))
    case Analyze(p)    => Some(AnalyzeCommand(p))
    case ShowParts(p)  => Some(ShowPartitionsCommand(p))
    case Rest(p, v, ts) => Some(RestoreCommand(p,
      Option(v).map(_.toLong), Option(ts).map(_.toLong)))
    case Reorg(p)      => Some(ReorgPurgeCommand(p))
    case Convert(p, cols) => Some(ConvertCommand(p,
      Option(cols).map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil)))
    case CloneRe(src, dst, deep, v, ts) => Some(CloneCommand(src, dst,
      deep = deep != null, version = Option(v).map(_.toLong),
      tsMillis = Option(ts).map(_.toLong)))
    case NotNull(p, c, mode) =>
      Some(NotNullCommand(p, c, set = mode.equalsIgnoreCase("SET")))
    case SetProps(p, list) =>
      // the matches (with comma separators) must reconstruct the WHOLE
      // list: a malformed segment anywhere ('a'='1', junk) makes the
      // statement not-ours → None → Spark's parser reports the syntax
      // error, instead of silently committing only the valid pairs
      val ms = PropPair.findAllMatchIn(list).toSeq
      if (ms.isEmpty || !coversList(list, ms)) None
      else Some(SetTblPropertiesCommand(p,
        ms.map(m => unq(m.group(1)) -> unq(m.group(2))).toMap))
    case UnsetProps(p, list) if !list.contains("=") =>
      val ms = PropKey.findAllMatchIn(list).toSeq
      if (ms.isEmpty || !coversList(list, ms)) None
      else Some(UnsetTblPropertiesCommand(p,
        ms.map(m => unq(m.group(1))).toSeq))
    case Ctas(p, cols, query) => Some(CreateTableAsSelectCommand(p,
      Option(cols).map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil), query))
    case Ins(p, cols, query)
        // a parenthesized/inline query can LOOK like a column list
        // ("(SELECT a, b FROM x)" is all word chars, spaces, commas) —
        // only a list that is NOT a query head is one ((?s): the head
        // may span lines)
        if Option(cols).forall(c => !c.trim.toUpperCase.matches(
          "(?s)(SELECT|VALUES|WITH|TABLE)\\b.*")) =>
      Some(InsertIntoPathCommand(p,
        Option(cols).map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Nil), query))
    case Ins(p, cols, query) => // cols was really the head of the query
      Some(InsertIntoPathCommand(p, Nil, s"($cols) $query"))
    case AddCons(p, name, check) => Some(AddConstraintCommand(p, name, check))
    case AddCol(p, c, ddl) => Some(AddColumnCommand(p, c, ddl))
    case Del(p, w)     => Some(DeleteCommand(p, w))
    case UpdHead(p, rest) =>
      val (sets, where) = topIndex(rest, "WHERE") match {
        case -1 => (rest, None)
        case i  => (rest.substring(0, i).trim,
                    Some(rest.substring(i + 5).trim))
      }
      Some(UpdateCommand(p, parseAssignments(sets), where))
    case MergeHead(p, rest) => Some(parseMerge(p, rest))
    case _             => None
  }

  /** True iff the matches, joined by single commas (whitespace free),
    * reconstruct the ENTIRE list — the completeness gate that keeps a
    * partially-valid property list from being silently half-applied. */
  private def coversList(list: String,
      ms: Seq[scala.util.matching.Regex.Match]): Boolean = {
    var pos = 0
    var i = 0
    while (i < ms.length) {
      val gap = list.substring(pos, ms(i).start).trim
      if (!(if (i == 0) gap.isEmpty else gap == ",")) return false
      pos = ms(i).end
      i += 1
    }
    list.substring(pos).trim.isEmpty
  }

  // ---- top-level-aware text scanning (never matches inside a
  // single-quoted string or inside parentheses — a subquery source or
  // a string literal containing WHERE/AND/WHEN cannot derail parsing) --

  private def isWordChar(c: Char) =
    Character.isLetterOrDigit(c) || c == '_'

  /** In-string scanner step, matching what the compiled `expr()` will
    * accept: at `s(i)` inside a single-quoted literal, returns the
    * number of EXTRA chars to skip (0 or 1) and whether the literal
    * closed. `\x` skips the escaped char; `''` is an escaped quote, not
    * a close — without these a literal containing `\'` plus a top-level
    * keyword/comma desyncs the scanner into wrong clause text. */
  private def inStrStep(s: String, i: Int): (Int, Boolean) = {
    val c = s.charAt(i)
    if (c == '\\' && i + 1 < s.length) (1, false)
    else if (c == '\'')
      if (i + 1 < s.length && s.charAt(i + 1) == '\'') (1, false)
      else (0, true)
    else (0, false)
  }

  /** Index of the first word-bounded, case-insensitive occurrence of
    * `kw` at paren-depth 0 outside string literals, or -1. */
  private def topIndex(s: String, kw: String, from: Int = 0): Int = {
    var i = from; var depth = 0; var inStr = false
    val n = s.length; val k = kw.length
    while (i < n) {
      val c = s.charAt(i)
      if (inStr) {
        val (skip, closed) = inStrStep(s, i)
        i += skip; if (closed) inStr = false
      }
      else c match {
        case '\'' => inStr = true
        case '('  => depth += 1
        case ')'  => depth -= 1
        case _ =>
          if (depth == 0 && s.regionMatches(true, i, kw, 0, k) &&
              (i == 0 || !isWordChar(s.charAt(i - 1))) &&
              (i + k >= n || !isWordChar(s.charAt(i + k))))
            return i
      }
      i += 1
    }
    -1
  }

  /** All top-level occurrence indexes of `kw`, in order. */
  private def topIndexes(s: String, kw: String): Seq[Int] = {
    val out = Seq.newBuilder[Int]
    var i = topIndex(s, kw)
    while (i >= 0) { out += i; i = topIndex(s, kw, i + kw.length) }
    out.result()
  }

  /** Split on top-level commas. */
  private def splitCommas(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var start = 0; var i = 0; var depth = 0; var inStr = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) {
        val (skip, closed) = inStrStep(s, i)
        i += skip; if (closed) inStr = false
      }
      else c match {
        case '\'' => inStr = true
        case '('  => depth += 1
        case ')'  => depth -= 1
        case ','  => if (depth == 0) { out += s.substring(start, i); start = i + 1 }
        case _    =>
      }
      i += 1
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** `a = <expr>, b = <expr>` → ordered (name, expr-text) pairs; the
    * assignment `=` is the first top-level `=` that is not part of a
    * comparison (`<= >= != == <=>`). A `t.` prefix on the target name
    * is accepted and stripped. */
  private def parseAssignments(s: String): Seq[(String, String)] =
    splitCommas(s).map { a =>
      var i = 0; var split = -1; var inStr = false; var depth = 0
      while (i < a.length && split < 0) {
        val c = a.charAt(i)
        if (inStr) {
          val (skip, closed) = inStrStep(a, i)
          i += skip; if (closed) inStr = false
        }
        else c match {
          case '\'' => inStr = true
          case '('  => depth += 1
          case ')'  => depth -= 1
          case '=' if depth == 0 =>
            val prevCmp = i > 0 && "<>!=".indexOf(a.charAt(i - 1)) >= 0
            val nextEq = i + 1 < a.length && a.charAt(i + 1) == '='
            if (!prevCmp && !nextEq) split = i
          case _ =>
        }
        i += 1
      }
      require(split > 0, s"not an assignment: $a")
      val name0 = a.substring(0, split).trim
      val name = if (name0.toLowerCase.startsWith("t."))
        name0.substring(2) else name0
      require(name.nonEmpty && name.forall(isWordChar),
        s"bad assignment target: $name0")
      (name, a.substring(split + 1).trim)
    }

  // ---- MERGE INTO parsing ----

  /** A parsed merge clause, in statement order. `matchKind` is
    * matched / notMatched / bySource; `sets` None means DELETE (or
    * INSERT for notMatched); `Some(Nil)` means `UPDATE SET *`. */
  case class MergeClause(matchKind: String,
      cond: Option[String], sets: Option[Seq[(String, String)]])

  private def parseMerge(path: String, rest: String): MergeIntoCommand = {
    val onAt = topIndex(rest, "ON")
    require(onAt > 0, "MERGE needs an ON clause")
    var src = rest.substring(0, onAt).trim
    // strip the mandatory-by-contract source alias if written
    val al = """(?is)(.*?)\s+(?:AS\s+)?s\s*""".r
    src = src match { case al(body) => body.trim; case _ => src }
    val afterOn = rest.substring(onAt + 2)
    val whens = topIndexes(afterOn, "WHEN")
    require(whens.nonEmpty, "MERGE needs at least one WHEN clause")
    val onCond = afterOn.substring(0, whens.head).trim
    val keyCols = {
      val Eq = """(?is)\s*(?:t\.(\w+)\s*=\s*s\.(\w+)|s\.(\w+)\s*=\s*t\.(\w+))\s*""".r
      splitOnAnd(onCond).map {
        case Eq(a, b, c, d) =>
          val (tk, sk) = if (a != null) (a, b) else (d, c)
          require(tk.equalsIgnoreCase(sk),
            s"MERGE ON must equate the same column on both sides, got t.$tk = s.$sk")
          tk
        case other => sys.error(
          s"MERGE ON supports only t.<k> = s.<k> conjunctions, got: $other")
      }
    }
    val clauses = (whens :+ afterOn.length).sliding(2).map { w =>
      parseMergeClause(afterOn.substring(w(0) + 4, w(1)).trim)
    }.toSeq
    MergeIntoCommand(path, src, keyCols, clauses)
  }

  private def splitOnAnd(s: String): Seq[String] = {
    val cuts = topIndexes(s, "AND")
    ((-3 +: cuts) :+ s.length).sliding(2).map { w =>
      s.substring(w(0) + 3, w(1)).trim
    }.toSeq.filter(_.nonEmpty)
  }

  private def parseMergeClause(c: String): MergeClause = {
    val thenAt = topIndex(c, "THEN")
    require(thenAt > 0, s"MERGE clause needs THEN: $c")
    val head = c.substring(0, thenAt).trim
    val action = c.substring(thenAt + 4).trim
    val H =
      """(?is)(MATCHED|NOT\s+MATCHED\s+BY\s+SOURCE|NOT\s+MATCHED)(?:\s+AND\s+(.+?))?\s*""".r
    val (kind, cond) = head match {
      case H(k, cnd) =>
        val kk = k.toUpperCase.replaceAll("\\s+", " ") match {
          case "MATCHED"               => "matched"
          case "NOT MATCHED"           => "notMatched"
          case "NOT MATCHED BY SOURCE" => "bySource"
        }
        (kk, Option(cnd).map(_.trim))
      case _ => sys.error(s"bad MERGE clause head: $head")
    }
    val Upd = """(?is)UPDATE\s+SET\s+(.+)""".r
    val sets = action match {
      case Upd(a) if a.trim == "*" =>
        require(kind == "matched", "UPDATE SET * is a MATCHED action")
        Some(Nil)
      case Upd(a) =>
        require(kind != "notMatched", "NOT MATCHED supports only INSERT *")
        Some(parseAssignments(a))
      case d if d.equalsIgnoreCase("DELETE") =>
        require(kind != "notMatched", "NOT MATCHED supports only INSERT *")
        None
      case ins if ins.replaceAll("\\s+", " ").equalsIgnoreCase("INSERT *") =>
        require(kind == "notMatched", "INSERT is a NOT MATCHED action")
        None
      case other => sys.error(s"bad MERGE action: $other")
    }
    MergeClause(kind, cond, sets)
  }

  /** Parse-and-execute on an arbitrary session (no parser injection
    * needed): the same command objects `spark.sql` would plan. Refuses
    * non-maintenance SQL — that belongs to `spark.sql` itself. */
  def run(spark: SparkSession, sqlText: String): DataFrame =
    selectOverPaths(spark, sqlText)
      .orElse(detailOverPath(spark, sqlText))
      .getOrElse(parse(sqlText) match {
      case Some(cmd: LeafRunnableCommand) =>
        spark.createDataFrame(
          cmd.run(spark).asJava,
          StructType(cmd.output.map(a =>
            StructField(a.name, a.dataType, a.nullable))))
      case _ => throw new IllegalArgumentException(
        s"not a lake maintenance statement: $sqlText")
    })

  // ---- SELECT over quoted lake paths -------------------------------

  /** One `FROM`/`JOIN` source that is a quoted lake path, optionally
    * time-traveled — or a `TABLE_CHANGES('<path>', from, to)` change
    * feed slice (Delta's CDF table-valued function). Its temp-view
    * name is content-addressed so repeat queries re-register (fresh
    * snapshot) instead of piling up views. */
  final case class PathSrc(path: String, version: Option[Long],
      tsMillis: Option[Long], changes: Option[(Long, Long)] = None) {
    def viewName: String = "graft_path_" +
      (scala.util.hashing.MurmurHash3.productHash(
        (path, version, tsMillis, changes)) & 0x7fffffff).toHexString
  }

  private val AsOfTail =
    """(?is)^\s+(VERSION|TIMESTAMP)\s+AS\s+OF\s+(\d+)""".r
  private val TvfHead =
    """(?is)^TABLE_CHANGES\s*\(\s*(?:'([^']+)'|([A-Za-z_][\w.]*))\s*,\s*(\d+)\s*,\s*(\d+)\s*\)""".r

  private def isQueryHead(s: String): Boolean = {
    val h = s.trim.toUpperCase
    h.startsWith("SELECT") || h.startsWith("WITH") ||
      h.startsWith("VALUES") || h.startsWith("(")
  }

  /** Rewrite every `FROM|JOIN '<path>' [VERSION AS OF v | TIMESTAMP AS
    * OF ms]` source to a stable temp-view name, using the same
    * escape-aware quote-state scan as the DML splitter (a literal
    * containing "from 'x'" cannot misfire). None when the statement
    * has no path sources. */
  private[lake] def rewritePathSources(
      s: String): Option[(String, Seq[PathSrc])] = {
    val out = new java.lang.StringBuilder
    val srcs = scala.collection.mutable.ArrayBuffer[PathSrc]()
    var i = 0; var inStr = false
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (inStr) {
        val (skip, closed) = inStrStep(s, i)
        out.append(s, i, i + 1 + skip)
        i += 1 + skip
        if (closed) inStr = false
      } else if (c == '"' || c == '`') {
        // double-quoted literal / backticked identifier: copy verbatim
        // to the closing delimiter (backslash escapes inside "...",
        // doubling escapes both) — a "from 'x'" inside either must not
        // be rewritten
        val q = c
        out.append(c); i += 1
        var open = true
        while (open && i < n) {
          val ch = s.charAt(i)
          if (ch == '\\' && q == '"' && i + 1 < n) {
            out.append(s, i, i + 2); i += 2
          } else if (ch == q && i + 1 < n && s.charAt(i + 1) == q) {
            out.append(s, i, i + 2); i += 2
          } else {
            out.append(ch); i += 1
            if (ch == q) open = false
          }
        }
      } else if (c == '-' && i + 1 < n && s.charAt(i + 1) == '-') {
        // line comment: verbatim to end of line
        val e = s.indexOf('\n', i)
        val stop = if (e < 0) n else e + 1
        out.append(s, i, stop); i = stop
      } else if (c == '/' && i + 1 < n && s.charAt(i + 1) == '*') {
        // block comment: verbatim to the closing */
        val e = s.indexOf("*/", i + 2)
        val stop = if (e < 0) n else e + 2
        out.append(s, i, stop); i = stop
      } else {
        val kw = Seq("FROM", "JOIN").find(k =>
          s.regionMatches(true, i, k, 0, k.length) &&
            (i == 0 || !isWordChar(s.charAt(i - 1))) &&
            (i + k.length >= n || !isWordChar(s.charAt(i + k.length))))
        // after FROM/JOIN: a quoted path, or the TABLE_CHANGES TVF
        val afterKw = kw.map { k =>
          var j = i + k.length
          while (j < n && Character.isWhitespace(s.charAt(j))) j += 1
          (k, j)
        }
        val tvfAt = afterKw.flatMap { case (k, j) =>
          TvfHead.findPrefixMatchOf(s.subSequence(j, n))
            .map(m => (k, j, m))
        }
        val pathAt = afterKw.filter { case (_, j) =>
          tvfAt.isEmpty && j < n && s.charAt(j) == '\''
        }
        // claimed ONLY when the TVF argument is a quoted path or an
        // identifier that resolves to a lake table — anything else
        // (a user TVF that happens to be named table_changes, a typo'd
        // name) falls through verbatim to Spark's parser, the same
        // contract every other rewrite here honors
        val tvfResolved = tvfAt.flatMap { case (k, j, m) =>
          Option(m.group(1)).orElse(identPath(m.group(2)))
            .map(target => (k, j, m, target))
        }
        tvfResolved match {
          case Some((k, j, m, target)) =>
            val src = PathSrc(target, None, None,
              changes = Some((m.group(3).toLong, m.group(4).toLong)))
            srcs += src
            out.append(s, i, i + k.length).append(' ').append(src.viewName)
            i = j + m.end
          case None =>
        pathAt match {
          case Some((k, j0)) =>
            // scan the quoted path with the same escape rules
            var j = j0 + 1
            val path = new java.lang.StringBuilder
            var open = true
            while (open && j < n) {
              val (skip, closed) = inStrStep(s, j)
              if (closed) open = false
              else { path.append(s, j, j + 1 + skip); j += 1 + skip }
            }
            require(!open, s"unterminated path literal in: $s")
            j += 1 // past the closing quote
            val (ver, ts, consumed) = AsOfTail.findPrefixMatchOf(
              s.subSequence(j, n)) match {
              case Some(m) if m.group(1).equalsIgnoreCase("VERSION") =>
                (Some(m.group(2).toLong), None, m.end)
              case Some(m) =>
                (None, Some(m.group(2).toLong), m.end)
              case None => (None, None, 0)
            }
            val src = PathSrc(path.toString, ver, ts)
            srcs += src
            out.append(s, i, i + k.length).append(' ').append(src.viewName)
            i = j + consumed
          case None =>
            if (c == '\'') inStr = true
            out.append(c)
            i += 1
        }
        }
      }
    }
    if (srcs.isEmpty) None else Some((out.toString, srcs.toSeq))
  }

  private def registerPathViews(spark: SparkSession,
      srcs: Seq[PathSrc]): Unit =
    srcs.foreach { src =>
      val tab = new TxTable(spark, src.path)
      val df = (src.changes, src.tsMillis) match {
        case (Some((from, to)), _) => tab.readChanges(from, to)
        case (None, Some(ts))      => tab.readAsOfTimestamp(ts)
        case (None, None)          => tab.read(asOf = src.version)
      }
      df.createOrReplaceTempView(src.viewName)
    }

  /** `SELECT ... FROM '<path>' [VERSION|TIMESTAMP AS OF]` (and WITH /
    * VALUES / parenthesized forms, any mix of path and catalog
    * sources): resolve each path through [[TxTable.read]] /
    * [[TxTable.readAsOfTimestamp]] as a temp view and hand the
    * rewritten statement to Spark. None when the statement is not a
    * query or references no quoted path. */
  def selectOverPaths(spark: SparkSession,
      sqlText: String): Option[DataFrame] =
    if (!isQueryHead(sqlText)) None
    else rewritePathSources(sqlText).map { case (rw, srcs) =>
      registerPathViews(spark, srcs)
      spark.sql(rw)
    }

  /** The injected-parser twin of [[selectOverPaths]]: same rewrite,
    * views registered on the ACTIVE session (the one inside whose
    * `spark.sql` call parsing runs), plan produced by the delegate
    * parser over the rewritten text. */
  def selectPlan(sqlText: String,
      delegateParse: String => LogicalPlan): Option[LogicalPlan] =
    if (!isQueryHead(sqlText)) None
    else rewritePathSources(sqlText).map { case (rw, srcs) =>
      val spark = SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession)
        .getOrElse(throw new IllegalStateException(
          "lake path SELECT needs an active SparkSession"))
      registerPathViews(spark, srcs)
      delegateParse(rw)
    }

  /** Resolve a query that may itself read quoted lake paths — what
    * CTAS and INSERT INTO use for their source. */
  private def dfOf(spark: SparkSession, query: String): DataFrame =
    selectOverPaths(spark, query).getOrElse(spark.sql(query))

  private val DetailRe =
    """(?is)\s*DESCRIBE\s+DETAIL\s+'([^']+)'(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*""".r

  /** `DESCRIBE DETAIL '<path>' [VERSION AS OF v]` — the rich
    * [[TxTable.detail]] frame (schema too wide/dynamic for a
    * fixed-output command, so it resolves as a DataFrame directly). */
  private val DetailIdRe =
    """(?is)\s*DESCRIBE\s+DETAIL\s+([A-Za-z_][\w.]*)(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*""".r

  def detailOverPath(spark: SparkSession,
      sqlText: String): Option[DataFrame] = sqlText match {
    case DetailRe(p, v) =>
      Some(new TxTable(spark, p).detail(Option(v).map(_.toLong)))
    case DetailIdRe(id, v) => identPath(id).map(p =>
      new TxTable(spark, p).detail(Option(v).map(_.toLong)))
    case _ => None
  }

  /** Injected-parser twin of [[detailOverPath]] — the resolved frame's
    * own logical plan (`queryExecution.logical`, the same surface
    * `df.explain` prints). */
  def detailPlan(sqlText: String): Option[LogicalPlan] =
    if (!sqlText.trim.toUpperCase.startsWith("DESCRIBE")) None
    else SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .flatMap(s => detailOverPath(s, sqlText))
      .map(_.queryExecution.logical)

  private def attr(name: String, dt: DataType,
      nullable: Boolean = false): Attribute =
    AttributeReference(name, dt, nullable)()

  case class OptimizeCommand(path: String,
      zorder: Option[(String, String)]) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("version", LongType))
    override def run(spark: SparkSession): Seq[Row] =
      Seq(Row(new TxTable(spark, path).optimize(zorderBy = zorder)))
  }

  case class VacuumCommand(path: String, keepVersions: Int,
      minAgeMs: Long = -1L, // < 0: table property, else 168 h default
      dryRun: Boolean = false) extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(attr("removed_path", StringType))
    override def run(spark: SparkSession): Seq[Row] =
      new TxTable(spark, path)
        .vacuum(keepVersions, minAgeMs = minAgeMs, dryRun = dryRun).map(Row(_))
  }

  case class SetTblPropertiesCommand(path: String,
      props: Map[String, String]) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("version", LongType))
    override def run(spark: SparkSession): Seq[Row] =
      Seq(Row(new TxTable(spark, path).setTblProperties(props)))
  }

  case class UnsetTblPropertiesCommand(path: String,
      keys: Seq[String]) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("version", LongType))
    override def run(spark: SparkSession): Seq[Row] =
      Seq(Row(new TxTable(spark, path).unsetTblProperties(keys)))
  }

  case class VacuumLogCommand(path: String, keepVersions: Int)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(attr("removed_log_file", StringType))
    override def run(spark: SparkSession): Seq[Row] =
      new TxTable(spark, path).vacuumLog(keepVersions).map(Row(_))
  }

  case class HistoryCommand(path: String) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("version", LongType), attr("op", StringType),
      attr("read_version", LongType),
      attr("timestamp_ms", LongType, nullable = true),
      attr("operation_metrics", MapType(StringType, LongType),
        nullable = true))
    override def run(spark: SparkSession): Seq[Row] =
      new TxTable(spark, path).history().collect().toSeq
  }

  /** `ANALYZE [TABLE] <t> [COMPUTE STATISTICS]` — pure LOG arithmetic
    * (zero data scan, zero filesystem listing): the log already
    * maintains per-file rows/bytes/min-max, and the catalog scan
    * reports them to CBO ([[org.apache.spark.sql.connector.read
    * .SupportsReportStatistics]]), so ANALYZE is the operability
    * surface that ANSWERS rather than recomputes — a migrating user's
    * `ANALYZE TABLE t` returns instantly with the stats a 100 TB scan
    * would have gathered. */
  case class AnalyzeCommand(path: String) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("version", LongType), attr("num_files", LongType),
      attr("rows", LongType), attr("bytes", LongType))
    override def run(spark: SparkSession): Seq[Row] = {
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val snap = TxLog.snapshot(fs, root)
      Seq(Row(snap.version, snap.adds.size.toLong,
        snap.adds.map(_.rows).sum, snap.adds.flatMap(_.bytes).sum))
    }
  }

  /** `SHOW PARTITIONS <t>` — the live partition tuples straight from
    * the log's Add entries (no directory listing), Hive-escaped in
    * spec order like Spark's own output. Refuses on an unpartitioned
    * table, Spark's rule. */
  case class ShowPartitionsCommand(path: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(attr("partition", StringType))
    override def run(spark: SparkSession): Seq[Row] = {
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val snap = TxLog.snapshot(fs, root)
      val cols = snap.meta.partitionCols
      require(cols.nonEmpty,
        s"SHOW PARTITIONS is not allowed on the unpartitioned table " +
          s"at $path")
      snap.adds.map(_.partitionValues).distinct
        .map(pv => cols.map { c =>
          val v = pv.get(c).map(StageWrite.escape)
            .getOrElse("__HIVE_DEFAULT_PARTITION__")
          s"$c=$v"
        }.mkString("/"))
        .sorted.map(Row(_))
    }
  }

  /** `RESTORE ... TO VERSION AS OF v` or `... TO TIMESTAMP AS OF ms`
    * (the wall-clock form resolves through the in-commit stamps,
    * [[TxTable.versionAtTimestamp]]). */
  case class RestoreCommand(path: String, toVersion: Option[Long],
      tsMillis: Option[Long] = None) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("version", LongType))
    override def run(spark: SparkSession): Seq[Row] = {
      val tab = new TxTable(spark, path)
      val v = toVersion.getOrElse(tab.versionAtTimestamp(tsMillis.get))
      Seq(Row(tab.restore(v)))
    }
  }

  case class ReorgPurgeCommand(path: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("version", LongType))
    override def run(spark: SparkSession): Seq[Row] =
      Seq(Row(new TxTable(spark, path).reorgPurge()))
  }

  case class ConvertCommand(path: String, partitionCols: Seq[String])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("version", LongType))
    override def run(spark: SparkSession): Seq[Row] =
      Seq(Row(new TxTable(spark, path).convertInPlace(partitionCols)))
  }

  case class NotNullCommand(path: String, column: String, set: Boolean)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("version", LongType))
    override def run(spark: SparkSession): Seq[Row] = {
      val tab = new TxTable(spark, path)
      Seq(Row(if (set) tab.addNotNull(column) else tab.dropNotNull(column)))
    }
  }

  case class CloneCommand(src: String, dst: String, deep: Boolean,
      version: Option[Long], tsMillis: Option[Long])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(attr("source_version", LongType))
    override def run(spark: SparkSession): Seq[Row] = {
      val tab = new TxTable(spark, src)
      val asOf = version.orElse(tsMillis.map(tab.versionAtTimestamp))
      tab.cloneTo(dst, asOf, deep)
      Seq(Row(asOf.getOrElse(tab.version)))
    }
  }

  // ---- DML commands: predicate / SET / clause texts are carried as
  // STRINGS and compiled with functions.expr at execution, so parsing
  // stays cheap and the expressions resolve against the table (or the
  // t/s join MergeInto builds) exactly as the API route would ----

  /** `CREATE TABLE '<path>' [PARTITIONED BY (...)] AS <query>` — the
    * query may itself read quoted lake paths (time-traveled or not). */
  case class CreateTableAsSelectCommand(path: String,
      partitionCols: Seq[String], query: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("version", LongType))
    override def run(spark: SparkSession): Seq[Row] =
      Seq(Row(new TxTable(spark, path)
        .create(dfOf(spark, query), partitionCols = partitionCols)))
  }

  /** `INSERT INTO '<path>' [(cols)] <query|VALUES ...>` — positional
    * alignment like SQL INSERT: an explicit column list renames the
    * query output onto it; without one, a query whose names already
    * match the table passes through, otherwise equal arity maps by
    * position. Appends through [[TxTable.append]] (constraints,
    * defaults, identity, row tracking all apply). */
  case class InsertIntoPathCommand(path: String, cols: Seq[String],
      query: String) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("version", LongType))
    override def run(spark: SparkSession): Seq[Row] = {
      val tab = new TxTable(spark, path)
      val df0 = dfOf(spark, query)
      val target = tab.logicalSchema.fieldNames.toSeq
      val df =
        if (cols.nonEmpty) {
          require(df0.columns.length == cols.length,
            s"INSERT column list (${cols.size}) does not match query " +
              s"output (${df0.columns.length})")
          df0.toDF(cols: _*)
        } else {
          // no column list → the query must supply EVERY table column
          // (standard SQL; a silent null-fill of a subset is how typos
          // land null columns) — name-matched or positional
          require(df0.columns.length == target.length,
            s"INSERT without a column list must supply all " +
              s"${target.length} columns of $path, got " +
              s"${df0.columns.length} — use INSERT INTO (col, ...) " +
              "for a subset")
          if (df0.columns.forall(target.contains)) df0
          else df0.toDF(target: _*)
        }
      Seq(Row(tab.append(df)))
    }
  }

  /** `ALTER '<path>' ADD CONSTRAINT <name> CHECK (<expr>)` — the name
    * is accepted for Delta-syntax compatibility; enforcement keys on
    * the expression ([[TxTable.addConstraint]]). */
  case class AddConstraintCommand(path: String, name: String,
      check: String) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("version", LongType))
    override def run(spark: SparkSession): Seq[Row] =
      Seq(Row(new TxTable(spark, path).addConstraint(check)))
  }

  /** `ALTER '<path>' ADD COLUMN <name> <type>` — metadata-only
    * additive evolution ([[TxTable.addColumn]]). */
  case class AddColumnCommand(path: String, col: String,
      typeDdl: String) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("version", LongType))
    override def run(spark: SparkSession): Seq[Row] =
      Seq(Row(new TxTable(spark, path).addColumn(col, typeDdl)))
  }

  case class DeleteCommand(path: String, where: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("version", LongType))
    override def run(spark: SparkSession): Seq[Row] =
      Seq(Row(new TxTable(spark, path)
        .deleteWhere(org.apache.spark.sql.functions.expr(where))))
  }

  case class UpdateCommand(path: String, sets: Seq[(String, String)],
      where: Option[String]) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("version", LongType))
    override def run(spark: SparkSession): Seq[Row] = {
      import org.apache.spark.sql.functions.{expr, lit}
      Seq(Row(new TxTable(spark, path).update(
        where.map(expr).getOrElse(lit(true)),
        sets.map { case (n, e) => n -> expr(e) }.toMap)))
    }
  }

  case class MergeIntoCommand(path: String, source: String,
      keyCols: Seq[String], clauses: Seq[MergeClause])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("version", LongType))
    override def run(spark: SparkSession): Seq[Row] = {
      import org.apache.spark.sql.functions.{col, expr}
      val src =
        if (source.startsWith("'") && source.endsWith("'"))
          new TxTable(spark, source.substring(1, source.length - 1)).read()
        else if (source.startsWith("("))
          spark.sql(source.substring(1, source.length - 1))
        else spark.table(source)
      val tab = new TxTable(spark, path)
      val m = tab.mergeInto(src, keyCols)
      clauses.foreach { c =>
        val cond = c.cond.map(expr)
        (c.matchKind, c.sets) match {
          case ("matched", Some(Nil)) =>
            // UPDATE SET * — every target column the source carries
            val names = tab.read().schema.fieldNames
              .filter(src.columns.contains)
            m.whenMatchedUpdate(
              names.map(n => n -> col(s"s.$n")).toMap, cond)
          case ("matched", Some(as)) =>
            m.whenMatchedUpdate(
              as.map { case (n, e) => n -> expr(e) }.toMap, cond)
          case ("matched", None)    => m.whenMatchedDelete(cond)
          case ("notMatched", _)    => m.whenNotMatchedInsert(cond)
          case ("bySource", Some(as)) =>
            m.whenNotMatchedBySourceUpdate(
              as.map { case (n, e) => n -> expr(e) }.toMap, cond)
          case ("bySource", None)   => m.whenNotMatchedBySourceDelete(cond)
          case other => sys.error(s"unreachable clause: $other")
        }
      }
      Seq(Row(m.execute()))
    }
  }
}
