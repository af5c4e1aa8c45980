package graft.sources.delta

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.{ParseException, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{LongType, StructType}

/** SQL statement surface for the Delta layer — the delta-spark pattern
  * (`DeltaSqlParser`), re-done for this engine: a delegating
  * [[ParserInterface]] injected via `SparkSessionExtensions.injectParser`
  * that recognizes the Delta maintenance/DML statements Spark's grammar
  * either rejects (OPTIMIZE / VACUUM / RESTORE / SHALLOW CLONE) or parses
  * but cannot analyze against a DSv1 relation (DELETE FROM / UPDATE), and
  * plans them as [[LeafRunnableCommand]]s over [[DeltaDml]] /
  * [[DeltaMaintenance]]. Everything else falls through to the stock parser
  * untouched — every other spec in the repo runs through this parser, so
  * "does not disturb normal SQL" is pinned by the whole suite.
  *
  * Grammar (targets are `delta.`/path/`` or a quoted `'/path'`):
  *
  *   DELETE FROM <target> [WHERE <cond>]
  *   UPDATE <target> SET c = e [, …] [WHERE <cond>]
  *   OPTIMIZE <target> [FULL] [WHERE <partition-pred>] [ZORDER BY (c1, c2 [, …])]
  *   VACUUM <target> [RETAIN <n> HOURS]
  *   RESTORE [TABLE] <target> TO VERSION AS OF <v>
  *   CREATE TABLE <target> SHALLOW CLONE <target>
  *   DESCRIBE DETAIL | HISTORY <target>
  *   ALTER TABLE <target> ADD COLUMNS (…) | RENAME COLUMN a TO b |
  *     DROP COLUMN a | SET TBLPROPERTIES (…) |
  *     ADD CONSTRAINT n CHECK (…) | DROP CONSTRAINT n |
  *     CLUSTER BY (c1 [, …]) | CLUSTER BY NONE
  *
  * Plus SQL time travel inside any SELECT (`spark.read` option parity):
  *
  *   … FROM delta.`/path` [FOR] VERSION AS OF <v> …
  *   … FROM delta.`/path` [FOR] TIMESTAMP AS OF '<ts>' …
  *
  * handled as a pre-parse rewrite: each time-traveled table reference is
  * materialized as a temp view over the version-parameterized log replay
  * (`DeltaLog.snapshot(versionAsOf/timestampAsOf)`) and the reference text
  * is substituted with the view name, so arbitrary surrounding SQL (joins,
  * subqueries, CTEs) works unchanged. Plain `delta.`/path`` SELECTs get
  * no such rewrite and do NOT resolve: Spark 4.1's ResolveSQLOnFile
  * accepts only `FileFormat` sources for direct queries and rejects the
  * Delta provider with UNSUPPORTED_DATASOURCE_FOR_DIRECT_QUERY — read the
  * table with `spark.read.format("delta").load(path)` (and a temp view
  * for SQL) instead.
  *
  * cf. the reference's negative write path (`tests/local.rs:92-103`):
  * there, even INSERT fails by design; here the full maintenance surface
  * is one `spark.sql(...)` away.
  */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan = {
    val sql = GraftSqlCommands.rewriteTableChanges(session,
      GraftSqlCommands.rewriteTimeTravel(session, sqlText))
    GraftSqlCommands.parse(sql).getOrElse(delegate.parsePlan(sql))
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
}

private[graft] object GraftSqlCommands {

  // delta.`/path` or '/path'
  private val T = """(?:delta\s*\.\s*`([^`]+)`|'([^']+)')"""
  private def path(m: java.util.regex.Matcher, first: Int): String =
    Option(m.group(first)).getOrElse(m.group(first + 1))

  private def re(p: String) = java.util.regex.Pattern.compile(
    p, java.util.regex.Pattern.CASE_INSENSITIVE | java.util.regex.Pattern.DOTALL)

  private val Delete = re(s"""^\\s*DELETE\\s+FROM\\s+$T(?:\\s+WHERE\\s+(.+?))?\\s*;?\\s*$$""")
  private val Update = re(s"""^\\s*UPDATE\\s+$T\\s+SET\\s+(.+?)\\s*;?\\s*$$""")
  private val Optimize = re(s"""^\\s*OPTIMIZE\\s+$T(?:\\s+(?<full>FULL))?(?:\\s+WHERE\\s+(?<where>.+?))?(?:\\s+ZORDER\\s+BY\\s*\\((?<zcols>[^)]*)\\))?\\s*;?\\s*$$""")
  private val Vacuum = re(s"""^\\s*VACUUM\\s+$T(?:\\s+RETAIN\\s+(\\d+)\\s+HOURS)?(?:\\s+(?<dry>DRY\\s+RUN))?\\s*;?\\s*$$""")
  private val Restore = re(s"""^\\s*RESTORE\\s+(?:TABLE\\s+)?$T\\s+TO\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)\\s*;?\\s*$$""")
  private val RestoreTs = re(s"""^\\s*RESTORE\\s+(?:TABLE\\s+)?$T\\s+TO\\s+TIMESTAMP\\s+AS\\s+OF\\s+'([^']+)'\\s*;?\\s*$$""")
  private val Clone = re(s"""^\\s*CREATE\\s+TABLE\\s+$T\\s+(SHALLOW|DEEP)\\s+CLONE\\s+$T\\s*;?\\s*$$""")
  // source is a PARQUET directory (production surface), so `parquet.` not
  // `delta.`; PARTITIONED BY accepts `col` or `col type` entries
  private val Convert = re(s"""^\\s*CONVERT\\s+TO\\s+DELTA\\s+(?:parquet\\s*\\.\\s*`([^`]+)`|'([^']+)')(?:\\s+PARTITIONED\\s+BY\\s*\\(([^)]*)\\))?\\s*;?\\s*$$""")
  private val Fsck = re(s"""^\\s*FSCK\\s+REPAIR\\s+TABLE\\s+$T(\\s+DRY\\s+RUN)?\\s*;?\\s*$$""")
  private val Describe = re(s"""^\\s*DESCRIBE\\s+(DETAIL|HISTORY)\\s+$T(?:\\s+LIMIT\\s+(\\d+))?\\s*;?\\s*$$""")
  private val ShowParts = re(s"""^\\s*SHOW\\s+PARTITIONS\\s+$T\\s*;?\\s*$$""")
  // DEFAULT form probed first (single column): the plain ADD COLUMNS regex
  // would otherwise swallow the DEFAULT clause into the type DDL
  // the optional column-list parens are matched as a PAIR (two branches)
  // — independently-optional parens would let the trailing \)? bite the
  // closing paren of a parenthesized DEFAULT expression like (1+2)
  private val AlterAddColDefault = re(s"""^\\s*ALTER\\s+TABLE\\s+$T\\s+ADD\\s+COLUMNS?\\s+(?:\\(\\s*(\\w+)\\s+([\\w()\\s,]+?)\\s+DEFAULT\\s+(.+?)\\s*\\)|(\\w+)\\s+([\\w()\\s,]+?)\\s+DEFAULT\\s+(.+?))\\s*;?\\s*$$""")
  private val AlterAddCols = re(s"""^\\s*ALTER\\s+TABLE\\s+$T\\s+ADD\\s+COLUMNS?\\s*\\((.+)\\)\\s*;?\\s*$$""")
  private val AlterRenameCol = re(s"""^\\s*ALTER\\s+TABLE\\s+$T\\s+RENAME\\s+COLUMN\\s+(\\w+)\\s+TO\\s+(\\w+)\\s*;?\\s*$$""")
  private val AlterDropCol = re(s"""^\\s*ALTER\\s+TABLE\\s+$T\\s+DROP\\s+COLUMN\\s+(\\w+)\\s*;?\\s*$$""")
  private val AlterColType = re(s"""^\\s*ALTER\\s+TABLE\\s+$T\\s+ALTER\\s+COLUMN\\s+(\\w+)\\s+TYPE\\s+([\\w()\\s,]+?)\\s*;?\\s*$$""")
  private val AlterSetDefault = re(s"""^\\s*ALTER\\s+TABLE\\s+$T\\s+ALTER\\s+COLUMN\\s+(\\w+)\\s+SET\\s+DEFAULT\\s+(.+?)\\s*;?\\s*$$""")
  private val AlterDropDefault = re(s"""^\\s*ALTER\\s+TABLE\\s+$T\\s+ALTER\\s+COLUMN\\s+(\\w+)\\s+DROP\\s+DEFAULT\\s*;?\\s*$$""")
  private val AlterSetProps = re(s"""^\\s*ALTER\\s+TABLE\\s+$T\\s+SET\\s+TBLPROPERTIES\\s*\\((.+)\\)\\s*;?\\s*$$""")
  private val AlterClusterBy = re(s"""^\\s*ALTER\\s+TABLE\\s+$T\\s+CLUSTER\\s+BY\\s+(?:NONE|\\(([^)]*)\\))\\s*;?\\s*$$""")
  private val AlterAddConstraint = re(s"""^\\s*ALTER\\s+TABLE\\s+$T\\s+ADD\\s+CONSTRAINT\\s+(\\w+)\\s+CHECK\\s*\\((.+)\\)\\s*;?\\s*$$""")
  private val AlterDropConstraint = re(s"""^\\s*ALTER\\s+TABLE\\s+$T\\s+DROP\\s+CONSTRAINT\\s+(\\w+)\\s*;?\\s*$$""")
  // Restricted MERGE grammar: fixed t/s aliases (DeltaMerge's contract),
  // source = delta target, quoted path, or a registered view/table name;
  // the MATCHED clause (UPDATE SET | DELETE) precedes the NOT MATCHED one.
  // SELECT-side time travel: `delta.`/path`` followed DIRECTLY by
  // [FOR] VERSION|TIMESTAMP AS OF. RESTORE's `TO VERSION AS OF` cannot
  // match (the intervening TO breaks adjacency). Versions are bare digits;
  // timestamps must be quoted (standard literal form), so the value can
  // never swallow trailing punctuation like a closing paren.
  private val TimeTravel = re(
    """delta\s*\.\s*`([^`]+)`\s+(?:FOR\s+)?(VERSION|TIMESTAMP)\s+AS\s+OF\s+(?:'([^']*)'|(\d+))""")

  /** Is `pos` inside a single-quoted literal, double-quoted literal, line
    * comment (`--` to end of line) or block comment (`／*…*／`) of `s`?
    * (Backslash escapes do not close a literal — same convention as
    * [[splitTop]].) Guards the regex rewrites: a pattern occurring inside
    * any of these is data or dead text, not a table reference — rewriting
    * a commented-out time travel would eagerly snapshot the path (a side
    * effect at parse time) or turn the comment into a parse failure. */
  private[graft] def inStringLiteral(s: String, pos: Int): Boolean = {
    var inSingle = false
    var inDouble = false
    var inTick = false
    var inLine = false
    var inBlock = false
    var i = 0
    while (i < pos) {
      val c = s.charAt(i)
      if (inSingle) {
        if (c == '\\') i += 1
        else if (c == '\'') inSingle = false
      } else if (inDouble) {
        if (c == '\\') i += 1
        else if (c == '"') inDouble = false
      } else if (inTick) {
        if (c == '`') inTick = false
      } else if (inLine) {
        if (c == '\n') inLine = false
      } else if (inBlock) {
        if (c == '*' && i + 1 < s.length && s.charAt(i + 1) == '/') {
          inBlock = false; i += 1
        }
      } else c match {
        case '\'' => inSingle = true
        case '"' => inDouble = true
        case '`' => inTick = true // quoted identifier — rewrites must not bind inside
        case '-' if i + 1 < s.length && s.charAt(i + 1) == '-' =>
          inLine = true; i += 1
        case '/' if i + 1 < s.length && s.charAt(i + 1) == '*' =>
          inBlock = true; i += 1
        case _ =>
      }
      i += 1
    }
    inSingle || inDouble || inTick || inLine || inBlock
  }

  /** Deterministic, collision-proof temp-view name for a rewrite key: the
    * sanitized key keeps distinct keys distinct except where sanitization
    * itself collides, which the appended hash disambiguates. */
  private def viewName(prefix: String, key: String): String =
    prefix + key.replaceAll("[^a-zA-Z0-9]", "_").takeRight(80) +
      "_" + java.lang.Integer.toHexString(key.hashCode)

  /** Replace every time-traveled `delta.`path`` reference with a temp view
    * over the corresponding snapshot read. No-op (returns `sql` as-is)
    * when the pattern is absent — the common path costs one regex probe. */
  def rewriteTimeTravel(spark: SparkSession, sql: String): String = {
    val m = TimeTravel.matcher(sql)
    if (!m.find()) return sql
    m.reset()
    val sb = new StringBuffer
    while (m.find()) {
      if (inStringLiteral(sql, m.start())) {
        m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(m.group(0)))
      } else {
        val path = m.group(1)
        val kind = m.group(2).toUpperCase(java.util.Locale.ROOT)
        val value = Option(m.group(3)).getOrElse(m.group(4))
        require(kind == "VERSION" || m.group(3) != null,
          s"TIMESTAMP AS OF requires a quoted timestamp literal (got $value)")
        val reader = spark.read.format("delta")
        val df = (if (kind == "VERSION") reader.option("versionAsOf", value)
                  else reader.option("timestampAsOf", value)).load(path)
        // deterministic per (path, kind, value): the same travel in one
        // query (self-join of two versions) reuses one view
        val view = viewName("graft_time_travel_", s"$path#$kind#$value")
        df.createOrReplaceTempView(view)
        m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(view))
      }
    }
    m.appendTail(sb)
    sb.toString
  }

  // Change-data-feed TVF: table_changes('/path', start[, end]) — production
  // Delta's SQL surface for CDF, rewritten to a temp view over
  // DeltaCdf.read. start/end are each a bare version number or a QUOTED
  // timestamp literal (production's dual signature): a starting timestamp
  // resolves to the earliest commit at-or-after it, an ending timestamp to
  // the latest commit at-or-before it — both in-commit-timestamp-aware,
  // same as time travel. start is INCLUSIVE; end defaults to latest.
  private val TableChangesRe = re(
    """table_changes\s*\(\s*'([^']+)'\s*,\s*(\d+|'[^']*')\s*(?:,\s*(\d+|'[^']*')\s*)?\)""")

  def rewriteTableChanges(spark: SparkSession, sql: String): String = {
    val m = TableChangesRe.matcher(sql)
    if (!m.find()) return sql
    m.reset()
    val sb = new StringBuffer
    while (m.find()) {
      if (inStringLiteral(sql, m.start())) {
        m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(m.group(0)))
      } else {
        val path = m.group(1)
        def quoted(v: String): Option[String] =
          if (v.startsWith("'")) Some(v.substring(1, v.length - 1)) else None
        val rawFrom = m.group(2)
        val from = quoted(rawFrom) match {
          case Some(ts) => DeltaLog.earliestVersionAtOrAfter(spark, path, ts)
          case None => rawFrom.toLong
        }
        val latest = DeltaLog.latestVersion(spark, path)
        require(from <= latest,
          s"table_changes: start $rawFrom resolves past the latest version $latest of $path")
        val to = Option(m.group(3)).map { rawTo =>
          quoted(rawTo) match {
            // latest at-or-before: the same resolution time travel uses
            case Some(ts) =>
              DeltaLog.metadataSnapshot(spark, path, timestampAsOf = Some(ts)).version
            case None => rawTo.toLong
          }
        }.getOrElse(latest)
        val df = DeltaCdf.read(spark, path, from - 1, to)
        val view = viewName("graft_table_changes_", s"$path#$from#$to")
        df.createOrReplaceTempView(view)
        m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(view))
      }
    }
    m.appendTail(sb)
    sb.toString
  }

  private val MergeHead = re(
    """^\s*MERGE\s+INTO\s+(?:delta\s*\.\s*`(?<tp1>[^`]+)`|'(?<tp2>[^']+)')\s+(?:AS\s+)?t\s+""" +
    """USING\s+(?:delta\s*\.\s*`(?<sp1>[^`]+)`|'(?<sp2>[^']+)'|(?<sv>[A-Za-z_]\w*))\s+(?:AS\s+)?s\s+""" +
    """ON\s+(?<rest>.+?)\s*;?\s*$$""")
  // clause bodies, applied to the WHEN-split segments of <rest> (the first
  // segment is the ON condition); BY SOURCE is probed before plain NOT
  // MATCHED so the longer keyword run wins
  private val MatchedBody = re(
    """^MATCHED(?:\s+AND\s+(?<cond>.+?))?\s+THEN\s+(?:UPDATE\s+SET\s+(?<set>.+)|(?<del>DELETE))\s*$""")
  private val BySourceBody = re(
    """^NOT\s+MATCHED\s+BY\s+SOURCE(?:\s+AND\s+(?<cond>.+?))?\s+THEN\s+(?:UPDATE\s+SET\s+(?<set>.+)|(?<del>DELETE))\s*$""")
  private val NotMatchedBody = re(
    """^NOT\s+MATCHED(?:\s+AND\s+(?<cond>.+?))?\s+THEN\s+INSERT\s*(?:\((?<icols>[^)]*)\)\s*VALUES\s*\((?<ivals>.+)\)|(?<istar>\*))\s*$""")

  /** Split `s` at every top-level `WHEN` keyword (outside string literals
    * and parens, case-insensitive, word-bounded). Segment 0 is the text
    * before the first WHEN; each further segment is one clause body. */
  private[graft] def splitOnWhen(s: String): Seq[String] = {
    // '_' is an identifier character: `case_id` / `end_date` must not read
    // as CASE/END keywords (they would desync caseDepth and swallow every
    // later WHEN boundary)
    def identChar(ch: Char): Boolean = Character.isLetterOrDigit(ch) || ch == '_'
    def wordAt(i: Int, w: String): Boolean =
      i + w.length <= s.length &&
        s.substring(i, i + w.length).equalsIgnoreCase(w) &&
        (i == 0 || !identChar(s.charAt(i - 1))) &&
        (i + w.length == s.length || !identChar(s.charAt(i + w.length)))
    val bounds = Seq.newBuilder[Int]
    // caseDepth: a WHEN inside CASE…END is the expression's, not a MERGE
    // clause boundary — `UPDATE SET v = CASE WHEN s.x > 0 THEN 1 END`
    // must not split mid-expression
    // backtick-quoted identifiers are opaque: `` `case` ``/`` `when` ``
    // are column names, and a backticked name may contain quotes/parens
    var depth = 0; var caseDepth = 0; var inStr = false; var inTick = false
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' if inStr => i += 1
        case '`' if !inStr => inTick = !inTick
        case _ if inTick =>
        case '\'' => inStr = !inStr
        case '(' if !inStr => depth += 1
        case ')' if !inStr => depth -= 1
        case c if !inStr && (c == 'C' || c == 'c') && wordAt(i, "CASE") =>
          caseDepth += 1; i += 3
        case c if !inStr && caseDepth > 0 && (c == 'E' || c == 'e') && wordAt(i, "END") =>
          caseDepth -= 1; i += 2
        case c if !inStr && depth == 0 && caseDepth == 0 && (c == 'W' || c == 'w') &&
            wordAt(i, "WHEN") &&
            (i == 0 || Character.isWhitespace(s.charAt(i - 1))) &&
            (i + 4 == s.length || Character.isWhitespace(s.charAt(i + 4))) =>
          bounds += i
          i += 3
        case _ =>
      }
      i += 1
    }
    val bs = bounds.result()
    if (bs.isEmpty) Seq(s)
    else {
      val starts = 0 +: bs.map(_ + 4) // drop the WHEN keyword itself
      val ends = bs :+ s.length
      starts.zip(ends).map { case (a, b) => s.substring(a, b).trim }
    }
  }

  /** Split on top-level commas only (parens and string literals opaque;
    * backslash-escaped quotes inside literals do not close them). */
  private[graft] def splitTop(s: String): Seq[String] = {
    val parts = Seq.newBuilder[String]
    var depth = 0; var inStr = false; var inTick = false; var start = 0; var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' if inStr => i += 1 // skip the escaped char
        case '`' if !inStr => inTick = !inTick // backticked names are opaque
        case _ if inTick =>
        case '\'' => inStr = !inStr
        case '(' if !inStr => depth += 1
        case ')' if !inStr => depth -= 1
        case ',' if !inStr && depth == 0 => parts += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    parts += s.substring(start)
    parts.result()
  }

  /** Index of the first TOP-LEVEL (outside quotes/parens) occurrence of
    * ` word ` (case-insensitive, word-bounded), or -1 — the quote-aware
    * way to find clause boundaries a lazy regex would mis-split when the
    * keyword appears inside a string literal. */
  private[graft] def topLevelKeyword(s: String, word: String): Int = {
    // '_' is an identifier character (the splitOnWhen rule): `where_flag`
    // must not bind as a WHERE keyword; backtick-quoted identifiers are
    // opaque (`` `where` `` is a column, and a backticked name may contain
    // quotes/parens that would otherwise desync the scan)
    def identChar(ch: Char): Boolean = Character.isLetterOrDigit(ch) || ch == '_'
    var depth = 0; var inStr = false; var inTick = false; var i = 0
    val w = word.toUpperCase(java.util.Locale.ROOT)
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' if inStr => i += 1
        case '`' if !inStr => inTick = !inTick
        case _ if inTick =>
        case '\'' => inStr = !inStr
        case '(' if !inStr => depth += 1
        case ')' if !inStr => depth -= 1
        case c if !inStr && depth == 0 && i + w.length <= s.length &&
            s.regionMatches(true, i, w, 0, w.length) &&
            (i == 0 || !identChar(s.charAt(i - 1))) &&
            (i + w.length == s.length || !identChar(s.charAt(i + w.length))) =>
          return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  /** Split `a = f(x, y), b = 2` on top-level commas only. Duplicate
    * targets are an error (SQL semantics — silently last-wins via a Map
    * would DROP one of the user's updates). */
  private[graft] def splitAssignments(s: String): Map[String, String] = {
    val pairs = splitTop(s).map { a =>
      val eq = a.indexOf('=')
      require(eq > 0, s"malformed SET assignment: '$a'")
      a.substring(0, eq).trim -> a.substring(eq + 1).trim
    }
    val dups = pairs.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }
    require(dups.isEmpty,
      s"duplicate SET assignment target(s): ${dups.toSeq.sorted.mkString(", ")}")
    pairs.toMap
  }

  def parse(sql: String): Option[LogicalPlan] = {
    val d = Delete.matcher(sql)
    if (d.matches())
      return Some(DeltaDeleteCommand(path(d, 1), Option(d.group(3)).getOrElse("true")))
    val u = Update.matcher(sql)
    if (u.matches()) {
      // WHERE must be found quote-aware: a lazy regex binds a ' WHERE '
      // inside a string literal (e.g. SET note = 'fix WHERE needed')
      val blob = u.group(3)
      val w = topLevelKeyword(blob, "WHERE")
      val (setPart, cond) =
        if (w < 0) (blob, "true")
        else (blob.substring(0, w).trim, blob.substring(w + 5).trim)
      return Some(DeltaUpdateCommand(path(u, 1), splitAssignments(setPart), cond))
    }
    val o = Optimize.matcher(sql)
    if (o.matches()) {
      val full = o.group("full") != null
      val zcols = Option(o.group("zcols"))
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      require(!(full && zcols.nonEmpty),
        "OPTIMIZE FULL names no columns (it re-clusters on the table's " +
          "CLUSTER BY declaration); drop FULL or the ZORDER BY clause")
      return Some(DeltaOptimizeCommand(path(o, 1), zcols,
        Option(o.group("where")).map(_.trim), full))
    }
    val v = Vacuum.matcher(sql)
    if (v.matches())
      return Some(DeltaVacuumCommand(path(v, 1),
        Option(v.group(3)).map(_.toLong * 3600L * 1000L),
        dryRun = v.group("dry") != null))
    val fk = Fsck.matcher(sql)
    if (fk.matches())
      return Some(DeltaFsckCommand(path(fk, 1), dryRun = fk.group(3) != null))
    val cv = Convert.matcher(sql)
    if (cv.matches()) {
      val p = Option(cv.group(1)).getOrElse(cv.group(2))
      val parts = Option(cv.group(3)).toSeq
        .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty).map(_.split("\\s+")(0)))
      return Some(DeltaConvertCommand(p, parts))
    }
    val r = Restore.matcher(sql)
    if (r.matches())
      return Some(DeltaRestoreCommand(path(r, 1), r.group(3).toLong))
    val rt = RestoreTs.matcher(sql)
    if (rt.matches())
      return Some(DeltaRestoreTimestampCommand(path(rt, 1), rt.group(3)))
    val c = Clone.matcher(sql)
    if (c.matches())
      return Some(DeltaCloneCommand(path(c, 4), path(c, 1),
        deep = c.group(3).equalsIgnoreCase("DEEP")))
    val de = Describe.matcher(sql)
    if (de.matches())
      return Some(DeltaDescribeCommand(path(de, 2), de.group(1).equalsIgnoreCase("DETAIL"),
        Option(de.group(4)).map(_.toInt)))
    val sp = ShowParts.matcher(sql)
    if (sp.matches())
      return Some(DeltaShowPartitionsCommand(path(sp, 1)))
    val aad = AlterAddColDefault.matcher(sql)
    if (aad.matches()) {
      // groups 3-5 = parenthesized-list branch, 6-8 = bare branch
      val (n, t, d) =
        if (aad.group(3) != null) (aad.group(3), aad.group(4), aad.group(5))
        else (aad.group(6), aad.group(7), aad.group(8))
      return Some(DeltaAlterCommand(path(aad, 1),
        DeltaAlterCommand.AddColumnDefault(n, t.trim, d.trim)))
    }
    val aac = AlterAddCols.matcher(sql)
    if (aac.matches())
      return Some(DeltaAlterCommand(path(aac, 1), DeltaAlterCommand.AddColumns(aac.group(3))))
    val arc = AlterRenameCol.matcher(sql)
    if (arc.matches())
      return Some(DeltaAlterCommand(path(arc, 1),
        DeltaAlterCommand.RenameColumn(arc.group(3), arc.group(4))))
    val adc = AlterDropCol.matcher(sql)
    if (adc.matches())
      return Some(DeltaAlterCommand(path(adc, 1),
        DeltaAlterCommand.DropColumn(adc.group(3))))
    val act = AlterColType.matcher(sql)
    if (act.matches())
      return Some(DeltaAlterCommand(path(act, 1),
        DeltaAlterCommand.AlterColumnType(act.group(3), act.group(4).trim)))
    val asp = AlterSetProps.matcher(sql)
    if (asp.matches()) {
      val props = splitTop(asp.group(3)).map { kv =>
        val eq = kv.indexOf('=')
        require(eq > 0, s"malformed TBLPROPERTIES entry: '$kv'")
        def unq(x: String) = {
          val t = x.trim
          if (t.length >= 2 && t.head == '\'' && t.last == '\'') t.substring(1, t.length - 1) else t
        }
        unq(kv.substring(0, eq)) -> unq(kv.substring(eq + 1))
      }.toMap
      return Some(DeltaAlterCommand(path(asp, 1), DeltaAlterCommand.SetProps(props)))
    }
    val acb = AlterClusterBy.matcher(sql)
    if (acb.matches())
      return Some(DeltaAlterCommand(path(acb, 1),
        DeltaAlterCommand.ClusterBy(Option(acb.group(3)).toSeq
          .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty)))))
    val asd = AlterSetDefault.matcher(sql)
    if (asd.matches())
      return Some(DeltaAlterCommand(path(asd, 1),
        DeltaAlterCommand.SetDefault(asd.group(3), Some(asd.group(4).trim))))
    val add2 = AlterDropDefault.matcher(sql)
    if (add2.matches())
      return Some(DeltaAlterCommand(path(add2, 1),
        DeltaAlterCommand.SetDefault(add2.group(3), None)))
    val aco = AlterAddConstraint.matcher(sql)
    if (aco.matches())
      return Some(DeltaAlterCommand(path(aco, 1),
        DeltaAlterCommand.AddConstraint(aco.group(3), aco.group(4))))
    val dco = AlterDropConstraint.matcher(sql)
    if (dco.matches())
      return Some(DeltaAlterCommand(path(dco, 1), DeltaAlterCommand.DropConstraint(dco.group(3))))
    val mg = MergeHead.matcher(sql)
    if (mg.matches()) {
      def g(n: String) = Option(mg.group(n))
      val segments = splitOnWhen(mg.group("rest"))
      require(segments.size >= 2, "MERGE requires at least one WHEN clause")
      val condition = segments.head.trim
      val matched = Seq.newBuilder[MergeClause.Matched]
      val notMatched = Seq.newBuilder[(Option[String], DeltaMergeCommand.Insert)]
      val bySource = Seq.newBuilder[MergeClause.NotMatchedBySource]
      segments.tail.foreach { seg =>
        val bs = BySourceBody.matcher(seg)
        val mt = MatchedBody.matcher(seg)
        val nm = NotMatchedBody.matcher(seg)
        if (bs.matches())
          bySource += MergeClause.NotMatchedBySource(
            Option(bs.group("set")).map(splitAssignments),
            Option(bs.group("cond")).map(_.trim))
        else if (mt.matches())
          matched += MergeClause.Matched(
            Option(mt.group("set")).map(splitAssignments),
            Option(mt.group("cond")).map(_.trim))
        else if (nm.matches()) {
          val ins: DeltaMergeCommand.Insert =
            if (nm.group("istar") != null) DeltaMergeCommand.InsertStar
            else {
              val cols = nm.group("icols").split(',').map(_.trim).filter(_.nonEmpty).toSeq
              val vals = splitTop(nm.group("ivals")).map(_.trim)
              require(cols.size == vals.size,
                s"INSERT columns (${cols.size}) and VALUES (${vals.size}) differ")
              DeltaMergeCommand.InsertCols(cols.zip(vals).toMap)
            }
          notMatched += (Option(nm.group("cond")).map(_.trim) -> ins)
        } else throw new IllegalArgumentException(
          s"cannot parse MERGE clause: WHEN $seg")
      }
      return Some(DeltaMergeCommand(
        g("tp1").orElse(g("tp2")).get,
        g("sp1").orElse(g("sp2")), g("sv"),
        condition,
        matched.result(), notMatched.result(), bySource.result()))
    }
    None
  }

  private[delta] def longAttrs(names: String*): Seq[Attribute] =
    names.map(n => AttributeReference(n, LongType, nullable = false)())

  private[delta] def attrsOf(schema: StructType): Seq[Attribute] =
    schema.fields.toSeq.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
}

/** DESCRIBE DETAIL / DESCRIBE HISTORY over a delta path. */
case class DeltaDescribeCommand(path: String, detail: Boolean, limit: Option[Int] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlCommands.attrsOf(
    if (detail) DeltaMaintenance.detailSchema else DeltaMaintenance.historySchema)
  override def run(spark: SparkSession): Seq[Row] = {
    val rows = (if (detail) DeltaMaintenance.detail(spark, path)
      else DeltaMaintenance.history(spark, path)).collect().toSeq
    // DESCRIBE HISTORY t LIMIT n (production surface) — rows are already
    // newest-first, so LIMIT keeps the most recent commits
    limit.map(rows.take).getOrElse(rows)
  }
}

case class DeltaDeleteCommand(path: String, condition: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlCommands.longAttrs("rows_affected")
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(DeltaDml.delete(spark, path, condition).rowsAffected))
}

case class DeltaUpdateCommand(path: String, set: Map[String, String], condition: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlCommands.longAttrs("rows_affected")
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(DeltaDml.update(spark, path, condition, set).rowsAffected))
}

case class DeltaOptimizeCommand(
    path: String, zorderBy: Option[Seq[String]], where: Option[String] = None,
    full: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    GraftSqlCommands.longAttrs("files_removed", "files_added", "committed_version")
  override def run(spark: SparkSession): Seq[Row] = {
    // invariant held HERE, not only in the SQL regex: the command is a
    // public case class, and a programmatic construction with both set
    // must fail loudly instead of silently dropping FULL
    require(!(full && zorderBy.nonEmpty),
      "OPTIMIZE FULL names no columns (it re-clusters on the table's " +
        "CLUSTER BY declaration); drop FULL or the ZORDER BY clause")
    val m = zorderBy match {
      case Some(cols) => DeltaMaintenance.zorder(spark, path, cols, predicate = where)
      case None => DeltaMaintenance.optimize(spark, path, predicate = where, full = full)
    }
    Seq(Row(m.filesRemoved, m.filesAdded, m.committedVersion))
  }
}

case class DeltaVacuumCommand(
    path: String, retentionMs: Option[Long], dryRun: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    if (dryRun) Seq(AttributeReference("path", org.apache.spark.sql.types.StringType)())
    else GraftSqlCommands.longAttrs("files_deleted")
  override def run(spark: SparkSession): Seq[Row] =
    if (dryRun)
      DeltaMaintenance.vacuumDryRun(spark, path,
        retentionMs.getOrElse(7L * 24 * 3600 * 1000)).map(Row(_))
    else Seq(Row(retentionMs match {
      case Some(ms) => DeltaMaintenance.vacuum(spark, path, ms)
      case None => DeltaMaintenance.vacuum(spark, path)
    }))
}

/** `SHOW PARTITIONS delta.`path``: classic Hive shape — one `partition`
  * string column with `k=v[/k2=v2]` rows, from the snapshot's add actions
  * (metadata-plane, no scan). */
case class DeltaShowPartitionsCommand(path: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("partition", org.apache.spark.sql.types.StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    // distributed distinct on job-plane tables — O(partitions) driver
    val (snap, pvs) = DeltaMaintenance.distinctPartitionValues(spark, path)
    require(snap.partitionColumns.nonEmpty, s"$path is not partitioned")
    pvs
      // partitionValues are keyed by PHYSICAL column names on mapped
      // tables (same lookup convention as DeltaFileIndex.partitionRow)
      .map(pv => snap.partitionColumns.map(c =>
        s"$c=${Option(pv.getOrElse(snap.metadata.physicalOf(c), null))
          .getOrElse("__HIVE_DEFAULT_PARTITION__")}")
        .mkString("/"))
      .sorted.map(Row(_))
  }
}

case class DeltaFsckCommand(path: String, dryRun: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("path", org.apache.spark.sql.types.StringType)())
  override def run(spark: SparkSession): Seq[Row] =
    DeltaMaintenance.fsck(spark, path, dryRun).map(Row(_))
}

case class DeltaConvertCommand(path: String, partitionBy: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlCommands.longAttrs("committed_version")
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(DeltaMaintenance.convertToDelta(spark, path, partitionBy)))
}

case class DeltaRestoreCommand(path: String, toVersion: Long)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlCommands.longAttrs("committed_version")
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(DeltaMaintenance.restore(spark, path, toVersion)))
}

case class DeltaRestoreTimestampCommand(path: String, timestamp: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlCommands.longAttrs("committed_version")
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(DeltaMaintenance.restoreTimestamp(spark, path, timestamp)))
}

case class DeltaCloneCommand(sourcePath: String, targetPath: String, deep: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlCommands.longAttrs("committed_version")
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(
      if (deep) DeltaMaintenance.deepClone(spark, sourcePath, targetPath)
      else DeltaMaintenance.shallowClone(spark, sourcePath, targetPath)))
}

object DeltaMergeCommand {
  sealed trait Insert
  case object InsertStar extends Insert
  final case class InsertCols(assignments: Map[String, String]) extends Insert
}

/** `MERGE INTO <target> t USING <source> s ON … WHEN …` routed onto
  * [[DeltaMerge.merge]] — the full clause surface: any number of
  * `WHEN [NOT] MATCHED [BY SOURCE] [AND cond] THEN …` clauses, applied
  * first-match-wins per kind. `INSERT *` expands at run time (the snapshot
  * isn't read at parse time): to the target schema normally, or to the
  * SOURCE schema when `spark.graft.delta.schema.autoMerge.enabled=true` —
  * the production autoMerge contract, where new source columns evolve the
  * target. */
case class DeltaMergeCommand(
    targetPath: String,
    sourcePath: Option[String],
    sourceView: Option[String],
    condition: String,
    matched: Seq[MergeClause.Matched],
    notMatched: Seq[(Option[String], DeltaMergeCommand.Insert)],
    bySource: Seq[MergeClause.NotMatchedBySource])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    GraftSqlCommands.longAttrs("rows_updated", "rows_deleted", "rows_inserted")
  override def run(spark: SparkSession): Seq[Row] = {
    val src = sourcePath.map(DeltaTable.read(spark, _))
      .getOrElse(spark.table(sourceView.get))
    val autoMerge = spark.conf
      .getOption("spark.graft.delta.schema.autoMerge.enabled")
      .exists(_.trim.equalsIgnoreCase("true"))
    val nms = notMatched.map { case (cond, ins) =>
      MergeClause.NotMatched(ins match {
        case DeltaMergeCommand.InsertStar if autoMerge =>
          src.columns.map(c => c -> s"s.$c").toMap
        case DeltaMergeCommand.InsertStar =>
          // identity columns the SOURCE does not carry are excluded from
          // the expansion: they are GENERATED ALWAYS (values assigned by
          // the merge). A source that DOES carry the column stays mapped,
          // so the merge's explicit-assignment guard rejects it — the same
          // outcome the autoMerge branch (source-schema expansion) gives,
          // and production Delta's INSERT * contract
          val sch = DeltaLog.metadataSnapshot(spark, targetPath).schema
          val identity = DeltaWriter.identityFieldsOf(sch).map(_.name).toSet
          val srcCols = src.columns.toSet
          sch.fieldNames.filterNot(c => identity(c) && !srcCols(c))
            .map(c => c -> s"s.$c").toMap
        case DeltaMergeCommand.InsertCols(a) => a
      }, cond)
    }
    val m = DeltaMerge.merge(spark, targetPath, src, condition,
      matched, nms, bySource, schemaEvolution = autoMerge)
    Seq(Row(m.rowsUpdated, m.rowsDeleted, m.rowsInserted))
  }
}

object DeltaAlterCommand {
  sealed trait Op
  final case class AddColumns(colsDdl: String) extends Op
  final case class AddColumnDefault(name: String, typeDdl: String, default: String) extends Op
  /** SET DEFAULT (Some) / DROP DEFAULT (None) on an existing column. */
  final case class SetDefault(name: String, default: Option[String]) extends Op
  final case class RenameColumn(oldName: String, newName: String) extends Op
  final case class DropColumn(name: String) extends Op
  final case class AlterColumnType(name: String, typeDdl: String) extends Op
  final case class SetProps(props: Map[String, String]) extends Op
  final case class AddConstraint(name: String, check: String) extends Op
  final case class DropConstraint(name: String) extends Op
  /** CLUSTER BY (cols) / CLUSTER BY NONE (empty cols). */
  final case class ClusterBy(cols: Seq[String]) extends Op
}

/** The metadata-only ALTER TABLE statements over a delta path. */
case class DeltaAlterCommand(path: String, op: DeltaAlterCommand.Op)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlCommands.longAttrs("committed_version")
  override def run(spark: SparkSession): Seq[Row] = {
    import DeltaAlterCommand._
    val v = op match {
      case AddColumns(ddl) =>
        DeltaSchema.addColumns(spark, path, StructType.fromDDL(ddl).fields.toSeq)
      case AddColumnDefault(name, typeDdl, default) =>
        DeltaSchema.addColumnWithDefault(spark, path,
          org.apache.spark.sql.types.StructField(name,
            spark.sessionState.sqlParser.parseDataType(typeDdl)), default)
      case SetDefault(name, default) =>
        DeltaSchema.setColumnDefault(spark, path, name, default)
      case RenameColumn(o, n) => DeltaSchema.renameColumn(spark, path, o, n)
      case DropColumn(n) => DeltaSchema.dropColumn(spark, path, n)
      case AlterColumnType(n, t) => DeltaSchema.alterColumnType(spark, path, n,
        spark.sessionState.sqlParser.parseDataType(t))
      case SetProps(props) => DeltaSchema.setTblProperties(spark, path, props)
      case ClusterBy(cols) => Clustering.clusterBy(spark, path, cols)
      case AddConstraint(name, check) =>
        DeltaConstraints.addCheckConstraint(spark, path, name, check)
      case DropConstraint(name) => DeltaConstraints.dropConstraint(spark, path, name)
    }
    Seq(Row(v))
  }
}
