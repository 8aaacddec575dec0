package graft.sqlparse

/** MySQL DDL statement classifier + qualified-identifier parser
  * (SURVEY §2 T20/T21; behavior defined by the reference corpus at
  * tests/components/sql_handler_test.py:41-368 and
  * components/sql_handler.py:32-462 — re-expressed from scratch as a
  * character-level scanner rather than a sqlparse token matcher).
  *
  * Pure Scala, no Spark dependency: the DDL path is control-plane and runs
  * on the driver (inside foreachBatch), never per-row on executors.
  */
final class IdentifierParseError(msg: String) extends RuntimeException(msg)

/** MySQL qualified-identifier rules (reference sql_handler.py:220-303):
  * backtick or double-quote quoting, doubled-quote escapes, arbitrary
  * characters (unicode, dots, spaces, the other quote kind) inside quotes,
  * `db.table` splitting on unquoted dots.
  */
object MysqlIdentifierParser {

  /** Parse a qualified identifier into its parts; throws
    * [[IdentifierParseError]] on trailing garbage or unterminated quotes. */
  def parseQualified(s: String): List[String] = parse(s, qualified = true)

  /** Parse a single (unqualified) identifier. */
  def parseUnqualified(s: String): String = parse(s, qualified = false).head

  private def parse(s: String, qualified: Boolean): List[String] = {
    var i = 0
    def skipWs(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1

    def parsePart(): String = {
      if (i >= s.length) throw new IdentifierParseError(s"empty identifier part in <$s>")
      val c = s.charAt(i)
      if (c == '`' || c == '"') {
        val q = c
        i += 1
        val sb = new StringBuilder
        var closed = false
        while (!closed) {
          if (i >= s.length) throw new IdentifierParseError(s"unterminated quote in <$s>")
          val ch = s.charAt(i)
          if (ch == q) {
            if (i + 1 < s.length && s.charAt(i + 1) == q) { sb.append(q); i += 2 }
            else { i += 1; closed = true }
          } else { sb.append(ch); i += 1 }
        }
        sb.toString
      } else {
        val start = i
        while (i < s.length && { val ch = s.charAt(i)
          ch != '.' && ch != '`' && ch != '"' && !ch.isWhitespace }) i += 1
        if (i == start) throw new IdentifierParseError(s"expected identifier at $i in <$s>")
        s.substring(start, i)
      }
    }

    skipWs()
    val parts = scala.collection.mutable.ListBuffer(parsePart())
    if (qualified) {
      while (i < s.length && s.charAt(i) == '.') { i += 1; parts += parsePart() }
    }
    skipWs()
    if (i != s.length)
      throw new IdentifierParseError(s"trailing characters at $i in <$s>")
    parts.toList
  }
}

sealed abstract class MysqlStatement(val kind: String) {
  def isSupported: Boolean = true
  def databaseName: Option[String] = None
  def table: Option[String] = None
  def doesRenameTable: Boolean = false
}
final case class CreateTableStatement(db: Option[String], tbl: String)
    extends MysqlStatement("create_table") {
  override def databaseName: Option[String] = db
  override def table: Option[String] = Some(tbl)
}
final case class AlterTableStatement(db: Option[String], tbl: String, rename: Boolean)
    extends MysqlStatement("alter_table") {
  override def databaseName: Option[String] = db
  override def table: Option[String] = Some(tbl)
  override def doesRenameTable: Boolean = rename
}
final case class DropTableStatement(db: Option[String], tbl: String)
    extends MysqlStatement("drop_table") {
  override def databaseName: Option[String] = db
  override def table: Option[String] = Some(tbl)
}
final case class CreateDatabaseStatement() extends MysqlStatement("create_database")
final case class AlterDatabaseStatement() extends MysqlStatement("alter_database")
final case class DropDatabaseStatement() extends MysqlStatement("drop_database")
final case class CreateIndexStatement() extends MysqlStatement("create_index")
final case class DropIndexStatement() extends MysqlStatement("drop_index")
/** `RENAME TABLE a TO b [, c TO d] ...`: the (from, to) name pairs in
  * statement order, each name (database, table) as written. */
final case class RenameTableStatement(
    renames: Seq[((Option[String], String), (Option[String], String))])
    extends MysqlStatement("rename_table")
case object UnsupportedStatement extends MysqlStatement("unsupported") {
  override def isSupported: Boolean = false
}

object MysqlStatementClassifier {

  /** BEGIN/COMMIT arrive as QueryEvents but are not DDL (reference
    * schema_event_handler.py:139-142). */
  val SkippableQueries: Set[String] = Set("BEGIN", "COMMIT")

  def isSkippable(query: String): Boolean =
    SkippableQueries.contains(query.trim.toUpperCase)

  /** Tokenize: a token is a maximal run of non-delimiter characters, where
    * quoted sections (backtick / double quote, with doubled-quote escapes)
    * are consumed whole — so an identifier with spaces inside quotes stays
    * one token. Delimiters: whitespace and `(),;`.
    */
  private[graft] def tokens(s: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < s.length) {
      while (i < s.length && s.charAt(i).isWhitespace) i += 1
      if (i < s.length) {
        val c = s.charAt(i)
        if (c == '(' || c == ')' || c == ',' || c == ';') { out += c.toString; i += 1 }
        else {
          val start = i
          var stop = false
          while (i < s.length && !stop) {
            val ch = s.charAt(i)
            if (ch.isWhitespace || ch == '(' || ch == ')' || ch == ',' || ch == ';') stop = true
            // single-quoted string literals must be consumed whole too:
            // a COMMENT 'the primary key' would otherwise tokenize into
            // bare words that keyword scans (e.g. inline PRIMARY KEY
            // detection) could falsely match
            else if (ch == '`' || ch == '"' || ch == '\'') {
              i += 1
              var closed = false
              while (i < s.length && !closed) {
                if (s.charAt(i) == ch) {
                  if (i + 1 < s.length && s.charAt(i + 1) == ch) i += 2
                  else { i += 1; closed = true }
                } else i += 1
              }
            } else i += 1
          }
          out += s.substring(start, i)
        }
      }
    }
    out.result()
  }

  private def kw(t: String): String = t.toUpperCase

  /** Classify a statement (reference mysql_statement_factory,
    * sql_handler.py:32-57; statement grammar per MySQL 5.5-5.7 as covered
    * by the reference corpus). Identifier parse failures degrade to
    * [[UnsupportedStatement]] like the reference's catch-all. */
  def classify(query: String): MysqlStatement =
    try classifyUnsafe(query)
    catch { case _: IdentifierParseError => UnsupportedStatement }

  private def classifyUnsafe(query: String): MysqlStatement = {
    val ts = tokens(query)
    if (ts.isEmpty) return UnsupportedStatement
    val skipCreate = Set("TEMPORARY", "ONLINE", "OFFLINE", "UNIQUE", "FULLTEXT", "SPATIAL")
    val skipAlter = Set("ONLINE", "OFFLINE", "IGNORE")

    def after(from: Int, skip: Set[String]): Int = {
      var j = from
      while (j < ts.length && skip.contains(kw(ts(j)))) j += 1
      j
    }

    /** Position of the table identifier: skip IF [NOT] EXISTS. */
    def tableIdentAt(from: Int): Int = {
      var j = from
      if (j < ts.length && kw(ts(j)) == "IF") {
        j += 1
        if (j < ts.length && kw(ts(j)) == "NOT") j += 1
        if (j < ts.length && kw(ts(j)) == "EXISTS") j += 1
      }
      j
    }

    def tableName(tok: String): (Option[String], String) =
      MysqlIdentifierParser.parseQualified(tok) match {
        case t :: Nil => (None, t)
        case d :: t :: Nil => (Some(d), t)
        case _ => throw new IdentifierParseError(s"over-qualified name <$tok>")
      }

    def parseTable(at: Int): (Option[String], String) = {
      if (at >= ts.length) throw new IdentifierParseError("missing table name")
      tableName(ts(at))
    }

    /** ALTER TABLE ... RENAME [TO|AS] — but not RENAME COLUMN/INDEX/KEY
      * (reference sql_handler.py:378 does_rename_table). */
    def hasTableRename(from: Int): Boolean =
      ts.indices.drop(from).exists { j =>
        kw(ts(j)) == "RENAME" &&
          !(j + 1 < ts.length && Set("COLUMN", "INDEX", "KEY").contains(kw(ts(j + 1))))
      }

    kw(ts.head) match {
      case "CREATE" =>
        val j = after(1, skipCreate)
        if (j >= ts.length) UnsupportedStatement
        else kw(ts(j)) match {
          case "TABLE" =>
            val at = tableIdentAt(j + 1)
            val (d, t) = parseTable(at)
            CreateTableStatement(d, t)
          case "DATABASE" | "SCHEMA" => CreateDatabaseStatement()
          case "INDEX" => CreateIndexStatement()
          case _ => UnsupportedStatement
        }
      case "ALTER" =>
        val j = after(1, skipAlter)
        if (j >= ts.length) UnsupportedStatement
        else kw(ts(j)) match {
          case "TABLE" =>
            val at = tableIdentAt(j + 1)
            val (d, t) = parseTable(at)
            AlterTableStatement(d, t, hasTableRename(at + 1))
          case "DATABASE" | "SCHEMA" => AlterDatabaseStatement()
          case _ => UnsupportedStatement
        }
      case "DROP" =>
        val j = after(1, skipCreate)
        if (j >= ts.length) UnsupportedStatement
        else kw(ts(j)) match {
          case "TABLE" =>
            val at = tableIdentAt(j + 1)
            val (d, t) = parseTable(at)
            DropTableStatement(d, t)
          case "DATABASE" | "SCHEMA" => DropDatabaseStatement()
          case "INDEX" => DropIndexStatement()
          case _ => UnsupportedStatement
        }
      case "RENAME" =>
        if (ts.length > 1 && kw(ts(1)) == "TABLE") {
          // from TO to [, from TO to]... [;]
          val names = ts.drop(2).filterNot(_ == ";")
          if (names.length % 4 != 3 || names.indices.exists(i => i % 4 match {
              case 1 => kw(names(i)) != "TO"
              case 3 => names(i) != ","
              case _ => false
            })) throw new IdentifierParseError(s"malformed RENAME TABLE <$query>")
          RenameTableStatement(names.indices.filter(_ % 4 == 0).map(i =>
            (tableName(names(i)), tableName(names(i + 2)))))
        } else UnsupportedStatement
      case _ => UnsupportedStatement
    }
  }
}
