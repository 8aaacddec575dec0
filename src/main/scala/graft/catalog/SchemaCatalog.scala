package graft.catalog

import graft.sqlparse._
import org.apache.spark.sql.types._

/** Versioned schema registry + DDL-tracked shadow catalog
  * (SURVEY §2 T16-T18, T22-T25).
  *
  * The reference keeps per-table schemas in an external registry
  * ("Schematizer") keyed by schema_id, replays every DDL against a shadow
  * MySQL "schema tracker" database, and snapshots the tracker state before
  * checkpoints (reference components/schema_wrapper.py:29-162,
  * schema_tracker.py:44-113, mysql_dump_handler.py:33-123). Here the
  * tracker is a `StructType` catalog evolved directly by the parsed DDL,
  * the registry is an idempotent (create-stmt-hash → schema_id) map, and
  * the dump/restore pair is a JSON snapshot — no subprocess, no shadow DB.
  *
  * Driver-side state: at cluster scale this object lives on the driver and
  * is broadcast to executors between micro-batches (SURVEY §1.3).
  */
final case class TableId(cluster: String, database: String, table: String)

final case class TableSchema(
    schemaId: Int,
    struct: StructType,
    containsPii: Boolean,
    /** Primary-key column names in key-ordinal order (reference
      * mysql_parser.py:22-35 MySQLKey; consumers need these for upsert
      * semantics). */
    pkeys: Seq[String] = Nil)

class SchemaCatalog(piiTables: Set[String] = Set.empty) {

  private var nextId = 1
  private var entries = Map.empty[TableId, TableSchema]
  /** (table, schema-fingerprint) → schema_id: re-registering an identical
    * schema returns the existing id (reference schema_wrapper.py:97-141
    * registration idempotence). */
  private var byFingerprint = Map.empty[(TableId, String), Int]
  private var versionCounter = 0
  /** Compatibility verdict of every schema EVOLUTION (ALTER on a known
    * table), in order — what the reference's registry would have ruled at
    * registration time (schema_event_handler.py:154-175). */
  private var compatReports = Vector.empty[(TableId, SchemaCompat.Report)]
  /** Every ALTER applied through [[applyDdl]] with a binlog position: the
    * (table-at-alter-time, event position) pairs the DATA PLANE derives
    * its payload-schema validity intervals from (T22b — the payload's
    * column set follows the version active at each row's position).
    * Persisted in the snapshot: a recovered pipeline must keep serving the
    * SAME intervals or replayed rows would re-emit under the wrong
    * schema version. */
  private var alterHistory = Vector.empty[(TableId, Long)]

  def version: Int = versionCounter
  def compatLog: Seq[(TableId, SchemaCompat.Report)] = synchronized(compatReports)
  def alterEvents: Seq[(TableId, Long)] = synchronized(alterHistory)
  def all: Map[TableId, TableSchema] = entries

  /** Key columns are part of schema identity: the same columns with a
    * different primary key register as a different schema version. */
  private def fingerprint(struct: StructType, pkeys: Seq[String]): String =
    struct.json + "|pk:" + pkeys.mkString(",")

  def register(id: TableId, struct: StructType, pkeys: Seq[String] = Nil): TableSchema =
    synchronized {
      val fp = fingerprint(struct, pkeys)
      val sid = byFingerprint.getOrElse((id, fp), { val v = nextId; nextId += 1; v })
      byFingerprint += ((id, fp) -> sid)
      val ts = TableSchema(sid, struct, piiTables.contains(id.table), pkeys)
      entries += (id -> ts)
      versionCounter += 1
      ts
    }

  /** The table's current schema. The reference fronts its registry with a
    * process-wide cache it clears on renames (T17, schema_wrapper.py:
    * 35-42); here a rename moves the entry itself, so there is nothing to
    * clear. */
  def lookup(id: TableId): Option[TableSchema] = synchronized(entries.get(id))

  /** T22/T23 — apply a DDL statement to the tracked catalog; returns the
    * new TableSchema for schema-changing table DDL. `atEventId` (when ≥ 0)
    * is the statement's binlog position — ALTERs record it in
    * [[alterEvents]] so the data plane can version payloads by position.
    * Idempotent per (table, position): a crash-replayed batch re-applying
    * the same ALTER must not double-count the version. */
  def applyDdl(cluster: String, defaultDb: String, sql: String,
      atEventId: Long = -1L): Option[TableSchema] = synchronized {
    if (MysqlStatementClassifier.isSkippable(sql)) return None
    MysqlStatementClassifier.classify(sql) match {
      case CreateTableStatement(db, tbl) =>
        val id = TableId(cluster, db.getOrElse(defaultDb), tbl)
        val (struct, pkeys) = MysqlDdlToStruct.createTable(sql)
        Some(register(id, struct, pkeys))
      case AlterTableStatement(db, tbl, rename) =>
        val id = TableId(cluster, db.getOrElse(defaultDb), tbl)
        if (atEventId >= 0 && alterHistory.contains((id, atEventId)))
          // crash-replayed statement: the evolution already happened —
          // re-applying would double-ADD columns (MySQL itself errors on a
          // duplicate column; the reference never replays DDL past its
          // checkpoint barrier, schema_event_handler.py:66-74)
          return entries.get(id)
        val cur = entries.get(id).map(_.struct).getOrElse(new StructType())
        val curPkeys = entries.get(id).map(_.pkeys).getOrElse(Nil)
        // recorded once the statement has parsed: one that throws leaves
        // the catalog as it was
        def recordAlter(): Unit = if (atEventId >= 0) alterHistory :+= (id -> atEventId)
        if (rename) {
          val (newStruct, newName) = MysqlDdlToStruct.applyAlterRename(sql, cur)
          recordAlter()
          Some(move(id, id.copy(table = newName), newStruct, curPkeys))
        } else {
          val (newStruct, newPkeys) = MysqlDdlToStruct.applyAlterWithKeys(sql, cur, curPkeys)
          recordAlter()
          entries.get(id).foreach { old =>
            compatReports :+= (id ->
              SchemaCompat.check(old, TableSchema(0, newStruct, old.containsPii, newPkeys)))
          }
          Some(register(id, newStruct, newPkeys))
        }
      case DropTableStatement(db, tbl) =>
        val id = TableId(cluster, db.getOrElse(defaultDb), tbl)
        entries -= id
        versionCounter += 1
        None
      case RenameTableStatement(renames) =>
        // MySQL renames the pairs left to right (`a TO tmp, b TO a, tmp TO
        // b` swaps); a pair whose table is unknown moves nothing. No ALTER
        // position is recorded: the columns, and so the payload version,
        // stay as they were.
        renames.flatMap { case ((fromDb, from), (toDb, to)) =>
          val id = TableId(cluster, fromDb.getOrElse(defaultDb), from)
          entries.get(id).map(ts =>
            move(id, TableId(cluster, toDb.getOrElse(defaultDb), to), ts.struct, ts.pkeys))
        }.lastOption
      case _ => None
    }
  }

  /** Both rename forms (`ALTER TABLE a RENAME TO b`, `RENAME TABLE a TO
    * b`): the entry moves to its new name, registered there with
    * `struct` (T17). */
  private def move(from: TableId, to: TableId, struct: StructType,
      pkeys: Seq[String]): TableSchema = {
    entries -= from
    register(to, struct, pkeys)
  }

  // ---- T25: snapshot / restore ---------------------------------------

  /** Serialize the whole catalog (reference dumps the tracker DB schema to
    * the mysql_dumps state table; we emit one JSON blob). */
  def snapshotJson: String = synchronized {
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val rows = entries.toSeq.sortBy(e => (e._1.cluster, e._1.database, e._1.table)).map {
      case (id, ts) =>
        s"""{"cluster":"${esc(id.cluster)}","database":"${esc(id.database)}",""" +
          s""""table":"${esc(id.table)}","schemaId":${ts.schemaId},""" +
          s""""pii":${ts.containsPii},""" +
          s""""pkeys":[${ts.pkeys.map(k => "\"" + esc(k) + "\"").mkString(",")}],""" +
          s""""struct":${ts.struct.json}}"""
    }
    // the FULL (table, fingerprint) → schema_id history, not just the
    // latest entry per table: re-registering a previously seen schema
    // after recovery must return its original id (registration
    // idempotence across restarts)
    val fps = byFingerprint.toSeq
      .sortBy { case ((id, fp), _) => (id.cluster, id.database, id.table, fp) }
      .map { case ((id, fp), sid) =>
        s"""{"cluster":"${esc(id.cluster)}","database":"${esc(id.database)}",""" +
          s""""table":"${esc(id.table)}","fp":"${esc(fp)}","schemaId":$sid}"""
      }
    val alters = alterHistory.map { case (id, ev) =>
      s"""{"cluster":"${esc(id.cluster)}","database":"${esc(id.database)}",""" +
        s""""table":"${esc(id.table)}","eventId":$ev}"""
    }
    s"""{"version":$versionCounter,"nextId":$nextId,""" +
      s""""entries":[${rows.mkString(",")}],"fingerprints":[${fps.mkString(",")}],""" +
      s""""alters":[${alters.mkString(",")}]}"""
  }

  /** Restore from [[snapshotJson]] output (recovery path T30). */
  def restore(json: String): Unit = synchronized {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val root = JsonMethods.parse(json)
    implicit val fmt: Formats = DefaultFormats
    versionCounter = (root \ "version").extract[Int]
    nextId = (root \ "nextId").extract[Int]
    entries = (root \ "entries").extract[List[JValue]].map { e =>
      val id = TableId((e \ "cluster").extract[String],
        (e \ "database").extract[String], (e \ "table").extract[String])
      val struct = DataType.fromJson(JsonMethods.compact(e \ "struct")).asInstanceOf[StructType]
      val pkeys = (e \ "pkeys") match {
        case JArray(ks) => ks.map(_.extract[String])
        case _ => Nil
      }
      id -> TableSchema((e \ "schemaId").extract[Int], struct, (e \ "pii").extract[Boolean], pkeys)
    }.toMap
    // restore the full fingerprint history; fall back to deriving it from
    // the entries for snapshots written before the history was persisted
    byFingerprint = (root \ "fingerprints") match {
      case JArray(fs) if fs.nonEmpty =>
        fs.map { f =>
          val id = TableId((f \ "cluster").extract[String],
            (f \ "database").extract[String], (f \ "table").extract[String])
          (id, (f \ "fp").extract[String]) -> (f \ "schemaId").extract[Int]
        }.toMap
      case _ =>
        entries.map { case (id, ts) => (id, fingerprint(ts.struct, ts.pkeys)) -> ts.schemaId }
    }
    // alter positions ARE snapshot state (the data plane's version
    // intervals must survive recovery); absent in pre-T22b snapshots
    alterHistory = (root \ "alters") match {
      case JArray(as) =>
        as.map { a =>
          (TableId((a \ "cluster").extract[String],
            (a \ "database").extract[String], (a \ "table").extract[String]),
            (a \ "eventId").extract[Long])
        }.toVector
      case _ => Vector.empty
    }
    // the compat audit log is per-incarnation (it records THIS process's
    // ALTER rulings, not snapshot state); restoring must not leave a
    // previous incarnation's entries mixed into the new one
    compatReports = Vector.empty
  }
}

/** MySQL DDL → Spark StructType evolution (T22), with the type mapping of
  * SURVEY §1.2 (reference end_to_end_test.py:77-196 type matrix;
  * transforms at util/message_builder.py:90-107).
  */
object MysqlDdlToStruct {
  import MysqlStatementClassifier.tokens

  /** MySQL column type → Spark DataType. TIME maps to LongType
    * (µs-since-midnight) and DATETIME to StringType (ISO-8601) because
    * those are the reference's *output* representations (T11); a DECIMAL
    * wider than Spark's 38 digits maps to StringType. */
  def mysqlType(raw: String): DataType = {
    val t = raw.toUpperCase
    val base = t.takeWhile(c => c.isLetter)
    def params: Seq[Int] =
      "\\d+".r.findAllIn(t.substring(base.length).takeWhile(_ != ')') + ")").map(_.toInt).toSeq
    base match {
      case "TINYINT" => if (params.headOption.contains(1)) BooleanType else IntegerType
      case "BOOL" | "BOOLEAN" => BooleanType
      case "SMALLINT" | "MEDIUMINT" | "INT" | "INTEGER" | "YEAR" => IntegerType
      case "BIGINT" => if (t.contains("UNSIGNED")) DecimalType(20, 0) else LongType
      case "DECIMAL" | "DEC" | "FIXED" | "NUMERIC" =>
        val p = params.headOption.getOrElse(10); val s = params.lift(1).getOrElse(0)
        // MySQL allows 65 digits, Spark 38: a wider column keeps its exact
        // decimal text, as DATETIME keeps its ISO text
        if (p > DecimalType.MAX_PRECISION) StringType else DecimalType(p, s)
      case "FLOAT" => FloatType
      case "DOUBLE" | "REAL" => DoubleType
      case "DATE" => DateType
      case "DATETIME" => StringType // ISO-8601 output transform (T11)
      case "TIMESTAMP" => TimestampType // UTC-attached (T11)
      case "TIME" => LongType // µs since midnight (T11)
      case "CHAR" | "VARCHAR" | "NCHAR" | "NVARCHAR" | "TINYTEXT" | "TEXT" |
           "MEDIUMTEXT" | "LONGTEXT" | "ENUM" => StringType
      case "BINARY" | "VARBINARY" | "TINYBLOB" | "BLOB" | "MEDIUMBLOB" | "LONGBLOB" => BinaryType
      case "SET" => ArrayType(StringType) // set → list (T11)
      case _ => StringType
    }
  }

  private def ident(tok: String): String =
    MysqlIdentifierParser.parseUnqualified(tok)

  /** Column definitions inside CREATE TABLE ( ... ): split on top-level
    * commas, take `name type` pairs, skip constraint clauses. */
  def createTableStruct(sql: String): StructType = createTable(sql)._1

  /** Full CREATE TABLE parse: the StructType plus the primary-key column
    * names in declaration order — the same `(columns, primary_keys)` shape
    * the reference derives from information_schema (mysql_parser.py:22-35,
    * 166-181: CONSTRAINT_NAME='PRIMARY' ordered by ORDINAL_POSITION).
    * Covers inline `col INT PRIMARY KEY`, the table-level
    * `PRIMARY KEY (a, b)` clause, and `CONSTRAINT name PRIMARY KEY (...)`. */
  def createTable(sql: String): (StructType, Seq[String]) = {
    val open = sql.indexOf('(')
    if (open < 0) return (new StructType(), Nil)
    // find matching close paren
    var depth = 0; var i = open; var close = sql.length - 1
    var found = false
    while (i < sql.length && !found) {
      sql.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) { close = i; found = true }
        case _ =>
      }
      i += 1
    }
    val body = sql.substring(open + 1, close)
    val parts = splitTopLevel(body)
    val constraintKw = Set("PRIMARY", "UNIQUE", "KEY", "INDEX", "CONSTRAINT",
      "FOREIGN", "CHECK", "FULLTEXT", "SPATIAL")
    var pkeys = Vector.empty[String]
    val fields = parts.flatMap { p =>
      val ts = tokens(p)
      if (ts.isEmpty) None
      else if (constraintKw.contains(ts.head.toUpperCase)) {
        // PRIMARY KEY (...) / CONSTRAINT x PRIMARY KEY (...) name the key
        val pi = ts.indexWhere(_.toUpperCase == "PRIMARY")
        if (pi >= 0 && pkeys.isEmpty) pkeys = keyColumns(ts, pi).toVector
        None
      } else {
        val name = ident(ts.head)
        val tpe = if (ts.length > 1) typeWithParams(ts, 1) else "TEXT"
        // inline `col <type> ... PRIMARY KEY`
        val te = typeEnd(ts, 1)
        if (ts.drop(te).exists(_.toUpperCase == "PRIMARY") && pkeys.isEmpty)
          pkeys = Vector(name)
        Some(StructField(name, mysqlType(tpe),
          nullable = !notNullFrom(ts, te, ts.length)))
      }
    }
    // MySQL: PRIMARY KEY columns are implicitly NOT NULL (information_schema
    // reports IS_NULLABLE='NO' for them — reference mysql_parser.py:38-190)
    val withKeyNullability = fields.map(f =>
      if (pkeys.contains(f.name)) f.copy(nullable = false) else f)
    (StructType(withKeyNullability), pkeys)
  }

  /** NOT NULL present at paren depth 0 in ts[from, stop)? (A `NOT` inside
    * type params — e.g. an ENUM value — must not match.) */
  private def notNullFrom(ts: Vector[String], from: Int, stop: Int): Boolean = {
    var depth = 0
    var i = from
    while (i < stop - 1) {
      ts(i) match {
        case "(" => depth += 1
        case ")" => depth -= 1
        case t if depth == 0 && t.toUpperCase == "NOT" &&
          ts(i + 1).toUpperCase == "NULL" => return true
        case _ =>
      }
      i += 1
    }
    false
  }

  /** Column names of a key clause: identifiers at paren depth 1, skipping
    * prefix lengths `name(10)` (depth 2) and index options. */
  private def keyColumns(ts: Vector[String], from: Int): Seq[String] = {
    val skip = Set("ASC", "DESC", "USING", "BTREE", "HASH")
    val out = Seq.newBuilder[String]
    var depth = 0; var i = from; var done = false
    while (i < ts.length && !done) {
      ts(i) match {
        case "(" => depth += 1
        case ")" => depth -= 1; if (depth == 0) done = true
        case "," =>
        case t if depth == 1 && !skip.contains(t.toUpperCase) => out += ident(t)
        case _ =>
      }
      i += 1
    }
    out.result()
  }

  /** Index just past a type (and its (params) / UNSIGNED) starting at `at`. */
  private def typeEnd(ts: Vector[String], at: Int): Int = {
    var j = at + 1
    if (j < ts.length && ts(j) == "(") {
      while (j < ts.length && ts(j) != ")") j += 1
      j += 1
    }
    if (j < ts.length && ts(j).toUpperCase == "UNSIGNED") j += 1
    j
  }

  /** First top-level (paren-depth-0) comma at or after `from` — the commas
    * inside DECIMAL(10,2) / ENUM('a','b') params never split an operation. */
  private def nextTopComma(ts: Vector[String], from: Int): Int = {
    var depth = 0; var i = from
    while (i < ts.length) {
      ts(i) match {
        case "(" => depth += 1
        case ")" => depth -= 1
        case "," if depth == 0 => return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  /** Reassemble a type token possibly followed by (p,s) params split by the
    * tokenizer: VARCHAR ( 255 ) → VARCHAR(255). */
  private def typeWithParams(ts: Vector[String], at: Int): String = {
    val sb = new StringBuilder(ts(at))
    var j = at + 1
    if (j < ts.length && ts(j) == "(") {
      while (j < ts.length && ts(j) != ")") { sb.append(ts(j)); j += 1 }
      if (j < ts.length) sb.append(")")
      j += 1
    }
    if (j < ts.length && ts(j).toUpperCase == "UNSIGNED") sb.append(" UNSIGNED")
    sb.toString
  }

  private def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var start = 0; var i = 0
    var quote: Char = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else c match {
        case '`' | '"' | '\'' => quote = c
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 => out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** ALTER TABLE operations → evolved StructType. Supports ADD [COLUMN],
    * DROP [COLUMN], MODIFY [COLUMN], CHANGE [COLUMN] old new type,
    * ignoring ENGINE=/ROW_FORMAT=/AUTO_INCREMENT=/CONVERT TO noise
    * (reference sql_handler.py:229-237 strips these lexically). */
  def applyAlter(sql: String, cur: StructType): StructType =
    applyAlterWithKeys(sql, cur, Nil)._1

  /** ALTER evolution carrying the primary key through: ADD/DROP PRIMARY
    * KEY update it, DROP COLUMN removes a member, CHANGE renames one. */
  def applyAlterWithKeys(
      sql: String, cur: StructType, curPkeys: Seq[String]): (StructType, Seq[String]) = {
    val ts = tokens(sql)
    var fields = cur.fields.toVector
    var pkeys = curPkeys.toVector
    var j = 0
    // skip to past the table identifier: ALTER [mods] TABLE <ident>
    while (j < ts.length && ts(j).toUpperCase != "TABLE") j += 1
    j += 2 // skip TABLE and the identifier
    while (j < ts.length) {
      ts(j).toUpperCase match {
        case "ADD" =>
          j += 1
          if (j < ts.length && ts(j).toUpperCase == "COLUMN") j += 1
          // ADD [CONSTRAINT [name]] PRIMARY KEY (...) — skip CONSTRAINT
          // and its optional symbol so the key clause is still recognized
          if (j < ts.length && ts(j).toUpperCase == "CONSTRAINT") {
            if (j + 1 < ts.length && ts(j + 1).toUpperCase == "PRIMARY") j += 1
            else if (j + 2 < ts.length && ts(j + 2).toUpperCase == "PRIMARY") j += 2
          }
          if (j < ts.length && ts(j).toUpperCase == "PRIMARY") {
            pkeys = keyColumns(ts, j).toVector
          } else if (j < ts.length && !Set("UNIQUE", "KEY", "INDEX", "CONSTRAINT",
            "FOREIGN").contains(ts(j).toUpperCase)) {
            val name = ident(ts(j))
            val tpe = typeWithParams(ts, j + 1)
            // honor ADD ... AFTER <col> / FIRST: scan the tokens between
            // the reassembled type and the next top-level comma — an
            // AFTER in a later operation or a comma inside type params
            // (DECIMAL(10,2), ENUM('a','b')) must not be matched
            var insertAt = fields.length
            val stop0 = nextTopComma(ts, j)
            val stop = if (stop0 < 0) ts.length else stop0
            var m = typeEnd(ts, j + 1)
            var depth = 0
            while (m < stop) {
              ts(m) match {
                case "(" => depth += 1
                case ")" => depth -= 1
                case t if depth == 0 && t.toUpperCase == "AFTER" && m + 1 < stop =>
                  val ai = fields.indexWhere(_.name == ident(ts(m + 1)))
                  if (ai >= 0) insertAt = ai + 1
                case t if depth == 0 && t.toUpperCase == "FIRST" =>
                  insertAt = 0
                case t if depth == 0 && t.toUpperCase == "PRIMARY" =>
                  pkeys = Vector(name) // inline `ADD col <type> ... PRIMARY KEY`
                case _ =>
              }
              m += 1
            }
            val f = StructField(name, mysqlType(tpe),
              nullable = !notNullFrom(ts, typeEnd(ts, j + 1), stop))
            fields = (fields.take(insertAt) :+ f) ++ fields.drop(insertAt)
          }
        case "DROP" =>
          j += 1
          if (j < ts.length && ts(j).toUpperCase == "COLUMN") j += 1
          if (j < ts.length && ts(j).toUpperCase == "PRIMARY") {
            pkeys = Vector.empty // DROP PRIMARY KEY
          } else if (j < ts.length && !Set("INDEX", "KEY", "FOREIGN").contains(ts(j).toUpperCase)) {
            val name = ident(ts(j))
            fields = fields.filterNot(_.name == name)
            pkeys = pkeys.filterNot(_ == name)
          }
        case "MODIFY" =>
          j += 1
          if (j < ts.length && ts(j).toUpperCase == "COLUMN") j += 1
          if (j < ts.length) {
            val name = ident(ts(j))
            val tpe = typeWithParams(ts, j + 1)
            // MODIFY restates the whole column definition — nullability
            // resets to the restated form (absent NOT NULL → nullable)
            val stop0 = nextTopComma(ts, j)
            val stop = if (stop0 < 0) ts.length else stop0
            val nn = notNullFrom(ts, typeEnd(ts, j + 1), stop)
            fields = fields.map(f =>
              if (f.name == name) f.copy(dataType = mysqlType(tpe), nullable = !nn) else f)
          }
        case "CHANGE" =>
          j += 1
          if (j < ts.length && ts(j).toUpperCase == "COLUMN") j += 1
          if (j + 1 < ts.length) {
            val oldName = ident(ts(j)); val newName = ident(ts(j + 1))
            val tpe = typeWithParams(ts, j + 2)
            val stop0 = nextTopComma(ts, j)
            val stop = if (stop0 < 0) ts.length else stop0
            val nn = notNullFrom(ts, typeEnd(ts, j + 2), stop)
            fields = fields.map(f =>
              if (f.name == oldName) StructField(newName, mysqlType(tpe), nullable = !nn) else f)
            pkeys = pkeys.map(k => if (k == oldName) newName else k)
          }
        case _ =>
      }
      // advance to the next top-level comma-separated operation
      val nc = nextTopComma(ts, j)
      j = if (nc < 0) ts.length else nc + 1
    }
    // ADD PRIMARY KEY forces members NOT NULL (MySQL semantics); DROP
    // PRIMARY KEY does NOT restore nullability, matching the server
    val keyed = fields.map(f =>
      if (pkeys.contains(f.name)) f.copy(nullable = false) else f)
    (StructType(keyed), pkeys)
  }

  /** ALTER TABLE x RENAME [TO|AS] y → (unchanged struct, new name). */
  def applyAlterRename(sql: String, cur: StructType): (StructType, String) = {
    val ts = tokens(sql)
    val ri = ts.indexWhere(_.toUpperCase == "RENAME")
    var j = ri + 1
    if (j < ts.length && Set("TO", "AS").contains(ts(j).toUpperCase)) j += 1
    val target = MysqlIdentifierParser.parseQualified(ts(j)).last
    (cur, target)
  }
}
