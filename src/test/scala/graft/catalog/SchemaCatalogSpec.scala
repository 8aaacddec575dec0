package graft.catalog

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral tests for T16-T18/T22-T25, mirroring the reference fixtures
  * (FIXTURES.md §1-3: acceptance/simple_statements.feature,
  * acceptance/complex_statements.feature, end-to-end type matrix). */
class SchemaCatalogSpec extends AnyFunSuite {

  private def cat = new SchemaCatalog(piiTables = Set("pii_table"))

  test("biz: create, then ALTER ADD evolves schema and bumps schema_id") {
    val c = cat
    val ts1 = c.applyDdl("cluster", "yelp",
      "CREATE TABLE `biz` (`id` int(11) NOT NULL PRIMARY KEY, `name` varchar(64) DEFAULT NULL)").get
    assert(ts1.struct == StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("name", StringType))))
    val ts2 = c.applyDdl("cluster", "yelp",
      "ALTER TABLE biz ADD location varchar(128) DEFAULT NULL").get
    assert(ts2.struct.fieldNames.toSeq == Seq("id", "name", "location"))
    assert(ts2.schemaId != ts1.schemaId)
    assert(c.lookup(TableId("cluster", "yelp", "biz")).get.schemaId == ts2.schemaId)
  }

  test("registration is idempotent by schema fingerprint") {
    val c = cat
    val id = TableId("cluster", "db", "t")
    val s = StructType(Seq(StructField("a", IntegerType)))
    val first = c.register(id, s)
    val again = c.register(id, s)
    assert(first.schemaId == again.schemaId)
    val changed = c.register(id, StructType(Seq(StructField("a", LongType))))
    assert(changed.schemaId != first.schemaId)
  }

  test("employee chain: ADD AFTER, RENAME TABLE, ALTER RENAME TO, MODIFY widen") {
    val c = cat
    c.applyDdl("cl", "db",
      "CREATE TABLE employee (id int, tiny tinyint, score float(10,2), bio text)")
    val afterAdd = c.applyDdl("cl", "db",
      "ALTER TABLE employee ADD title varchar(64) AFTER id").get
    assert(afterAdd.struct.fieldNames.toSeq == Seq("id", "title", "tiny", "score", "bio"))

    // ALTER ... RENAME TO moves the entry and clears the cache
    val renamed = c.applyDdl("cl", "db", "ALTER TABLE employee RENAME TO employee2").get
    assert(c.lookup(TableId("cl", "db", "employee")).isEmpty)
    assert(c.lookup(TableId("cl", "db", "employee2")).get.schemaId == renamed.schemaId)

    val widened = c.applyDdl("cl", "db",
      "ALTER TABLE employee2 MODIFY title varchar(128)").get
    assert(widened.struct("title").dataType == StringType)
    assert(widened.struct.fieldNames.toSeq == Seq("id", "title", "tiny", "score", "bio"))
  }

  test("CHANGE renames a column in place; DROP COLUMN removes it") {
    val c = cat
    c.applyDdl("cl", "db", "CREATE TABLE t (a int, b varchar(10), c date)")
    val changed = c.applyDdl("cl", "db", "ALTER TABLE t CHANGE b b2 varchar(20)").get
    assert(changed.struct.fieldNames.toSeq == Seq("a", "b2", "c"))
    val dropped = c.applyDdl("cl", "db", "ALTER TABLE t DROP COLUMN c").get
    assert(dropped.struct.fieldNames.toSeq == Seq("a", "b2"))
  }

  test("type matrix maps per SURVEY §1.2") {
    import MysqlDdlToStruct.mysqlType
    assert(mysqlType("TINYINT(1)") == BooleanType)
    assert(mysqlType("TINYINT(4)") == IntegerType)
    assert(mysqlType("SMALLINT") == IntegerType)
    assert(mysqlType("BIGINT") == LongType)
    assert(mysqlType("BIGINT(20) UNSIGNED") == DecimalType(20, 0))
    assert(mysqlType("DECIMAL(10,2)") == DecimalType(10, 2))
    assert(mysqlType("FIXED(5,1)") == DecimalType(5, 1))
    assert(mysqlType("FLOAT") == FloatType)
    assert(mysqlType("DOUBLE") == DoubleType)
    assert(mysqlType("DATE") == DateType)
    assert(mysqlType("DATETIME(6)") == StringType) // ISO-8601 output transform
    assert(mysqlType("TIMESTAMP(6)") == TimestampType)
    assert(mysqlType("TIME(6)") == LongType) // µs since midnight
    assert(mysqlType("YEAR") == IntegerType)
    assert(mysqlType("VARCHAR(255)") == StringType)
    assert(mysqlType("LONGBLOB") == BinaryType)
    assert(mysqlType("ENUM('ONE','TWO')") == StringType)
    assert(mysqlType("SET('ONE','TWO')") == ArrayType(StringType))
  }

  test("full reference type matrix survives CREATE TABLE parsing and Avro generation") {
    // the matrix of reference tests/integration/end_to_end_test.py:77-196
    val struct = MysqlDdlToStruct.createTableStruct(
      """CREATE TABLE matrix (
         c1 TINYINT(1), c2 TINYINT, c3 SMALLINT, c4 MEDIUMINT, c5 INT,
         c6 BIGINT, c7 BIGINT UNSIGNED, c8 DECIMAL(12,4), c9 FLOAT,
         c10 DOUBLE, c11 REAL, c12 DATE, c13 DATETIME(6), c14 TIMESTAMP(6),
         c15 TIME(6), c16 YEAR, c17 CHAR(4), c18 VARCHAR(64), c19 NCHAR(4),
         c20 TINYTEXT, c21 MEDIUMTEXT, c22 BINARY(8), c23 VARBINARY(16),
         c24 BLOB, c25 ENUM('a','b'), c26 SET('a','b'),
         PRIMARY KEY (c5))""")
    assert(struct.fields.length == 26)
    val byName = struct.fields.map(f => f.name -> f.dataType).toMap
    assert(byName("c1") == BooleanType)
    assert(byName("c7") == DecimalType(20, 0)) // unsigned BIGINT can exceed Long
    assert(byName("c8") == DecimalType(12, 4))
    assert(byName("c13") == StringType) // datetime → ISO-8601 (T11)
    assert(byName("c14") == TimestampType)
    assert(byName("c15") == LongType) // time → µs since midnight (T11)
    assert(byName("c23") == BinaryType)
    assert(byName("c26") == ArrayType(StringType)) // set → list (T11)
    // and the whole struct must be registerable as Avro
    val avro = graft.cdc.AvroEnvelope.avroSchemaJson("matrix", struct)
    val parsed = new org.apache.avro.Schema.Parser().parse(avro)
    assert(parsed.getFields.size() == 26)
  }

  test("constraints in CREATE TABLE are skipped; PII flag applied") {
    val c = cat
    val ts = c.applyDdl("cl", "db",
      """CREATE TABLE pii_table (id int, name varchar(10),
         PRIMARY KEY (id), UNIQUE KEY uq (name), KEY ix (id))""").get
    assert(ts.struct.fieldNames.toSeq == Seq("id", "name"))
    assert(ts.containsPii)
  }

  test("RENAME TABLE moves the entry; DROP TABLE removes entry") {
    val c = cat
    c.applyDdl("cl", "db", "CREATE TABLE a (x int)")
    c.applyDdl("cl", "db", "RENAME TABLE `a` TO `b`")
    // MySQL: the table is now `b` and `a` no longer exists
    assert(c.lookup(TableId("cl", "db", "a")).isEmpty)
    assert(c.lookup(TableId("cl", "db", "b")).get.struct.fieldNames.toSeq == Seq("x"))
    c.applyDdl("cl", "db", "DROP TABLE a")
    assert(c.lookup(TableId("cl", "db", "a")).isEmpty)
    c.applyDdl("cl", "db", "DROP TABLE b")
    assert(c.lookup(TableId("cl", "db", "b")).isEmpty)
  }

  test("RENAME TABLE moves each pair left to right, across databases, without an ALTER position") {
    val c = cat
    c.applyDdl("cl", "db", "CREATE TABLE a (x int)")
    c.applyDdl("cl", "db", "CREATE TABLE b (y int, z int)")
    c.applyDdl("cl", "db", "CREATE TABLE c (w int)")
    // MySQL renames left to right, so this swaps `a` and `b`; `c` moves
    // to database `db2`; `gone` does not exist and moves nothing
    c.applyDdl("cl", "db",
      "RENAME TABLE a TO tmp, b TO a, tmp TO b, `db`.`c` TO db2.c2, gone TO gone2;", atEventId = 7L)
    def cols(db: String, t: String) = c.lookup(TableId("cl", db, t)).map(_.struct.fieldNames.toSeq)
    assert(cols("db", "a").contains(Seq("y", "z")))
    assert(cols("db", "b").contains(Seq("x")))
    assert(cols("db", "tmp").isEmpty && cols("db", "c").isEmpty && cols("db", "gone2").isEmpty)
    assert(cols("db2", "c2").contains(Seq("w")))
    assert(c.alterEvents.isEmpty, "a rename changes no columns, so it records no ALTER position")
  }

  test("snapshot/restore round-trips the whole catalog (T25/T30)") {
    val c = cat
    c.applyDdl("cl", "db", "CREATE TABLE t1 (a int, b set('X','Y'))")
    c.applyDdl("cl", "db2", "CREATE TABLE t2 (c decimal(12,3))")
    c.applyDdl("cl", "db", "ALTER TABLE t1 ADD d double")
    val snap = c.snapshotJson
    val c2 = new SchemaCatalog()
    c2.restore(snap)
    assert(c2.all == c.all)
    assert(c2.version == c.version)
    // ids keep advancing from the restored point, no collisions
    val next = c2.register(TableId("cl", "db3", "t3"),
      StructType(Seq(StructField("z", IntegerType))))
    assert(!c.all.values.map(_.schemaId).toSet.contains(next.schemaId))
  }

  test("primary keys: inline, table-level (composite, ordinal order), constraint form") {
    import MysqlDdlToStruct.createTable
    assert(createTable("CREATE TABLE t (id INT PRIMARY KEY, v TEXT)")._2 == Seq("id"))
    assert(createTable(
      "CREATE TABLE t (a INT, b VARCHAR(10), c INT, PRIMARY KEY (b, a))")._2 == Seq("b", "a"))
    assert(createTable(
      "CREATE TABLE t (a INT, b INT, CONSTRAINT pk PRIMARY KEY (a))")._2 == Seq("a"))
    // prefix lengths and index options don't pollute the key list
    assert(createTable(
      "CREATE TABLE t (n VARCHAR(100), m INT, PRIMARY KEY (n(10), m) USING BTREE)")._2 ==
      Seq("n", "m"))
    assert(createTable("CREATE TABLE t (a INT, b INT)")._2 == Nil)
  }

  test("primary keys evolve through ALTER and land in the Avro schema") {
    val c = cat
    val ts1 = c.applyDdl("cl", "db",
      "CREATE TABLE biz (id INT, name VARCHAR(64), PRIMARY KEY (id))").get
    assert(ts1.pkeys == Seq("id"))
    // same columns, different key → different schema identity
    val ts2 = c.applyDdl("cl", "db", "ALTER TABLE biz DROP PRIMARY KEY").get
    assert(ts2.pkeys.isEmpty && ts2.schemaId != ts1.schemaId)
    val ts3 = c.applyDdl("cl", "db", "ALTER TABLE biz ADD PRIMARY KEY (id, name)").get
    assert(ts3.pkeys == Seq("id", "name"))
    // constraint-form (named and unnamed) and inline-form ADDs are tracked
    val ts3b = c.applyDdl("cl", "db",
      "ALTER TABLE biz DROP PRIMARY KEY, ADD CONSTRAINT pk PRIMARY KEY (name)").get
    assert(ts3b.pkeys == Seq("name"))
    val ts3u = c.applyDdl("cl", "db",
      "ALTER TABLE biz DROP PRIMARY KEY, ADD CONSTRAINT PRIMARY KEY (id)").get
    assert(ts3u.pkeys == Seq("id"))
    // the word PRIMARY inside a string literal must NOT be matched
    val tsc = c.applyDdl("cl", "db",
      "ALTER TABLE biz ADD note VARCHAR(64) COMMENT 'the primary key notes'").get
    assert(tsc.pkeys == Seq("id") && tsc.struct.fieldNames.contains("note"))
    c.applyDdl("cl", "db", "ALTER TABLE biz DROP COLUMN note, DROP PRIMARY KEY, ADD PRIMARY KEY (id)")
    val ts3c = c.applyDdl("cl", "db",
      "ALTER TABLE biz ADD flag TINYINT(1) NOT NULL PRIMARY KEY").get
    assert(ts3c.pkeys == Seq("flag"))
    c.applyDdl("cl", "db", "ALTER TABLE biz DROP COLUMN flag, ADD PRIMARY KEY (id, name)")
    // CHANGE renames the key member; DROP COLUMN removes it
    val ts4 = c.applyDdl("cl", "db", "ALTER TABLE biz CHANGE name title VARCHAR(64)").get
    assert(ts4.pkeys == Seq("id", "title"))
    val ts5 = c.applyDdl("cl", "db", "ALTER TABLE biz DROP COLUMN title").get
    assert(ts5.pkeys == Seq("id"))
    // Avro carries 1-based pkey ordinals on the key fields
    val avro = graft.cdc.AvroEnvelope.avroSchemaJson("biz", ts3.struct, ts3.pkeys)
    val parsed = new org.apache.avro.Schema.Parser().parse(avro)
    assert(parsed.getField("id").getObjectProp("pkey") == 1)
    assert(parsed.getField("name").getObjectProp("pkey") == 2)
    // pkey members are NOT NULL → required (non-union) Avro fields
    assert(parsed.getField("id").schema().getType != org.apache.avro.Schema.Type.UNION)
  }

  test("ADD AFTER/FIRST ordering holds for comma-bearing types (DECIMAL/ENUM params)") {
    val c = cat
    c.applyDdl("cl", "db", "CREATE TABLE t (a INT, b INT, c INT)")
    // the comma inside DECIMAL(10,2) must not hide the AFTER clause
    val afterDec = c.applyDdl("cl", "db",
      "ALTER TABLE t ADD price DECIMAL(10,2) DEFAULT NULL AFTER a").get
    assert(afterDec.struct.fieldNames.toSeq == Seq("a", "price", "b", "c"))
    val afterEnum = c.applyDdl("cl", "db",
      "ALTER TABLE t ADD st ENUM('x','y') AFTER b").get
    assert(afterEnum.struct.fieldNames.toSeq == Seq("a", "price", "b", "st", "c"))
    // FIRST after a parameterized type
    val first = c.applyDdl("cl", "db",
      "ALTER TABLE t ADD lead VARCHAR(32) FIRST").get
    assert(first.struct.fieldNames.toSeq == Seq("lead", "a", "price", "b", "st", "c"))
    // an AFTER belonging to the NEXT operation must not leak backwards
    val multi = c.applyDdl("cl", "db",
      "ALTER TABLE t ADD tail INT, ADD mid DECIMAL(8,3) AFTER a").get
    assert(multi.struct.fieldNames.toSeq ==
      Seq("lead", "a", "mid", "price", "b", "st", "c", "tail"))
  }

  test("restored catalog keeps the full fingerprint history (stable ids across restarts)") {
    val c = cat
    val id = TableId("cl", "db", "t")
    val v1 = StructType(Seq(StructField("a", IntegerType)))
    val v2 = StructType(Seq(StructField("a", IntegerType), StructField("b", LongType)))
    val id1 = c.register(id, v1).schemaId
    val id2 = c.register(id, v2).schemaId
    val c2 = new SchemaCatalog()
    c2.restore(c.snapshotJson)
    // re-registering the OLD (non-current) schema after recovery must
    // return its original id, not mint a new one
    assert(c2.register(id, v1).schemaId == id1)
    assert(c2.register(id, v2).schemaId == id2)
    assert(c2.all(id).pkeys == Nil)
  }

  test("a DECIMAL wider than Spark's 38 digits keeps its exact text, in CREATE and in ALTER") {
    val c = cat
    val ts1 = c.applyDdl("cl", "db",
      "CREATE TABLE `wide` (id INT PRIMARY KEY, amount DECIMAL(65,30))").get
    assert(ts1.struct("amount").dataType == StringType)
    val ts2 = c.applyDdl("cl", "db", "ALTER TABLE wide ADD y DECIMAL(50,2)", atEventId = 10L).get
    assert(ts2.struct.fields.map(f => f.name -> f.dataType).toSeq ==
      Seq("id" -> IntegerType, "amount" -> StringType, "y" -> StringType))
    assert(c.alterEvents == Seq(TableId("cl", "db", "wide") -> 10L))
    assert(MysqlDdlToStruct.mysqlType("DECIMAL(38,10)") == DecimalType(38, 10))
  }

  test("an ALTER whose parse throws leaves the catalog and its ALTER positions as they were") {
    val c = cat
    c.applyDdl("cl", "db", "CREATE TABLE t (id INT PRIMARY KEY)")
    val before = c.snapshotJson
    intercept[Exception](c.applyDdl("cl", "db", "ALTER TABLE t RENAME TO", atEventId = 5L))
    assert(c.alterEvents.isEmpty)
    assert(c.snapshotJson == before)
  }

  test("BEGIN/COMMIT and unsupported statements are no-ops") {
    val c = cat
    assert(c.applyDdl("cl", "db", "BEGIN").isEmpty)
    assert(c.applyDdl("cl", "db", "COMMIT").isEmpty)
    assert(c.applyDdl("cl", "db", "INSERT INTO t VALUES (1)").isEmpty)
    assert(c.all.isEmpty)
  }
}
