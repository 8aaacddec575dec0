package graft.sqlparse

import org.scalatest.funsuite.AnyFunSuite

/** Port of the reference behavioral corpus
  * (tests/components/sql_handler_test.py:41-368). */
class MysqlIdentifierParserSpec extends AnyFunSuite {
  private def p(s: String) = MysqlIdentifierParser.parseQualified(s)

  test("plain and quoted identifiers") {
    assert(p("user") == List("user"))
    assert(p("\"user\"") == List("user"))
    assert(p("`user`") == List("user"))
    assert(p("yelp.user") == List("yelp", "user"))
    assert(p("yelp.user_permission") == List("yelp", "user_permission"))
  }

  test("backticks") {
    assert(p("`yelp`.user") == List("yelp", "user"))
    assert(p("`yelp`.`user`") == List("yelp", "user"))
    assert(p("`yelp`.`user``permission`") == List("yelp", "user`permission"))
    assert(p("`yelp`.`user``permission control`") == List("yelp", "user`permission control"))
  }

  test("double quotes") {
    assert(p("\"yelp\".\"user\"") == List("yelp", "user"))
    assert(p("\"yelp\".\"user\"\"permission\"") == List("yelp", "user\"permission"))
    assert(p("`yelp`.\"user\"\"permission control\"") == List("yelp", "user\"permission control"))
  }

  test("mixed quote kinds") {
    assert(p("`yelp`.`user\"permission\"control`") == List("yelp", "user\"permission\"control"))
    assert(p("\"yelp\".\"user`permission`control\"") == List("yelp", "user`permission`control"))
    assert(p("`yelp`.`user\"\"permission`") == List("yelp", "user\"\"permission"))
    assert(p("\"yelp\".\"user``permission\"") == List("yelp", "user``permission"))
  }

  test("periods and unicode inside quotes") {
    assert(p("`yelp`.`with.something`") == List("yelp", "with.something"))
    assert(p("`yelp`.`Ä```") == List("yelp", "Ä`"))
  }

  test("parse error on trailing garbage") {
    assertThrows[IdentifierParseError](p("`yelp`'.test"))
  }

  test("unqualified parsing") {
    val u = MysqlIdentifierParser.parseUnqualified _
    assert(u("user") == "user")
    assert(u("\"user\"") == "user")
    assert(u("`user`") == "user")
    assert(u("`user``test`") == "user`test")
    assert(u("\"user\"\"test\"") == "user\"test")
    assert(u("`user\"\"test`") == "user\"\"test")
  }
}

class MysqlStatementClassifierSpec extends AnyFunSuite {
  private def c(q: String) = MysqlStatementClassifier.classify(q)

  private val tables = Seq("business", "`business`", "`yelp`.`business`")
  private val temporaries = Seq("TEMPORARY", "")

  private def checkTable(st: MysqlStatement, table: String): Unit = {
    assert(st.table.contains("business"))
    if (table.contains(".")) assert(st.databaseName.contains("yelp"))
    else assert(st.databaseName.isEmpty)
  }

  test("CREATE [TEMPORARY] TABLE [IF NOT EXISTS] tbl coldef") {
    for {
      temporary <- temporaries
      ine <- Seq("IF NOT EXISTS", "")
      table <- tables
      coldef <- Seq("(test_col VARCHAR(255))", "LIKE test_table")
    } {
      val q = s"CREATE $temporary TABLE $ine $table $coldef"
      val st = c(q)
      assert(st.isInstanceOf[CreateTableStatement], q)
      assert(st.isSupported, q)
      checkTable(st, table)
    }
  }

  test("ALTER [ONLINE|OFFLINE] [IGNORE] TABLE tbl op") {
    for {
      oo <- Seq("ONLINE", "OFFLINE", "")
      ig <- Seq("IGNORE", "")
      table <- tables
      op <- Seq("DROP test_col", "CHANGE name to address varchar(255)",
        "ENGINE=INNODB", "ROW_FORMAT=COMPRESSED", "AUTO_INCREMENT=14412601",
        "ENGINE=MyISAM, CONVERT TO CHARACTER SET utf8 COLLATE utf8_bin")
    } {
      val q = s"ALTER $oo $ig TABLE $table $op"
      val st = c(q)
      assert(st.isInstanceOf[AlterTableStatement], q)
      assert(st.isSupported, q)
      assert(!st.doesRenameTable, q)
      checkTable(st, table)
    }
  }

  test("ALTER TABLE ... RENAME [TO|AS] detects table rename") {
    for (to <- Seq("TO", "AS", "")) {
      val st = c(s"ALTER TABLE business RENAME $to new_business")
      assert(st.isInstanceOf[AlterTableStatement])
      assert(st.doesRenameTable)
    }
    assert(!c("ALTER TABLE business RENAME COLUMN a TO b").doesRenameTable)
    assert(!c("ALTER TABLE business RENAME INDEX i1 TO i2").doesRenameTable)
  }

  test("DROP [TEMPORARY] TABLE [IF EXISTS] tbl") {
    for {
      temporary <- temporaries
      ie <- Seq("IF EXISTS", "")
      table <- tables
    } {
      val q = s"DROP $temporary TABLE $ie $table"
      val st = c(q)
      assert(st.isInstanceOf[DropTableStatement], q)
      checkTable(st, table)
    }
  }

  test("database statements with DATABASE|SCHEMA keyword") {
    for (dbkw <- Seq("database", "schema")) {
      assert(c(s"CREATE $dbkw some_db").isInstanceOf[CreateDatabaseStatement])
      assert(c(s"ALTER $dbkw some_db UPGRADE DATA DIRECTORY NAME").isInstanceOf[AlterDatabaseStatement])
      assert(c(s"DROP $dbkw some_db").isInstanceOf[DropDatabaseStatement])
    }
  }

  test("index statements") {
    for {
      online <- Seq("online", "offline", "")
      itype <- Seq("unique", "fulltext", "spatial", "")
    } assert(c(s"CREATE $online $itype INDEX test_index").isInstanceOf[CreateIndexStatement])
    for (online <- Seq("online", "offline", "")) {
      assert(c(s"DROP $online INDEX some_index").isInstanceOf[DropIndexStatement])
      assert(c(s"DROP INDEX $online some_index").isInstanceOf[DropIndexStatement])
    }
  }

  test("RENAME TABLE") {
    assert(c("RENAME TABLE `a` TO `b`").isInstanceOf[RenameTableStatement])
  }

  test("RENAME TABLE returns its name pairs in order, db-qualified names included") {
    assert(c("RENAME TABLE `a` TO `b`") == RenameTableStatement(Seq((None, "a") -> (None, "b"))))
    assert(c("rename table db1.`t 1` to `db2`.t2, x TO `y`.`z`;") == RenameTableStatement(Seq(
      (Some("db1"), "t 1") -> (Some("db2"), "t2"), (None, "x") -> (Some("y"), "z"))))
    Seq("RENAME TABLE a", "RENAME TABLE a TO", "RENAME TABLE a b", "RENAME TABLE a TO b,",
      "RENAME TABLE a TO b c TO d").foreach(q => assert(c(q) == UnsupportedStatement, q))
  }

  test("unsupported catch-all and skip set") {
    val st = c("SOME CRAZY UNSUPPORTED STATEMENT")
    assert(st == UnsupportedStatement)
    assert(!st.isSupported)
    assert(!c("INSERT INTO x VALUES (1)").isSupported)
    assert(MysqlStatementClassifier.isSkippable("BEGIN"))
    assert(MysqlStatementClassifier.isSkippable("COMMIT"))
    assert(!MysqlStatementClassifier.isSkippable("CREATE TABLE t (id int)"))
  }
}
