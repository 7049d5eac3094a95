package graft

import graft.core._

/** Coverage for the catalog/introspection and raw-SQL surface
  * (SURVEY §2.4: run_raw_sql options, row_count, fetch_all_rows,
  * columns_exist/table_exists/schema_exists, QueryModifier). */
class ApiSpec extends GraftSuite {
  import spark.implicits._

  private def setup(): TableRef = {
    val t = TableRef("api_spec_t")
    g.writeTable(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "s"), t, IfExists.Replace)
    t
  }

  test("rowCount / fetchAllRows with limit") {
    val t = setup()
    assert(g.rowCount(t) == 3)
    assert(g.fetchAllRows(t).size == 3)
    assert(g.fetchAllRows(t, rowLimit = 2).size == 2)
  }

  test("tableExists / columnsExist / schemaExists") {
    val t = setup()
    assert(g.tableExists(t))
    assert(!g.tableExists(TableRef("no_such_table_xyz")))
    assert(g.columnsExist(t, Seq("k", "S"))) // case-insensitive resolution
    assert(!g.columnsExist(t, Seq("k", "missing")))
    assert(g.schemaExists("default"))
    assert(!g.schemaExists("no_such_schema"))
    g.createSchemaIfNeeded("api_extra_schema")
    assert(g.schemaExists("api_extra_schema"))
  }

  test("runRawSql: rows, responseSize truncation, failOnEmpty") {
    val t = setup()
    val rows = g.runRawSql("SELECT k FROM {{t}} ORDER BY k", Map("t" -> t))
    assert(rows.map(_.getInt(0)) == Seq(1, 2, 3))
    assert(g.runRawSql("SELECT k FROM {{t}}", Map("t" -> t), responseSize = 1).size == 1)
    intercept[IllegalStateException] {
      g.runRawSql("SELECT k FROM {{t}} WHERE k > 99", Map("t" -> t), failOnEmpty = true)
    }
  }

  test("DataFrame bindings auto-register as temp views (base_decorator.py:369-417)") {
    val t = setup()
    val df = Seq((1, 10), (3, 30)).toDF("k", "bonus")
    val rows = g.runRawSql(
      "SELECT t.k, d.bonus FROM {{t}} t JOIN {{d}} d ON t.k = d.k ORDER BY t.k",
      Map("t" -> t, "d" -> df))
    assert(rows.map(r => (r.getInt(0), r.getInt(1))) == Seq((1, 10), (3, 30)))
    // transform with a DataFrame argument materializes correctly too
    val out = g.transform("SELECT sum(bonus) AS s FROM {{d}}", Map("d" -> df))
    assert(spark.table(out.qualifiedName).collect()(0).getLong(0) == 40L)
    g.cleanup()
  }

  test("runRawSqlWith handler and runRawSqlDf results_format (raw_sql.py:46-78)") {
    val t = setup()
    val total = g.runRawSqlWith("SELECT k FROM {{t}}", Map("t" -> t)) { rows =>
      rows.map(_.getInt(0)).sum
    }
    assert(total == 6)
    val df = g.runRawSqlDf("SELECT k FROM {{t}} WHERE k > 1", Map("t" -> t))
    assert(df.count() == 2)
    intercept[IllegalStateException] {
      g.runRawSqlDf("SELECT k FROM {{t}} WHERE k > 99", Map("t" -> t), failOnEmpty = true)
    }
  }

  test("getValueList returns collected rows") {
    val t = setup()
    assert(g.getValueList("SELECT DISTINCT s FROM {{t}}", Map("t" -> t)).size == 3)
  }

  test("withQueryModifier runs pre/post statements around the body") {
    val t = setup()
    val out = g.withQueryModifier(QueryModifier(
      preQueries = Seq("CREATE OR REPLACE TEMP VIEW qm_pre AS SELECT 42 AS x"),
      postQueries = Seq("DROP VIEW qm_pre"))) {
      g.sql("SELECT x FROM qm_pre").collect()(0).getInt(0)
    }
    assert(out == 42)
    assert(!spark.catalog.tableExists("qm_pre"))
  }

  test("run log records operator lineage (SURVEY 2.6 parity)") {
    val g2 = new GraftSession(spark)
    val t = TableRef("runlog_t")
    g2.writeTable(Seq((1, "a")).toDF("k", "s"), t, IfExists.Replace)
    val out = g2.transform("SELECT k FROM {{t}}", Map("t" -> t),
      output = Some(TableRef("runlog_out")))
    g2.dropTable(out)
    val ops = g2.runLog.map(_.op)
    assert(ops.contains("transform") && ops.contains("drop_table"))
    val tr = g2.runLog.find(_.op == "transform").get
    assert(tr.inputs == Seq("runlog_t") && tr.outputs == Seq("runlog_out"))
  }

  test("dropTable removes table and its storage") {
    val t = setup()
    g.dropTable(t)
    assert(!g.tableExists(t))
  }

  test("the table swap keeps the catalog schema equal to the written parquet's") {
    val t = TableRef("api_spec_types")
    def location(t: TableRef): String =
      spark.sql(s"DESCRIBE TABLE EXTENDED ${t.qualifiedName}").collect()
        .find(_.getString(0) == "Location").get.getString(1)
    def assertSameSchema(step: String): Unit =
      assert(spark.table(t.qualifiedName).schema == spark.read.parquet(location(t)).schema, step)
    val types =
      """SELECT CAST(id AS BIGINT) AS l, CAST(id AS DECIMAL(12, 2)) AS dec,
        |  DATE '2024-01-01' AS d, TIMESTAMP '2024-01-01 10:00:00' AS ts, id % 2 = 0 AS b,
        |  named_struct('x', id, 'y', array(id, id + 1)) AS st,
        |  array(named_struct('k', 'a')) AS arr, map('k', id) AS m,
        |  CAST(CAST(id AS STRING) AS VARCHAR(10)) AS vc
        |FROM range(3)""".stripMargin
    g.writeTable(spark.sql(types), t, IfExists.Replace)
    assertSameSchema("writeTable")
    g.transform(s"SELECT * FROM {{t}} WHERE l < 2", Map("t" -> t), Some(t))
    assertSameSchema("transform")
    val src = TableRef("api_spec_types_src")
    g.writeTable(spark.sql(types.replace("range(3)", "range(1, 5)")), src, IfExists.Replace)
    g.merge(src, t, Nil, Seq("l"), ConflictStrategy.Update)
    assertSameSchema("merge")
    // VARCHAR(10) stays a plain string: a later append carries no length check
    assert(spark.table(t.qualifiedName).schema("vc").dataType == org.apache.spark.sql.types.StringType)
    val long = TableRef("api_spec_types_long")
    g.writeTable(spark.sql(types.replace("CAST(CAST(id AS STRING) AS VARCHAR(10))",
      "repeat('x', 40)")), long, IfExists.Replace)
    g.append(long, t)
    assert(g.rowCount(t) == 8)
    assert(spark.table(t.qualifiedName).where("length(vc) = 40").count() == 3)
  }
}
