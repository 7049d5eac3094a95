package graft

import graft.sql.SqlDialect.toSparkSql

/** Dialect → Spark SQL translation (graft.sql.SqlDialect):
  * string-level rewrites, pass-through pins for forms Spark accepts
  * natively, and end-to-end execution through GraftSession.transform
  * (the reference's dialect posture — transform.py:55-72 — passed SQL
  * straight to the warehouse engine; here the engine dialect is Spark,
  * so the common warehouse spellings must map). */
class SqlDialectSpec extends GraftSuite {
  import spark.implicits._

  private def pg(s: String) = toSparkSql(s, "postgres")

  test("postfix :: casts: atoms, function calls, parens, chains, precision") {
    assert(pg("SELECT a::int8 FROM t") == "SELECT CAST(a AS bigint) FROM t")
    assert(pg("SELECT count(*)::int4 FROM t")
      == "SELECT CAST(count(*) AS int) FROM t")
    assert(pg("SELECT (a + b)::float8 FROM t")
      == "SELECT CAST((a + b) AS double) FROM t")
    assert(pg("SELECT a::text::int8 FROM t")
      == "SELECT CAST(CAST(a AS string) AS bigint) FROM t")
    assert(pg("SELECT a::numeric(10,2) FROM t")
      == "SELECT CAST(a AS decimal(10,2)) FROM t")
    assert(pg("SELECT a::double precision FROM t")
      == "SELECT CAST(a AS double) FROM t")
    assert(pg("SELECT '42'::int8") == "SELECT CAST('42' AS bigint)")
  }

  test("a bound date or timestamp (typed literal) is one :: operand") {
    // SqlTemplate binds java.sql.Date/Timestamp as DATE '...'/TIMESTAMP '...'
    val sql = graft.sql.SqlTemplate.render(
      "SELECT {{d}}::date AS d, {{ts}}::timestamp AS ts, DATE '2024-01-02'::text AS s",
      Map("d" -> java.sql.Date.valueOf("2024-01-01"),
        "ts" -> java.sql.Timestamp.valueOf("2024-01-01 12:30:00")))
    for (dialect <- Seq("postgres", "redshift")) {
      val out = toSparkSql(sql, dialect)
      assert(out == "SELECT CAST(DATE '2024-01-01' AS date) AS d, " +
        "CAST(TIMESTAMP '2024-01-01 12:30:00.0' AS timestamp) AS ts, " +
        "CAST(DATE '2024-01-02' AS string) AS s", dialect)
      val r = spark.sql(out).collect().head
      assert(r.getDate(0) == java.sql.Date.valueOf("2024-01-01"), dialect)
      assert(r.getTimestamp(1) == java.sql.Timestamp.valueOf("2024-01-01 12:30:00"), dialect)
      assert(r.getString(2) == "2024-01-02", dialect)
    }
  }

  test("qualified and subscripted :: operands (t.col, db.s.fn(x), arr[i])") {
    // the ubiquitous table-aliased cast — must absorb the '.' chain
    assert(pg("SELECT t.col::int8 FROM t") == "SELECT CAST(t.col AS bigint) FROM t")
    assert(pg("SELECT a.b.c::text FROM t") == "SELECT CAST(a.b.c AS string) FROM t")
    assert(pg("SELECT s.f(x)::int4 FROM t") == "SELECT CAST(s.f(x) AS int) FROM t")
    assert(pg("SELECT arr[1]::int8 FROM t") == "SELECT CAST(arr[1] AS bigint) FROM t")
    assert(pg("SELECT t.arr[1]::int8 FROM t")
      == "SELECT CAST(t.arr[1] AS bigint) FROM t")
  }

  test("explicit CAST type names map; :: inside strings/comments untouched") {
    assert(pg("SELECT CAST(a AS int8) FROM t") == "SELECT CAST(a AS bigint) FROM t")
    assert(pg("SELECT CAST(a AS double precision) FROM t")
      == "SELECT CAST(a AS double) FROM t")
    assert(pg("SELECT 'a::b' FROM t") == "SELECT 'a::b' FROM t")
    assert(pg("SELECT a FROM t -- x::int8\n") == "SELECT a FROM t -- x::int8\n")
    assert(pg("SELECT a /* c::int /* nested */ */ FROM t")
      == "SELECT a /* c::int /* nested */ */ FROM t")
  }

  test("quoted identifiers and dollar-quoted strings") {
    assert(pg("SELECT \"my col\" FROM \"T\"") == "SELECT `my col` FROM `T`")
    assert(pg("SELECT $$it's here$$") == "SELECT 'it''s here'")
    assert(pg("SELECT $tag$a$b$tag$") == "SELECT 'a$b'")
  }

  test("regex operators: ~, !~, ~*, !~*; unary bitwise ~ untouched") {
    assert(pg("SELECT * FROM t WHERE a ~ 'x'")
      == "SELECT * FROM t WHERE a  RLIKE  'x'")
    assert(pg("SELECT * FROM t WHERE a !~ 'x'")
      == "SELECT * FROM t WHERE a  NOT RLIKE  'x'")
    // (?i) inline flag, NOT upper()-wrapping: uppercasing a pattern
    // inverts regex escape classes (\d→\D, \w→\W, \s→\S, \b→\B)
    assert(pg("SELECT * FROM t WHERE a ~* 'x'")
      == "SELECT * FROM t WHERE a RLIKE concat('(?i)', 'x')")
    assert(pg("SELECT * FROM t WHERE a !~* lower(p)")
      == "SELECT * FROM t WHERE NOT a RLIKE concat('(?i)', lower(p))")
    assert(pg("SELECT * FROM t WHERE t.a ~* t.p")
      == "SELECT * FROM t WHERE t.a RLIKE concat('(?i)', t.p)")
    assert(pg("SELECT ~ 5") == "SELECT ~ 5") // unary bitwise NOT
  }

  test("standard-conforming strings: backslashes double once at emission") {
    // Postgres holds '\d+' as backslash-d-plus; Spark's parser would
    // eat the backslash — the translator doubles it exactly once
    assert(pg("SELECT * FROM t WHERE a ~ '\\d+'")
      == "SELECT * FROM t WHERE a  RLIKE  '\\\\d+'")
    assert(pg("SELECT '\\n' FROM t") == "SELECT '\\\\n' FROM t")
    // fixpoint does NOT re-escape: a query needing 2+ passes still
    // doubles only once
    assert(pg("SELECT sum(x)::int8 FROM t WHERE a ~ '\\w'")
      == "SELECT CAST(sum(x) AS bigint) FROM t WHERE a  RLIKE  '\\\\w'")
  }

  test("E'...' escape strings decode (and re-protect literal backslashes)") {
    // E'\t' is a real TAB; emitted as the actual character
    assert(pg("SELECT E'a\\tb'") == "SELECT 'a\tb'")
    // E'\\d' is a LITERAL backslash-d; doubled at emission for Spark
    assert(pg("SELECT E'\\\\d+'") == "SELECT '\\\\d+'")
    assert(pg("SELECT E'it\\'s'") == "SELECT 'it''s'")
    assert(pg("SELECT E'\\x41\\u0042'") == "SELECT 'AB'")
    assert(pg("SELECT E'\\101'") == "SELECT 'A'") // octal
  }

  test("function renames and to_char format mapping") {
    assert(pg("SELECT now(), random(), strpos(a, 'x'), string_agg(a, ',') FROM t")
      == "SELECT current_timestamp(), rand(), instr(a, 'x'), listagg(a, ',') FROM t")
    assert(pg("SELECT to_char(d, 'YYYY-MM-DD') FROM t")
      == "SELECT date_format(d, 'yyyy-MM-dd') FROM t")
    assert(pg("SELECT to_char(d, 'HH24:MI:SS') FROM t")
      == "SELECT date_format(d, 'HH:mm:ss') FROM t")
    // spelled-out names: all case variants map (java.time emits
    // capitalized — the documented approximation for MONTH/DAY)
    assert(pg("SELECT to_char(d, 'MONTH YYYY') FROM t")
      == "SELECT date_format(d, 'MMMM yyyy') FROM t")
    assert(pg("SELECT to_char(d, 'Day DY') FROM t")
      == "SELECT date_format(d, 'EEEE EEE') FROM t")
    // non-literal format: left for Spark to reject, not silently changed
    assert(pg("SELECT to_char(d, f) FROM t") == "SELECT to_char(d, f) FROM t")
  }

  test("identity dialects and unknown dialect rejection") {
    assert(toSparkSql("SELECT 1::int", "spark") == "SELECT 1::int")
    val e = intercept[IllegalArgumentException](toSparkSql("SELECT 1", "oracle"))
    assert(e.getMessage.contains("oracle"))
  }

  test("end-to-end: Postgres-flavored transform over a real table") {
    val df = Seq(
      (1L, "Alpha Widget", 19.99, "2024-03-05"),
      (2L, "beta gadget", 5.25, "2024-03-17"),
      (3L, "GAMMA widget", 102.5, "2024-04-01"))
      .toDF("id", "name", "price", "day")
      .selectExpr("id", "name", "price", "CAST(day AS date) AS day")
    val out = g.transformLazy(
      """SELECT "id"::int8 AS id,
        |  to_char(day, 'YYYY-MM') AS month,
        |  (round(price * 100))::int8 AS cents
        |FROM {{src}}
        |WHERE name ~* 'widget' AND name !~ '^beta'
        |ORDER BY id""".stripMargin,
      Map("src" -> df), dialect = "postgres")
      .as[(Long, String, Long)].collect().toSeq
    assert(out == Seq((1L, "2024-03", 1999L), (3L, "2024-04", 10250L)))
  }

  test("end-to-end: regex escape classes survive ~* and standard strings") {
    val df = Seq((1L, "order 12 PENDING"), (2L, "no digits here"),
      (3L, "pending 7")).toDF("id", "txt")
    val out = g.transformLazy(
      """SELECT id::int8 AS id FROM {{src}}
        |WHERE txt ~ '\d+' AND txt ~* 'PENDING\s*\d*'
        |ORDER BY id""".stripMargin,
      Map("src" -> df), dialect = "postgres")
      .as[Long].collect().toSeq
    // upper()-wrapping would have turned \d into \D and matched nothing
    assert(out == Seq(1L, 3L))
  }

  test("pass-through pins: ILIKE, ||, IS DISTINCT FROM, substring FROM FOR, split_part") {
    val df = Seq(("Alpha", "x"), ("beta", "y")).toDF("a", "b")
    val out = g.transformLazy(
      """SELECT a || '-' || b AS j,
        |  substring(a FROM 1 FOR 2) AS s2,
        |  split_part(a || '_' || b, '_', 2) AS sp
        |FROM {{src}} WHERE a ILIKE 'alp%' AND a IS DISTINCT FROM b
        |ORDER BY a""".stripMargin,
      Map("src" -> df), dialect = "postgres")
      .as[(String, String, String)].collect().toSeq
    assert(out == Seq(("Alpha-x", "Al", "x")))
  }

  test("snowflake: IFF/GETDATE/DATEADD/DATEDIFF/TO_VARCHAR/ZEROIFNULL/NULLIFZERO") {
    def sf(s: String) = toSparkSql(s, "snowflake")
    assert(sf("SELECT IFF(a > 1, 'x', 'y')") == "SELECT if(a > 1, 'x', 'y')")
    assert(sf("SELECT GETDATE()") == "SELECT current_timestamp()")
    assert(sf("SELECT DATEADD(day, 3, d) FROM t")
      == "SELECT timestampadd(day, 3, d) FROM t")
    assert(sf("SELECT DATEADD('day', 3, d) FROM t")
      == "SELECT timestampadd(day, 3, d) FROM t")
    // part aliases canonicalize (dd → day); unknown parts leave the
    // call untouched for Spark's own error
    assert(sf("SELECT DATEADD(dd, 3, d) FROM t")
      == "SELECT timestampadd(day, 3, d) FROM t")
    assert(sf("SELECT DATEADD(flurb, 3, d) FROM t")
      == "SELECT DATEADD(flurb, 3, d) FROM t")
    // DATEDIFF counts BOUNDARY crossings in Snowflake/Redshift/T-SQL —
    // both args truncate to the part before the elapsed count
    assert(sf("SELECT DATEDIFF(month, a, b) FROM t")
      == "SELECT timestampdiff(month, date_trunc('month', a), date_trunc('month', b)) FROM t")
    assert(sf("SELECT TO_VARCHAR(x) FROM t") == "SELECT CAST(x AS string) FROM t")
    assert(sf("SELECT TO_VARCHAR(d, 'YYYY-MM-DD') FROM t")
      == "SELECT date_format(d, 'yyyy-MM-dd') FROM t")
    assert(sf("SELECT ZEROIFNULL(x) FROM t") == "SELECT coalesce(x, 0) FROM t")
    assert(sf("SELECT NULLIFZERO(x) FROM t") == "SELECT nullif(x, 0) FROM t")
    assert(sf("SELECT x::number(10,2) FROM t")
      == "SELECT CAST(x AS decimal(10,2)) FROM t")
    // snowflake-only names untouched under postgres
    assert(pg("SELECT IFF(a, 'x', 'y')") == "SELECT IFF(a, 'x', 'y')")
  }

  test("DATEDIFF boundary semantics execute: year/month crossings count") {
    val df = Seq((1L, "2023-12-31", "2024-01-01")).toDF("id", "a", "b")
      .selectExpr("id", "CAST(a AS date) AS a", "CAST(b AS date) AS b")
    val out = g.transformLazy(
      """SELECT DATEDIFF(year, a, b) AS yr, DATEDIFF(month, a, b) AS mo,
        |  DATEDIFF(day, a, b) AS dy
        |FROM {{src}}""".stripMargin,
      Map("src" -> df), dialect = "snowflake")
      .as[(Long, Long, Long)].collect().toSeq
    // Snowflake: 1 year boundary, 1 month boundary, 1 day — the naive
    // timestampdiff rename would have returned (0, 0, 1)
    assert(out == Seq((1L, 1L, 1L)))
  }

  test("nested rewrites translate through the fixpoint (calls inside :: operands)") {
    def sf(s: String) = toSparkSql(s, "snowflake")
    // IFF sits inside a sum that the :: pass wraps first — the fixpoint
    // re-lex must still reach it
    assert(sf("SELECT sum(IFF(a > 1, 1, 0))::int8 FROM t")
      == "SELECT CAST(sum(if(a > 1, 1, 0)) AS bigint) FROM t")
    assert(sf("SELECT ZEROIFNULL(NULLIFZERO(v)) FROM t")
      == "SELECT coalesce(nullif(v, 0), 0) FROM t")
    assert(pg("SELECT to_char(now(), 'YYYY') ")
      == "SELECT date_format(current_timestamp(), 'yyyy') ")
  }

  test("QUALIFY: alias and windowed predicates restate as subquery + WHERE") {
    def sf(s: String) = toSparkSql(s, "snowflake")
    // the ubiquitous idiom: QUALIFY on a select-list window ALIAS —
    // pred moves to an outer WHERE where the alias resolves as the
    // dialect resolves it (output scope)
    assert(sf("SELECT k, row_number() OVER (PARTITION BY k ORDER BY v DESC) AS rn " +
        "FROM t QUALIFY rn = 1")
      == "SELECT k, rn FROM (SELECT k, row_number() OVER (PARTITION BY k " +
        "ORDER BY v DESC NULLS FIRST) AS rn FROM t) __gq WHERE (rn = 1)")
    // windowed pred: computes as an inner boolean column
    assert(sf("SELECT k, v FROM t QUALIFY row_number() OVER (PARTITION BY k ORDER BY v) = 1")
      == "SELECT k, v FROM (SELECT k, v, (row_number() OVER (PARTITION BY k " +
        "ORDER BY v NULLS LAST) = 1) AS __gq_p FROM t) __gq WHERE __gq_p")
    // outer ORDER BY + LIMIT move outside with the dialect NULLS default
    assert(sf("SELECT k, max(v) OVER (PARTITION BY k) AS mv FROM t " +
        "QUALIFY mv > 0 ORDER BY k LIMIT 5")
      == "SELECT k, mv FROM (SELECT k, max(v) OVER (PARTITION BY k) AS mv " +
        "FROM t) __gq WHERE (mv > 0) ORDER BY k NULLS LAST LIMIT 5")
    // DISTINCT evaluates AFTER QUALIFY (the dialect order) — it moves
    // to the outer select
    assert(sf("SELECT DISTINCT k, v FROM t QUALIFY row_number() OVER (ORDER BY v) <= 2")
      == "SELECT DISTINCT k, v FROM (SELECT k, v, (row_number() OVER " +
        "(ORDER BY v NULLS LAST) <= 2) AS __gq_p FROM t) __gq WHERE __gq_p")
    // WHERE/GROUP BY stay inside the subquery
    assert(sf("SELECT k, count(*) AS n FROM t WHERE v > 0 GROUP BY k " +
        "QUALIFY rank() OVER (ORDER BY k) <= 3")
      == "SELECT k, n FROM (SELECT k, count(*) AS n, (rank() OVER " +
        "(ORDER BY k NULLS LAST) <= 3) AS __gq_p FROM t WHERE v > 0 " +
        "GROUP BY k) __gq WHERE __gq_p")
    // guards: a windowed pred naming a RENAMED alias stays loud (the
    // inner scope would resolve x against the input, not the output);
    // star select; set ops — all untouched (NULLS annotation still runs)
    assert(sf("SELECT v AS x FROM t QUALIFY row_number() OVER (ORDER BY x) = 1")
      == "SELECT v AS x FROM t QUALIFY row_number() OVER (ORDER BY x NULLS LAST) = 1")
    assert(sf("SELECT * FROM t QUALIFY row_number() OVER (ORDER BY v) = 1")
      == "SELECT * FROM t QUALIFY row_number() OVER (ORDER BY v NULLS LAST) = 1")
    assert(sf("SELECT k FROM t QUALIFY rn = 1 UNION SELECT j FROM u")
      == "SELECT k FROM t QUALIFY rn = 1 UNION SELECT j FROM u")
    // redshift shares the clause
    assert(toSparkSql("SELECT k, v FROM t QUALIFY row_number() OVER (ORDER BY v) = 1",
        "redshift")
      == "SELECT k, v FROM (SELECT k, v, (row_number() OVER " +
        "(ORDER BY v NULLS LAST) = 1) AS __gq_p FROM t) __gq WHERE __gq_p")
  }

  test("QUALIFY executes: latest row per key via the alias idiom") {
    val df = Seq((1L, "2024-01-01", "old"), (1L, "2024-03-01", "new"),
      (2L, "2024-02-01", "only")).toDF("k", "day", "v")
    val out = g.transformLazy(
      """SELECT k, v, ROW_NUMBER() OVER (PARTITION BY k ORDER BY day DESC) AS rn
        |FROM {{src}} QUALIFY rn = 1 ORDER BY k""".stripMargin,
      Map("src" -> df), dialect = "snowflake")
      .select("k", "v").as[(Long, String)].collect().toSeq
    assert(out == Seq((1L, "new"), (2L, "only")))
    // windowed-pred shape
    val out2 = g.transformLazy(
      """SELECT k, v FROM {{src}}
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY k ORDER BY day DESC) = 1
        |ORDER BY k""".stripMargin,
      Map("src" -> df), dialect = "snowflake")
      .as[(Long, String)].collect().toSeq
    assert(out2 == Seq((1L, "new"), (2L, "only")))
  }

  test("snowflake end-to-end: a Snowflake-flavored transform executes") {
    val df = Seq((1L, 10.0, "2024-03-05"), (2L, 0.0, "2024-03-20"))
      .toDF("id", "v", "day")
      .selectExpr("id", "v", "CAST(day AS date) AS day")
    val out = g.transformLazy(
      """SELECT id::int8 AS id,
        |  IFF(v > 5, 'hi', 'lo') AS bucket,
        |  ZEROIFNULL(NULLIFZERO(v)) AS v2,
        |  TO_VARCHAR(day, 'YYYY-MM') AS month,
        |  DATEDIFF(day, day, DATEADD(day, 7, day)) AS plus7
        |FROM {{src}} ORDER BY id""".stripMargin,
      Map("src" -> df), dialect = "snowflake")
      .as[(Long, String, Double, String, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "hi", 10.0, "2024-03", 7L),
      (2L, "lo", 0.0, "2024-03", 7L)))
  }

  test("bigquery: SAFE_CAST/FORMAT_DATE/TIMESTAMP_DIFF/INTERVAL math/types/strings") {
    def bq(s: String) = toSparkSql(s, "bigquery")
    assert(bq("SELECT SAFE_CAST(x AS INT64) FROM t")
      == "SELECT try_cast(x AS bigint) FROM t")
    assert(bq("SELECT FORMAT_DATE('%Y-%m', d) FROM t")
      == "SELECT date_format(d, 'yyyy-MM') FROM t")
    assert(bq("SELECT TIMESTAMP_DIFF(b, a, DAY) FROM t")
      == "SELECT timestampdiff(DAY, a, b) FROM t")
    assert(bq("SELECT DATE_ADD(d, INTERVAL 3 DAY) FROM t")
      == "SELECT (d + INTERVAL 3 DAY) FROM t")
    assert(bq("SELECT DATE_SUB(d, INTERVAL 1 MONTH) FROM t")
      == "SELECT (d - INTERVAL 1 MONTH) FROM t")
    assert(bq("SELECT ARRAY_LENGTH(xs), SAFE_DIVIDE(a, b) FROM t")
      == "SELECT size(xs), try_divide(a, b) FROM t")
    // BigQuery double quotes are STRINGS, not identifiers
    assert(bq("SELECT \"it's\" FROM t") == "SELECT 'it''s' FROM t")
  }

  test("bigquery end-to-end: a BigQuery-flavored transform executes") {
    val df = Seq((1L, "2024-03-05"), (2L, "2024-04-20")).toDF("id", "day")
      .selectExpr("id", "CAST(day AS date) AS day")
    val out = g.transformLazy(
      """SELECT SAFE_CAST(id AS INT64) AS id,
        |  FORMAT_DATE('%Y-%m', day) AS month,
        |  DATE_DIFF(DATE_ADD(day, INTERVAL 7 DAY), day, DAY) AS plus7
        |FROM {{src}} ORDER BY id""".stripMargin,
      Map("src" -> df), dialect = "bigquery")
      .as[(Long, String, Long)].collect().toSeq
    assert(out == Seq((1L, "2024-03", 7L), (2L, "2024-04", 7L)))
  }

  test("redshift: postgres base + GETDATE/DATE_PART bare parts/SYSDATE/backslashes") {
    def rs(s: String) = toSparkSql(s, "redshift")
    assert(rs("SELECT GETDATE(), a::int8 FROM t")
      == "SELECT current_timestamp(), CAST(a AS bigint) FROM t")
    // bare part name quotes AND canonicalizes for Spark's date_part
    assert(rs("SELECT DATE_PART(mon, d) FROM t")
      == "SELECT date_part('month', d) FROM t")
    assert(rs("SELECT DATE_PART('year', d) FROM t")
      == "SELECT date_part('year', d) FROM t") // quoted parts canonicalize too
    // Redshift (like Snowflake) reads bare 'm' as MINUTE — month is mon/months
    assert(rs("SELECT DATEADD(m, 5, d) FROM t")
      == "SELECT timestampadd(minute, 5, d) FROM t")
    // day-of-week / day-of-year families: Redshift dow (0 = Sunday)
    // matches Spark's date_part('dow') exactly; doy is calendar
    // day-of-year in both
    assert(rs("SELECT DATE_PART(dow, d) FROM t")
      == "SELECT date_part('dow', d) FROM t")
    assert(rs("SELECT DATE_PART(weekday, d) FROM t")
      == "SELECT date_part('dow', d) FROM t")
    assert(rs("SELECT DATE_PART(dayofyear, d) FROM t")
      == "SELECT date_part('doy', d) FROM t")
    assert(rs("SELECT DATE_PART(dy, d) FROM t")
      == "SELECT date_part('doy', d) FROM t")
    // unknown alias: untouched -> loud Spark error, never a guess
    assert(rs("SELECT DATE_PART(fortnight, d) FROM t")
      == "SELECT DATE_PART(fortnight, d) FROM t")
    // bare SYSDATE keyword
    assert(rs("SELECT SYSDATE FROM t") == "SELECT current_timestamp() FROM t")
    // Redshift standard-conforming strings hold backslashes literally
    assert(rs("SELECT * FROM t WHERE a ~ '\\d'")
      == "SELECT * FROM t WHERE a  RLIKE  '\\\\d'")
    // regex ops + DATEDIFF both present (the Postgres+Snowflake union)
    assert(rs("SELECT DATEDIFF(year, a, b) FROM t")
      == "SELECT timestampdiff(year, date_trunc('year', a), date_trunc('year', b)) FROM t")
  }

  test("redshift end-to-end: LISTAGG WITHIN GROUP + DATE_PART execute") {
    val df = Seq((1L, "b", "2024-03-05"), (1L, "a", "2024-05-20"), (2L, "c", "2024-07-01"))
      .toDF("k", "v", "day")
      .selectExpr("k", "v", "CAST(day AS date) AS day")
    val out = g.transformLazy(
      """SELECT k::int8 AS k,
        |  LISTAGG(v, ',') WITHIN GROUP (ORDER BY v) AS vs,
        |  DATE_PART(mon, MAX(day))::int8 AS last_mon
        |FROM {{src}} GROUP BY k ORDER BY k""".stripMargin,
      Map("src" -> df), dialect = "redshift")
      .as[(Long, String, Long)].collect().toSeq
    assert(out == Seq((1L, "a,b", 5L), (2L, "c", 7L)))
  }

  test("mssql: TOP/brackets/ISNULL/IIF/LEN/CHARINDEX/DATEPART/types") {
    def ms(s: String) = toSparkSql(s, "mssql")
    assert(ms("SELECT TOP 3 a FROM t ORDER BY a")
      == "SELECT a FROM t ORDER BY a LIMIT 3 ")
    assert(ms("SELECT TOP (5) a FROM t") == "SELECT a FROM t LIMIT (5) ")
    assert(ms("SELECT DISTINCT TOP 3 a FROM t")
      == "SELECT DISTINCT a FROM t LIMIT 3 ")
    // subquery scope: LIMIT lands inside the parens
    assert(ms("SELECT x FROM (SELECT TOP 2 y AS x FROM u) s")
      == "SELECT x FROM (SELECT y AS x FROM u LIMIT 2 ) s")
    // PERCENT / WITH TIES / set ops: untouched → loud Spark error
    assert(ms("SELECT TOP 10 PERCENT a FROM t")
      == "SELECT TOP 10 PERCENT a FROM t")
    assert(ms("SELECT TOP 3 a FROM t UNION SELECT b FROM u")
      == "SELECT TOP 3 a FROM t UNION SELECT b FROM u")
    assert(ms("SELECT [my col], [t].[a] FROM [t]")
      == "SELECT `my col`, `t`.`a` FROM `t`")
    assert(ms("SELECT ISNULL(a, 0) FROM t") == "SELECT coalesce(a, 0) FROM t")
    assert(ms("SELECT ISNULL(a) FROM t") == "SELECT ISNULL(a) FROM t") // 1-arg: Spark's own
    assert(ms("SELECT IIF(a > 1, 'x', 'y')") == "SELECT if(a > 1, 'x', 'y')")
    assert(ms("SELECT LEN(a), CHARINDEX('-', a) FROM t")
      == "SELECT length(a), locate('-', a) FROM t")
    // T-SQL part aliases canonicalize through the per-mode map: 'm' is
    // MONTH there (Snowflake/Redshift read it as minute), yy/dd are the
    // date_part spellings Spark would reject verbatim
    assert(ms("SELECT DATEPART(yy, d) FROM t") == "SELECT date_part('year', d) FROM t")
    assert(ms("SELECT DATEPART(m, d) FROM t") == "SELECT date_part('month', d) FROM t")
    assert(ms("SELECT DATEPART(n, d) FROM t") == "SELECT date_part('minute', d) FROM t")
    // T-SQL 'w' (weekday) and 'y'/'dy' (dayofyear) have function-dependent
    // meanings; unmapped -> untouched -> loud Spark error
    assert(ms("SELECT DATEPART(w, d) FROM t") == "SELECT DATEPART(w, d) FROM t")
    assert(ms("SELECT DATEPART(y, d) FROM t") == "SELECT DATEPART(y, d) FROM t")
    // T-SQL DATEPART(week) numbers weeks from Jan 1 under DATEFIRST;
    // Spark's 'week' is ISO — excluded like DATEDIFF's, loud not shifted
    assert(ms("SELECT DATEPART(wk, d) FROM t") == "SELECT DATEPART(wk, d) FROM t")
    assert(ms("SELECT DATEPART(week, d) FROM t") == "SELECT DATEPART(week, d) FROM t")
    // weekday/dw are DATEFIRST-dependent: not in the mssql map -> loud
    assert(ms("SELECT DATEPART(weekday, d) FROM t")
      == "SELECT DATEPART(weekday, d) FROM t")
    // DATEADD(week) is unaffected (adding weeks is adding 7-day spans,
    // no boundary semantics)
    assert(ms("SELECT DATEADD(wk, 2, d) FROM t")
      == "SELECT timestampadd(week, 2, d) FROM t")
    // T-SQL DATEDIFF(week) counts SUNDAY boundary crossings; the
    // Monday-based date_trunc rewrite would be off by one -> excluded, loud
    assert(ms("SELECT DATEDIFF(week, a, b) FROM t")
      == "SELECT DATEDIFF(week, a, b) FROM t")
    // T-SQL string literals hold backslashes literally: a Windows path
    // must not gain a tab/newline through Spark's escape processing
    assert(ms("SELECT 'C:\\temp\\new' FROM t")
      == "SELECT 'C:\\\\temp\\\\new' FROM t")
    assert(ms("SELECT GETDATE()") == "SELECT current_timestamp()")
    assert(ms("SELECT CAST(a AS datetime), CAST(b AS nvarchar(20)) FROM t")
      == "SELECT CAST(a AS timestamp), CAST(b AS varchar(20)) FROM t")
    assert(ms("SELECT DATEDIFF(dd, a, b) FROM t")
      == "SELECT timestampdiff(day, date_trunc('day', a), date_trunc('day', b)) FROM t")
  }

  test("mssql: TOP WITH TIES / TOP PERCENT window restatements (guarded)") {
    def ms(s: String) = toSparkSql(s, "mssql")
    // WITH TIES ≡ rank() <= n (a row's tie-group intersects the first n
    // positions exactly when its rank is <= n)
    assert(ms("SELECT TOP 2 WITH TIES a FROM t ORDER BY a")
      == "SELECT a FROM (SELECT a, rank() OVER (ORDER BY a) AS __gt_rk " +
        "FROM t) __gt WHERE __gt_rk <= 2 ORDER BY a")
    // PERCENT: row budget is CEILING(count * n / 100) — T-SQL rounds UP
    assert(ms("SELECT TOP 10 PERCENT a FROM t ORDER BY a DESC")
      == "SELECT a FROM (SELECT a, row_number() OVER (ORDER BY a DESC) " +
        "AS __gt_rk, count(*) OVER () AS __gt_ct FROM t) __gt " +
        "WHERE __gt_rk <= CEILING(__gt_ct * (10) / 100.0) ORDER BY a DESC")
    // PERCENT WITH TIES: rank() with the CEILING budget
    assert(ms("SELECT TOP 10 PERCENT WITH TIES a FROM t ORDER BY a")
      == "SELECT a FROM (SELECT a, rank() OVER (ORDER BY a) " +
        "AS __gt_rk, count(*) OVER () AS __gt_ct FROM t) __gt " +
        "WHERE __gt_rk <= CEILING(__gt_ct * (10) / 100.0) ORDER BY a")
    // parenthesized budget + aliased items + WHERE stays inside
    assert(ms("SELECT TOP (3) WITH TIES a AS x, b FROM t WHERE b > 0 ORDER BY b")
      == "SELECT x, b FROM (SELECT a AS x, b, rank() OVER (ORDER BY b) " +
        "AS __gt_rk FROM t WHERE b > 0) __gt WHERE __gt_rk <= (3) ORDER BY b")
    // guards: DISTINCT (rank would compute pre-dedup), no ORDER BY,
    // set-op scope, underivable output name — all pass through → loud
    assert(ms("SELECT DISTINCT TOP 3 WITH TIES a FROM t ORDER BY a")
      == "SELECT DISTINCT TOP 3 WITH TIES a FROM t ORDER BY a")
    assert(ms("SELECT TOP 3 WITH TIES a FROM t")
      == "SELECT TOP 3 WITH TIES a FROM t")
    assert(ms("SELECT TOP 3 WITH TIES a FROM t UNION SELECT b FROM u ORDER BY a")
      == "SELECT TOP 3 WITH TIES a FROM t UNION SELECT b FROM u ORDER BY a")
    assert(ms("SELECT TOP 3 WITH TIES a + 1 FROM t ORDER BY a")
      == "SELECT TOP 3 WITH TIES a + 1 FROM t ORDER BY a")
    // ORDER BY item that doesn't resolve to a projected name → untouched
    assert(ms("SELECT TOP 3 WITH TIES a FROM t ORDER BY b")
      == "SELECT TOP 3 WITH TIES a FROM t ORDER BY b")
    // ORDER BY an alias of a bare column: the window substitutes the
    // underlying column (T-SQL ranks by the OUTPUT; a window alias
    // would silently resolve to a same-named base column)
    assert(ms("SELECT TOP 1 WITH TIES b AS a FROM t ORDER BY a")
      == "SELECT a FROM (SELECT b AS a, rank() OVER (ORDER BY b) " +
        "AS __gt_rk FROM t) __gt WHERE __gt_rk <= 1 ORDER BY a")
    // alias of an EXPRESSION: substitution unprovable → untouched → loud
    assert(ms("SELECT TOP 1 WITH TIES a + 1 AS x FROM t ORDER BY x")
      == "SELECT TOP 1 WITH TIES a + 1 AS x FROM t ORDER BY x")
    // a statement-terminating semicolon ends the scope (verbatim .sql
    // files carry one) instead of poisoning the ORDER BY text
    assert(ms("SELECT TOP 3 WITH TIES a FROM t ORDER BY a;")
      == "SELECT a FROM (SELECT a, rank() OVER (ORDER BY a) " +
        "AS __gt_rk FROM t) __gt WHERE __gt_rk <= 3 ORDER BY a;")
    // T-SQL rejects PERCENT budgets outside [0, 100] — the rewrite
    // would silently return all rows, so out-of-range or non-literal
    // budgets stay untouched → loud
    assert(ms("SELECT TOP 150 PERCENT a FROM t ORDER BY a")
      == "SELECT TOP 150 PERCENT a FROM t ORDER BY a")
    assert(ms("SELECT TOP (5) PERCENT a FROM t ORDER BY a")
      == "SELECT TOP (5) PERCENT a FROM t ORDER BY a")
    // decimal budgets are fine (T-SQL PERCENT takes float)
    assert(ms("SELECT TOP 2.5 PERCENT a FROM t ORDER BY a")
      == "SELECT a FROM (SELECT a, row_number() OVER (ORDER BY a) " +
        "AS __gt_rk, count(*) OVER () AS __gt_ct FROM t) __gt " +
        "WHERE __gt_rk <= CEILING(__gt_ct * (2.5) / 100.0) ORDER BY a")
  }

  test("mssql end-to-end: TOP WITH TIES and TOP PERCENT execute") {
    val df = Seq((1L, 10L), (2L, 10L), (3L, 9L), (4L, 8L), (5L, 8L),
      (6L, 8L), (7L, 7L), (8L, 6L), (9L, 5L), (10L, 4L))
      .toDF("id", "score")
    // TOP 3 WITH TIES by score DESC: rows 10,10,9 — the 3rd row (9) has
    // no ties, so exactly 3 rows
    val ties3 = g.transformLazy(
      "SELECT TOP 3 WITH TIES id, score FROM {{src}} ORDER BY score DESC",
      Map("src" -> df), dialect = "mssql")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(ties3 == Seq((1L, 10L), (2L, 10L), (3L, 9L)))
    // TOP 4 WITH TIES: the 4th row is one of three tied 8s → all join
    val ties4 = g.transformLazy(
      "SELECT TOP 4 WITH TIES id, score FROM {{src}} ORDER BY score DESC",
      Map("src" -> df), dialect = "mssql")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(ties4 == Seq((1L, 10L), (2L, 10L), (3L, 9L), (4L, 8L), (5L, 8L), (6L, 8L)))
    // TOP 25 PERCENT of 10 rows = ceiling(2.5) = 3 rows
    val pct = g.transformLazy(
      "SELECT TOP 25 PERCENT id, score FROM {{src}} ORDER BY score DESC",
      Map("src" -> df), dialect = "mssql")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(pct.length == 3 && pct.map(_._2).min >= 9L)
    // scale-shape pin: the constant-n WITH TIES rank filter must plan a
    // WindowGroupLimit (per-partition top-k ahead of the final exchange
    // — a global LIMIT's shape), not a full global sort of every row
    val tiesPlan = g.transformLazy(
      "SELECT TOP 3 WITH TIES id, score FROM {{src}} ORDER BY score DESC",
      Map("src" -> df), dialect = "mssql")
      .queryExecution.optimizedPlan.toString
    assert(tiesPlan.contains("WindowGroupLimit"), tiesPlan)
  }

  test("mssql end-to-end: a T-SQL-flavored transform executes") {
    val df = Seq((1L, "1-URGENT", "2024-03-05"), (2L, null, "2024-04-20"),
      (3L, "3-LOW", "2024-02-11"))
      .toDF("id", "prio", "day")
      .selectExpr("id", "prio", "CAST(day AS date) AS day")
    val out = g.transformLazy(
      """SELECT TOP 2 [id],
        |  ISNULL(prio, 'none') AS prio,
        |  LEN(ISNULL(prio, '')) AS plen,
        |  CHARINDEX('-', ISNULL(prio, '')) AS dash,
        |  DATEDIFF(day, CAST('2024-01-01' AS datetime), day) AS days
        |FROM {{src}} ORDER BY [id]""".stripMargin,
      Map("src" -> df), dialect = "mssql")
      .as[(Long, String, Int, Int, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "1-URGENT", 8, 2, 64L),
      (2L, "none", 0, 0, 110L)))
  }

  test("generate_series: FROM-position rewrites to explode(sequence), others stay loud") {
    assert(pg("SELECT i FROM generate_series(1, 5) AS g(i)")
      == "SELECT i FROM (SELECT explode(sequence(1, 5, 1)) AS i) g")
    assert(pg("SELECT * FROM generate_series(1, 5)")
      == "SELECT * FROM (SELECT explode(sequence(1, 5, 1)) AS generate_series) generate_series")
    assert(pg("SELECT i FROM generate_series(0, 10, 2) g(i) WHERE i > 3")
      == "SELECT i FROM (SELECT explode(sequence(0, 10, 2)) AS i) g WHERE i > 3")
    // projection position: untouched → Spark's own unknown-function error
    assert(pg("SELECT generate_series(1, 3)") == "SELECT generate_series(1, 3)")
  }

  test("generate_series executes end-to-end (int and date ranges)") {
    val out = g.transformLazy(
      "SELECT i::int8 AS i FROM generate_series(2, 8, 3) AS g(i) ORDER BY i",
      Map.empty, dialect = "postgres").as[Long].collect().toSeq
    assert(out == Seq(2L, 5L, 8L))
    val days = g.transformLazy(
      """SELECT count(*)::int8 AS n FROM generate_series(
        |DATE '2024-01-01', DATE '2024-01-10', INTERVAL 3 DAY) AS g(d)""".stripMargin,
      Map.empty, dialect = "postgres").as[Long].collect().toSeq
    assert(days == Seq(4L))
  }

  test("SIMILAR TO: SQL regex converts to anchored RLIKE; escape clause stays loud") {
    assert(pg("SELECT * FROM t WHERE a SIMILAR TO 'abc%'")
      == "SELECT * FROM t WHERE a RLIKE '^(?:abc.*)$'")
    assert(pg("SELECT * FROM t WHERE a NOT SIMILAR TO '_b(c|d)%'")
      == "SELECT * FROM t WHERE NOT a RLIKE '^(?:.b(c|d).*)$'")
    // '.' is literal in SIMILAR TO; \d is a literal d (not a regex
    // class); the regex backslash then doubles once at emission
    assert(pg("SELECT * FROM t WHERE a SIMILAR TO 'x.y\\d'")
      == "SELECT * FROM t WHERE a RLIKE '^(?:x\\\\.yd)$'")
    // explicit ESCAPE / non-literal pattern: untouched
    assert(pg("SELECT * FROM t WHERE a SIMILAR TO p")
      == "SELECT * FROM t WHERE a SIMILAR TO p")
    assert(pg("SELECT * FROM t WHERE a SIMILAR TO 'x%' ESCAPE '#'")
      == "SELECT * FROM t WHERE a SIMILAR TO 'x%' ESCAPE '#'")
  }

  test("SIMILAR TO executes: anchored, percent/underscore wildcards") {
    val df = Seq("abc", "abcd", "xbc", "ab").toDF("s")
    val out = g.transformLazy(
      "SELECT s FROM {{src}} WHERE s SIMILAR TO '_bc%' ORDER BY s",
      Map("src" -> df), dialect = "postgres").as[String].collect().toSeq
    // anchored: 'ab' fails, 'abc'/'abcd'/'xbc' match _bc%
    assert(out == Seq("abc", "abcd", "xbc"))
  }

  test("DISTINCT ON: rewrites to a rank-1 window filter; ambiguous forms stay loud") {
    // every ORDER BY (incl. the generated window's) carries Postgres's
    // explicit NULLS default: LAST under ASC, FIRST under DESC
    assert(pg("SELECT DISTINCT ON (k) k, v FROM t ORDER BY k, v DESC")
      == "SELECT k, v FROM (SELECT k, v, row_number() OVER " +
         "(PARTITION BY k ORDER BY k NULLS LAST, v DESC NULLS FIRST) AS __gd_rn FROM t) __gd " +
         "WHERE __gd_rn = 1 ORDER BY k NULLS LAST, v DESC NULLS FIRST")
    // no ORDER BY: window orders by the keys
    assert(pg("SELECT DISTINCT ON (k) k, v FROM t")
      == "SELECT k, v FROM (SELECT k, v, row_number() OVER " +
         "(PARTITION BY k ORDER BY k NULLS LAST) AS __gd_rn FROM t) __gd WHERE __gd_rn = 1")
    // ORDER BY on an alias of a BARE column: the window (input scope)
    // substitutes the underlying column — Postgres ranks by the OUTPUT
    // alias, and leaving the alias in the window would silently rank by
    // a same-named base column where one exists
    assert(pg("SELECT DISTINCT ON (k) k, b AS x FROM t ORDER BY k, x DESC")
      == "SELECT k, x FROM (SELECT k, b AS x, row_number() OVER " +
         "(PARTITION BY k ORDER BY k NULLS LAST, b DESC NULLS FIRST) AS __gd_rn FROM t) __gd " +
         "WHERE __gd_rn = 1 ORDER BY k NULLS LAST, x DESC NULLS FIRST")
    // ORDER BY on an alias of an EXPRESSION: the substitution cannot be
    // proven deterministic at token level → untouched → loud (compute
    // the expression in a subquery; pg5 demonstrates)
    assert(pg("SELECT DISTINCT ON (k) k, v * 2 AS dv FROM t ORDER BY k, dv LIMIT 3")
      == "SELECT DISTINCT ON (k) k, v * 2 AS dv FROM t " +
         "ORDER BY k NULLS LAST, dv NULLS LAST LIMIT 3")
    // guards: star, unaliased expression, positional keys, set ops,
    // ORDER BY on a non-projected column — all untouched → loud
    assert(pg("SELECT DISTINCT ON (k) * FROM t")
      == "SELECT DISTINCT ON (k) * FROM t")
    assert(pg("SELECT DISTINCT ON (k) k, v + 1 FROM t")
      == "SELECT DISTINCT ON (k) k, v + 1 FROM t")
    assert(pg("SELECT DISTINCT ON (1) k, v FROM t")
      == "SELECT DISTINCT ON (1) k, v FROM t")
    assert(pg("SELECT DISTINCT ON (k) k FROM t UNION SELECT j FROM u")
      == "SELECT DISTINCT ON (k) k FROM t UNION SELECT j FROM u")
    assert(pg("SELECT DISTINCT ON (k) v FROM t ORDER BY k, ts")
      == "SELECT DISTINCT ON (k) v FROM t ORDER BY k NULLS LAST, ts NULLS LAST")
    // plain DISTINCT untouched
    assert(pg("SELECT DISTINCT k FROM t") == "SELECT DISTINCT k FROM t")
  }

  test("DISTINCT ON executes: latest row per key") {
    val df = Seq((1L, "2024-01-01", "old"), (1L, "2024-03-01", "new"),
      (2L, "2024-02-01", "only")).toDF("k", "day", "v")
      .selectExpr("k", "CAST(day AS date) AS day", "v")
    val out = g.transformLazy(
      """SELECT DISTINCT ON (k) k, v, day
        |FROM {{src}} ORDER BY k, day DESC""".stripMargin,
      Map("src" -> df), dialect = "postgres")
      .selectExpr("k", "v").as[(Long, String)].collect().toSeq
    assert(out == Seq((1L, "new"), (2L, "only")))
  }

  test("transformFile passes dialect through: a verbatim Postgres .sql file runs") {
    val df = Seq((1L, "a-1"), (2L, null), (3L, "c-3")).toDF("id", "tag")
    val f = java.nio.file.Files.createTempFile("graft-dialect", ".sql")
    java.nio.file.Files.writeString(f,
      """SELECT id::int8 AS id, tag
        |FROM {{src}} WHERE tag ~ '\d' OR tag IS NULL
        |ORDER BY tag DESC LIMIT 2""".stripMargin)
    // the file is NOT valid Spark SQL (:: cast, ~ regex); pg NULLS
    // default (DESC -> nulls first) picks the null row into the top 2
    val out = spark.table(
      g.transformFile(f.toString, Map("src" -> df), dialect = "postgres")
        .qualifiedName)
      .selectExpr("id").as[Long].collect().toSeq.sorted
    assert(out == Seq(2L, 3L))
  }

  test("NULLS ordering: pg/rs/sf defaults become explicit; ms/bq (Spark-like) untouched") {
    assert(pg("SELECT a FROM t ORDER BY a")
      == "SELECT a FROM t ORDER BY a NULLS LAST")
    assert(pg("SELECT a FROM t ORDER BY a DESC, b ASC, c")
      == "SELECT a FROM t ORDER BY a DESC NULLS FIRST, b ASC NULLS LAST, c NULLS LAST")
    // an explicit clause is respected (and keeps the pass idempotent)
    assert(pg("SELECT a FROM t ORDER BY a NULLS FIRST")
      == "SELECT a FROM t ORDER BY a NULLS FIRST")
    // LIMIT/OFFSET terminate the item list
    assert(pg("SELECT a FROM t ORDER BY a LIMIT 3 OFFSET 2")
      == "SELECT a FROM t ORDER BY a NULLS LAST LIMIT 3 OFFSET 2")
    // window-spec ORDER BY, with a frame clause terminating the items
    assert(pg("SELECT sum(v) OVER (PARTITION BY k ORDER BY d " +
        "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM t")
      == "SELECT sum(v) OVER (PARTITION BY k ORDER BY d NULLS LAST " +
        "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM t")
    // call items keep their paren scope; DESC detected after the ()
    assert(pg("SELECT a FROM t ORDER BY coalesce(a, b) DESC")
      == "SELECT a FROM t ORDER BY coalesce(a, b) DESC NULLS FIRST")
    // a subquery ORDER BY inside the statement annotates independently
    assert(pg("SELECT a FROM (SELECT a FROM t ORDER BY a DESC LIMIT 1) s ORDER BY a")
      == "SELECT a FROM (SELECT a FROM t ORDER BY a DESC NULLS FIRST LIMIT 1) s " +
        "ORDER BY a NULLS LAST")
    // Postgres USING <op> items stay untouched -> loud Spark error
    assert(pg("SELECT a FROM t ORDER BY a USING <, b")
      == "SELECT a FROM t ORDER BY a USING <, b NULLS LAST")
    // GROUP BY is not ORDER BY
    assert(pg("SELECT k, count(*) FROM t GROUP BY k")
      == "SELECT k, count(*) FROM t GROUP BY k")
    // mssql/bigquery share Spark's defaults: untouched
    assert(toSparkSql("SELECT a FROM t ORDER BY a", "mssql")
      == "SELECT a FROM t ORDER BY a")
    assert(toSparkSql("SELECT a FROM t ORDER BY a", "bigquery")
      == "SELECT a FROM t ORDER BY a")
    // snowflake/redshift share Postgres's defaults
    assert(toSparkSql("SELECT a FROM t ORDER BY a DESC", "snowflake")
      == "SELECT a FROM t ORDER BY a DESC NULLS FIRST")
    assert(toSparkSql("SELECT a FROM t ORDER BY a", "redshift")
      == "SELECT a FROM t ORDER BY a NULLS LAST")
  }

  test("NULLS ordering executes: pg DESC ranks nulls FIRST like Postgres") {
    val df = Seq((1L, Option(10L)), (2L, Option.empty[Long]), (3L, Option(5L)))
      .toDF("id", "v")
    // Spark's default (nulls LAST under DESC) would pick id=1; the pg
    // default the translator makes explicit picks the null row
    val out = g.transformLazy(
      "SELECT id FROM {{src}} ORDER BY v DESC LIMIT 1",
      Map("src" -> df), dialect = "postgres").as[Long].collect().toSeq
    assert(out == Seq(2L))
  }

  test("= ANY / <> ALL over array constructors rewrite to array_contains") {
    assert(pg("SELECT * FROM t WHERE id = ANY(ARRAY[1, 2, 3])")
      == "SELECT * FROM t WHERE array_contains(array(1, 2, 3), id)")
    assert(pg("SELECT * FROM t WHERE id <> ALL(ARRAY[1, 2])")
      == "SELECT * FROM t WHERE NOT array_contains(array(1, 2), id)")
    assert(pg("SELECT * FROM t WHERE name = ANY('{a, b, c}')")
      == "SELECT * FROM t WHERE array_contains(array('a', 'b', 'c'), name)")
    assert(pg("SELECT * FROM t WHERE id = ANY('{1,2,3}')")
      == "SELECT * FROM t WHERE array_contains(array(1, 2, 3), id)")
    // subquery operands: the SQL-standard IN / NOT IN identities
    assert(pg("SELECT * FROM t WHERE id = ANY(SELECT x FROM u)")
      == "SELECT * FROM t WHERE id  IN (SELECT x FROM u)")
    assert(pg("SELECT * FROM t WHERE id <> ALL(SELECT x FROM u)")
      == "SELECT * FROM t WHERE id  NOT IN (SELECT x FROM u)")
    // other operators, quoted items: untouched → loud
    assert(pg("SELECT * FROM t WHERE id > ANY(ARRAY[1, 2])")
      == "SELECT * FROM t WHERE id > ANY(ARRAY[1, 2])")
    assert(pg("SELECT * FROM t WHERE s = ANY('{''a'',b}')")
      == "SELECT * FROM t WHERE s = ANY('{''a'',b}')")
  }

  test("= ANY executes over int and string arrays") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
    val out = g.transformLazy(
      """SELECT id FROM {{src}}
        |WHERE id = ANY(ARRAY[1, 3]) OR s = ANY('{b}')
        |ORDER BY id""".stripMargin,
      Map("src" -> df), dialect = "postgres").as[Long].collect().toSeq
    assert(out == Seq(1L, 2L, 3L))
  }

  test("string_agg → listagg executes") {
    val df = Seq((1L, "b"), (1L, "a"), (2L, "c")).toDF("k", "v")
    val out = g.transformLazy(
      "SELECT k, string_agg(v, ',') AS vs FROM {{src}} GROUP BY k ORDER BY k",
      Map("src" -> df), dialect = "postgres")
      .as[(Long, String)].collect().toSeq
    assert(out.map(_._1) == Seq(1L, 2L))
    assert(out.head._2.split(",").sorted.toSeq == Seq("a", "b"))
  }
}
