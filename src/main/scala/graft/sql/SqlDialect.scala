package graft.sql

import scala.collection.mutable.ArrayBuffer

/** Dialect-flavored SQL → Spark SQL translation for the `transform` /
  * `run_raw_sql` surface.
  *
  * The reference passed dialect SQL through to whatever warehouse engine
  * backed the table (`sql/operators/transform.py:55-72` — no translation,
  * the engine's dialect IS the contract); on Spark the engine dialect is
  * Spark SQL, so users bringing warehouse-flavored queries need the
  * common dialect forms mapped. This is a TOKEN-level translator — it
  * never parses full SQL, it rewrites exactly the constructs whose
  * source spelling Spark rejects (or silently mis-reads), and passes
  * everything else through untouched (unknown constructs then fail with
  * Spark's own error, never silently change meaning):
  *
  *  - `expr::type` postfix casts (chained ok, `t.col::type` qualified
  *    chains and `arr[i]::type` subscripts ok) → `CAST(expr AS type)`,
  *    with Postgres type names mapped (int4/int8/float8/text/bool/
  *    bytea/timestamptz/"double precision"/"character varying"...);
  *    the same type map applies inside explicit `CAST(x AS int8)`.
  *  - `"quoted identifiers"` → Spark backtick identifiers (in Spark,
  *    double quotes are string literals).
  *  - `$tag$dollar-quoted strings$tag$` → standard quoted literals.
  *  - `E'...'` escape strings (Postgres): the C-style escapes are
  *    DECODED at lex time (\n, \t, \\, \', \xHH, octal, \uXXXX,
  *    \UXXXXXXXX) and re-emitted as a plain literal.
  *  - standard-conforming string literals (Postgres/Redshift treat a
  *    backslash in '...' as a LITERAL character; Spark processes it as
  *    an escape): backslashes are doubled once, at final emission, so
  *    `a ~ '\d+'` reaches RLIKE with the pattern `\d+` intact.
  *  - regex operators: `a ~ p` → `a RLIKE p`, `a !~ p` → `a NOT RLIKE
  *    p`, `a ~* p` → `a RLIKE concat('(?i)', p)` (the Java inline
  *    case-insensitivity flag — upper()-wrapping would invert regex
  *    escape classes like \d/\D) and the `!~*` negation. Unary bitwise
  *    `~` is left alone (operand-context detection).
  *  - function renames: `now()` → `current_timestamp()`, `random()` →
  *    `rand()`, `strpos` → `instr`, `string_agg` → `listagg`,
  *    `to_char(ts, 'fmt')` → `date_format(ts, '<mapped fmt>')` with the
  *    Postgres format tokens (YYYY/MM/DD/HH24/MI/SS/MONTH/Month/Day/
  *    DY/...) mapped to java.time patterns when the format is a
  *    literal. Case-variant spelled-out names (MONTH vs Month) all map
  *    to the same java pattern — java.time always emits capitalized
  *    names, so all-caps Postgres output ("JANUARY") comes back
  *    capitalized ("January"); documented approximation.
  *  - `ILIKE`, `||` concat, `IS DISTINCT FROM`, `LIMIT/OFFSET`,
  *    `SUBSTRING(x FROM y FOR z)`, `POSITION(a IN b)`, `split_part`,
  *    `left`/`right` need no rewrite — Spark 4 accepts them natively —
  *    and are covered by SqlDialectSpec so the pass-through stays pinned.
  *
  *  - `FROM generate_series(a, b[, step])` (with optional alias/column
  *    alias) → `(SELECT explode(sequence(a, b, step)) AS col) alias`;
  *    a missing step becomes an explicit `, 1` so Postgres's
  *    empty-descending-range semantics fail loudly instead of Spark's
  *    sequence silently inferring a negative step.
  *  - `expr [NOT] SIMILAR TO 'pattern'` → anchored RLIKE with the SQL
  *    regex converted (`%`→`.*`, `_`→`.`, literal `.`/`^`/`$` escaped,
  *    `|`/`*`/`+`/`?`/`{}`/`()`/`[]` kept, `\x` → literal x).
  *
  *  - `expr = ANY(ARRAY[…] | '{…}')` → `array_contains(array(…),
  *    expr)` and `expr <> ALL(…)` → its negation; `SELECT DISTINCT ON
  *    (keys)` → a rank-1 row_number window filter (both guarded — see
  *    [[rewriteAnyAllArray]] / [[rewriteDistinctOn]]).
  *
  *  - ORDER BY null ordering: Postgres/Redshift/Snowflake default
  *    NULLS LAST under ASC / NULLS FIRST under DESC — the opposite of
  *    Spark — so every translated ORDER BY item without an explicit
  *    NULLS clause gets the source dialect's default appended
  *    ([[rewriteNullsOrdering]]; mssql/bigquery share Spark's defaults
  *    and stay untouched).
  *
  * Documented out of scope (pass through unchanged, Spark errors):
  * projection-position `generate_series`, `FROM t, generate_series(...)`
  * comma lists, `SIMILAR TO` with a non-literal pattern or an ESCAPE
  * clause, `ANY/ALL` with other operators or subqueries or quoted
  * array-literal items, DISTINCT ON forms failing the meaning-
  * preservation guards, T-SQL `TOP n PERCENT` / `TOP n WITH TIES`
  * forms failing [[rewriteTopTies]]'s guards (no ORDER BY, DISTINCT
  * quantifier, underivable output names, set-operation scope),
  * and `TOP n` directly over a set operation (UNION/INTERSECT/EXCEPT).
  */
object SqlDialect {

  /** Translate `sql` from `dialect` to Spark SQL — one entry per
    * warehouse the reference SDK supported:
    *  - "spark"/"ansi": identity.
    *  - "postgres"/"postgresql": the base machinery + `E'...'` escape
    *    strings + literal-backslash standard strings.
    *  - "snowflake" (the reference's primary warehouse): `QUALIFY` →
    *    guarded subquery + WHERE restatement ([[rewriteQualify]],
    *    shared with redshift); adds IFF/
    *    GETDATE/DATEADD/DATEDIFF/TO_VARCHAR/ZEROIFNULL/NULLIFZERO and
    *    the NUMBER/TIMESTAMP_LTZ type names. DATEDIFF translates to
    *    BOUNDARY-crossing arithmetic (date_trunc both args, then
    *    timestampdiff) because Snowflake counts date-part boundaries,
    *    not complete elapsed intervals. Snowflake strings process
    *    backslash escapes exactly like Spark's, so literals pass
    *    through unchanged.
    *  - "redshift": Redshift IS Postgres-dialect-based (regex ops,
    *    `::`, standard-conforming strings per its
    *    standard_conforming_strings=on default) and also uses the
    *    GETDATE/DATEADD/DATEDIFF call forms; adds bare-part
    *    DATE_PART quoting + canonicalization and bare SYSDATE (note
    *    Redshift reads bare `m` as MINUTE — month is mon/months).
    *    LISTAGG ... WITHIN GROUP passes through natively (Spark 4
    *    accepts it; pinned in spec).
    *  - "bigquery": SAFE_CAST/SAFE_DIVIDE → try_*, FORMAT_DATE/
    *    FORMAT_TIMESTAMP (strftime tokens, format-first arg order),
    *    TIMESTAMP_DIFF/DATE_DIFF (end-minus-start arg reorder),
    *    DATE_ADD/DATE_SUB with INTERVAL → `+`/`-` arithmetic,
    *    ARRAY_LENGTH → size, INT64/FLOAT64/BYTES type names; double
    *    quotes lex as STRINGS (BigQuery semantics), backtick
    *    identifiers are already Spark-native.
    *  - "mssql"/"sqlserver" (the reference supported MSSQL,
    *    `databases/mssql.py:277-430`): `[bracket]` identifiers,
    *    `SELECT TOP n` → trailing `LIMIT n` (plain n or (expr));
    *    `TOP n WITH TIES` → a rank() window filter and `TOP n PERCENT
    *    [WITH TIES]` → a row_number()/rank() + count-over window filter
    *    with a CEILING row budget ([[rewriteTopTies]], guarded — forms
    *    failing the guards and set-operation scopes are left untouched
    *    → loud Spark error), 2-arg ISNULL → coalesce, IIF → if, GETDATE/
    *    SYSDATETIME, DATEADD/DATEDIFF (boundary semantics like
    *    Snowflake — T-SQL DATEDIFF also counts boundary crossings;
    *    `week` is EXCLUDED from the rewrite because T-SQL counts
    *    SUNDAY crossings where date_trunc is Monday-based — loud),
    *    DATEPART with a bare OR quoted part canonicalized through the
    *    T-SQL alias map (m=MONTH, n=MINUTE; w/y/dy have
    *    function-dependent meanings and stay unmapped → loud),
    *    LEN → length, CHARINDEX → locate (same argument order),
    *    the T-SQL type names (datetime/datetime2/bit/nvarchar/...),
    *    and literal-backslash strings (T-SQL never processes backslash
    *    escapes, so `'C:\temp'` survives verbatim).
    */
  def toSparkSql(sql: String, dialect: String): String =
    dialect.toLowerCase match {
      case "spark" | "ansi" | "" => sql
      case "postgres" | "postgresql" => translate(sql, Pg)
      case "snowflake" => translate(sql, Sf)
      case "redshift" => translate(sql, Rs)
      case "bigquery" => translate(sql, Bq)
      case "mssql" | "sqlserver" => translate(sql, Ms)
      case other => throw new IllegalArgumentException(
        s"Unsupported SQL dialect: $other " +
          "(supported: spark, postgres, redshift, snowflake, bigquery, mssql)")
    }

  /** Capability profile of a dialect mode (one value per dialect; the
    * passes branch on capabilities, not on dialect names). */
  private final case class Mode(
      name: String,
      /** BigQuery: double-quoted tokens are strings, not identifiers. */
      dqAsString: Boolean = false,
      /** Postgres: `E'...'` escape strings (decoded at lex time). */
      eStrings: Boolean = false,
      /** Postgres/Redshift standard-conforming strings: a backslash in
        * a literal is a literal character — doubled once at final
        * emission so Spark's escape processing restores it. */
      literalBackslashes: Boolean = false,
      /** Snowflake-family call forms (IFF/GETDATE/DATEADD/DATEDIFF/...). */
      sfCalls: Boolean = false,
      /** BigQuery call forms (SAFE_CAST, FORMAT_DATE, the DIFF/ADD family). */
      bqCalls: Boolean = false,
      /** T-SQL call forms (ISNULL/IIF/LEN/CHARINDEX/TOP/...). */
      msCalls: Boolean = false,
      /** T-SQL `[bracket]` identifiers. */
      bracketIdents: Boolean = false,
      /** Redshift/T-SQL: quote a bare part name in DATE_PART/DATEPART. */
      bareDatePart: Boolean = false,
      /** Redshift: bare SYSDATE keyword. */
      bareSysdate: Boolean = false,
      /** Postgres-family extras: `FROM generate_series(...)` →
        * explode(sequence(...)) subquery, `SIMILAR TO` → anchored RLIKE. */
      pgExtras: Boolean = false,
      /** Postgres only: `SELECT DISTINCT ON (keys) …` → row_number
        * window + rank-1 filter (guarded; see [[rewriteDistinctOn]]). */
      distinctOn: Boolean = false,
      /** Postgres/Redshift/Snowflake default NULL ordering — NULLS LAST
        * for ASC, NULLS FIRST for DESC — is the OPPOSITE of Spark's
        * (and T-SQL's/BigQuery's, which match Spark): every translated
        * ORDER BY item without an explicit NULLS clause gets the source
        * dialect's default made explicit (see [[rewriteNullsOrdering]]). */
      pgNullsOrder: Boolean = false,
      /** Snowflake/Redshift `QUALIFY pred` → guarded subquery + WHERE
        * restatement (see [[rewriteQualify]]). */
      qualifyClause: Boolean = false)

  private val Pg = Mode("postgres", eStrings = true, literalBackslashes = true,
    pgExtras = true, distinctOn = true, pgNullsOrder = true)
  private val Sf = Mode("snowflake", sfCalls = true, pgNullsOrder = true,
    qualifyClause = true)
  private val Rs = Mode("redshift", literalBackslashes = true, sfCalls = true,
    bareDatePart = true, bareSysdate = true, pgExtras = true,
    pgNullsOrder = true, qualifyClause = true)
  private val Bq = Mode("bigquery", dqAsString = true, bqCalls = true)
  // T-SQL string literals never process backslash escapes — '\t' is a
  // literal backslash-t there ('C:\temp\new' must survive verbatim), so
  // mssql needs the same final-emission backslash doubling as Pg/Rs
  private val Ms = Mode("mssql", literalBackslashes = true, sfCalls = true,
    msCalls = true, bracketIdents = true, bareDatePart = true)

  // ------------------------------------------------------------------
  // tokens
  // ------------------------------------------------------------------
  private sealed trait Tok { def text: String }
  private final case class Word(text: String) extends Tok
  private final case class Num(text: String) extends Tok
  private final case class Str(text: String) extends Tok   // quoted, Spark form
  private final case class QIdent(text: String) extends Tok // backticked, Spark form
  private final case class Sym(text: String) extends Tok
  private final case class Ws(text: String) extends Tok
  /** Already-rewritten Spark SQL fragment — opaque to later passes. */
  private final case class Raw(text: String) extends Tok

  private val multiSyms = Seq("!~*", "!~", "~*", "::", "||", "<=", ">=", "<>", "!=")

  /** Lex dialect SQL. Strings and quoted identifiers are converted to
    * their SPARK spelling at lex time ('' stays '', `"x"` → `` `x` ``
    * — or to a string when `dqAsString` (BigQuery semantics) — E'...'
    * escape strings decode to plain literals, `[x]` → `` `x` `` when
    * `bracketIdents`, dollar-quoting → single quotes with doubling). */
  private def lex(sql: String, dqAsString: Boolean = false,
      eStrings: Boolean = false, bracketIdents: Boolean = false): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = sql.length
    def isWordStart(c: Char) = c.isLetter || c == '_'
    def isWordPart(c: Char) = c.isLetterOrDigit || c == '_' || c == '$'
    while (i < n) {
      val c = sql(i)
      if (c.isWhitespace) {
        val j = { var k = i; while (k < n && sql(k).isWhitespace) k += 1; k }
        out += Ws(sql.substring(i, j)); i = j
      } else if (c == '-' && i + 1 < n && sql(i + 1) == '-') {
        val j = sql.indexOf('\n', i) match { case -1 => n; case x => x }
        out += Ws(sql.substring(i, j)); i = j
      } else if (c == '/' && i + 1 < n && sql(i + 1) == '*') {
        // Postgres block comments nest
        var depth = 1; var j = i + 2
        while (j < n && depth > 0) {
          if (j + 1 < n && sql(j) == '/' && sql(j + 1) == '*') { depth += 1; j += 2 }
          else if (j + 1 < n && sql(j) == '*' && sql(j + 1) == '/') { depth -= 1; j += 2 }
          else j += 1
        }
        out += Ws(sql.substring(i, j)); i = j
      } else if (eStrings && (c == 'E' || c == 'e') && i + 1 < n && sql(i + 1) == '\'') {
        // Postgres escape string: decode the C-style escapes into the
        // actual characters; the final-emission backslash doubling (the
        // literalBackslashes pass) then re-protects any literal
        // backslash the decode produced.
        val (body, next) = decodeEscapeString(sql, i + 1)
        out += Str("'" + body.replace("'", "''") + "'"); i = next
      } else if (c == '\'') {
        var j = i + 1
        val b = new StringBuilder
        var closed = false
        while (j < n && !closed) {
          if (sql(j) == '\'' && j + 1 < n && sql(j + 1) == '\'') { b.append("''"); j += 2 }
          else if (sql(j) == '\'') { closed = true; j += 1 }
          else { b.append(sql(j)); j += 1 }
        }
        if (!closed) throw new IllegalArgumentException(
          s"Unterminated string literal at offset $i")
        out += Str("'" + b.toString + "'"); i = j
      } else if (c == '`') {
        // backtick identifier (our OWN output on a fixpoint re-lex):
        // pass through verbatim, `` stays the escape
        var j = i + 1
        var closed = false
        while (j < n && !closed) {
          if (sql(j) == '`' && j + 1 < n && sql(j + 1) == '`') j += 2
          else if (sql(j) == '`') { closed = true; j += 1 }
          else j += 1
        }
        if (!closed) throw new IllegalArgumentException(
          s"Unterminated backtick identifier at offset $i")
        out += QIdent(sql.substring(i, j)); i = j
      } else if (c == '"') {
        var j = i + 1
        val b = new StringBuilder
        var closed = false
        while (j < n && !closed) {
          if (sql(j) == '"' && j + 1 < n && sql(j + 1) == '"') { b.append('"'); j += 2 }
          else if (sql(j) == '"') { closed = true; j += 1 }
          else { b.append(sql(j)); j += 1 }
        }
        if (!closed) throw new IllegalArgumentException(
          s"Unterminated double-quoted token at offset $i")
        if (dqAsString) out += Str("'" + b.toString.replace("'", "''") + "'")
        else out += QIdent("`" + b.toString.replace("`", "``") + "`")
        i = j
      } else if (bracketIdents && c == '[') {
        // T-SQL bracket identifier; ]] is the escape for ]
        var j = i + 1
        val b = new StringBuilder
        var closed = false
        while (j < n && !closed) {
          if (sql(j) == ']' && j + 1 < n && sql(j + 1) == ']') { b.append(']'); j += 2 }
          else if (sql(j) == ']') { closed = true; j += 1 }
          else { b.append(sql(j)); j += 1 }
        }
        if (!closed) throw new IllegalArgumentException(
          s"Unterminated bracket identifier at offset $i")
        out += QIdent("`" + b.toString.replace("`", "``") + "`")
        i = j
      } else if (c == '$' && {
        // dollar-quoted string: $tag$ ... $tag$ (tag may be empty)
        val e = sql.indexOf('$', i + 1)
        e > i && sql.substring(i + 1, e).forall(ch => ch.isLetterOrDigit || ch == '_')
      }) {
        val e = sql.indexOf('$', i + 1)
        val delim = sql.substring(i, e + 1)
        val close = sql.indexOf(delim, e + 1)
        if (close < 0) throw new IllegalArgumentException(
          s"Unterminated dollar-quoted string at offset $i")
        val body = sql.substring(e + 1, close)
        out += Str("'" + body.replace("'", "''") + "'")
        i = close + delim.length
      } else if (c.isDigit || (c == '.' && i + 1 < n && sql(i + 1).isDigit)) {
        var j = i
        while (j < n && (sql(j).isDigit || sql(j) == '.')) j += 1
        if (j < n && (sql(j) == 'e' || sql(j) == 'E')) {
          var k = j + 1
          if (k < n && (sql(k) == '+' || sql(k) == '-')) k += 1
          if (k < n && sql(k).isDigit) { while (k < n && sql(k).isDigit) k += 1; j = k }
        }
        out += Num(sql.substring(i, j)); i = j
      } else if (isWordStart(c)) {
        var j = i + 1
        while (j < n && isWordPart(sql(j))) j += 1
        out += Word(sql.substring(i, j)); i = j
      } else {
        multiSyms.find(s => sql.startsWith(s, i)) match {
          case Some(s) => out += Sym(s); i += s.length
          case None => out += Sym(c.toString); i += 1
        }
      }
    }
    out.result()
  }

  /** Decode a Postgres `E'...'` body starting at the opening quote
    * (index `start` = the `'`): returns (decoded body, index past the
    * closing quote). Escapes per the Postgres lexer: \b \f \n \r \t,
    * \o/\oo/\ooo octal, \xh/\xhh hex, \uXXXX, \UXXXXXXXX, \\ → \,
    * \' → ', '' → ', any other \c → c. */
  private def decodeEscapeString(sql: String, start: Int): (String, Int) = {
    val n = sql.length
    val b = new StringBuilder
    var j = start + 1
    while (j < n) {
      val c = sql(j)
      if (c == '\'') {
        if (j + 1 < n && sql(j + 1) == '\'') { b.append('\''); j += 2 }
        else return (b.toString, j + 1)
      } else if (c == '\\' && j + 1 < n) {
        val e = sql(j + 1)
        e match {
          case 'b' => b.append('\b'); j += 2
          case 'f' => b.append('\f'); j += 2
          case 'n' => b.append('\n'); j += 2
          case 'r' => b.append('\r'); j += 2
          case 't' => b.append('\t'); j += 2
          case 'x' =>
            var k = j + 2; var v = 0; var used = 0
            while (k < n && used < 2 && Character.digit(sql(k), 16) >= 0) {
              v = v * 16 + Character.digit(sql(k), 16); k += 1; used += 1
            }
            if (used == 0) { b.append('x'); j += 2 }
            else { b.append(v.toChar); j = k }
          case 'u' | 'U' =>
            val want = if (e == 'u') 4 else 8
            var k = j + 2; var v = 0; var used = 0
            while (k < n && used < want && Character.digit(sql(k), 16) >= 0) {
              v = v * 16 + Character.digit(sql(k), 16); k += 1; used += 1
            }
            if (used != want) { b.append(e); j += 2 }
            else { b.appendAll(Character.toChars(v)); j = k }
          case o if o >= '0' && o <= '7' =>
            var k = j + 1; var v = 0; var used = 0
            while (k < n && used < 3 && sql(k) >= '0' && sql(k) <= '7') {
              v = v * 8 + (sql(k) - '0'); k += 1; used += 1
            }
            b.append(v.toChar); j = k
          case other => b.append(other); j += 2
        }
      } else { b.append(c); j += 1 }
    }
    throw new IllegalArgumentException(
      s"Unterminated escape string literal at offset ${start - 1}")
  }

  // ------------------------------------------------------------------
  // rewrites
  // ------------------------------------------------------------------

  /** Postgres → Spark type-name map (applied to `::type` and the type
    * position of explicit CASTs). Unlisted names pass through. */
  private val typeMap = Map(
    "int2" -> "smallint", "int4" -> "int", "int8" -> "bigint",
    "serial" -> "int", "bigserial" -> "bigint",
    "float4" -> "float", "float8" -> "double",
    "real" -> "float",
    "text" -> "string", "bpchar" -> "string", "name" -> "string",
    "bool" -> "boolean",
    "bytea" -> "binary",
    "timestamptz" -> "timestamp",
    // Snowflake spellings (only ever consulted in type positions)
    "number" -> "decimal",
    "timestamp_ltz" -> "timestamp", "timestamp_tz" -> "timestamp",
    // BigQuery spellings
    "int64" -> "bigint", "float64" -> "double", "bytes" -> "binary",
    "numeric" -> "decimal")

  /** T-SQL type names, consulted only under the mssql mode (`bit` is a
    * bit-STRING type in Postgres — mode-gated to avoid collisions). */
  private val msTypeMap = Map(
    "datetime" -> "timestamp", "datetime2" -> "timestamp",
    "smalldatetime" -> "timestamp", "datetimeoffset" -> "timestamp",
    "bit" -> "boolean",
    "nvarchar" -> "varchar", "nchar" -> "char", "ntext" -> "string",
    "uniqueidentifier" -> "string",
    "money" -> "decimal(19,4)", "smallmoney" -> "decimal(10,4)")

  /** Two-word Postgres type names (checked before the one-word map). */
  private val twoWordTypes = Map(
    ("double", "precision") -> "double",
    ("character", "varying") -> "string")

  private val fnRename = Map(
    "now" -> "current_timestamp",
    "random" -> "rand",
    "strpos" -> "instr",
    "string_agg" -> "listagg")

  /** Snowflake-family straight renames (arity-compatible); ZEROIFNULL /
    * NULLIFZERO / TO_VARCHAR / DATEADD / DATEDIFF need argument
    * rewrites and are handled structurally in pass 3. */
  private val snowflakeFnRename = Map(
    "iff" -> "if",
    "getdate" -> "current_timestamp",
    "systimestamp" -> "current_timestamp")

  /** T-SQL straight renames (arity-compatible; CHARINDEX(find, in[,
    * start]) and locate(substr, str[, pos]) share an argument order). */
  private val mssqlFnRename = Map(
    "iif" -> "if",
    "len" -> "length",
    "charindex" -> "locate",
    "sysdatetime" -> "current_timestamp",
    "newid" -> "uuid")

  /** BigQuery straight renames (arity-compatible); FORMAT_DATE /
    * *_DIFF / *_ADD / *_SUB need argument rewrites — pass 3. */
  private val bigqueryFnRename = Map(
    "safe_cast" -> "try_cast",
    "safe_divide" -> "try_divide",
    "array_length" -> "size",
    "generate_uuid" -> "uuid",
    "current_datetime" -> "current_timestamp",
    "ifnull" -> "coalesce")

  /** Date-part alias canonicalization (Snowflake / Redshift / T-SQL
    * spellings → the unit names Spark's timestampadd/timestampdiff/
    * date_trunc accept) — the aliases whose meaning AGREES across the
    * three dialects. Unknown aliases leave the whole call untranslated —
    * loud Spark error, never a silent guess. The single-letter aliases
    * whose meaning DIVERGES are per-mode ([[datePartCanonFor]]). */
  private val datePartCanon = Map(
    "year" -> "year", "yy" -> "year", "yyy" -> "year",
    "yyyy" -> "year", "yr" -> "year", "yrs" -> "year", "years" -> "year",
    "quarter" -> "quarter", "q" -> "quarter", "qq" -> "quarter",
    "qtr" -> "quarter", "qtrs" -> "quarter", "quarters" -> "quarter",
    "month" -> "month", "mm" -> "month", "mon" -> "month",
    "mons" -> "month", "months" -> "month",
    "week" -> "week", "wk" -> "week", "ww" -> "week",
    "weeks" -> "week", "weekofyear" -> "week", "woy" -> "week", "wy" -> "week",
    "day" -> "day", "d" -> "day", "dd" -> "day", "days" -> "day",
    "dayofmonth" -> "day",
    "hour" -> "hour", "h" -> "hour", "hh" -> "hour", "hr" -> "hour",
    "hrs" -> "hour", "hours" -> "hour",
    "minute" -> "minute", "mi" -> "minute", "min" -> "minute",
    "mins" -> "minute", "minutes" -> "minute",
    "second" -> "second", "s" -> "second", "ss" -> "second",
    "sec" -> "second", "secs" -> "second", "seconds" -> "second")

  /** The mode's full alias map. The divergent aliases: T-SQL reads `m`
    * as MONTH and `n` as MINUTE, while Snowflake/Redshift read `m` as
    * MINUTE (their month spellings are mm/mon/months); T-SQL reads `w`
    * as WEEKDAY and `y`/`dy` as DAYOFYEAR — and its DATEADD even
    * re-reads those as plain days — so in mssql mode `w`/`y`/`dy` stay
    * unmapped and fail LOUDLY rather than guess a function-dependent
    * meaning. */
  private def datePartCanonFor(mode: Mode): Map[String, String] =
    if (mode.msCalls) datePartCanon ++ Map("m" -> "month", "n" -> "minute")
    else datePartCanon ++ Map(
      "m" -> "minute", "w" -> "week", "y" -> "year",
      // Redshift/Snowflake day-of-week and day-of-year families —
      // their dow (0 = Sunday) matches Spark's date_part('dow')
      // exactly, and doy is calendar-day-of-year everywhere. T-SQL's
      // dw/weekday are DATEFIRST-dependent and its y/dy mean
      // dayofyear, so the mssql branch maps NONE of these (loud).
      "dow" -> "dow", "dw" -> "dow", "dayofweek" -> "dow",
      "weekday" -> "dow",
      "doy" -> "doy", "dy" -> "doy", "dayofyear" -> "doy",
      "yday" -> "doy")

  /** BigQuery strftime-style format tokens → java.time patterns. */
  private val strftimeTokens = Seq(
    "%Y" -> "yyyy", "%y" -> "yy", "%m" -> "MM", "%d" -> "dd",
    "%e" -> "d", "%H" -> "HH", "%I" -> "hh", "%M" -> "mm", "%S" -> "ss",
    "%j" -> "DDD", "%b" -> "MMM", "%B" -> "MMMM", "%a" -> "EEE",
    "%A" -> "EEEE", "%p" -> "a", "%Z" -> "z", "%%" -> "%")

  private def mapStrftimeFormat(lit: String): String = {
    val body = lit.substring(1, lit.length - 1)
    val b = new StringBuilder
    var i = 0
    while (i < body.length) {
      strftimeTokens.find { case (t, _) => body.startsWith(t, i) } match {
        case Some((t, jt)) => b.append(jt); i += t.length
        case None =>
          val c = body.charAt(i)
          if (c.isLetter) b.append('\'').append(c).append('\'') else b.append(c)
          i += 1
      }
    }
    "'" + b.toString + "'"
  }

  /** Postgres to_char patterns → java.time patterns, longest-first
    * (MONTH before MON; the all-caps spellings map to the same java
    * pattern as the capitalized ones — java.time has no case-variant
    * output, the documented approximation). */
  private val toCharTokens = Seq(
    "MONTH" -> "MMMM", "Month" -> "MMMM", "month" -> "MMMM",
    "HH24" -> "HH", "HH12" -> "hh", "YYYY" -> "yyyy",
    "MON" -> "MMM", "Mon" -> "MMM", "mon" -> "MMM",
    "DDD" -> "DDD",
    "DAY" -> "EEEE", "Day" -> "EEEE", "day" -> "EEEE",
    "DY" -> "EEE", "Dy" -> "EEE", "dy" -> "EEE",
    "MS" -> "SSS", "YY" -> "yy", "MM" -> "MM",
    "DD" -> "dd", "MI" -> "mm", "SS" -> "ss", "TZ" -> "z", "AM" -> "a",
    "PM" -> "a")

  private def mapToCharFormat(lit: String): String = {
    // lit includes the surrounding quotes
    val body = lit.substring(1, lit.length - 1)
    val b = new StringBuilder
    var i = 0
    while (i < body.length) {
      toCharTokens.find { case (pg, _) => body.startsWith(pg, i) } match {
        case Some((pg, jt)) => b.append(jt); i += pg.length
        case None =>
          val c = body.charAt(i)
          // literal text in a java.time pattern must be quoted if alpha
          if (c.isLetter) b.append('\'').append(c).append('\'') else b.append(c)
          i += 1
      }
    }
    "'" + b.toString + "'"
  }

  /** Keywords that can directly precede a unary operator — a `~` after
    * one of these is bitwise NOT, not the binary regex match. */
  private val preUnaryKeywords = Set(
    "select", "where", "and", "or", "not", "on", "when", "then", "else",
    "case", "end", "by", "having", "from", "join", "in", "like", "ilike",
    "between", "is", "as", "union", "all", "distinct", "intersect",
    "except", "limit", "offset", "order", "group", "values", "set",
    "exists", "any", "some", "returning")

  private def isOperandEnd(t: Tok): Boolean = t match {
    case Word(w) => !preUnaryKeywords.contains(w.toLowerCase)
    case Num(_) | Str(_) | QIdent(_) | Raw(_) => true
    case Sym(")") | Sym("]") => true
    case _ => false
  }

  /** Index of the previous/next non-whitespace token, or -1. */
  private def prevIdx(ts: ArrayBuffer[Tok], i: Int): Int = {
    var j = i - 1; while (j >= 0 && ts(j).isInstanceOf[Ws]) j -= 1; j
  }
  private def nextIdx(ts: ArrayBuffer[Tok], i: Int): Int = {
    var j = i + 1; while (j < ts.length && ts(j).isInstanceOf[Ws]) j += 1
    if (j < ts.length) j else -1
  }

  /** Scan back from a closing bracket at `end` (")" or "]") to its
    * matching opener; returns the opener index. */
  private def matchBack(ts: ArrayBuffer[Tok], end: Int,
      open: String, close: String): Int = {
    var depth = 1; var j = end - 1
    while (j >= 0 && depth > 0) {
      ts(j) match {
        case Sym(`close`) => depth += 1
        case Sym(`open`) => depth -= 1
        case _ =>
      }
      if (depth > 0) j -= 1
    }
    if (j < 0) throw new IllegalArgumentException(s"Unbalanced '$open$close'")
    j
  }

  /** Keywords that type the string literal after them (DATE '2024-01-01'
    * — the form SqlTemplate binds a date or timestamp in): keyword and
    * string are one operand. */
  private val typedLiteralKeywords = Set("date", "timestamp", "timestamp_ntz",
    "timestamp_ltz", "interval")

  /** Start index of the primary expression ENDING at `end` (inclusive):
    * a single atom, a typed literal (DATE '...'), a balanced (...) group,
    * a function call name(...), an array subscript base[...] — then
    * absorbing any qualified `<ident> .` chain to the left (t.col,
    * db.schema.fn(x)). Used by the `::` and `~*` rewrites. */
  private def primaryStart(ts: ArrayBuffer[Tok], end: Int): Int = {
    val base = ts(end) match {
      case Str(_) =>
        val p = prevIdx(ts, end)
        ts.lift(p) match {
          case Some(Word(w)) if typedLiteralKeywords.contains(w.toLowerCase) => p
          case _ => end
        }
      case Sym(")") =>
        val j = matchBack(ts, end, "(", ")")
        val p = prevIdx(ts, j)
        // a preceding non-keyword Word is the call's function name; a
        // keyword (SELECT/WHERE/AND/...) means the group stands alone
        ts.lift(p) match {
          case Some(Word(w)) if !preUnaryKeywords.contains(w.toLowerCase) => p
          case Some(QIdent(_)) => p
          case _ => j
        }
      case Sym("]") =>
        // array subscript: the subscripted primary precedes the '['
        val j = matchBack(ts, end, "[", "]")
        val p = prevIdx(ts, j)
        if (p < 0) j else primaryStart(ts, p)
      case _ => end
    }
    // absorb a qualification chain: <ident> '.' <current start>
    var start = base
    var dot = prevIdx(ts, start)
    while (dot >= 0 && ts(dot) == Sym(".") && {
      val q = prevIdx(ts, dot)
      q >= 0 && (ts(q) match {
        case Word(w) => !preUnaryKeywords.contains(w.toLowerCase)
        case QIdent(_) => true
        case _ => false
      })
    }) {
      start = prevIdx(ts, dot)
      dot = prevIdx(ts, start)
    }
    start
  }

  /** End index of the primary expression STARTING at `start` (inclusive):
    * an atom, a parenthesized group, or name(...) — then absorbing any
    * `.` qualification chain and `[...]` subscripts to the right
    * (t.col, t.arr[1], schema.fn(x)). */
  private def primaryEnd(ts: ArrayBuffer[Tok], start: Int): Int = {
    def balancedEnd(from: Int, open: String, close: String): Int = {
      var depth = 1; var j = from + 1
      while (j < ts.length && depth > 0) {
        ts(j) match {
          case Sym(`open`) => depth += 1
          case Sym(`close`) => depth -= 1
          case _ =>
        }
        if (depth > 0) j += 1
      }
      if (j >= ts.length) throw new IllegalArgumentException(s"Unbalanced '$open$close'")
      j
    }
    var end = ts(start) match {
      case Sym("(") => balancedEnd(start, "(", ")")
      case Word(_) | QIdent(_) =>
        val nx = nextIdx(ts, start)
        if (nx >= 0 && ts(nx) == Sym("(")) balancedEnd(nx, "(", ")") else start
      case _ => start
    }
    // absorb rightward: '.' <ident> (possibly a call), '[' subscript ']'
    var go = true
    while (go) {
      val nx = nextIdx(ts, end)
      if (nx >= 0 && ts(nx) == Sym(".")) {
        val after = nextIdx(ts, nx)
        val ok = after >= 0 && (ts(after) match {
          case Word(_) | QIdent(_) => true
          case _ => false
        })
        if (ok) {
          end = after
          val call = nextIdx(ts, end)
          if (call >= 0 && ts(call) == Sym("(")) end = balancedEnd(call, "(", ")")
        } else go = false
      } else if (nx >= 0 && ts(nx) == Sym("[")) {
        end = balancedEnd(nx, "[", "]")
      } else go = false
    }
    end
  }

  private def text(ts: collection.Seq[Tok]): String = ts.map(_.text).mkString

  /** Replace ts[from..to] (inclusive) with one Raw token. */
  private def splice(ts: ArrayBuffer[Tok], from: Int, to: Int, raw: String): Unit = {
    ts.remove(from, to - from + 1)
    ts.insert(from, Raw(raw))
  }

  /** Index of the first depth-0 comma between `open` (a "(") and its
    * matching `close`, or -1. */
  private def topLevelComma(ts: ArrayBuffer[Tok], open: Int, close: Int): Int = {
    var depth = 0; var j = open + 1
    while (j < close) {
      ts(j) match {
        case Sym("(") => depth += 1
        case Sym(")") => depth -= 1
        case Sym(",") if depth == 0 => return j
        case _ =>
      }
      j += 1
    }
    -1
  }

  /** Consume a type name at `i` (skipping nothing — callers pass a
    * non-ws index): returns (mapped Spark type text, last index used). */
  private def mapTypeAt(ts: ArrayBuffer[Tok], i: Int, mode: Mode): (String, Int) = {
    val w1 = ts(i) match {
      case Word(t) => t
      case other => throw new IllegalArgumentException(
        s"Expected a type name after ::, got '${other.text}'")
    }
    val n1 = nextIdx(ts, i)
    // two-word types
    if (n1 >= 0) ts(n1) match {
      case Word(w2) if twoWordTypes.contains((w1.toLowerCase, w2.toLowerCase)) =>
        return (twoWordTypes((w1.toLowerCase, w2.toLowerCase)), n1)
      case _ =>
    }
    val base = lookupType(w1, mode).getOrElse(w1)
    // parenthesized precision: varchar(10), decimal(10,2)
    if (n1 >= 0 && ts(n1) == Sym("(")) {
      val close = primaryEnd(ts, n1)
      (base + text(ts.slice(n1, close + 1)), close)
    } else (base, i)
  }

  private def lookupType(name: String, mode: Mode): Option[String] = {
    val l = name.toLowerCase
    if (mode.msCalls) msTypeMap.get(l).orElse(typeMap.get(l))
    else typeMap.get(l)
  }

  /** Run single-pass translation to a fixpoint: a pass's rewrites emit
    * opaque fragments whose INTERIOR tokens (nested dialect calls inside
    * a `::` cast operand, a ZEROIFNULL argument, …) the same pass can no
    * longer see — re-lexing the output turns them back into live tokens
    * for the next pass. Every rewrite produces a form that is not itself
    * a rewrite candidate (CAST/RLIKE/date_format/…), so this converges;
    * the guard bounds pathological input. The standard-conforming-string
    * backslash doubling runs ONCE, after the fixpoint, so re-lexing
    * never re-escapes. */
  private def translate(sql: String, mode: Mode): String = {
    var cur = sql
    var prev: String = null
    var guard = 0
    while (cur != prev && guard < 16) {
      prev = cur
      cur = translateOnce(cur, mode)
      guard += 1
    }
    if (mode.literalBackslashes && cur.contains("\\")) {
      // Postgres/Redshift standard strings hold backslashes LITERALLY;
      // Spark's parser processes them as escapes — double them exactly
      // once at final emission. (E'...' bodies were already decoded to
      // real characters at lex time, so their backslashes are literal
      // too by this point.)
      val ts = lex(cur, dqAsString = mode.dqAsString)
      cur = ts.map {
        case Str(t) => t.replace("\\", "\\\\")
        case t => t.text
      }.mkString
    }
    cur
  }

  private def translateOnce(sql: String, mode: Mode): String = {
    val ts = ArrayBuffer(lex(sql, dqAsString = mode.dqAsString,
      eStrings = mode.eStrings, bracketIdents = mode.bracketIdents): _*)

    // 0) T-SQL `SELECT TOP n` family: the guarded PERCENT / WITH TIES
    //    window restatements first, then plain TOP → trailing LIMIT
    if (mode.msCalls) { rewriteTopTies(ts); rewriteTopN(ts) }
    // 0a) Snowflake/Redshift QUALIFY → guarded subquery + WHERE
    if (mode.qualifyClause) rewriteQualify(ts)

    // 0b) Postgres set-returning / SQL-regex extras
    if (mode.pgExtras) {
      rewriteGenerateSeries(ts)
      rewriteSimilarTo(ts)
    }
    if (mode.distinctOn) rewriteDistinctOn(ts)
    if (mode.pgExtras) rewriteAnyAllArray(ts)

    // 1) `::` postfix casts, innermost-first via repeated single-pass
    var changed = true
    while (changed) {
      changed = false
      var i = 0
      while (i < ts.length && !changed) {
        if (ts(i) == Sym("::")) {
          val opEnd = prevIdx(ts, i)
          if (opEnd < 0) throw new IllegalArgumentException("'::' with no operand")
          val opStart = primaryStart(ts, opEnd)
          val tIdx = nextIdx(ts, i)
          if (tIdx < 0) throw new IllegalArgumentException("'::' with no type")
          val (tpe, tEnd) = mapTypeAt(ts, tIdx, mode)
          val operand = text(ts.slice(opStart, opEnd + 1))
          splice(ts, opStart, tEnd, s"CAST($operand AS $tpe)")
          changed = true
        }
        i += 1
      }
    }

    // 2) regex operators (binary only: previous token must end an operand)
    var i = 0
    while (i < ts.length) {
      ts(i) match {
        case Sym(op @ ("~" | "~*" | "!~" | "!~*")) =>
          val p = prevIdx(ts, i)
          if (p >= 0 && isOperandEnd(ts(p))) {
            if (op == "~") { ts(i) = Raw(" RLIKE "); }
            else if (op == "!~") { ts(i) = Raw(" NOT RLIKE ") }
            else {
              // case-insensitive: prepend the Java inline (?i) flag to
              // the pattern. upper()-wrapping both sides would invert
              // regex escape classes (\d→\D, \w→\W, \s→\S, \b→\B) —
              // silent wrong results on any class-bearing pattern.
              val lStart = primaryStart(ts, p)
              val rStart = nextIdx(ts, i)
              if (rStart < 0) throw new IllegalArgumentException(s"'$op' with no pattern")
              val rEnd = primaryEnd(ts, rStart)
              val lhs = text(ts.slice(lStart, p + 1))
              val rhs = text(ts.slice(rStart, rEnd + 1))
              val neg = if (op == "!~*") "NOT " else ""
              splice(ts, lStart, rEnd, s"$neg$lhs RLIKE concat('(?i)', $rhs)")
              i = lStart
            }
          }
        case _ =>
      }
      i += 1
    }

    // 3) function renames + to_char format mapping + CAST type mapping
    //    (+ the Snowflake/T-SQL/BigQuery call rewrites)
    i = 0
    while (i < ts.length) {
      ts(i) match {
        case Word(w) =>
          val nx = nextIdx(ts, i)
          val isCall = nx >= 0 && ts(nx) == Sym("(")
          val wl = w.toLowerCase
          if (isCall && mode.sfCalls && snowflakeFnRename.contains(wl)) {
            ts(i) = Raw(snowflakeFnRename(wl))
          } else if (isCall && mode.msCalls && mssqlFnRename.contains(wl)) {
            ts(i) = Raw(mssqlFnRename(wl))
          } else if (isCall && mode.msCalls && wl == "isnull") {
            // T-SQL 2-arg ISNULL(a, b) → coalesce; Spark's own 1-arg
            // isnull keeps its meaning when there is no second argument
            val close = primaryEnd(ts, nx)
            if (topLevelComma(ts, nx, close) > 0) ts(i) = Raw("coalesce")
          } else if (isCall && (mode.sfCalls || mode.msCalls) && wl == "dateadd") {
            // DATEADD(part, n, d) → timestampadd(canonical_part, n, d);
            // unknown part aliases leave the call untranslated (loud
            // Spark error — never a silent unit guess)
            val a1 = nextIdx(ts, nx)
            canonicalPartAt(ts, a1, mode).foreach { part =>
              ts(i) = Raw("timestampadd")
              ts(a1) = Raw(part)
            }
          } else if (isCall && (mode.sfCalls || mode.msCalls) && wl == "datediff") {
            // Snowflake/Redshift/T-SQL DATEDIFF counts date-part
            // BOUNDARY crossings; timestampdiff counts complete elapsed
            // intervals (DATEDIFF(year,'2023-12-31','2024-01-01') is 1
            // there, 0 elapsed). Truncating both arguments to the part
            // makes the two counts agree for every whole-unit part.
            val close = primaryEnd(ts, nx)
            val c1 = topLevelComma(ts, nx, close)
            val c2 = if (c1 > 0) topLevelComma(ts, c1, close) else -1
            if (c1 > 0 && c2 > 0) {
              // mssql: 'week' is EXCLUDED — date_trunc('week') is
              // ISO/Monday-based, but T-SQL DATEDIFF(week) counts SUNDAY
              // boundary crossings (default DATEFIRST), so a rewrite
              // would be off by one across any Sun→Mon span. Excluded →
              // the call passes through → loud Spark error, never a
              // silently-shifted week count. Snowflake/Redshift weeks
              // are Monday-based and translate fine.
              canonicalPartAt(ts, nextIdx(ts, nx), mode)
                .filterNot(p => mode.msCalls && p == "week")
                .foreach { part =>
                  val a = text(ts.slice(c1 + 1, c2)).trim
                  val b = text(ts.slice(c2 + 1, close)).trim
                  splice(ts, i, close,
                    s"timestampdiff($part, date_trunc('$part', $a), date_trunc('$part', $b))")
                }
            }
          } else if (isCall && mode.bareDatePart &&
              (wl == "date_part" || wl == "datepart")) {
            // Redshift DATE_PART / T-SQL DATEPART accept a BARE part
            // name; Spark's date_part needs a string literal — and the
            // part is CANONICALIZED through the same per-mode alias map
            // as DATEADD/DATEDIFF (quoting the alias verbatim would let
            // Spark re-read T-SQL's 'm'=MONTH as MINUTE, or reject
            // 'yy'/'dd' at runtime). Unknown aliases leave the call
            // untouched → loud Spark error.
            val a1 = nextIdx(ts, nx)
            if (a1 >= 0) ts(a1) match {
              case Word(_) | Str(_) =>
                // bare and quoted aliases carry the same dialect
                // meaning and route through the same map. mssql:
                // 'week' (wk/ww) is EXCLUDED like DATEDIFF's — T-SQL
                // DATEPART(week) numbers weeks from Jan 1 under
                // DATEFIRST, Spark's 'week' is ISO; a rewrite would
                // silently shift week numbers → loud instead.
                canonicalPartAt(ts, a1, mode)
                  .filterNot(p => mode.msCalls && p == "week")
                  .foreach { part =>
                    ts(i) = Raw("date_part")
                    ts(a1) = Raw("'" + part + "'")
                  }
              case _ => if (wl == "datepart") ts(i) = Raw("date_part")
            }
          } else if (isCall && mode.sfCalls &&
              (wl == "zeroifnull" || wl == "nullifzero" || wl == "to_varchar")) {
            // token-preserving rewrites: only the NAME and the fixed
            // pieces change, the argument tokens stay live so nested
            // dialect calls inside them still translate in this pass
            val close = primaryEnd(ts, nx)
            wl match {
              case "zeroifnull" =>
                ts(i) = Raw("coalesce"); ts.insert(close, Raw(", 0"))
              case "nullifzero" =>
                ts(i) = Raw("nullif"); ts.insert(close, Raw(", 0"))
              case _ =>
                // TO_VARCHAR(x) → CAST(x AS string); TO_VARCHAR(x, 'fmt')
                // with a literal format → date_format (same token map as
                // to_char); non-literal formats pass through untouched
                val comma = topLevelComma(ts, nx, close)
                if (comma < 0) {
                  ts(i) = Raw("CAST"); ts.insert(close, Raw(" AS string"))
                } else {
                  val fIdx = nextIdx(ts, comma)
                  if (fIdx > 0 && fIdx == prevIdx(ts, close) && ts(fIdx).isInstanceOf[Str]) {
                    ts(fIdx) = Raw(mapToCharFormat(ts(fIdx).text))
                    ts(i) = Raw("date_format")
                  }
                }
            }
          } else if (isCall && mode.bqCalls && bigqueryFnRename.contains(wl)) {
            ts(i) = Raw(bigqueryFnRename(wl))
          } else if (isCall && mode.bqCalls &&
              (wl == "format_date" || wl == "format_timestamp" ||
               wl == "format_datetime")) {
            // FORMAT_DATE('%Y-%m', d): format comes FIRST in BigQuery —
            // map the strftime tokens and swap to date_format(d, fmt)
            val close = primaryEnd(ts, nx)
            val comma = topLevelComma(ts, nx, close)
            if (comma > 0) {
              val fIdx = nextIdx(ts, nx)
              if (fIdx == prevIdx(ts, comma) && ts(fIdx).isInstanceOf[Str]) {
                val mapped = mapStrftimeFormat(ts(fIdx).text)
                val rest = text(ts.slice(comma + 1, close)).trim
                splice(ts, i, close, s"date_format($rest, $mapped)")
              }
            }
          } else if (isCall && mode.bqCalls &&
              (wl == "timestamp_diff" || wl == "date_diff" ||
               wl == "datetime_diff")) {
            // X_DIFF(end, start, part) = end − start →
            // timestampdiff(part, start, end) (same sign convention)
            val close = primaryEnd(ts, nx)
            val c1 = topLevelComma(ts, nx, close)
            val c2 = if (c1 > 0) topLevelComma(ts, c1, close) else -1
            if (c1 > 0 && c2 > 0) {
              val endArg = text(ts.slice(nx + 1, c1)).trim
              val startArg = text(ts.slice(c1 + 1, c2)).trim
              val part = text(ts.slice(c2 + 1, close)).trim
              splice(ts, i, close, s"timestampdiff($part, $startArg, $endArg)")
            }
          } else if (isCall && mode.bqCalls &&
              (wl == "date_add" || wl == "timestamp_add" || wl == "datetime_add" ||
               wl == "date_sub" || wl == "timestamp_sub" || wl == "datetime_sub")) {
            // X_ADD(d, INTERVAL n unit) → (d + INTERVAL n unit); without
            // INTERVAL, Spark's own 2-arg date_add already applies
            val close = primaryEnd(ts, nx)
            val comma = topLevelComma(ts, nx, close)
            if (comma > 0) {
              val second = nextIdx(ts, comma)
              val isInterval = second > 0 && (ts(second) match {
                case Word(w2) => w2.equalsIgnoreCase("interval")
                case _ => false
              })
              if (isInterval) {
                val d = text(ts.slice(nx + 1, comma)).trim
                val iv = text(ts.slice(comma + 1, close)).trim
                val op = if (wl.endsWith("_sub")) "-" else "+"
                splice(ts, i, close, s"($d $op $iv)")
              }
            }
          } else if (isCall && fnRename.contains(wl)) {
            ts(i) = Raw(fnRename(wl))
          } else if (isCall && w.toLowerCase == "to_char") {
            // to_char(expr, 'fmt') with a LITERAL format → date_format
            val close = primaryEnd(ts, nx)
            val comma = topLevelComma(ts, nx, close)
            val fIdx = if (comma > 0) nextIdx(ts, comma) else -1
            if (fIdx > 0 && fIdx == prevIdx(ts, close) && ts(fIdx).isInstanceOf[Str]) {
              ts(fIdx) = Raw(mapToCharFormat(ts(fIdx).text))
              ts(i) = Raw("date_format")
            }
          } else if (isCall && (wl == "cast" || wl == "try_cast")) {
            // CAST(x AS int8) / TRY_CAST: map the type after the top-level AS
            val close = primaryEnd(ts, nx)
            var depth = 0; var asIdx = -1
            var j = nx + 1
            while (j < close) {
              ts(j) match {
                case Sym("(") => depth += 1
                case Sym(")") => depth -= 1
                case Word(a) if depth == 0 && a.equalsIgnoreCase("as") => asIdx = j
                case _ =>
              }
              j += 1
            }
            if (asIdx > 0) {
              val tIdx = nextIdx(ts, asIdx)
              if (tIdx > 0 && tIdx < close) ts(tIdx) match {
                case Word(t) =>
                  val n1 = nextIdx(ts, tIdx)
                  val two = if (n1 >= 0 && n1 < close) ts(n1) match {
                    case Word(t2) => twoWordTypes.get((t.toLowerCase, t2.toLowerCase))
                      .map(m => (m, n1))
                    case _ => None
                  } else None
                  two match {
                    case Some((m, endT)) => splice(ts, tIdx, endT, m)
                    case None => lookupType(t, mode)
                      .foreach(m => ts(tIdx) = Raw(m))
                  }
                case _ =>
              }
            }
          } else if (!isCall && mode.bareSysdate && wl == "sysdate") {
            // Redshift bare SYSDATE keyword (no parens)
            ts(i) = Raw("current_timestamp()")
          }
        case _ =>
      }
      i += 1
    }

    // 4) ORDER BY null-ordering defaults (Pg/Rs/Sf → explicit NULLS …).
    //    Runs LAST so it annotates final token shapes; ORDER BYs inside
    //    Raw splices from earlier passes (the DISTINCT ON window) are
    //    re-lexed and annotated on the next fixpoint iteration.
    if (mode.pgNullsOrder) rewriteNullsOrdering(ts)

    text(ts.toSeq)
  }

  /** Keywords that can terminate an ORDER BY item list at depth 0 (the
    * statement tail after ORDER BY, a window frame clause, or a set
    * operator sharing the scope). */
  private val orderStopWords = Set(
    "limit", "offset", "fetch", "rows", "range", "groups", "union",
    "intersect", "except", "minus", "for", "window", "into", "returning")

  /** Postgres/Redshift/Snowflake rank NULLS LAST under ASC and NULLS
    * FIRST under DESC; Spark (like T-SQL and BigQuery) defaults to the
    * opposite. Without this pass, every translated ORDER BY over a
    * nullable key silently ranks nulls differently — the translator's
    * one silent-wrong-results path before round 14. The pass makes the
    * source dialect's default EXPLICIT on every ORDER BY item lacking a
    * NULLS clause — statement-level, subquery, window-spec, and
    * aggregate (WITHIN GROUP / FILTER) ORDER BYs alike, since the item
    * walker is scope-local (an item ends at a depth-0 comma, an
    * enclosing `)`, or a stop keyword). Items carrying a Postgres
    * `USING <op>` clause are left untouched → Spark's own loud parse
    * error. Idempotent: items already ending in NULLS FIRST/LAST are
    * skipped, so the translate fixpoint terminates. */
  private def rewriteNullsOrdering(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      val isOrder = ts(i) match {
        case Word(w) => w.equalsIgnoreCase("order")
        case _ => false
      }
      val by = if (isOrder) nextIdx(ts, i) else -1
      val isBy = by >= 0 && (ts(by) match {
        case Word(w) => w.equalsIgnoreCase("by")
        case _ => false
      })
      if (isBy) {
        // walk the item list; j is the scan cursor, itemStart/lastSig
        // track the current item's extent (significant tokens only)
        var j = by + 1
        var depth = 0
        var lastSig = -1 // last significant token index of current item
        var itemHasUsing = false
        var done = false
        // closes the current item: append the explicit NULLS default
        // unless the item already has one (or a USING clause)
        def closeItem(): Unit = {
          if (lastSig >= 0 && !itemHasUsing) {
            val hasNulls = ts(lastSig) match {
              case Word(w) if w.equalsIgnoreCase("first") ||
                  w.equalsIgnoreCase("last") =>
                val p = prevIdx(ts, lastSig)
                p >= 0 && (ts(p) match {
                  case Word(n) => n.equalsIgnoreCase("nulls")
                  case _ => false
                })
              case _ => false
            }
            if (!hasNulls) {
              val desc = ts(lastSig) match {
                case Word(w) => w.equalsIgnoreCase("desc")
                case _ => false
              }
              ts.insert(lastSig + 1,
                Raw(if (desc) " NULLS FIRST" else " NULLS LAST"))
              j += 1 // account for the inserted token
            }
          }
          lastSig = -1
          itemHasUsing = false
        }
        while (j < ts.length && !done) {
          ts(j) match {
            case Sym("(") | Sym("[") => depth += 1; lastSig = j
            case Sym(")") | Sym("]") if depth > 0 => depth -= 1; lastSig = j
            case Sym(")") | Sym("]") => closeItem(); done = true // enclosing scope
            case Sym(",") if depth == 0 => closeItem()
            case Sym(";") if depth == 0 => closeItem(); done = true
            case Word(w) if depth == 0 &&
                orderStopWords.contains(w.toLowerCase) =>
              closeItem(); done = true
            case Word(w) if depth == 0 && w.equalsIgnoreCase("using") =>
              itemHasUsing = true; lastSig = j
            case _: Ws =>
            case _ => lastSig = j
          }
          j += 1
        }
        if (!done) closeItem() // end of input ends the last item
        // resume right after BY, not at j: an ORDER BY nested inside an
        // item (scalar subquery) is walked as opaque depth>0 tokens
        // above and still needs its own annotation pass — idempotence
        // makes the re-scan of already-annotated regions a no-op
        i = by + 1
      } else i += 1
    }
  }

  /** Canonicalize the date-part token at index `a1` (a bare Word or a
    * quoted Str — Snowflake allows both): Some(canonical unit) if the
    * alias is known, None otherwise (caller leaves the call alone). */
  private def canonicalPartAt(ts: ArrayBuffer[Tok], a1: Int,
      mode: Mode): Option[String] = {
    if (a1 < 0) return None
    val canon = datePartCanonFor(mode)
    ts(a1) match {
      case Word(p) => canon.get(p.toLowerCase)
      case Str(s) => canon.get(s.substring(1, s.length - 1).toLowerCase)
      case _ => None
    }
  }

  /** Keywords that terminate a FROM-item (cannot be a table alias). */
  private val postFromKeywords = Set(
    "where", "group", "order", "limit", "offset", "having", "union",
    "intersect", "except", "on", "join", "inner", "left", "right",
    "full", "cross", "natural", "using", "window", "qualify", "as")

  /** Postgres `FROM generate_series(a, b[, step]) [AS] alias[(col)]` →
    * `FROM (SELECT explode(sequence(a, b[, step])) AS col) alias` — the
    * Spark-native set-returning form (sequence handles integral AND
    * timestamp+interval arguments with the same signature). A missing
    * step appends `, 1`: Postgres steps by 1 and returns EMPTY for a
    * descending range, where Spark's sequence would silently infer a
    * negative step — with the explicit step the descending case fails
    * LOUDLY at runtime instead of changing meaning. Only the FROM/JOIN
    * position rewrites; a projection-position generate_series passes
    * through to Spark's own unknown-function error. */
  private def rewriteGenerateSeries(ts: ArrayBuffer[Tok]): Unit = {
    var restart = true
    while (restart) {
      restart = false
      var i = 0
      while (i < ts.length && !restart) {
        // FROM / JOIN position only: a comma-separated FROM-list item is
        // not distinguishable from a SELECT-list item at token level, and
        // a projection-position generate_series must stay untouched (it
        // then fails with Spark's own unknown-function error)
        val isFromPos = ts(i) match {
          case Word(w) => w.equalsIgnoreCase("from") || w.equalsIgnoreCase("join")
          case _ => false
        }
        if (isFromPos) {
          val g = nextIdx(ts, i)
          val isGs = g >= 0 && (ts(g) match {
            case Word(w) => w.equalsIgnoreCase("generate_series")
            case _ => false
          })
          if (isGs) {
            val open = nextIdx(ts, g)
            if (open >= 0 && ts(open) == Sym("(")) {
              {
                val close = primaryEnd(ts, open)
                val hasStep = topLevelComma(ts, open, close) > 0 && {
                  val c1 = topLevelComma(ts, open, close)
                  topLevelComma(ts, c1, close) > 0
                }
                val argsText = text(ts.slice(open + 1, close)).trim +
                  (if (hasStep) "" else ", 1")
                // optional [AS] alias [( col )]
                var end = close
                var aliasName = "generate_series"
                var colName = "generate_series"
                var j = nextIdx(ts, close)
                if (j >= 0) ts(j) match {
                  case Word(a) if a.equalsIgnoreCase("as") => j = nextIdx(ts, j)
                  case _ =>
                }
                if (j >= 0) ts(j) match {
                  case Word(a) if !postFromKeywords.contains(a.toLowerCase) =>
                    aliasName = a; end = j
                    val p1 = nextIdx(ts, j)
                    if (p1 >= 0 && ts(p1) == Sym("(")) {
                      val p2 = nextIdx(ts, p1)
                      val p3 = if (p2 >= 0) nextIdx(ts, p2) else -1
                      (if (p2 >= 0) ts(p2) else null, if (p3 >= 0) ts(p3) else null) match {
                        case (Word(c), Sym(")")) => colName = c; end = p3
                        case _ =>
                      }
                    }
                  case QIdent(a) => aliasName = a; end = j
                  case _ =>
                }
                splice(ts, g, end,
                  s"(SELECT explode(sequence($argsText)) AS $colName) $aliasName")
                restart = true
              }
            }
          }
        }
        i += 1
      }
    }
  }

  /** Postgres `expr [NOT] SIMILAR TO 'pattern'` → anchored RLIKE with
    * the SQL-regex pattern converted to a Java regex: `%` → `.*`, `_`
    * → `.`, `.`/`^`/`$` are LITERAL in SIMILAR TO (escaped for the
    * regex), `|`/`*`/`+`/`?`/`{}`/`()`/`[]` keep their meaning,
    * backslash escapes make the next character literal. Non-literal
    * patterns and explicit ESCAPE clauses pass through untouched
    * (loud Spark error, never a silent meaning change). */
  private def rewriteSimilarTo(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      val isSimilar = ts(i) match {
        case Word(w) => w.equalsIgnoreCase("similar")
        case _ => false
      }
      if (isSimilar) {
        val toIdx = nextIdx(ts, i)
        val isTo = toIdx >= 0 && (ts(toIdx) match {
          case Word(w) => w.equalsIgnoreCase("to")
          case _ => false
        })
        if (isTo) {
          val patIdx = nextIdx(ts, toIdx)
          val patOk = patIdx >= 0 && ts(patIdx).isInstanceOf[Str]
          val afterPat = if (patOk) nextIdx(ts, patIdx) else -1
          val hasEscape = afterPat >= 0 && (ts(afterPat) match {
            case Word(w) => w.equalsIgnoreCase("escape")
            case _ => false
          })
          if (patOk && !hasEscape) {
            // [NOT] before SIMILAR
            val p = prevIdx(ts, i)
            val negIdx = if (p >= 0) ts(p) match {
              case Word(w) if w.equalsIgnoreCase("not") => p
              case _ => -1
            } else -1
            val lhsEnd = prevIdx(ts, if (negIdx >= 0) negIdx else i)
            if (lhsEnd >= 0 && isOperandEnd(ts(lhsEnd))) {
              val lhsStart = primaryStart(ts, lhsEnd)
              val lhs = text(ts.slice(lhsStart, lhsEnd + 1))
              val lit = ts(patIdx).text
              val regex = similarToRegex(lit.substring(1, lit.length - 1))
              val neg = if (negIdx >= 0) "NOT " else ""
              splice(ts, lhsStart, patIdx,
                s"$neg$lhs RLIKE '${regex.replace("'", "''")}'")
              i = lhsStart
            }
          }
        }
      }
      i += 1
    }
  }

  /** Postgres `SELECT DISTINCT ON (keys) items FROM … [ORDER BY o]
    * [LIMIT …]` → `SELECT names FROM (SELECT items, row_number() OVER
    * (PARTITION BY keys ORDER BY o|keys) AS __gd_rn FROM …) __gd WHERE
    * __gd_rn = 1 [ORDER BY o] [LIMIT …]` — the standard window
    * restatement. GUARDED: the rewrite only fires when it is provably
    * meaning-preserving —
    *  - every select-list item has a derivable output name (bare or
    *    qualified column, or an [AS] alias; `*` or an unaliased
    *    expression skip),
    *  - the DISTINCT ON keys contain no positional (numeric) refs,
    *  - every ORDER BY item (modulo ASC/DESC/NULLS …) is an
    *    unqualified projected output name (the outer select re-orders
    *    by it). Because Spark resolves a WINDOW's ORDER BY against the
    *    INPUT scope while Postgres ranks by the output, an item naming
    *    a select-list ALIAS is substituted with the alias's underlying
    *    column in the generated window ([[windowOrderFor]]) — and when
    *    the alias covers a general EXPRESSION (underivable /
    *    undeterminable at token level) the rewrite is skipped; compute
    *    the expression in a subquery instead
    *    (op_transform_dialect_pg5 demonstrates the shape),
    *  - no set operator shares the scope.
    * Anything else leaves DISTINCT ON untouched → Spark's own parse
    * error, never a silent meaning change. GROUP BY/HAVING stay inside
    * the wrapped query (windows evaluate post-aggregation, matching
    * Postgres's DISTINCT ON-after-GROUP BY order). The Postgres
    * NULLS-ordering defaults (NULLS LAST for ASC / NULLS FIRST for
    * DESC — the opposite of Spark) are made explicit by
    * [[rewriteNullsOrdering]] on the fixpoint re-lex, including inside
    * the generated window's ORDER BY. Known residue: the DISTINCT ON
    * KEYS pass through verbatim into PARTITION BY (input scope) — a
    * key naming a select alias that shadows a real input column keeps
    * the input-column meaning; alias keys over bare columns are
    * idempotent either way. */
  private def rewriteDistinctOn(ts: ArrayBuffer[Tok]): Unit = {
    def isWord(t: Tok, w: String) = t match {
      case Word(x) => x.equalsIgnoreCase(w)
      case _ => false
    }
    var restart = true
    while (restart) {
      restart = false
      var i = 0
      while (i < ts.length && !restart) {
        if (isWord(ts(i), "select")) {
          val d = nextIdx(ts, i)
          val o = if (d >= 0 && isWord(ts(d), "distinct")) nextIdx(ts, d) else -1
          val open = if (o >= 0 && isWord(ts(o), "on")) nextIdx(ts, o) else -1
          if (open >= 0 && ts(open) == Sym("(")) {
            val keysClose = primaryEnd(ts, open)
            val keysText = text(ts.slice(open + 1, keysClose)).trim
            // positional keys (DISTINCT ON (1)) are ORDER BY-style refs
            // the inner window cannot reproduce — skip
            val keysPositional = ts.slice(open + 1, keysClose).exists {
              case Num(_) => true
              case _ => false
            }
            // scan the scope: first depth-0 FROM / ORDER BY / LIMIT|OFFSET,
            // any depth-0 set op, the scope end
            var depth = 0
            var k = keysClose + 1
            var fromIdx = -1; var orderIdx = -1; var tailIdx = -1
            var setOp = false
            var scopeEnd = ts.length
            while (k < ts.length && scopeEnd == ts.length) {
              ts(k) match {
                case Sym("(") => depth += 1
                case Sym(")") => if (depth == 0) scopeEnd = k else depth -= 1
                // a statement-terminating semicolon ends the scope (verbatim
                // .sql files commonly carry one)
                case Sym(";") if depth == 0 => scopeEnd = k
                case Word(w) if depth == 0 =>
                  val wl = w.toLowerCase
                  if (wl == "from" && fromIdx < 0) fromIdx = k
                  else if (wl == "order" && orderIdx < 0 && {
                    val nb = nextIdx(ts, k); nb >= 0 && isWord(ts(nb), "by")
                  }) orderIdx = k
                  else if ((wl == "limit" || wl == "offset") && tailIdx < 0 &&
                    fromIdx >= 0) tailIdx = k
                  else if (wl == "union" || wl == "intersect" || wl == "except")
                    setOp = true
                case _ =>
              }
              k += 1
            }
            val itemsEnd = if (fromIdx >= 0) fromIdx else -1
            if (!keysPositional && !setOp && itemsEnd > keysClose) {
              // output names + underlying chains (None = underivable → skip)
              val items = selectListItems(ts, keysClose + 1, itemsEnd)
              val midEnd =
                if (orderIdx >= 0) orderIdx
                else if (tailIdx >= 0) tailIdx else scopeEnd
              val orderText =
                if (orderIdx >= 0) {
                  val byIdx = nextIdx(ts, orderIdx)
                  val oEnd = if (tailIdx >= 0) tailIdx else scopeEnd
                  Some(text(ts.slice(byIdx + 1, oEnd)).trim)
                } else None
              // the window's ORDER BY resolves against the INPUT scope,
              // so alias-typed order items substitute their underlying
              // column ([[windowOrderFor]]); no ORDER BY → keys order
              // (keysText is input-scope by construction)
              val windowOrder: Option[String] = orderText match {
                case Some(ot) => items.flatMap(its => windowOrderFor(ot, its))
                case None => Some(keysText)
              }
              if (items.isDefined && windowOrder.isDefined) {
                val itemsText = text(ts.slice(keysClose + 1, itemsEnd)).trim
                val midText = text(ts.slice(fromIdx, midEnd)).trim
                val tailText =
                  if (tailIdx >= 0) " " + text(ts.slice(tailIdx, scopeEnd)).trim
                  else ""
                val outerOrder = orderText.map(ot => s" ORDER BY $ot").getOrElse("")
                val namesCsv = items.get.map(_._1).mkString(", ")
                splice(ts, i, scopeEnd - 1,
                  s"SELECT $namesCsv FROM (SELECT $itemsText, row_number() OVER " +
                    s"(PARTITION BY $keysText ORDER BY ${windowOrder.get}) AS __gd_rn " +
                    s"$midText) __gd WHERE __gd_rn = 1$outerOrder$tailText")
                restart = true
              }
            }
          }
        }
        i += 1
      }
    }
  }

  /** Output names of a select list slice, or None when any item's name
    * is underivable (`*`, unaliased expressions). */
  /** Select-list items as (output name, underlying bare-column chain):
    * the chain is Some("t.a"-style text) when the item is a bare
    * (possibly qualified) column or an alias OF one, None when the
    * aliased operand is a general expression. Returns None overall when
    * any item's output name is underivable (`*`, unaliased
    * expressions). */
  private def selectListItems(
      ts: ArrayBuffer[Tok], from: Int, until: Int): Option[Seq[(String, Option[String])]] = {
    val items = Vector.newBuilder[(String, Option[String])]
    var depth = 0
    var itemToks = Vector.newBuilder[Tok]
    def chainText(toks: Vector[Tok]): Option[String] = {
      // a bare (possibly qualified) column: words joined by dots
      val colish = toks.nonEmpty && toks.length % 2 == 1 &&
        toks.zipWithIndex.forall {
          case (Word(w), idx) if idx % 2 == 0 =>
            !preUnaryKeywords.contains(w.toLowerCase)
          case (QIdent(_), idx) if idx % 2 == 0 => true
          case (Sym("."), idx) if idx % 2 == 1 => true
          case _ => false
        }
      if (colish) Some(toks.map(_.text).mkString) else None
    }
    def finish(): Boolean = {
      val toks = itemToks.result().filterNot(_.isInstanceOf[Ws])
      itemToks = Vector.newBuilder[Tok]
      if (toks.isEmpty) return false
      // trailing [AS] alias
      val last = toks.last
      val explicitAlias = last match {
        case Word(w) if toks.length >= 2 && !preUnaryKeywords.contains(w.toLowerCase) &&
            (toks(toks.length - 2) match {
              case Word(a) if a.equalsIgnoreCase("as") => true
              case Sym(_) => false
              case Word(_) | Num(_) | Str(_) | QIdent(_) | Raw(_) => true
              case _ => false
            }) => Some(w)
        case QIdent(q) if toks.length >= 2 && (toks(toks.length - 2) match {
          case Sym(_) => false // a qualification dot, not an alias position
          case _ => true
        }) => Some(q)
        case _ => None
      }
      explicitAlias match {
        case Some(n) =>
          val op = toks(toks.length - 2) match {
            case Word(a) if a.equalsIgnoreCase("as") => toks.dropRight(2)
            case _ => toks.dropRight(1)
          }
          items += ((n, chainText(op))); true
        case None =>
          chainText(toks) match {
            case Some(c) => items += ((toks.last.text, Some(c))); true
            case None => false
          }
      }
    }
    var j = from
    while (j < until) {
      ts(j) match {
        case Sym("(") => depth += 1; itemToks += ts(j)
        case Sym(")") => depth -= 1; itemToks += ts(j)
        // (a projection `*` or `t.*` item fails finish() naturally — a
        // lone/dotted Sym is neither an alias nor a column chain)
        case Sym(",") if depth == 0 => if (!finish()) return None
        case _ => itemToks += ts(j)
      }
      j += 1
    }
    if (!finish()) return None
    Some(items.result())
  }

  /** The INNER-window ORDER BY text for a dialect window rewrite
    * (DISTINCT ON / TOP WITH TIES). The dialect semantics rank by the
    * OUTPUT columns, but Spark resolves a window's ORDER BY against the
    * INPUT scope — so an ORDER BY item naming a select-list ALIAS must
    * be substituted with the alias's underlying column, or it would
    * silently rank by a same-named base column where one exists (and
    * error on the lateral alias where one does not). Each item's base
    * must be an UNQUALIFIED projected output name (the outer re-ORDER
    * references output scope); pass-through columns keep their text,
    * aliases of bare (possibly qualified) columns substitute the
    * underlying chain, and aliases of general expressions return None —
    * the substitution cannot be proven deterministic at token level, so
    * the caller skips the rewrite (loud). */
  private def windowOrderFor(orderText: String,
      items: Seq[(String, Option[String])]): Option[String] = {
    val byName = items.map { case (n, e) =>
      n.stripPrefix("`").stripSuffix("`").toLowerCase -> e }.toMap
    val parts: Seq[Option[String]] = orderText.split(",").toSeq.map { raw =>
      val words = raw.trim.split("\\s+").toSeq
      val (baseWords, sufWords) = words.span(w =>
        !Set("asc", "desc", "nulls").contains(w.toLowerCase))
      val base = baseWords.mkString(" ")
      val key = base.stripPrefix("`").stripSuffix("`")
      if (base.contains(".") || base.contains("(") || base.contains(" ") ||
          key.isEmpty) None
      else byName.get(key.toLowerCase).flatten.map { chain =>
        (chain +: sufWords).mkString(" ")
      }
    }
    if (parts.forall(_.isDefined)) Some(parts.flatten.mkString(", ")) else None
  }

  /** Postgres array membership: `expr = ANY(ARRAY[…])` / `expr =
    * ANY('{…}')` → `array_contains(array(…), expr)`, `expr <> ALL(…)`
    * → `NOT array_contains(array(…), expr)` (the two forms real DAG
    * SQL uses), and subquery operands by the SQL-standard identities
    * `= ANY(SELECT …)` ≡ `IN (SELECT …)` / `<> ALL(SELECT …)` ≡
    * `NOT IN (SELECT …)` — only the operator spelling changes, the
    * subquery tokens stay live (Spark parses the IN forms natively). `ARRAY[…]` converts to Spark's `array(…)`; a `'{a,b}'`
    * literal converts only when it is a SIMPLE comma list (no quotes,
    * braces, or escapes inside — anything else passes through to
    * Spark's own error). Other operators (`> ANY`, `LIKE ANY`, …)
    * pass through untouched. */
  private def rewriteAnyAllArray(ts: ArrayBuffer[Tok]): Unit = {
    var restart = true
    while (restart) {
      restart = false
      var i = 0
      while (i < ts.length && !restart) {
        val anyAll = ts(i) match {
          case Word(w) if w.equalsIgnoreCase("any") => Some(false)
          case Word(w) if w.equalsIgnoreCase("all") => Some(true)
          case _ => None
        }
        if (anyAll.isDefined) {
          val open = nextIdx(ts, i)
          val opIdx = prevIdx(ts, i)
          val op = if (opIdx >= 0) ts(opIdx) match {
            case Sym("=") if !anyAll.get => Some(false) // = ANY → contains
            case Sym("<>") | Sym("!=") if anyAll.get => Some(true) // <> ALL → not contains
            case _ => None
          } else None
          if (open >= 0 && ts(open) == Sym("(") && op.isDefined) {
            val close = primaryEnd(ts, open)
            val inner = nextIdx(ts, open)
            // the array argument: ARRAY[…], a '{…}' literal, or anything
            // else (incl. a subquery) → skip
            // subquery operand: `= ANY(SELECT …)` IS the SQL-standard
            // definition of `IN (SELECT …)` and `<> ALL(SELECT …)` of
            // `NOT IN (SELECT …)` (identical NULL semantics) — Spark
            // parses neither ANY form but both IN forms, so only the
            // operator spelling changes; the subquery tokens stay live
            val isSubquery = ts(inner) match {
              case Word(w) => w.equalsIgnoreCase("select") || w.equalsIgnoreCase("with")
              case _ => false
            }
            if (isSubquery) {
              val lhsEnd = prevIdx(ts, opIdx)
              if (lhsEnd >= 0 && isOperandEnd(ts(lhsEnd))) {
                splice(ts, opIdx, i, if (op.get) " NOT IN " else " IN ")
                restart = true
              }
            }
            val arrText: Option[String] = if (isSubquery) None else ts(inner) match {
              case Word(a) if a.equalsIgnoreCase("array") =>
                val br = nextIdx(ts, inner)
                if (br >= 0 && ts(br) == Sym("[")) {
                  // primaryEnd from the ARRAY word absorbs the [..] block
                  val brClose = primaryEnd(ts, inner)
                  if (ts(brClose) == Sym("]") && nextIdx(ts, brClose) == close)
                    Some("array(" + text(ts.slice(br + 1, brClose)).trim + ")")
                  else None
                } else None
              case Str(s) =>
                val body = s.substring(1, s.length - 1).trim
                if (nextIdx(ts, inner) == close &&
                    body.startsWith("{") && body.endsWith("}")) {
                  val items = body.substring(1, body.length - 1)
                  if (items.nonEmpty && !items.exists(c => "\"'{}\\".contains(c)))
                    Some(items.split(",").map(_.trim).map(x =>
                      if (x.matches("[-+]?\\d+(\\.\\d+)?")) x else "'" + x + "'")
                      .mkString("array(", ", ", ")"))
                  else None
                } else None
              case _ => None
            }
            arrText.foreach { arr =>
              val lhsEnd = prevIdx(ts, opIdx)
              if (lhsEnd >= 0 && isOperandEnd(ts(lhsEnd))) {
                val lhsStart = primaryStart(ts, lhsEnd)
                val lhs = text(ts.slice(lhsStart, lhsEnd + 1))
                val neg = if (op.get) "NOT " else ""
                splice(ts, lhsStart, close, s"${neg}array_contains($arr, $lhs)")
                restart = true
              }
            }
          }
        }
        i += 1
      }
    }
  }

  /** SQL-regex (SIMILAR TO) pattern body → anchored Java regex. */
  private def similarToRegex(pat: String): String = {
    val b = new StringBuilder("^(?:")
    var i = 0
    var inClass = false
    while (i < pat.length) {
      val c = pat(i)
      if (inClass) {
        b.append(c); if (c == ']') inClass = false; i += 1
      } else c match {
        case '%' => b.append(".*"); i += 1
        case '_' => b.append('.'); i += 1
        case '[' => b.append('['); inClass = true; i += 1
        case '\\' if i + 1 < pat.length =>
          val e = pat(i + 1)
          // \x in SIMILAR TO = literal x; letters/digits must NOT keep
          // the backslash (\d would become a regex class)
          if (e.isLetterOrDigit) b.append(e) else b.append('\\').append(e)
          i += 2
        // literal in SIMILAR TO, special in a regex
        case '.' | '^' | '$' => b.append('\\').append(c); i += 1
        case other => b.append(other); i += 1
      }
    }
    b.append(")$").toString
  }

  /** Snowflake/Redshift `SELECT [DISTINCT] items FROM … [WHERE/GROUP
    * BY/HAVING] QUALIFY pred [ORDER BY o] [LIMIT …]` → the standard
    * subquery restatement, in the two provable shapes:
    *  - pred WITHOUT a window function (it filters on select-list
    *    window ALIASES — the ubiquitous `QUALIFY rn = 1` idiom):
    *    `SELECT [DISTINCT] names FROM (SELECT items mid) __gq WHERE
    *    (pred) [ORDER BY o] [tail]` — pred references the subquery
    *    OUTPUT, so aliases resolve exactly as the dialect resolves
    *    them;
    *  - pred WITH a window (`QUALIFY row_number() OVER (…) = 1`):
    *    the predicate computes as an inner column — `SELECT [DISTINCT]
    *    names FROM (SELECT items, (pred) AS __gq_p mid) __gq WHERE
    *    __gq_p [ORDER BY o] [tail]` — GUARDED against pred naming a
    *    RENAMED or COMPUTED select alias (the inner scope would
    *    resolve it against the input, where the dialect reads the
    *    output; bare pass-through names are identical in both scopes).
    * Shared guards: derivable output names, ORDER BY items are
    * unqualified projected names (the outer select re-orders), no
    * set operator in scope. Evaluation order matches the dialects':
    * HAVING → window → QUALIFY → DISTINCT → ORDER BY (the DISTINCT
    * quantifier moves to the OUTER select). Anything failing a guard
    * passes through → Spark's own parse error. */
  private def rewriteQualify(ts: ArrayBuffer[Tok]): Unit = {
    def isWord(t: Tok, w: String) = t match {
      case Word(x) => x.equalsIgnoreCase(w)
      case _ => false
    }
    val predKeywords = Set(
      "over", "partition", "by", "order", "asc", "desc", "nulls", "first",
      "last", "rows", "range", "groups", "between", "and", "or", "not",
      "unbounded", "preceding", "following", "current", "row", "case",
      "when", "then", "else", "end", "is", "null", "in", "like", "rlike",
      "ilike", "true", "false", "cast", "as", "interval", "distinct",
      "exists", "any", "all")
    def stripBt(s: String) = s.stripPrefix("`").stripSuffix("`")
    var restart = true
    while (restart) {
      restart = false
      var i = 0
      while (i < ts.length && !restart) {
        if (isWord(ts(i), "select")) {
          var selStart = nextIdx(ts, i)
          var distinct = false
          if (selStart >= 0 && isWord(ts(selStart), "all"))
            selStart = nextIdx(ts, selStart)
          else if (selStart >= 0 && isWord(ts(selStart), "distinct")) {
            distinct = true; selStart = nextIdx(ts, selStart)
          }
          // scope scan: first depth-0 FROM / QUALIFY / ORDER BY /
          // LIMIT|OFFSET, set ops, scope end (")" or ";")
          var depth = 0
          var k = selStart
          var fromIdx = -1; var qualIdx = -1; var orderIdx = -1
          var tailIdx = -1
          var setOp = false
          var scopeEnd = ts.length
          while (k >= 0 && k < ts.length && scopeEnd == ts.length) {
            ts(k) match {
              case Sym("(") => depth += 1
              case Sym(")") => if (depth == 0) scopeEnd = k else depth -= 1
              case Sym(";") if depth == 0 => scopeEnd = k
              case Word(x) if depth == 0 =>
                val wl = x.toLowerCase
                if (wl == "from" && fromIdx < 0) fromIdx = k
                else if (wl == "qualify" && qualIdx < 0 && fromIdx >= 0)
                  qualIdx = k
                else if (wl == "order" && orderIdx < 0 && {
                  val nb = nextIdx(ts, k); nb >= 0 && isWord(ts(nb), "by")
                }) orderIdx = k
                else if ((wl == "limit" || wl == "offset") && tailIdx < 0 &&
                  fromIdx >= 0) tailIdx = k
                else if (wl == "union" || wl == "intersect" || wl == "except")
                  setOp = true
              case _ =>
            }
            k += 1
          }
          if (selStart >= 0 && fromIdx > selStart && qualIdx > fromIdx &&
              !setOp) {
            val items = selectListItems(ts, selStart, fromIdx)
            val predEnd =
              if (orderIdx >= 0) orderIdx
              else if (tailIdx >= 0) tailIdx else scopeEnd
            val predToks = ts.slice(qualIdx + 1, predEnd)
            val predText = text(predToks).trim
            val orderText =
              if (orderIdx >= 0) {
                val byIdx = nextIdx(ts, orderIdx)
                val oEnd = if (tailIdx >= 0) tailIdx else scopeEnd
                Some(text(ts.slice(byIdx + 1, oEnd)).trim)
              } else None
            // outer ORDER BY references the subquery OUTPUT: every
            // item base must be an unqualified projected name
            val orderOk = orderText.forall { ot =>
              items.exists { its =>
                val names = its.map(p => stripBt(p._1).toLowerCase).toSet
                ot.split(",").forall { item =>
                  val base = item.trim.split("\\s+").toSeq.takeWhile(w =>
                    !Set("asc", "desc", "nulls").contains(w.toLowerCase))
                    .mkString(" ")
                  !base.contains(".") && !base.contains("(") &&
                    base.nonEmpty &&
                    names.contains(stripBt(base).toLowerCase)
                }
              }
            }
            // a windowed pred must not name a renamed/computed alias
            // (inner scope resolves against the INPUT)
            val predHasOver = predToks.exists(isWord(_, "over"))
            val predScopeSafe = !predHasOver || items.exists { its =>
              val dangerous = its.collect {
                case (n, u) if u.forall(c =>
                    !stripBt(c.split("\\.").last)
                      .equalsIgnoreCase(stripBt(n))) =>
                  stripBt(n).toLowerCase
              }.toSet
              dangerous.isEmpty || {
                var bad = false
                var j = 0
                val pt = predToks.filterNot(_.isInstanceOf[Ws])
                while (j < pt.length && !bad) {
                  pt(j) match {
                    case Word(w) if !predKeywords.contains(w.toLowerCase) &&
                        (j == 0 || pt(j - 1) != Sym(".")) &&
                        (j + 1 >= pt.length || pt(j + 1) != Sym("(")) &&
                        dangerous.contains(w.toLowerCase) => bad = true
                    case QIdent(q) if (j == 0 || pt(j - 1) != Sym(".")) &&
                        (j + 1 >= pt.length || pt(j + 1) != Sym("(")) &&
                        dangerous.contains(stripBt(q).toLowerCase) => bad = true
                    case _ =>
                  }
                  j += 1
                }
                !bad
              }
            }
            if (items.isDefined && predText.nonEmpty && orderOk &&
                predScopeSafe) {
              val itemsText = text(ts.slice(selStart, fromIdx)).trim
              val midText = text(ts.slice(fromIdx, qualIdx)).trim
              val tailText =
                if (tailIdx >= 0) " " + text(ts.slice(tailIdx, scopeEnd)).trim
                else ""
              val outerOrder =
                orderText.map(ot => s" ORDER BY $ot").getOrElse("")
              val namesCsv = items.get.map(_._1).mkString(", ")
              val dk = if (distinct) "DISTINCT " else ""
              val body =
                if (!predHasOver)
                  s"SELECT $dk$namesCsv FROM (SELECT $itemsText $midText) " +
                    s"__gq WHERE ($predText)$outerOrder$tailText"
                else
                  s"SELECT $dk$namesCsv FROM (SELECT $itemsText, " +
                    s"($predText) AS __gq_p $midText) __gq " +
                    s"WHERE __gq_p$outerOrder$tailText"
              splice(ts, i, scopeEnd - 1, body)
              restart = true
            }
          }
        }
        i += 1
      }
    }
  }

  /** T-SQL `SELECT [ALL] TOP n WITH TIES … ORDER BY o` and
    * `SELECT [ALL] TOP n PERCENT [WITH TIES] … ORDER BY o` → the
    * standard window restatements:
    *  - WITH TIES ≡ `rank() OVER (ORDER BY o) <= n` (exact: a row has
    *    rank ≤ n iff its tie-group intersects the first n positions —
    *    precisely the rows TOP n WITH TIES returns),
    *  - PERCENT ≡ `row_number() <= CEILING(count(*) OVER () * n / 100.0)`
    *    (T-SQL rounds the row budget UP), rank() for the
    *    PERCENT-WITH-TIES combination.
    * GUARDED like [[rewriteDistinctOn]] — fires only when provably
    * meaning-preserving: every select-list item has a derivable output
    * name, an ORDER BY is present (T-SQL itself requires one for WITH
    * TIES; a PERCENT without ORDER BY returns arbitrary rows — skipped
    * → loud), every ORDER BY item is an unqualified projected name
    * (alias items substitute their underlying column in the generated
    * window via [[windowOrderFor]] — T-SQL ranks by the OUTPUT, Spark
    * windows resolve the INPUT scope; expression aliases skip), no
    * DISTINCT quantifier (rank would be computed pre-dedup), no depth-0
    * set operator in scope, and a PERCENT budget that is a literal
    * provably in T-SQL's accepted [0, 100] range (out-of-range budgets
    * error there; the CEILING restatement would silently return all
    * rows instead). Anything else passes through to Spark's own
    * parse error. Scale note: the global rank window is the semantic
    * cost of the construct itself — for the constant-n WITH TIES form
    * Spark's InferWindowGroupLimit inserts a per-partition
    * WindowGroupLimit before the single-partition exchange, so at most
    * n+ties rows per upstream partition reach it (a global LIMIT's
    * shape); the PERCENT form needs the total count and prices a full
    * global sort, exactly like T-SQL's own execution. */
  private def rewriteTopTies(ts: ArrayBuffer[Tok]): Unit = {
    def isWord(t: Tok, w: String) = t match {
      case Word(x) => x.equalsIgnoreCase(w)
      case _ => false
    }
    var restart = true
    while (restart) {
      restart = false
      var i = 0
      while (i < ts.length && !restart) {
        if (isWord(ts(i), "select")) {
          var j = nextIdx(ts, i)
          // ALL is a no-op quantifier; DISTINCT under the window
          // restatement would rank pre-dedup → skip (loud)
          if (j >= 0 && isWord(ts(j), "all")) j = nextIdx(ts, j)
          if (j >= 0 && isWord(ts(j), "top")) {
            val nIdx = nextIdx(ts, j)
            val (limitText, consumedEnd) =
              if (nIdx >= 0 && ts(nIdx).isInstanceOf[Num]) (ts(nIdx).text, nIdx)
              else if (nIdx >= 0 && ts(nIdx) == Sym("(")) {
                val close = primaryEnd(ts, nIdx)
                (text(ts.slice(nIdx, close + 1)), close)
              } else ("", -1)
            if (consumedEnd >= 0) {
              var clauseEnd = consumedEnd
              var percent = false
              var budgetOk = true
              val p = nextIdx(ts, clauseEnd)
              if (p >= 0 && isWord(ts(p), "percent")) {
                percent = true; clauseEnd = p
                // T-SQL rejects PERCENT budgets outside [0, 100]; the
                // CEILING restatement would silently accept them (150
                // PERCENT → all rows). Rewrite only a literal budget
                // provably in range — anything else stays loud.
                budgetOk = ts(nIdx) match {
                  case Num(t) => t.toDoubleOption.exists(v => v >= 0 && v <= 100)
                  case _ => false
                }
              }
              var ties = false
              val w = nextIdx(ts, clauseEnd)
              if (w >= 0 && isWord(ts(w), "with")) {
                val t = nextIdx(ts, w)
                if (t >= 0 && isWord(ts(t), "ties")) {
                  ties = true; clauseEnd = t
                }
              }
              if ((percent || ties) && budgetOk) {
                // scope scan (the rewriteDistinctOn shape): first depth-0
                // FROM / ORDER BY / LIMIT|OFFSET, set ops, scope end
                var depth = 0
                var k = clauseEnd + 1
                var fromIdx = -1; var orderIdx = -1; var tailIdx = -1
                var setOp = false
                var scopeEnd = ts.length
                while (k < ts.length && scopeEnd == ts.length) {
                  ts(k) match {
                    case Sym("(") => depth += 1
                    case Sym(")") => if (depth == 0) scopeEnd = k else depth -= 1
                    // a statement-terminating semicolon ends the scope (verbatim
                    // .sql files commonly carry one)
                    case Sym(";") if depth == 0 => scopeEnd = k
                    case Word(x) if depth == 0 =>
                      val wl = x.toLowerCase
                      if (wl == "from" && fromIdx < 0) fromIdx = k
                      else if (wl == "order" && orderIdx < 0 && {
                        val nb = nextIdx(ts, k); nb >= 0 && isWord(ts(nb), "by")
                      }) orderIdx = k
                      else if ((wl == "limit" || wl == "offset") && tailIdx < 0 &&
                        fromIdx >= 0) tailIdx = k
                      else if (wl == "union" || wl == "intersect" || wl == "except")
                        setOp = true
                    case _ =>
                  }
                  k += 1
                }
                if (fromIdx > clauseEnd && orderIdx > fromIdx && !setOp) {
                  val items = selectListItems(ts, clauseEnd + 1, fromIdx)
                  val byIdx = nextIdx(ts, orderIdx)
                  val oEnd = if (tailIdx >= 0) tailIdx else scopeEnd
                  val orderText = text(ts.slice(byIdx + 1, oEnd)).trim
                  // the window resolves ORDER BY against the INPUT
                  // scope — alias-typed items substitute their
                  // underlying column ([[windowOrderFor]])
                  val winOrder = items.flatMap(its =>
                    windowOrderFor(orderText, its))
                  if (items.isDefined && winOrder.isDefined) {
                    val itemsText = text(ts.slice(clauseEnd + 1, fromIdx)).trim
                    val midText = text(ts.slice(fromIdx, orderIdx)).trim
                    val tailText =
                      if (tailIdx >= 0) " " + text(ts.slice(tailIdx, scopeEnd)).trim
                      else ""
                    val namesCsv = items.get.map(_._1).mkString(", ")
                    val (winCols, cutoff) =
                      if (percent) {
                        val rk = if (ties) "rank()" else "row_number()"
                        (s"$rk OVER (ORDER BY ${winOrder.get}) AS __gt_rk, " +
                          "count(*) OVER () AS __gt_ct",
                          s"__gt_rk <= CEILING(__gt_ct * ($limitText) / 100.0)")
                      } else
                        (s"rank() OVER (ORDER BY ${winOrder.get}) AS __gt_rk",
                          s"__gt_rk <= $limitText")
                    splice(ts, i, scopeEnd - 1,
                      s"SELECT $namesCsv FROM (SELECT $itemsText, $winCols " +
                        s"$midText) __gt WHERE $cutoff ORDER BY $orderText$tailText")
                    restart = true
                  }
                }
              }
            }
          }
        }
        i += 1
      }
    }
  }

  /** T-SQL `SELECT [ALL|DISTINCT] TOP n [expr-in-parens]` → remove the
    * TOP clause and append `LIMIT n` at the end of that SELECT's scope
    * (end of input for a depth-0 select, before the closing ")" for a
    * subquery). Left untouched — loud Spark error — when followed by
    * PERCENT / WITH TIES forms that fail [[rewriteTopTies]]'s guards,
    * or when a depth-0 set operator shares the scope (LIMIT at scope
    * end would bind to the wrong branch). */
  private def rewriteTopN(ts: ArrayBuffer[Tok]): Unit = {
    var restart = true
    while (restart) {
      restart = false
      var i = 0
      while (i < ts.length && !restart) {
        ts(i) match {
          case Word(s) if s.equalsIgnoreCase("select") =>
            var j = nextIdx(ts, i)
            // skip the optional ALL / DISTINCT quantifier
            if (j >= 0) ts(j) match {
              case Word(q) if q.equalsIgnoreCase("all") ||
                  q.equalsIgnoreCase("distinct") => j = nextIdx(ts, j)
              case _ =>
            }
            val isTop = j >= 0 && (ts(j) match {
              case Word(t) => t.equalsIgnoreCase("top")
              case _ => false
            })
            if (isTop) {
              val nIdx = nextIdx(ts, j)
              val (limitText, consumedEnd) =
                if (nIdx >= 0 && ts(nIdx).isInstanceOf[Num]) (ts(nIdx).text, nIdx)
                else if (nIdx >= 0 && ts(nIdx) == Sym("(")) {
                  val close = primaryEnd(ts, nIdx)
                  (text(ts.slice(nIdx, close + 1)), close)
                } else ("", -1)
              val after = if (consumedEnd >= 0) nextIdx(ts, consumedEnd) else -1
              val blocked = after >= 0 && (ts(after) match {
                case Word(x) => x.equalsIgnoreCase("percent") || x.equalsIgnoreCase("with")
                case _ => false
              })
              if (consumedEnd >= 0 && !blocked) {
                // scope end: where this SELECT's depth closes
                var depth = 0; var k = consumedEnd + 1; var scopeEnd = ts.length
                var setOp = false
                while (k < ts.length && scopeEnd == ts.length) {
                  ts(k) match {
                    case Sym("(") => depth += 1
                    case Sym(")") =>
                      if (depth == 0) scopeEnd = k else depth -= 1
                    case Word(x) if depth == 0 &&
                        (x.equalsIgnoreCase("union") || x.equalsIgnoreCase("intersect") ||
                         x.equalsIgnoreCase("except")) => setOp = true
                    case _ =>
                  }
                  k += 1
                }
                if (!setOp) {
                  // absorb the whitespace after the TOP clause so the
                  // select list doesn't keep a double space
                  val last = if (consumedEnd + 1 < ts.length &&
                    ts(consumedEnd + 1).isInstanceOf[Ws]) consumedEnd + 1 else consumedEnd
                  val removed = last - j + 1
                  ts.remove(j, removed)
                  ts.insert(scopeEnd - removed, Raw(s" LIMIT $limitText "))
                  restart = true
                }
              }
            }
          case _ =>
        }
        i += 1
      }
    }
  }
}
