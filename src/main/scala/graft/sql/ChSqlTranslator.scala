package graft.sql

/** Source-to-source translator from the reference's ClickHouse SQL
  * dialect (the node SQL of the reference kits' `.pipe` files; the test
  * suites run the reconstructions vendored under
  * `src/test/resources/kits`) to Spark SQL. Covers exactly the
  * constructs the reference pipes use — a dialect front-end, not a
  * general CH parser:
  *
  *  - Tinybird templates: `{% if defined(p) %} … {% else %} … {% end %}`
  *    and `{{DateTime(p)}}` (flights_missed_pct_minute.pipe:22,31-32)
  *  - scalar CTE `WITH (SELECT …) as name` (users_api_batch.pipe:6,30)
  *  - `LIMIT n BY k1[, k2…]` → ranking-window rewrite (latest_flight_info.pipe:9
  *    uses `LIMIT 1 BY id`; the general form is supported)
  *  - `FROM <t> FINAL` → `<t>__final` view (users_api_rmt.pipe:6)
  *  - function signature maps: toStartOfMinute, subtractHours,
  *    addMinutes, fromUnixTimestamp64Micro, toFixedString, toDateTime,
  *    now/now64, numbers(n), argMax (§2.8 table)
  *  - CH tolerances: trailing comma before FROM
  *    (latest_passenger_info.pipe:6)
  *
  * Everything else (ifNull/nullIf/coalesce/CASE/INTERVAL/joins/
  * group by/order by) is shared syntax and passes through.
  *
  * Dialect decision: `round(x, n)` maps to the engine's canonical
  * deterministic half-up floor-rounding `floor(x*10^n + 0.5)/10^n`
  * (see ChFunctions.floorRound) rather than passing through to Spark's
  * `round` — Spark rounds the shortest-decimal string of the double,
  * ClickHouse rounds half-even, and both disagree with pure-IEEE
  * engines on .xx5 boundaries; the floor form is bit-identical
  * everywhere, which the correctness gate requires.
  */
object ChSqlTranslator {

  /** Translate one node's SQL. `params`: template parameters; `asOf`:
    * the literal substituted for now()/now64() (determinism contract).
    * `nowFallbackToWallClock`: with no asOf, map now()/now64() to
    * Spark's wall clock (cast ntz) instead of leaving them unresolved —
    * ClickHouse-faithful for the ad-hoc ChDialectParser path; pipeline
    * runs (PipeRunner) always inject asOf. */
  def translate(sql: String, params: Map[String, String] = Map.empty,
                asOf: Option[String] = None,
                nowFallbackToWallClock: Boolean = false): String = {
    var s = sql
    s = stripTemplateMarker(s)
    s = stripLineComments(s)
    s = expandTemplates(s, params)
    s = rewriteScalarWith(s)
    // all regex passes below are string-literal aware (the same mask
    // indexOfCall uses): a literal like 'deleted = false' or 'now()'
    // is data, not syntax to rewrite
    s = replaceOutsideStrings(s, "(?i),\\s*\\n?\\s*FROM\\b")(_ => " FROM") // trailing comma
    val nowSql = asOf.map(ts => s"TIMESTAMP_NTZ '$ts'")
      .orElse(if (nowFallbackToWallClock)
        Some("cast(current_timestamp() as timestamp_ntz)") else None)
    nowSql.foreach { ts =>
      s = replaceOutsideStrings(s, "(?i)\\bnow64\\(\\)")(_ => ts)
      s = replaceOutsideStrings(s, "(?i)\\bnow\\(\\)")(_ => ts)
    }
    s = replaceOutsideStrings(s, "(?i)\\bFROM\\s+(\\w+)\\s+FINAL\\b")(m =>
      s"FROM ${m.group(1)}__final")
    // CH Bool IS UInt8: `deleted = false` compares an Int8/UInt8 column
    // to a boolean literal (users_api_batch.pipe:52). Spark is strict —
    // map the literals to their UInt8 values.
    s = replaceOutsideStrings(s, "(?i)=\\s*false\\b")(_ => "= 0")
    s = replaceOutsideStrings(s, "(?i)=\\s*true\\b")(_ => "= 1")
    s = replaceOutsideStrings(s, "(?i)\\bnumbers\\((\\d+)\\)")(m =>
      s"(SELECT id AS number FROM range(${m.group(1)}))")
    // CH count() is count(*) — Spark rejects the zero-arg form
    s = replaceOutsideStrings(s, "(?i)\\bcount\\(\\s*\\)")(_ => "count(*)")
    // LIMIT BY first, while the ORDER BY list is still raw CH syntax
    // (function rewrites introduce commas inside calls that a list split
    // must not cut through); then the signature rewrites.
    s = rewriteLimitBy(s)
    s = rewriteParamAggs(s)
    s = rewriteFunctions(s)
    s.trim
  }

  private def stripTemplateMarker(s: String): String =
    s.linesIterator.filterNot(_.trim == "%").mkString("\n")

  /** Remove `-- …` line comments BEFORE any paren/quote-aware parsing:
    * an apostrophe inside a comment would otherwise start a phantom
    * string literal (comments are dead text in both dialects). */
  private[sql] def stripLineComments(s: String): String =
    s.linesIterator.map { line =>
      var i = 0; var inStr = false; var cut = -1
      while (i < line.length && cut < 0) {
        val c = line.charAt(i)
        if (c == '\'') inStr = !inStr
        else if (!inStr && c == '-' && i + 1 < line.length && line.charAt(i + 1) == '-')
          cut = i
        i += 1
      }
      if (cut >= 0) line.substring(0, cut) else line
    }.mkString("\n")

  /** `{{Type(name)}}` or `{{Type(name, default)}}` — group 3 is the
    * optional default (the reference's own syntax, e.g.
    * `{{Int32(limit, 100)}}`). A default containing `)` or `}` is not
    * representable (none of the reference kits uses one) — such a
    * template fails to match, which [[expandTemplates]] turns into an
    * explicit unparseable-template error instead of letting the
    * leftover `{{…}}` text reach Spark as a confusing analysis
    * failure. */
  private val TemplateRe =
    """\{\{\s*(\w+)\(\s*(\w+)\s*(?:,\s*([^)}]*?)\s*)?\)\s*\}\}""".r

  /** Template params appearing anywhere in a pipe's SQL: name →
    * declared type (`{{DateTime(start)}}` → `start -> DateTime`).
    * Used by the control plane to bind placeholder values when
    * analyzing a pushed pipe that requires params. */
  def templateParams(s: String): Map[String, String] =
    TemplateRe.findAllMatchIn(s).map(m => m.group(2) -> m.group(1)).toMap

  /** Every param name a pipe's template text can consume: the typed
    * `{{Type(name)}}` substitution sites PLUS bare `defined(name)`
    * guards (a pipe may branch on a param it never substitutes). The
    * control plane validates request params against this set so a
    * typo'd name 400s instead of silently taking the default branch. */
  def declaredParams(s: String): Set[String] =
    templateParams(s).keySet ++
      """defined\(\s*(\w+)\s*\)""".r.findAllMatchIn(s).map(_.group(1))

  /** `{% if defined(p) %} A {% else %} B {% end %}` → A (p bound) or B;
    * `{{Type(p)}}` → typed literal from params, or from the in-template
    * default when the param is absent. */
  private def expandTemplates(s: String, params: Map[String, String]): String = {
    val ifRe = ("""(?s)\{%\s*if\s+defined\((\w+)\)\s*%\}(.*?)""" +
      """\{%\s*else\s*%\}(.*?)\{%\s*end\s*%\}""").r
    val expanded = ifRe.replaceAllIn(s, m =>
      java.util.regex.Matcher.quoteReplacement(
        if (params.contains(m.group(1))) m.group(2) else m.group(3)))
    // leftover-template check runs on the TEMPLATE text (if-blocks
    // expanded, valid `{{Type(name)}}` sites stripped) BEFORE any param
    // value is substituted — a client value containing `{{`, or a SQL
    // string/LIKE literal such as '{%', must never trip it (values are
    // validated-and-quoted below; in-template string literals are
    // masked out). What remains flagged is genuinely unparseable
    // template syntax: a default containing `)` or `}`, a malformed
    // `{% if %}` block — named here instead of surfacing later as an
    // unrelated-looking Spark analysis error.
    val residual = TemplateRe.replaceAllIn(expanded, "")
    val residualMask = inStringMask(residual)
    for (tok <- Seq("{{", "{%")) {
      var at = residual.indexOf(tok)
      while (at >= 0 && residualMask(at)) at = residual.indexOf(tok, at + 1)
      if (at >= 0)
        throw new IllegalArgumentException(
          "unparseable template fragment (defaults may not contain ')' or '}'): " +
            residual.substring(at, math.min(residual.length, at + 60)))
    }
    // a quoted default (`{{String(q, 'foo')}}`) sheds its quotes here —
    // the String branch below re-quotes with proper escaping, so the
    // default goes through EXACTLY the same validate-and-emit path as
    // a client-supplied value
    def unquote(d: String): String =
      if (d.length >= 2 &&
          ((d.head == '\'' && d.last == '\'') ||
           (d.head == '"' && d.last == '"'))) d.substring(1, d.length - 1)
      else d
    val out = TemplateRe.replaceAllIn(expanded, m => {
      val p = m.group(2)
      val v = params.get(p)
        .orElse(Option(m.group(3)).map(unquote))
        .getOrElse(
          throw new IllegalArgumentException(s"unbound template param $p"))
      // every branch VALIDATES and re-emits — template params reach
      // spark.sql as text, so a verbatim substitution would let any
      // scoped read token break out of its literal (quote-close +
      // UNION) and read past its grants; parse-or-400 instead
      val lit = m.group(1) match {
        case "DateTime" =>
          val ldt =
            try java.time.LocalDateTime.parse(v.replace(' ', 'T'))
            catch { case _: java.time.format.DateTimeParseException =>
              throw new IllegalArgumentException(
                s"malformed DateTime for param $p: $v") }
          s"TIMESTAMP_NTZ '${ldt.toString.replace('T', ' ')}'"
        case "Date" =>
          val d =
            try java.time.LocalDate.parse(v)
            catch { case _: java.time.format.DateTimeParseException =>
              throw new IllegalArgumentException(
                s"malformed Date for param $p: $v") }
          s"DATE '$d'"
        case "String" =>
          // escape BOTH literal syntaxes Spark honors: doubled quotes
          // and backslash escapes (a value ending in \ would otherwise
          // swallow the closing quote)
          "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        case "Boolean" =>
          require(v == "true" || v == "false" || v == "0" || v == "1",
            s"malformed Boolean for param $p: $v")
          if (v == "1") "true" else if (v == "0") "false" else v
        case t if t.startsWith("Int") || t.startsWith("UInt") ||
            t.startsWith("Float") || t == "Decimal" =>
          require(v.matches("""-?\d+(\.\d+)?([eE][+-]?\d+)?"""),
            s"malformed $t for param $p: $v")
          v
        case t => throw new IllegalArgumentException(
          s"unsupported template type $t for param $p")
      }
      java.util.regex.Matcher.quoteReplacement(lit)
    })
    out
  }

  /** CH scalar CTE: `WITH (SELECT …) as name <rest>` — inline the
    * subquery at every use of `name` in <rest>.
    *
    * Over no rows, ClickHouse's `max`/`min`/`sum` of a non-Nullable
    * column return the type's default, where Spark's return NULL: the
    * copy pipes' watermark `(SELECT max(batch_max_updated) FROM
    * users_batch)` over an empty target must be 0, or `updated_at >
    * NULL` selects nothing and the first copy never fills the table.
    * So a subquery that is one such aggregate is inlined as
    * `coalesce((sub), 0)` — the default of the numeric columns the
    * reference aggregates this way. A non-numeric column would need
    * its type's default, which this text-level rewrite cannot know. */
  private def rewriteScalarWith(s: String): String = {
    val re = """(?is)^\s*WITH\s*\((SELECT.*?)\)\s+as\s+(\w+)\s+(.*)$""".r
    s match {
      case re(sub, name, rest) =>
        val inlined =
          if (EmptyDefaultAgg.pattern.matcher(sub).matches) s"coalesce(($sub), 0)"
          else s"($sub)"
        rewriteScalarWith( // there may be several in sequence
          replaceOutsideStrings(rest, "\\b" + name + "\\b")(_ => inlined))
      case _ => s
    }
  }

  /** `SELECT max|min|sum(<expr>) FROM …` with no GROUP BY: exactly one
    * row, which over no input is NULL in Spark and the type's default in
    * ClickHouse. */
  private val EmptyDefaultAgg =
    """(?is)^SELECT\s+(?:max|min|sum)\s*\([^()]*\)\s+FROM\s+(?!.*\bGROUP\s+BY\b).*""".r

  /** Per-char mask: true where the char sits inside a single-quoted
    * string literal. Handles both escape spellings valid in ClickHouse
    * AND Spark — doubled quote ('') and backslash (\') — so a literal
    * like 'it''s' or 'it\'s' does not desynchronize the mask and
    * silently disable every rewrite after it. */
  private[sql] def inStringMask(s: String): Array[Boolean] = {
    val m = new Array[Boolean](s.length)
    var in = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (in && c == '\\' && i + 1 < s.length) {
        m(i) = true; m(i + 1) = true; i += 2 // escaped char, incl. \'
      } else if (in && c == '\'' && i + 1 < s.length && s.charAt(i + 1) == '\'') {
        m(i) = true; m(i + 1) = true; i += 2 // '' = literal quote
      } else {
        if (c == '\'') in = !in
        m(i) = in
        i += 1
      }
    }
    m
  }

  /** `replaceAll` that leaves matches starting inside string literals
    * untouched. Match positions are taken against the ORIGINAL string
    * (replaceAllIn walks the source left-to-right), so one mask per
    * pass is exact. */
  private def replaceOutsideStrings(s: String, pattern: String)
                                   (f: scala.util.matching.Regex.Match => String): String = {
    val mask = inStringMask(s)
    pattern.r.replaceAllIn(s, m =>
      java.util.regex.Matcher.quoteReplacement(
        if (mask(m.start)) m.matched else f(m)))
  }

  /** Balanced-paren function rewriting for signature-changing maps. */
  private val fnMaps: Seq[(String, Seq[String] => String)] = Seq(
    "toStartOfMinute" -> (a => s"cast(date_trunc('minute', ${a(0)}) as timestamp_ntz)"),
    "toStartOfHour" -> (a => s"cast(date_trunc('hour', ${a(0)}) as timestamp_ntz)"),
    "toStartOfDay" -> (a => s"cast(date_trunc('day', ${a(0)}) as timestamp_ntz)"),
    "subtractHours" -> (a => s"(${a(0)} - make_interval(0,0,0,0,${a(1)},0,0))"),
    "addMinutes" -> (a => s"(${a(0)} + make_interval(0,0,0,0,0,${a(1)},0))"),
    "fromUnixTimestamp64Micro" -> (a => s"cast(timestamp_micros(${a(0)}) as timestamp_ntz)"),
    "toFixedString" -> (a => s"rpad(${a(0)}, ${a(1)}, ' ')"),
    "toDateTime" -> (a => s"cast(timestamp_seconds(${a(0)}) as timestamp_ntz)"),
    "toYYYYMM" -> (a => s"cast(date_format(${a(0)}, 'yyyyMM') as int)"),
    "argMax" -> (a => s"max_by(${a(0)}, ${a(1)})"),
    "argMin" -> (a => s"min_by(${a(0)}, ${a(1)})"),
    // the -If aggregate combinators and exact uniq: not used by the
    // reference's pipes, but the first things a user's ad-hoc CH
    // dashboard queries hit (CASE-mapped with CH null semantics: sum/
    // avg skip nulls, avgIf averages over matching rows only)
    "countIf" -> (a => s"sum(CASE WHEN ${a(0)} THEN 1 ELSE 0 END)"),
    "sumIf" -> (a => s"sum(CASE WHEN ${a(1)} THEN ${a(0)} END)"),
    "avgIf" -> (a => s"avg(CASE WHEN ${a(1)} THEN ${a(0)} END)"),
    "uniqExact" -> (a => s"count(DISTINCT ${a(0)})"),
    // CH's default distinct-count is approximate (uniqCombined); the
    // HLL++ sketch is the faithful Spark analogue — NOT oracled
    // (sketch internals are engine-specific), error-bounded in spec
    "uniq" -> (a => s"approx_count_distinct(${a(0)})"),
    // single-list forms: CH's default parameter is the median; the
    // double-list parameterized forms are consumed by rewriteParamAggs
    // before this map runs
    "quantileExact" -> (a => s"percentile(${a(0)}, 0.5)"),
    "quantile" -> (a => s"percentile(${a(0)}, 0.5)"),
    "toDate" -> (a => s"cast(${a(0)} as date)"),
    // multiIf(c1,v1,c2,v2,…,else) — the CH conditional chain every
    // dashboard uses; pairs become WHEN arms, the odd trailing arg the
    // ELSE
    "multiIf" -> (a => {
      require(a.length >= 3 && a.length % 2 == 1,
        s"multiIf expects cond/value pairs plus an else, got ${a.length} args")
      val arms = a.dropRight(1).grouped(2)
        .map(p => s"WHEN ${p(0)} THEN ${p(1)}").mkString(" ")
      s"(CASE $arms ELSE ${a.last} END)"
    }),
    // arrayJoin → explode: valid where Spark accepts a generator (the
    // select list — the reference-era usage); elsewhere Spark's
    // analyzer rejects it loudly rather than silently misreading
    "arrayJoin" -> (a => s"explode(${a(0)})"),
    "toYYYYMMDD" -> (a => s"cast(date_format(${a(0)}, 'yyyyMMdd') as int)"),
    "round" -> (a => {
      val n =
        if (a.length < 2) 0
        else {
          val raw = a(1).trim
          require(raw.matches("-?\\d+"),
            s"round(): unsupported non-integer-literal precision '$raw' — " +
              "the dialect maps round to deterministic floor-rounding, which " +
              "needs the precision at translation time")
          raw.toInt
        }
      val factor = math.pow(10, math.abs(n)).toLong
      // divisor/multiplier cast to DOUBLE: a bare `100.0` literal is
      // DECIMAL in Spark SQL (unlike the DataFrame API) and would
      // decimal-type the whole expression
      if (n >= 0)
        s"(floor((${a(0)}) * $factor + 0.5) / cast($factor as double))"
      else // CH round(x, -2): round to hundreds
        s"(floor((${a(0)}) / cast($factor as double) + 0.5) * $factor)"
    }))

  /** CH parameterized aggregates — the `fn(params)(args)` double-arg-
    * list syntax: `quantile(0.5)(x)`. Both map to Spark's EXACT
    * `percentile`: ClickHouse's plain `quantile` is sampling-based and
    * non-deterministic run to run, which this engine's reproducibility
    * contract (and any hash-based gate) cannot accept — determinism is
    * the documented dialect decision, like round(). */
  private val paramAggs: Map[String, (Seq[String], Seq[String]) => String] = Map(
    "quantileExact" -> ((p, a) => s"percentile(${a(0)}, ${p(0)})"),
    "quantile" -> ((p, a) => s"percentile(${a(0)}, ${p(0)})"))

  private def rewriteParamAggs(sql: String): String = {
    var s = sql
    var changed = true
    while (changed) {
      changed = false
      for ((name, map) <- paramAggs if !changed) {
        // every non-literal occurrence, not just the first: a
        // single-list call (valid CH, default parameter — handled by
        // fnMaps later) must not shadow a double-list one behind it
        val idx = indicesOfCall(s, name).find { i =>
          val close1 = matchParen(s, s.indexOf('(', i + name.length))
          var j = close1 + 1
          while (j < s.length && s.charAt(j).isWhitespace) j += 1
          j < s.length && s.charAt(j) == '('
        }.getOrElse(-1)
        if (idx >= 0) {
          val open1 = s.indexOf('(', idx + name.length)
          val close1 = matchParen(s, open1)
          var j = close1 + 1
          while (j < s.length && s.charAt(j).isWhitespace) j += 1
          val close2 = matchParen(s, j)
          val params = splitArgs(s.substring(open1 + 1, close1)).map(_.trim)
          val args = splitArgs(s.substring(j + 1, close2)).map(_.trim)
          s = s.substring(0, idx) + map(params, args) + s.substring(close2 + 1)
          changed = true
        }
      }
    }
    s
  }

  private def rewriteFunctions(sql: String): String = {
    var s = sql
    var changed = true
    while (changed) {
      changed = false
      for ((name, map) <- fnMaps) {
        val idx = indexOfCall(s, name)
        if (idx >= 0) {
          val open = s.indexOf('(', idx + name.length)
          val close = matchParen(s, open)
          val args = splitArgs(s.substring(open + 1, close))
          s = s.substring(0, idx) + map(args.map(_.trim)) + s.substring(close + 1)
          changed = true
        }
      }
    }
    s
  }

  /** Find `name(` as a whole word (case-insensitive), skipping matches
    * inside single-quoted string literals — a literal like
    * `'argMax(a,b)'` is data, not a call to rewrite. */
  private def indexOfCall(s: String, name: String): Int =
    indicesOfCall(s, name).headOption.getOrElse(-1)

  /** All non-string-literal positions of `name(`. */
  private def indicesOfCall(s: String, name: String): Seq[Int] = {
    val re = ("(?i)\\b" + name + "\\s*\\(").r
    val inString = {
      val m = new Array[Boolean](s.length)
      var in = false
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == '\'') in = !in
        m(i) = in
        i += 1
      }
      m
    }
    re.findAllMatchIn(s).map(_.start).filter(p => !inString(p)).toSeq
  }

  private def matchParen(s: String, open: Int): Int = {
    var depth = 0; var i = open
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case '\'' => i += 1; while (i < s.length && s.charAt(i) != '\'') i += 1
        case _ => ()
      }
      i += 1
    }
    throw new IllegalArgumentException(s"unbalanced parens at $open in: $s")
  }

  private def splitArgs(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var start = 0; var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case '\'' => i += 1; while (i < s.length && s.charAt(i) != '\'') i += 1
        case ',' if depth == 0 => out += s.substring(start, i); start = i + 1
        case _ => ()
      }
      i += 1
    }
    out += s.substring(start)
    out.result()
  }

  /** `SELECT … FROM t ORDER BY o LIMIT n BY k1[, k2…]` → ranking-window
    * subquery (`row_number() <= n` partitioned by the LIMIT BY keys).
    * The per-group ordering is the ORDER BY list minus the keys. */
  private def rewriteLimitBy(sql: String): String = {
    // key list = identifiers separated by commas ONLY — a permissive
    // [\w\s,] tail would absorb a trailing `LIMIT m`/`OFFSET j` clause
    // into the key list and emit garbage instead of falling through
    val re = """(?is)^\s*SELECT\s+(.*?)\s+FROM\s+(\w+)\s+ORDER\s+BY\s+(.*?)\s+LIMIT\s+(\d+)\s+BY\s+(\w+(?:\s*,\s*\w+)*)\s*$""".r
    sql match {
      case re(cols, table, order, n, keyList) =>
        val keys = keyList.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        // split at TOP-LEVEL commas only (order entries may be calls)
        val entries = splitArgs(order).map(_.trim)
        def isKey(o: String) = keys.exists(k => o.equalsIgnoreCase(k) ||
          o.toLowerCase.startsWith(k.toLowerCase + " "))
        val perGroup = entries.filterNot(isKey)
        // ORDER BY ⊆ keys → any row of the group is "the" row in CH;
        // pin a deterministic choice instead
        val perGroupOrder =
          if (perGroup.isEmpty) keys.map(k => s"$k ASC").mkString(", ")
          else perGroup.mkString(", ")
        // keep the query's own ORDER BY on the outside — CH returns the
        // LIMIT BY result in that order and endpoint consumers rely on it
        s"""SELECT $cols FROM (
           |  SELECT *, row_number() OVER (PARTITION BY ${keys.mkString(", ")}
           |    ORDER BY $perGroupOrder) AS __rn
           |  FROM $table) WHERE __rn <= $n ORDER BY $order""".stripMargin
      case _ => sql
    }
  }
}
