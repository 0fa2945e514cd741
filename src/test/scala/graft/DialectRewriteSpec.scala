package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.lake.StatementRouter
import graft.lake.StatementRouter.rewriteDialect

/** the DuckDB-dialect → Spark SQL text rewrites (SURVEY.md: the
  * reference's contract is the verbatim DuckDB dialect, ducklakexl.py:394)
  */
class DialectRewriteSpec extends AnyFunSuite {

  test("* EXCLUDE maps to * EXCEPT, paren and bare forms") {
    assert(rewriteDialect("SELECT * EXCLUDE (a, b) FROM t") ==
      "SELECT * EXCEPT (a, b) FROM t")
    assert(rewriteDialect("SELECT t.* EXCLUDE (a) FROM t") ==
      "SELECT t.* EXCEPT (a) FROM t")
    assert(rewriteDialect("SELECT * EXCLUDE a FROM t") ==
      "SELECT * EXCEPT (a) FROM t")
  }

  test("EXCLUDE inside a string literal is untouched") {
    val q = "SELECT '* EXCLUDE (a)' AS s FROM t"
    assert(rewriteDialect(q) == q)
  }

  test("ON CONFLICT classification skips a SELECT body's JOIN ... ON") {
    StatementRouter.classify(
      "INSERT INTO t SELECT a.id, b.v FROM a JOIN b ON a.id = b.id " +
      "ON CONFLICT (id) DO UPDATE SET v = EXCLUDED.v") match {
      case StatementRouter.InsertOnConflict(_, None, body, Seq("id"),
          StatementRouter.ConflictUpdate(Seq(("v", e)))) =>
        assert(body.contains("JOIN b ON a.id = b.id"), body)
        assert(e.contains("EXCLUDED.v"))
      case other => fail(s"unexpected classification: $other")
    }
    // no conflict clause -> plain InsertSelect, JOIN ... ON untouched
    StatementRouter.classify(
      "INSERT INTO t SELECT a.id FROM a JOIN b ON a.id = b.id") match {
      case StatementRouter.InsertSelect(_, None, body, _) =>
        assert(body.contains("ON a.id = b.id"))
      case other => fail(s"unexpected classification: $other")
    }
    // the phrase inside a VALUES literal never splits
    StatementRouter.classify(
      "INSERT INTO t VALUES (1, 'x ON CONFLICT y')") match {
      case StatementRouter.InsertValues(_, None, body) =>
        assert(body.contains("'x ON CONFLICT y'"))
      case other => fail(s"unexpected classification: $other")
    }
  }

  test("in-parens IGNORE/RESPECT NULLS relocates after the window call") {
    assert(rewriteDialect("SELECT lag(x IGNORE NULLS) OVER (ORDER BY id) FROM t") ==
      "SELECT lag(x) IGNORE NULLS OVER (ORDER BY id NULLS LAST) FROM t")
    assert(rewriteDialect("SELECT lead(x, 2 ignore nulls) OVER w FROM t") ==
      "SELECT lead(x, 2) IGNORE NULLS OVER w FROM t")
    assert(rewriteDialect("SELECT last_value(v RESPECT NULLS) OVER w FROM t") ==
      "SELECT last_value(v) RESPECT NULLS OVER w FROM t")
    // plain calls and literals are untouched
    val q = "SELECT lag(x) OVER w, 'lag(x IGNORE NULLS)' AS s FROM t"
    assert(rewriteDialect(q) == q)
  }

  test("* REPLACE becomes EXCEPT + recomputed columns") {
    assert(rewriteDialect("SELECT * REPLACE (price * 2 AS price) FROM t") ==
      "SELECT * EXCEPT (price), price * 2 AS price FROM t")
    // CAST's AS sits inside parens and must not split the entry
    assert(rewriteDialect("SELECT * REPLACE (CAST(x AS INT) AS x, y + 1 AS y) FROM t") ==
      "SELECT * EXCEPT (x, y), CAST(x AS INT) AS x, y + 1 AS y FROM t")
  }

  test("plain replace() function calls are untouched") {
    val q = "SELECT replace(name, 'a', 'b') FROM t"
    assert(rewriteDialect(q) == q)
  }

  test("DISTINCT ON becomes a row_number subquery") {
    val out = rewriteDialect(
      "SELECT DISTINCT ON (k) k, v FROM t WHERE v > 0 ORDER BY k, ts DESC")
    assert(out.contains("row_number() OVER (PARTITION BY k ORDER BY k NULLS LAST, ts DESC)"))
    assert(out.contains("WHERE __ddb_rn = 1"))
    assert(out.endsWith("ORDER BY k NULLS LAST, ts DESC"))
    // star select must not leak the helper column
    assert(rewriteDialect("SELECT DISTINCT ON (k) * FROM t ORDER BY k, ts")
      .startsWith("SELECT * EXCEPT (__ddb_rn)"))
  }

  test("QUALIFY becomes a filtered window subquery") {
    val out = rewriteDialect(
      "SELECT k, v FROM t QUALIFY row_number() OVER (PARTITION BY k ORDER BY v) = 1 ORDER BY k")
    assert(out.contains("(row_number() OVER (PARTITION BY k ORDER BY v NULLS LAST) = 1) AS __ddb_q"))
    assert(out.contains("WHERE __ddb_q"))
    assert(out.endsWith("ORDER BY k NULLS LAST"))
  }

  test("ASOF JOIN becomes a correlated LATERAL pick") {
    val out = rewriteDialect(
      "SELECT e.id, o.v FROM e ASOF JOIN o ON e.k = o.k AND e.ts >= o.ts ORDER BY e.id")
    // exact equality — a lost separator before the trailing ORDER BY
    // produced unparseable SQL once (r7)
    assert(out == "SELECT e.id, o.v FROM e JOIN LATERAL (SELECT * FROM o AS o " +
      "WHERE e.k = o.k AND e.ts >= o.ts ORDER BY o.ts DESC LIMIT 1) AS o ORDER BY e.id NULLS LAST")
  }

  test("ASOF LEFT JOIN keeps left rows; alias and direction respected") {
    val out = rewriteDialect(
      "SELECT * FROM e ASOF LEFT JOIN quotes q ON e.k = q.k AND q.qts <= e.ts")
    assert(out.contains("LEFT JOIN LATERAL (SELECT * FROM quotes AS q"))
    assert(out.contains("ORDER BY q.qts DESC LIMIT 1) AS q"))
    // opposite direction: earliest at-or-after
    val fwd = rewriteDialect(
      "SELECT * FROM e ASOF JOIN quotes q ON e.k = q.k AND e.ts <= q.qts")
    assert(fwd.contains("ORDER BY q.qts ASC NULLS LAST LIMIT 1"))
  }

  test("list_* functions map to Spark array twins") {
    assert(rewriteDialect("SELECT list_transform(xs, x -> x + 1) FROM t") ==
      "SELECT transform(xs, x -> x + 1) FROM t")
    assert(rewriteDialect("SELECT list_contains(list_value(1, 2), k) FROM t") ==
      "SELECT array_contains(array(1, 2), k) FROM t")
  }

  test("division // becomes the type-dispatching fdiv, except inside literals") {
    // r12: `//` maps to the native FloorDiv (ints trunc-divide, doubles
    // PLAIN-divide like DuckDB, NULL on zero divisor) instead of `div`,
    // which refused floating operands
    assert(rewriteDialect("SELECT a // b AS d FROM t") ==
      "SELECT __graft_fdiv(a, b) AS d FROM t")
    val q = "SELECT 'http://x' AS u FROM t"
    assert(rewriteDialect(q) == q)
  }

  test("r7 function renames: list(), starts/ends_with, regexp_matches") {
    assert(rewriteDialect("SELECT list(v) FROM t GROUP BY k") ==
      "SELECT collect_list(v) FROM t GROUP BY k")
    // the bare `list` rename must not clobber the list_* family
    // r12: list_sort -> array_sort (asc NULLS LAST, DuckDB's measured
    // order — sort_array puts NULLs first)
    assert(rewriteDialect("SELECT list_sort(list(v)) FROM t") ==
      "SELECT array_sort(collect_list(v)) FROM t")
    assert(rewriteDialect("SELECT starts_with(v, 'a'), ends_with(v, 'z') FROM t") ==
      "SELECT startswith(v, 'a'), endswith(v, 'z') FROM t")
    // r13: regexp_matches routes to the POSIX-and-flags-aware native
    assert(rewriteDialect("SELECT * FROM t WHERE regexp_matches(v, 'x+')") ==
      "SELECT * FROM t WHERE __graft_regexp_matches(v, 'x+', '')")
    // list_position carries DuckDB's NULL-when-absent (array_position
    // returns 0 there — r8 review fix)
    // r12 list differential: MEASURED DuckDB 1.0 list_position returns
    // 0 when absent (the r8 nullif wrapper encoded a later version's
    // docs and silently flipped absent to NULL)
    assert(rewriteDialect("SELECT list_append(xs, 1), list_position(xs, 2) FROM t") ==
      "SELECT array_append(xs, 1), array_position(xs, 2) FROM t")
  }

  test("bare VARCHAR casts map to STRING; sized VARCHAR(n) survives") {
    assert(rewriteDialect("SELECT x::VARCHAR, CAST(y AS VARCHAR) FROM t") ==
      "SELECT x::STRING, CAST(y AS STRING) FROM t")
    assert(rewriteDialect("SELECT CAST(y AS VARCHAR(10)) FROM t") ==
      "SELECT CAST(y AS VARCHAR(10)) FROM t")
    val lit = "SELECT 'VARCHAR' AS s FROM t"
    assert(rewriteDialect(lit) == lit)
  }

  test("USING SAMPLE becomes TABLESAMPLE") {
    assert(rewriteDialect("SELECT * FROM t USING SAMPLE 10%") ==
      "SELECT * FROM t TABLESAMPLE (10 PERCENT)")
    assert(rewriteDialect("SELECT * FROM t USING SAMPLE 25 PERCENT") ==
      "SELECT * FROM t TABLESAMPLE (25 PERCENT)")
    assert(rewriteDialect("SELECT * FROM t USING SAMPLE 100 ROWS") ==
      "SELECT * FROM t TABLESAMPLE (100 ROWS)")
    assert(rewriteDialect("SELECT * FROM t USING SAMPLE 100") ==
      "SELECT * FROM t TABLESAMPLE (100 ROWS)")
  }

  test("ordinary Spark SQL passes through unchanged") {
    for (q <- Seq(
      "SELECT a, sum(b) FROM t GROUP BY a ORDER BY a NULLS LAST",
      "SELECT * FROM t JOIN u ON t.k = u.k WHERE t.v < 3",
      "WITH c AS (SELECT 1 AS x) SELECT * FROM c"))
      assert(rewriteDialect(q) == q)
  }

  test("r7b: subscripts become 1-based element_at, list literals become array()") {
    assert(rewriteDialect("SELECT arr[1] FROM t") ==
      "SELECT __graft_subscript(arr, 1) FROM t")
    assert(rewriteDialect("SELECT t.arr[i + 1] FROM t") ==
      "SELECT __graft_subscript(t.arr, i + 1) FROM t")
    assert(rewriteDialect("SELECT split(s, ',')[2] FROM t") ==
      "SELECT __graft_subscript(split(s, ','), 2) FROM t")
    assert(rewriteDialect("SELECT m['k'] FROM t") ==
      "SELECT __graft_subscript(m, 'k') FROM t")
    assert(rewriteDialect("SELECT a[1][2] FROM t") ==
      "SELECT __graft_subscript(__graft_subscript(a, 1), 2) FROM t")
    assert(rewriteDialect("SELECT [1, 2, 3] AS xs") ==
      "SELECT array(1, 2, 3) AS xs")
    assert(rewriteDialect("SELECT CASE WHEN c THEN [1] ELSE [] END") ==
      "SELECT CASE WHEN c THEN array(1) ELSE array() END")
    assert(rewriteDialect("SELECT [a, b][1]") ==
      "SELECT __graft_subscript(array(a, b), 1)")
  }

  test("r7b: array TYPE declarations translate to Spark DDL; literal contents untouched") {
    // r11: cast targets with DuckDB array suffixes now translate to the
    // spelling Spark's parser takes (they used to pass through and fail)
    assert(rewriteDialect("SELECT CAST(x AS INTEGER[]) FROM t") ==
      "SELECT CAST(x AS ARRAY<INT>) FROM t")
    assert(rewriteDialect("SELECT x::VARCHAR[] FROM t") ==
      "SELECT x::ARRAY<STRING> FROM t")
    val lit = "SELECT 'a[1]' AS s FROM t"
    assert(rewriteDialect(lit) == lit)
  }

  test("r8/r18: slices route to the measured-semantics native, steps and negatives included") {
    assert(rewriteDialect("SELECT arr[1:3] FROM t") ==
      "SELECT __graft_slice(arr, CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(1 AS BIGINT), false, false, false) FROM t")
    assert(rewriteDialect("SELECT arr[:2] FROM t") ==
      "SELECT __graft_slice(arr, CAST(0 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT), true, false, false) FROM t")
    assert(rewriteDialect("SELECT arr[2:] FROM t") ==
      "SELECT __graft_slice(arr, CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), false, true, false) FROM t")
    assert(rewriteDialect("SELECT arr[:] FROM t") == "SELECT arr FROM t")
    assert(rewriteDialect("SELECT split(s, ',')[1:2] FROM t") ==
      "SELECT __graft_slice(split(s, ','), CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT), false, false, false) FROM t")
    // r18: negative bounds and step slices carry DuckDB's measured
    // end-relative / stepped semantics (SliceDifferentialSpec pins the
    // values) instead of passing through to a loud Spark error
    assert(rewriteDialect("SELECT arr[-2:] FROM t") ==
      "SELECT __graft_slice(arr, CAST(-2 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), false, true, false) FROM t")
    assert(rewriteDialect("SELECT arr[1:5:2] FROM t") ==
      "SELECT __graft_slice(arr, CAST(1 AS BIGINT), CAST(5 AS BIGINT), CAST(2 AS BIGINT), false, false, true) FROM t")
    // a '::' cast inside a subscript is NOT a slice separator
    assert(rewriteDialect("SELECT arr[i::INT] FROM t") ==
      "SELECT __graft_subscript(arr, i::INT) FROM t")
  }

  test("r7b/r16: strftime routes to the measured-semantics native") {
    // r16: the Java-pattern translation is gone — the native implements
    // the measured directive matrix (StrftimeDifferentialSpec), so every
    // call routes, dynamic formats included (per-row compile cache)
    assert(rewriteDialect("SELECT strftime(ts, '%Y-%m-%d') FROM t") ==
      "SELECT __graft_strftime(ts, '%Y-%m-%d') FROM t")
    assert(rewriteDialect("SELECT strftime(ts, fmt) FROM t") ==
      "SELECT __graft_strftime(ts, fmt) FROM t")
  }

  test("r7b/r12: date_diff maps every unit to boundary-crossing twins") {
    assert(rewriteDialect("SELECT date_diff('day', d1, d2) FROM t") ==
      "SELECT datediff(d2, d1) FROM t")
    assert(rewriteDialect("SELECT datediff('day', d1, d2) FROM t") ==
      "SELECT datediff(d2, d1) FROM t")
    // r12: month family maps to the native complete-months counter
    // scaled to calendar boundaries (year*12+month algebra)
    assert(rewriteDialect("SELECT date_diff('month', d1, d2) FROM t").contains(
      "year(CAST((d2) AS DATE)) * 12 + month(CAST((d2) AS DATE))"))
    assert(rewriteDialect("SELECT date_diff('hour', a, b) FROM t").contains(
      "date_trunc('hour'"))
    // Spark's own 2-arg datediff passes through
    val two = "SELECT datediff(d2, d1) FROM t"
    assert(rewriteDialect(two) == two)
  }

  test("r8: FROM-first syntax reorders into canonical SELECT") {
    assert(rewriteDialect("FROM t") == "SELECT * FROM t")
    assert(rewriteDialect("FROM t WHERE x > 1") == "SELECT * FROM t WHERE x > 1")
    assert(rewriteDialect("FROM t SELECT a, b") == "SELECT a, b FROM t")
    assert(rewriteDialect("FROM t SELECT grp, count(*) AS n GROUP BY grp ORDER BY grp") ==
      "SELECT grp, count(*) AS n FROM t GROUP BY grp ORDER BY grp NULLS LAST")
    assert(rewriteDialect("FROM t SELECT a WHERE b < 3 LIMIT 5") ==
      "SELECT a FROM t WHERE b < 3 LIMIT 5")
    // a SELECT inside parens is a subquery source, not a SELECT clause
    assert(rewriteDialect("FROM (SELECT 1 AS x) s") ==
      "SELECT * FROM (SELECT 1 AS x) s")
    // ordinary statements do not fire
    val q = "SELECT a FROM t"
    assert(rewriteDialect(q) == q)
  }

  test("r8: a COLUMN named like a type still subscripts; cast contexts stay types") {
    // date/json/text… are TypeWords, but as a column base the bracket is
    // a 1-based subscript — passing it through would be silently 0-based
    assert(rewriteDialect("SELECT date[1] FROM t") ==
      "SELECT __graft_subscript(date, 1) FROM t")
    assert(rewriteDialect("SELECT json[2], time[i] FROM t") ==
      "SELECT __graft_subscript(json, 2), __graft_subscript(time, i) FROM t")
    // …while CAST / :: contexts treat the sized-array suffix as a TYPE —
    // translated (r11) to the ARRAY<> spelling Spark parses (DuckDB's
    // fixed-size arrays are stored as lists, same as the lake's DDL)
    assert(rewriteDialect("SELECT CAST(x AS INTEGER[3]) FROM t") ==
      "SELECT CAST(x AS ARRAY<INT>) FROM t")
    assert(rewriteDialect("SELECT x::INTEGER[3] FROM t") ==
      "SELECT x::ARRAY<INT> FROM t")
  }

  test("r8: ARRAY keyword literals collapse into array(); row[] is a subscript") {
    assert(rewriteDialect("SELECT ARRAY[1, 2] AS xs") ==
      "SELECT array(1, 2) AS xs")
    assert(rewriteDialect("SELECT ARRAY [1, 2] AS xs") ==
      "SELECT array(1, 2) AS xs")
    assert(rewriteDialect("SELECT row[1] FROM t") ==
      "SELECT __graft_subscript(row, 1) FROM t")
  }

  test("r8: calls nested inside rewritten call arguments are rewritten too") {
    assert(rewriteDialect("SELECT date_diff('day', a, date_diff('day', b, c)) FROM t") ==
      "SELECT datediff(datediff(c, b), a) FROM t")
    assert(rewriteDialect(
      "SELECT string_split(strftime(ts, '%Y-%m'), '-') FROM t") ==
      "SELECT split(__graft_strftime(ts, '%Y-%m'), '\\\\Q-\\\\E') FROM t")
  }

  test("r8: list comprehensions become transform/filter") {
    assert(rewriteDialect("SELECT [x * 2 FOR x IN xs] FROM t") ==
      "SELECT transform(xs, x -> x * 2) FROM t")
    assert(rewriteDialect("SELECT [x FOR x IN xs IF x > 0] FROM t") ==
      "SELECT transform(filter(xs, x -> x > 0), x -> x) FROM t")
    assert(rewriteDialect("SELECT [x + 1 FOR x IN [1, 2, 3]] AS ys") ==
      "SELECT transform(array(1, 2, 3), x -> x + 1) AS ys")
    // nested comprehension resolves inside-out on the recursive pass
    assert(rewriteDialect("SELECT [[y * y FOR y IN x] FOR x IN xss]") ==
      "SELECT transform(xss, x -> transform(x, y -> y * y))")
    // the if() FUNCTION in the source list is not a comprehension filter
    assert(rewriteDialect("SELECT [y FOR y IN if(c, a, b)]") ==
      "SELECT transform(if(c, a, b), y -> y)")
  }

  test("r8: struct and map literals become named_struct/map") {
    assert(rewriteDialect("SELECT {'a': 1, 'b': x} AS st") ==
      "SELECT named_struct('a', 1, 'b', x) AS st")
    // nested literal, value expressions with :: casts left alone
    assert(rewriteDialect("SELECT {'a': x::INTEGER, 'n': {'b': 2}} AS st") ==
      "SELECT named_struct('a', x::INTEGER, 'n', named_struct('b', 2)) AS st")
    assert(rewriteDialect("SELECT MAP {'k': v, 'j': 2} AS m") ==
      "SELECT map('k', v, 'j', 2) AS m")
    // a map literal's keys may be expressions; braces inside strings stay
    assert(rewriteDialect("SELECT MAP {k || 'x': v} AS m, '{not: a literal}' AS s") ==
      "SELECT map(k || 'x', v) AS m, '{not: a literal}' AS s")
    assert(rewriteDialect("SELECT struct_pack(p := a + 1, q := 'z') AS sp") ==
      "SELECT named_struct('p', a + 1, 'q', 'z') AS sp")
  }

  test("r8: macro expansion is word-bounded, nested, arity-checked") {
    val m = Map("addtax" -> (Seq("x") -> "x + x // 10"),
      "pair" -> (Seq("a", "b") -> "a * b"))
    assert(StatementRouter.expandMacros("SELECT addtax(v) FROM t", m) ==
      "SELECT ((v) + (v) // 10) FROM t")
    // nested call in an argument expands inside-out
    assert(StatementRouter.expandMacros("SELECT pair(addtax(v), 2)", m) ==
      "SELECT ((((v) + (v) // 10)) * (2))")
    // not a call, not a macro name: untouched
    assert(StatementRouter.expandMacros("SELECT addtax FROM t", m) ==
      "SELECT addtax FROM t")
    assert(StatementRouter.expandMacros("SELECT 'addtax(v)' FROM t", m) ==
      "SELECT 'addtax(v)' FROM t")
    assertThrows[IllegalArgumentException](
      StatementRouter.expandMacros("SELECT pair(1) FROM t", m))
    // a self-recursive macro regrows its own call site — must fail
    // loudly at the expansion bound, never spin
    val rec = Map("f" -> (Seq("x") -> "f(x) + 1"))
    assertThrows[IllegalArgumentException](
      StatementRouter.expandMacros("SELECT f(1)", rec))
    // SIMULTANEOUS binding: an argument that happens to be a column
    // named like a LATER parameter must not be re-substituted (the
    // sequential-capture bug: pair(b, 10) -> ((10)) * (10))
    assert(StatementRouter.expandMacros("SELECT pair(b, 10) FROM t", m) ==
      "SELECT ((b) * (10)) FROM t")
  }

  test("r8: SIMILAR TO anchors into RLIKE; generate_series maps by position") {
    assert(rewriteDialect("SELECT * FROM t WHERE v SIMILAR TO 'ab+c'") ==
      "SELECT * FROM t WHERE v RLIKE '^(?:ab+c)$'")
    assert(rewriteDialect("SELECT x FROM t WHERE x NOT SIMILAR TO 'a.c'") ==
      "SELECT x FROM t WHERE x NOT RLIKE '^(?:a.c)$'")
    // table-function position -> exploded derived table with DuckDB's
    // column name; list position -> sequence; bare identifier untouched
    assert(rewriteDialect("SELECT generate_series FROM generate_series(1, 4)") ==
      "SELECT generate_series FROM (SELECT explode(sequence(1, 4)) AS generate_series)")
    assert(rewriteDialect("SELECT generate_series(1, 3) AS xs") ==
      "SELECT sequence(1, 3) AS xs")
    // the phrase INSIDE a string literal survives verbatim (every
    // rewrite in this file is literal-masked)
    val lit = "SELECT 'use SIMILAR TO ''re'' syntax' AS tip FROM t"
    assert(rewriteDialect(lit) == lit)
  }

  test("r8 review fixes: literal masks, NULL-position, multi-word keywords, comments") {
    // * REPLACE / ASOF phrases inside string literals survive
    val l1 = "SELECT '* REPLACE (a AS b)' AS doc FROM t"
    assert(rewriteDialect(l1) == l1)
    val l2 = "SELECT 'x ASOF JOIN y ON z' AS doc FROM t"
    assert(rewriteDialect(l2) == l2)
    // list_position: absent element must be NULL (DuckDB), not 0 (Spark)
    assert(rewriteDialect("SELECT list_position(xs, 5) FROM t") ==
      // r12: measured DuckDB 1.0 returns 0 when absent — plain rename
      "SELECT array_position(xs, 5) FROM t")
    // DISTINCT ON across a newline-split ORDER BY keeps the user's order
    val d = rewriteDialect("SELECT DISTINCT ON (k) v FROM t ORDER\nBY ts DESC")
    assert(d.toLowerCase.contains("row_number"), d)
    assert(d.contains("ts DESC"), s"lost the ORDER BY through the newline: $d")
    // block comments separate tokens instead of merging them
    assert(StatementRouter.split("SELECT a/*unit: cents*/b FROM t") ==
      Seq("SELECT a b FROM t"))
  }

  test("r8: COLUMNS('re')/COLUMNS(*) expand against the resolved schema") {
    val schema = Map("t" -> Seq("id", "q1", "q2"))
    def co(n: String): Option[Seq[String]] = schema.get(n)
    assert(StatementRouter.expandColumns("SELECT COLUMNS('q[0-9]') FROM t", co) ==
      "SELECT q1, q2 FROM t")
    assert(StatementRouter.expandColumns("SELECT COLUMNS(*) FROM t", co) ==
      "SELECT id, q1, q2 FROM t")
    // wrapped form expands per column with deterministic aliases; the
    // rest of the query (GROUP BY) rides along untouched
    assert(StatementRouter.expandColumns(
      "SELECT id, min(COLUMNS('q')) FROM t GROUP BY id", co) ==
      "SELECT id, min(q1) AS min_q1, min(q2) AS min_q2 FROM t GROUP BY id")
    // no silent behavior: unmatched regex and unresolvable tables throw
    assertThrows[IllegalArgumentException](
      StatementRouter.expandColumns("SELECT COLUMNS('zz') FROM t", co))
    assertThrows[IllegalArgumentException](
      StatementRouter.expandColumns("SELECT COLUMNS(*) FROM nope", co))
    // queries without COLUMNS pass through byte-identical
    val plain = "SELECT columns_total FROM t"
    assert(StatementRouter.expandColumns(plain, co) == plain)
  }

  test("r8 wave 2: power operators ** and ^ become power()") {
    assert(rewriteDialect("SELECT 2 ** 3 AS x") == "SELECT power(2, 3) AS x")
    assert(rewriteDialect("SELECT a ^ 2 FROM t") == "SELECT power(a, 2) FROM t")
    // LEFT-associative chain — measured: DuckDB 2 ^ 3 ^ 2 = 64 =
    // power(power(2, 3), 2); the earlier right-associative pin encoded
    // an unmeasured (and wrong) assumption (r12 review fix)
    assert(rewriteDialect("SELECT a ^ b ^ c FROM t") ==
      "SELECT power(power(a, b), c) FROM t")
    // call + qualified + bracketed operands
    assert(rewriteDialect("SELECT f(x) ** t.c AS x FROM t") ==
      "SELECT power(f(x), t.c) AS x FROM t")
    assert(rewriteDialect("SELECT xs[1] ^ 2 FROM t") ==
      "SELECT power(__graft_subscript(xs, 1), 2) FROM t")
    // a caret inside a string literal (regex anchor) survives verbatim
    val lit = "SELECT v FROM t WHERE v RLIKE '^ab$'"
    assert(rewriteDialect(lit) == lit)
    // adjacent stars that are NOT a power operator stay put
    val stars = "SELECT count(*) * 2 FROM t"
    assert(rewriteDialect(stars) == stars)
  }

  test("r8 wave 2: BY NAME union split and positional-join spans") {
    val (h, rest) = StatementRouter.splitByNameUnions(
      "SELECT a FROM t UNION ALL BY NAME SELECT b FROM u UNION BY NAME SELECT c FROM v")
    assert(h.trim == "SELECT a FROM t")
    assert(rest.map(_._1) == Seq(true, false))
    assert(rest.map(_._2.trim) == Seq("SELECT b FROM u", "SELECT c FROM v"))
    // plain UNION is untouched; BY NAME inside a subquery (depth > 0) too
    assert(StatementRouter.splitByNameUnions(
      "SELECT a FROM t UNION SELECT b FROM u")._2.isEmpty)
    assert(StatementRouter.splitByNameUnions(
      "SELECT * FROM (SELECT 1 UNION ALL BY NAME SELECT 2) q")._2.isEmpty)
    // tail clause peel
    assert(StatementRouter.splitQueryTail("SELECT x FROM u ORDER BY x LIMIT 2") ==
      (("SELECT x FROM u", " ORDER BY x LIMIT 2")))
    assert(StatementRouter.splitQueryTail("SELECT x FROM u") == (("SELECT x FROM u", "")))
    // positional-join span: left operand starts after FROM, right runs to
    // the next clause keyword
    val q = "SELECT id, w FROM pa POSITIONAL JOIN pb WHERE id > 0"
    val Some((ls, ks, rs)) = StatementRouter.findPositionalJoin(q)
    assert(q.substring(ls, ks).trim == "pa")
    assert(q.substring(rs, StatementRouter.joinOperandEnd(q, rs)).trim == "pb")
    assert(StatementRouter.findPositionalJoin("SELECT 1 FROM t").isEmpty)
  }

  test("r8 wave 2: PRAGMA show_tables / table_info route to real output") {
    assert(StatementRouter.classify("PRAGMA show_tables") == StatementRouter.ShowTables)
    assert(StatementRouter.classify("PRAGMA table_info('tt')") ==
      StatementRouter.TableInfo("tt"))
    assert(StatementRouter.classify("PRAGMA table_info(s.tt)") ==
      StatementRouter.TableInfo("s.tt"))
    // every other PRAGMA stays a tolerated no-op
    assert(StatementRouter.classify("PRAGMA memory_limit='1GB'") == StatementRouter.NoOp)
  }

  test("r7b: string_split literal separator is regex-quoted; epoch maps") {
    assert(rewriteDialect("SELECT string_split(s, '|') FROM t") ==
      "SELECT split(s, '\\\\Q|\\\\E') FROM t")
    assert(rewriteDialect("SELECT str_split(s, '.') FROM t") ==
      "SELECT split(s, '\\\\Q.\\\\E') FROM t")
    val dyn = "SELECT string_split(s, sep) FROM t"
    assert(rewriteDialect(dyn) == dyn)
    assert(rewriteDialect("SELECT epoch(ts) FROM t") ==
      "SELECT unix_timestamp(ts) FROM t")
    // r14: the epoch_ms/us/ns family maps to exact unix_* arithmetic
    // (previously untouched -> loud unresolved function)
    assert(rewriteDialect("SELECT epoch_ms(ts) FROM t") ==
      "SELECT unix_millis(CAST(ts AS TIMESTAMP_LTZ)) FROM t")
  }

  test("r9: direct file queries lift paths into registered views") {
    def reg(calls: collection.mutable.Buffer[(String, Seq[String], Map[String, String])])
           (fmt: String, paths: Seq[String], opts: Map[String, String]): String = {
      calls += ((fmt, paths, opts)); s"__v${calls.size}"
    }
    val c1 = collection.mutable.Buffer[(String, Seq[String], Map[String, String])]()
    assert(StatementRouter.rewriteFileReads(
      "SELECT * FROM 'data/x.parquet' WHERE a > 1")(reg(c1)) ==
      "SELECT * FROM __v1 WHERE a > 1")
    assert(c1 == Seq(("parquet", Seq("data/x.parquet"), Map.empty)))

    val c2 = collection.mutable.Buffer[(String, Seq[String], Map[String, String])]()
    assert(StatementRouter.rewriteFileReads(
      "SELECT * FROM read_csv('f.csv', header=false, delim='|') t")(reg(c2)) ==
      "SELECT * FROM __v1 t")
    assert(c2 == Seq(("csv", Seq("f.csv"),
      Map("header" -> "false", "delim" -> "|"))))

    val c3 = collection.mutable.Buffer[(String, Seq[String], Map[String, String])]()
    assert(StatementRouter.rewriteFileReads(
      "SELECT * FROM read_parquet(['a.parquet', 'b.parquet'])")(reg(c3)) ==
      "SELECT * FROM __v1")
    assert(c3 == Seq(("parquet", Seq("a.parquet", "b.parquet"), Map.empty)))

    // globs, JOIN position, and the .gz/tsv extension mapping
    val c4 = collection.mutable.Buffer[(String, Seq[String], Map[String, String])]()
    assert(StatementRouter.rewriteFileReads(
      "SELECT * FROM 'part*.parquet' p JOIN \"d.tsv\" d ON p.id = d.id")(reg(c4)) ==
      "SELECT * FROM __v1 p JOIN __v2 d ON p.id = d.id")
    assert(c4 == Seq(("parquet", Seq("part*.parquet"), Map.empty),
      ("csv", Seq("d.tsv"), Map("delim" -> "\t"))))

    // non-file FROM-literals and paths inside user literals are untouched
    val c5 = collection.mutable.Buffer[(String, Seq[String], Map[String, String])]()
    val noTouch = "SELECT extract(month FROM '2024-01-01'), " +
      "'docs say FROM \"a.csv\" works' AS s FROM t"
    assert(StatementRouter.rewriteFileReads(noTouch)(reg(c5)) == noTouch)
    assert(c5.isEmpty)

    // ANSI expression-FROM forms where the quoted operand IS a value —
    // the nearest-enclosing-call guard, not just the extension heuristic
    val c5b = collection.mutable.Buffer[(String, Seq[String], Map[String, String])]()
    val exprFrom = "SELECT trim('x' FROM 'a.csv'), " +
      "substring('b.json' FROM 2), position('c' IN 'd') FROM t"
    assert(StatementRouter.rewriteFileReads(exprFrom)(reg(c5b)) == exprFrom)
    assert(c5b.isEmpty)

    // ...but a table-FROM inside a SUBQUERY paren still rewrites
    val c5c = collection.mutable.Buffer[(String, Seq[String], Map[String, String])]()
    assert(StatementRouter.rewriteFileReads(
      "SELECT * FROM (SELECT a FROM 'x.parquet') q")(reg(c5c)) ==
      "SELECT * FROM (SELECT a FROM __v1) q")
    assert(c5c.map(_._2) == Seq(Seq("x.parquet")))

    // a non-literal argument leaves the call alone (fails loudly later)
    val c6 = collection.mutable.Buffer[(String, Seq[String], Map[String, String])]()
    val dynamic = "SELECT * FROM read_csv(some_col)"
    assert(StatementRouter.rewriteFileReads(dynamic)(reg(c6)) == dynamic)
    assert(c6.isEmpty)
  }

  test("r9: version() and current_setting() readout rewrites") {
    def settings(k: String): Option[String] = k match {
      case "memory_limit" => Some("4GB")
      case "threads" => Some("16")
      case _ => None
    }
    assert(StatementRouter.rewriteSessionReadouts(
      "SELECT version() AS v", "v1 spark", settings) ==
      "SELECT 'v1 spark' AS v")
    // numeric settings emit unquoted so arithmetic composes
    assert(StatementRouter.rewriteSessionReadouts(
      "SELECT current_setting('threads') * 2, current_setting('memory_limit')",
      "v", settings) == "SELECT 16 * 2, '4GB'")
    // unknown key -> call left in place to fail loudly at resolution
    assert(StatementRouter.rewriteSessionReadouts(
      "SELECT current_setting('nope')", "v", settings) ==
      "SELECT current_setting('nope')")
  }

  test("r9/r16: strptime routes to the measured-semantics native") {
    assert(rewriteDialect("SELECT strptime(s, '%Y-%m-%d %H:%M:%S') FROM t") ==
      "SELECT __graft_strptime(s, '%Y-%m-%d %H:%M:%S') FROM t")
    // %z types TIMESTAMPTZ there — the rewrite adds the tstz render tag
    assert(rewriteDialect("SELECT strptime(s, '%Y %z') FROM t") ==
      "SELECT __graft_tstz(__graft_strptime(s, '%Y %z')) FROM t")
    // dynamic format routes too (a runtime %z still shifts the instant;
    // only the literal spelling can carry the render tag)
    assert(rewriteDialect("SELECT strptime(s, fmt) FROM t") ==
      "SELECT __graft_strptime(s, fmt) FROM t")
  }

  test("r9: arg_max family renames to max_by/min_by, literal-masked") {
    assert(rewriteDialect("SELECT arg_max(val, ts), ARG_MIN(val, ts) FROM t GROUP BY k") ==
      "SELECT max_by(val, ts), min_by(val, ts) FROM t GROUP BY k")
    assert(rewriteDialect("SELECT argmax(a, b) FROM t") == "SELECT max_by(a, b) FROM t")
    // inside a string literal the name must survive verbatim
    assert(rewriteDialect("SELECT 'use arg_max(x, y)' AS hint FROM t") ==
      "SELECT 'use arg_max(x, y)' AS hint FROM t")
  }

  test("r9: EXPORT/IMPORT DATABASE classify with and without FORMAT") {
    assert(StatementRouter.classify("EXPORT DATABASE '/tmp/bk'") ==
      StatementRouter.ExportDb("/tmp/bk", None))
    assert(StatementRouter.classify("export database '/tmp/bk' (FORMAT PARQUET)") ==
      StatementRouter.ExportDb("/tmp/bk", Some("parquet")))
    assert(StatementRouter.classify("EXPORT DATABASE '/tmp/bk' (FORMAT 'csv')") ==
      StatementRouter.ExportDb("/tmp/bk", Some("csv")))
    assert(StatementRouter.classify("IMPORT DATABASE '/tmp/bk'") ==
      StatementRouter.ImportDb("/tmp/bk"))
    // COPY statements must still classify as COPY, not EXPORT
    assert(StatementRouter.classify("COPY t TO '/tmp/t.csv'")
      .isInstanceOf[StatementRouter.CopyTo])
  }

  test("r10: string_agg/group_concat separator default + in-call ORDER BY") {
    // DuckDB's default separator is ',' — Spark's is '' (silent corruption)
    assert(rewriteDialect("SELECT string_agg(v) FROM t") ==
      "SELECT string_agg(v, ',') FROM t")
    // in-call ORDER BY relocates to WITHIN GROUP; the explicit NULLS
    // LAST is DuckDB's default null order in BOTH directions (r17 —
    // Spark's ASC default is NULLS FIRST, a silent value divergence)
    assert(rewriteDialect("SELECT string_agg(v, '|' ORDER BY ts DESC) FROM t") ==
      "SELECT string_agg(v, '|') WITHIN GROUP (ORDER BY ts DESC NULLS LAST) FROM t")
    assert(rewriteDialect("SELECT string_agg(v ORDER BY v) FROM t") ==
      "SELECT string_agg(v, ',') WITHIN GROUP (ORDER BY v NULLS LAST) FROM t")
    assert(rewriteDialect("SELECT group_concat(v, ';') FROM t") ==
      "SELECT string_agg(v, ';') FROM t")
    // literal containing the phrase is untouched
    val q = "SELECT 'string_agg(v)' AS s FROM t"
    assert(rewriteDialect(q) == q)
  }

  test("r10: unnest maps to explode in both positions; quantile_cont renames") {
    assert(rewriteDialect("SELECT unnest(xs) AS u, id FROM t") ==
      "SELECT explode(xs) AS u, id FROM t")
    val f = rewriteDialect("SELECT * FROM unnest(xs)")
    assert(f == "SELECT * FROM (SELECT explode(xs) AS unnest)", f)
    assert(rewriteDialect("SELECT quantile_cont(x, 0.5) FROM t") ==
      // r12: routes to the DECIMAL-aware native instead of percentile
      "SELECT __graft_quantile_cont(x, 0.5) FROM t")
    // epoch_ms-style family guard: unnest_something is untouched
    val q = "SELECT unnest_other(x) FROM t"
    assert(rewriteDialect(q) == q)
  }

  test("r13: every regexp_replace spelling routes to the flags-aware native") {
    // 4-arg: flags pass through (native compiles g/i/s/m…, translates
    // \N backrefs and POSIX classes — r13 regexp differential)
    assert(rewriteDialect("SELECT regexp_replace(s, '\\s+', ' ', 'g') FROM t") ==
      "SELECT __graft_regexp_replace(s, '\\s+', ' ', 'g') FROM t")
    assert(rewriteDialect("SELECT regexp_replace(s, 'abc', 'x', 'gi') FROM t") ==
      "SELECT __graft_regexp_replace(s, 'abc', 'x', 'gi') FROM t")
    // non-literal flags reach the native too (unknown letters fail loud
    // at compile inside RegexpDuck.javaFlags)
    assert(rewriteDialect("SELECT regexp_replace(s, 'a', 'x', f) FROM t") ==
      "SELECT __graft_regexp_replace(s, 'a', 'x', f) FROM t")
    // 3-arg = DuckDB's FIRST-match-only form -> empty flags
    assert(rewriteDialect("SELECT regexp_replace(s, 'a', 'x') FROM t") ==
      "SELECT __graft_regexp_replace(s, 'a', 'x', '') FROM t")
  }

  test("r10: RegexpFirst replacement translation and first-only behavior") {
    import graft.functions.RegexpFirst
    def rf(s: String, p: String, r: String): String =
      RegexpFirst.replaceFirst(
        org.apache.spark.unsafe.types.UTF8String.fromString(s),
        org.apache.spark.unsafe.types.UTF8String.fromString(p),
        org.apache.spark.unsafe.types.UTF8String.fromString(r)).toString
    assert(rf("hello world foo", "o", "0") == "hell0 world foo")
    // DuckDB \\N backrefs swap groups; only the FIRST match rewrites
    assert(rf("one two three four", "(\\w+) (\\w+)", "\\2 \\1") ==
      "two one three four")
    // a literal $ in the replacement is not a Java group ref
    assert(rf("price", "price", "$9") == "$9")
    assert(rf("no match here", "zzz", "x") == "no match here")
  }

  test("r10: * RENAME desugars like REPLACE; list_slice/dayname map over") {
    assert(rewriteDialect("SELECT * RENAME (a AS b) FROM t") ==
      "SELECT * EXCEPT (a), a AS b FROM t")
    assert(rewriteDialect("SELECT t.* RENAME (a AS b, c AS d) FROM t") ==
      "SELECT t.* EXCEPT (a, c), a AS b, c AS d FROM t")
    val lit = "SELECT '* RENAME (a AS b)' AS s FROM t"
    assert(rewriteDialect(lit) == lit)
    // inclusive 1-based end-relative [a,b] via the native (r18: dynamic
    // and negative bounds included, same twin as the bracket syntax)
    assert(rewriteDialect("SELECT list_slice(xs, 2, 4) FROM t") ==
      "SELECT __graft_slice(xs, CAST(2 AS BIGINT), CAST(4 AS BIGINT), CAST(1 AS BIGINT), false, false, false) FROM t")
    assert(rewriteDialect("SELECT list_slice(xs, 2, n) FROM t") ==
      "SELECT __graft_slice(xs, CAST(2 AS BIGINT), CAST(n AS BIGINT), CAST(1 AS BIGINT), false, false, false) FROM t")
    assert(rewriteDialect("SELECT dayname(d), monthname(d) FROM t") ==
      "SELECT date_format(d, 'EEEE'), date_format(d, 'MMMM') FROM t")
    // r12: date_trunc('day') returns DATE like DuckDB (CAST), not
    // Spark's midnight TIMESTAMP
    assert(rewriteDialect("SELECT datetrunc('day', ts), datepart('year', d) FROM t") ==
      "SELECT CAST((ts) AS DATE), date_part('year', d) FROM t")
    assert(rewriteDialect("SELECT array_length(xs) FROM t") ==
      "SELECT size(xs) FROM t")
  }

  test("r10: FROM range() renames Spark's native half-open TVF column") {
    // Spark's range() TVF shares DuckDB's half-open semantics but names
    // the column `id` — the rewrite is the rename, literal or not
    assert(rewriteDialect("SELECT * FROM range(3)") ==
      "SELECT * FROM (SELECT id AS range FROM range(3))")
    assert(rewriteDialect("SELECT * FROM range(5, 0, -2)") ==
      "SELECT * FROM (SELECT id AS range FROM range(5, 0, -2))")
    assert(rewriteDialect("SELECT * FROM range(2 + 3)") ==
      "SELECT * FROM (SELECT id AS range FROM range(2 + 3))")
    // Spark's 4th numPartitions arg has no DuckDB meaning — refused
    intercept[IllegalArgumentException] {
      rewriteDialect("SELECT * FROM range(0, 10, 1, 4)")
    }
  }

  test("r10: sparkifyLiterals doubles backslashes in user literals only") {
    // DuckDB literals are escape-free; Spark's parser unescapes — the
    // round-trip must preserve the user's bytes
    assert(StatementRouter.sparkifyLiterals("SELECT '\\s+' AS p") ==
      "SELECT '\\\\s+' AS p")
    // quote-escape '' passes through; text outside literals untouched
    assert(StatementRouter.sparkifyLiterals("SELECT 'it''s \\ ok', col FROM t") ==
      "SELECT 'it''s \\\\ ok', col FROM t")
    val clean = "SELECT a FROM t WHERE b = 'plain'"
    assert(StatementRouter.sparkifyLiterals(clean) == clean)
    // and it runs BEFORE the dialect layer, so dialect-emitted
    // Spark-spelled literals (string_split's \\Q quoting) are never
    // double-doubled — pinned by q_lake_dialect3 staying green
  }

  test("every rewrite scanner reads one quote rule: '…' literals and \"…\" identifiers") {
    import StatementRouter._
    val onCond = "a.\"it's\" = b.k AND b.v = 'x, WHERE' WHERE z"
    val mergeOn = "a.id = b.id AND b.\"WHEN MATCHED\" = 'WHEN MATCHED' WHEN MATCHED THEN DELETE"
    val cases: Seq[(String, () => Any, Any)] = Seq(
      ("quoteKinds", () => quoteKinds("a'b''c'\"d\"e").toSeq,
        Seq[Byte](0, 1, 1, 1, 1, 1, 1, 2, 2, 2, 0)),
      ("literalMask", () => literalMask("x \"(\" ')'").toSeq,
        Seq(false, false, true, true, true, false, true, true, true)),
      ("splitTopLevelKeyword", () => splitTopLevelKeyword(
          "SELECT \"WHERE\", 'a WHERE' FROM t WHERE a = 1", "WHERE"),
        ("SELECT \"WHERE\", 'a WHERE' FROM t", Some("a = 1"))),
      ("splitMergeWhen", () => splitMergeWhen(mergeOn),
        ("a.id = b.id AND b.\"WHEN MATCHED\" = 'WHEN MATCHED'", Some("MATCHED THEN DELETE"))),
      ("firstTopLevelKeyword", () => firstTopLevelKeyword(
          "SELECT \"ORDER\", 'LIMIT' FROM t ORDER BY 1", Set("ORDER", "LIMIT")), 31),
      ("mapOutsideLiterals", () => mapOutsideLiterals(
          "a \"a\" 'it''s a' a")(_.replace("a", "b")), "b \"a\" 'it''s a' b"),
      ("rewriteBraces", () => rewriteBraces("{\"a:b}\": 1, 'c': '}'}"),
        "named_struct('a:b}', 1, 'c', '}')"),
      ("findMacroCall", () => findMacroCall("SELECT \"f(\", 'f(1)', f(2)", "f"), 21),
      ("topLevelColon", () => topLevelColon("\"a:b\": ':'"), 5),
      ("matchingParen", () => matchingParen("f(\"a)b\", c)", 1), 10),
      ("splitTopCommas", () => splitTopCommas("\"a,b\", 'it''s, ok', f(\")\", 1)"),
        Seq("\"a,b\"", "'it''s, ok'", "f(\")\", 1)")),
      ("parseCopyOptions", () => parseCopyOptions("FORCE_NOT_NULL \"it's\", HEADER true")._3,
        Map("__graft_force_not_null" -> "\"it's\"", "header" -> "true")),
      ("onConditionEnd", () => onConditionEnd(onCond, 0), onCond.lastIndexOf("WHERE")),
      ("bindPrepared", () => bindPrepared("SELECT \"a?b$1\", ?, '$1 ?', $1", Seq("7")),
        "SELECT \"a?b$1\", 7, '$1 ?', 7"),
      ("sparkifyLiterals", () => sparkifyLiterals("SELECT 1 AS \"it's\", 'a\\b' AS v"),
        "SELECT 1 AS \"it's\", 'a\\\\b' AS v"))
    val wrong = cases.flatMap { case (name, run, want) =>
      val got = scala.util.Try(run()).fold(e => s"threw $e", identity)
      if (got == want) None else Some(s"$name: got $got, want $want")
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("r10/r13: json_extract family and -> / ->> arrows map to the native") {
    // r13: all spellings land on DuckJsonExtract — paths pass VERBATIM
    // (the native owns the $/pointer/single-key grammar; the old
    // get_json_object normalization treated bare 'a.b' as a traversal,
    // which DuckDB does not — measured in the r13 JSON differential)
    assert(rewriteDialect("SELECT json_extract_string(j, '$.k') FROM t") ==
      "SELECT __graft_json_extract_str(j, '$.k') FROM t")
    assert(rewriteDialect("SELECT json_extract(j, 'k') FROM t") ==
      "SELECT __graft_json_extract(j, 'k') FROM t")
    assert(rewriteDialect("SELECT json_value(j, '/a/b') FROM t") ==
      "SELECT __graft_json_extract_str(j, '/a/b') FROM t")
    assert(rewriteDialect("SELECT json_array_length(j, '$.xs') FROM t") ==
      "SELECT __graft_json_array_length(j, '$.xs') FROM t")
    // arrows: simple, chained, array index, qualified LHS, call LHS,
    // string-literal LHS (r13)
    assert(rewriteDialect("SELECT props ->> 'k' FROM t") ==
      "SELECT __graft_json_extract_str(props, 'k') FROM t")
    assert(rewriteDialect("SELECT t.j -> 'a' ->> 'b' FROM t") ==
      "SELECT __graft_json_extract_str(__graft_json_extract(t.j, 'a'), 'b') FROM t")
    assert(rewriteDialect("SELECT j -> 0 FROM t") ==
      "SELECT __graft_json_extract(j, '$[0]') FROM t")
    assert(rewriteDialect("SELECT upper(j) ->> 'k' FROM t") ==
      // upper maps to the DuckDB-exact simple case fold (r15)
      "SELECT __graft_json_extract_str(__graft_upper(j), 'k') FROM t")
    assert(rewriteDialect("""SELECT '{"a": 1}' -> 'a' FROM t""") ==
      """SELECT __graft_json_extract('{"a": 1}', 'a') FROM t""")
    // lambda arrows survive: bare param inside a HOF
    val lam = "SELECT transform(xs, x -> 'c') FROM t"
    assert(rewriteDialect(lam) == lam)
    val lam2 = "SELECT filter(xs, x -> x > 1) FROM t"
    assert(rewriteDialect(lam2) == lam2)
    // review fix: tuple-param lambdas with literal bodies survive too
    val lam3 = "SELECT zip_with(a, b, (x, y) -> 'k') FROM t"
    assert(rewriteDialect(lam3) == lam3)
    val lam4 = "SELECT array_sort(l, (l, r) -> 1) FROM t"
    assert(rewriteDialect(lam4) == lam4)
    // arrow inside a string literal untouched
    val s = "SELECT '-> ''k''' AS x FROM t"
    assert(rewriteDialect(s) == s)
  }

  test("r10: WITH RECURSIVE survives classification and the dialect layer") {
    val q =
      """WITH RECURSIVE reach(node, depth) AS (
        |  SELECT 1, 0
        |  UNION ALL
        |  SELECT e.dst, r.depth + 1 FROM reach r JOIN edges e ON e.src = r.node
        |  WHERE r.depth < 6
        |)
        |SELECT node, min(depth) AS d FROM reach GROUP BY node ORDER BY node""".stripMargin
    // routes as a plain Select — never mistaken for DDL/DML
    assert(StatementRouter.classify(q) == StatementRouter.Select(q))
    // the dialect regexes must not touch it: RECURSIVE keyword, the
    // self-referencing member, and the UNION ALL seam all intact
    // (r13: the trailing ORDER BY gains DuckDB's NULLS LAST default)
    assert(rewriteDialect(q) == q + " NULLS LAST")
    // and with a DuckDB-only spelling inside the recursive member, the
    // rewrite is local to that spelling (depth // 1 int division)
    val q2 = q.replace("r.depth + 1", "(r.depth + 1) // 1")
    val r2 = rewriteDialect(q2)
    assert(r2.contains("WITH RECURSIVE reach(node, depth) AS"), r2)
    assert(!r2.contains("//"), r2)
  }
}
