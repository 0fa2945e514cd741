package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.H: scalar function families (string / date / math / array /
  * map+struct / json), one oracle-checked query per family, each exercising
  * >=5 functions. The reference reaches these through DuckDB's function
  * library pass-through (ducklakexl.py:394); here they are Spark built-ins —
  * all codegen'd, no UDFs, so every query stays inside WholeStageCodegen.
  *
  * Cross-engine parity notes (each encodes a semantic difference):
  *  - DuckDB `dayofweek` is Sunday=0, Spark Sunday=1 → oracle adds 1.
  *  - DuckDB 1.0 `map[key]` yields a LIST → oracle indexes `[1]`.
  *  - `round(double, n)` half-way behavior differs (Spark HALF_UP via
  *    shortest-repr BigDecimal, DuckDB C-lib scaling) → round only applied
  *    to transcendental outputs (ln/exp) where a .00005 boundary is
  *    measure-zero, never to 2-decimal money values.
  *  - `sign` returns TINYINT in DuckDB, DOUBLE in Spark → cast both to INT.
  */
object QueriesFunctions {
  type QFn = (SparkSession, String) => DataFrame

  val queries: Map[String, QFn] = Map(
    // The per-row-function family computes its wide projection ABOVE the
    // mandated total ORDER BY (`.orderBy(keys).select(proj)`), not below:
    // a global sort executes its child twice (range-boundary sampling +
    // the real pass) and its post-sort stage is exchange-wide, so the
    // flipped shape (a) evaluates the expensive expressions once instead
    // of twice, (b) narrows the range exchange to the pruned raw columns
    // (Catalyst pushes the pruning below the Sort, the computing Project
    // stays above), and (c) parallelizes the compute across all cores
    // even over a single-partition source (single-row-group files).
    // Measured r7: q_fn_math 1.44 -> 0.73 s at sf0.1 (OPTIMIZATION_r19.md,
    // "q_fn_*" residuals). Semantically a no-op — Project preserves its
    // child's row order.
    "q_fn_string" -> { (s, d) =>
      val c = Tables.t(s, d, "customer")
      c.orderBy("c_custkey").select(
        col("c_custkey"),
        upper(col("c_name")).as("u"),
        lower(col("c_mktsegment")).as("lo"),
        substring(col("c_name"), 1, 9).as("sub"),
        trim(concat(lit("  "), col("c_name"), lit("  "))).as("trimmed"),
        regexp_replace(col("c_name"), lit("Customer#"), lit("C")).as("repl"),
        length(col("c_name")).as("len"),
        concat(col("c_mktsegment"), lit("-"), col("c_nationkey").cast(StringType)).as("cat"),
        lpad(col("c_custkey").cast(StringType), 10, "0").as("pad"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).as("digits"),
        element_at(split(col("c_name"), "#"), 2).as("part2"),
        col("c_name").like("Customer%").as("is_cust")
      )
    },

    "q_fn_date" -> { (s, d) =>
      val o = Tables.t(s, d, "orders")
      val dt = col("o_orderdate").cast(DateType)
      o.orderBy("o_orderkey").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("dnum"),
        date_trunc("quarter", col("o_orderdate")).cast(DateType).as("qtr"),
        date_add(dt, 30).as("plus30"),
        datediff(dt, lit("1995-01-01").cast(DateType)).as("dd"),
        make_date(year(col("o_orderdate")), month(col("o_orderdate")), lit(1)).as("month_start"),
        unix_timestamp(col("o_orderdate").cast(TimestampType)).as("unix_ts"),
        dayofweek(col("o_orderdate")).as("dow")
      )
    },

    "q_fn_math" -> { (s, d) =>
      val l = Tables.t(s, d, "lineitem")
      l.orderBy("l_orderkey", "l_linenumber").select(
        col("l_orderkey"), col("l_linenumber"),
        floor(col("l_extendedprice")).as("fl_price"),
        ceil(col("l_quantity")).as("ce_qty"),
        abs(col("l_discount") - 0.05).as("ab_disc"),
        round(log(col("l_quantity") + 1), 4).as("ln_q"),
        round(exp(col("l_discount")), 4).as("exp_d"),
        pow(col("l_quantity"), 2).as("pow_q"),
        pmod(col("l_orderkey"), lit(7)).as("pm"),
        signum(col("l_discount") - 0.05).cast(IntegerType).as("sg"),
        greatest(col("l_quantity"), lit(25.0)).as("g"),
        least(col("l_quantity"), lit(25.0)).as("lst")
      )
    },

    "q_fn_array" -> { (s, d) =>
      val doc = Tables.t(s, d, "documents")
      val ws = split(col("text"), " ")
      doc.orderBy("doc_id").select(
        col("doc_id"),
        size(ws).as("n_words"),
        array_contains(ws, "data").as("has_data"),
        array_join(slice(ws, 1, 3), " ").as("first3"),
        array_join(slice(sort_array(ws), 1, 5), ",").as("first5_sorted"),
        aggregate(ws, lit(0L), (acc, x) => acc + length(x)).as("total_len"),
        array_join(transform(slice(ws, 1, 3), x => upper(x)), ",").as("up3")
      )
    },

    "q_fn_map_struct" -> { (s, d) =>
      val su = Tables.t(s, d, "supplier")
      val m = map(lit("bal"), col("s_acctbal"), lit("half"), col("s_acctbal") / 2)
      val cm = map(lit("a"), lit(1), lit("b"), lit(2))
      su.select(
        col("s_suppkey"),
        element_at(m, "bal").as("m_bal"),
        element_at(m, "half").as("m_half"),
        array_join(map_keys(cm), ",").as("mkeys"),
        array_join(transform(map_values(cm), v => v.cast(StringType)), ",").as("mvals"),
        struct(col("s_suppkey").as("k"), col("s_name").as("n")).getField("n").as("st_n")
      ).orderBy("s_suppkey")
    },

    "q_fn_trig" -> { (s, d) =>
      // transcendental family rounded at 4 digits (libm last-ulp
      // differences live far below that, same policy as ln/exp)
      val x = col("s_acctbal") / 10000.0
      Tables.t(s, d, "supplier").select(
        col("s_suppkey"),
        round(sin(x), 4).as("sin_x"),
        round(cos(x), 4).as("cos_x"),
        round(atan2(x, lit(1.0)), 4).as("atan2_x"),
        round(degrees(x), 4).as("deg_x"),
        round(sqrt(abs(x)), 4).as("sqrt_x")
      ).orderBy("s_suppkey")
    },

    "q_fn_format" -> { (s, d) =>
      Tables.t(s, d, "nation").select(
        col("n_nationkey"),
        format_string("%s-%03d", col("n_name"), col("n_nationkey")).as("tag"),
        format_string("%.2f", col("n_nationkey") * 1.5).as("num")
      ).orderBy("n_nationkey")
    },

    "q_fn_levenshtein" -> { (s, d) =>
      // edit distance — the classic fuzzy-matching primitive, same name
      // and semantics in both engines
      Tables.t(s, d, "nation").select(
        col("n_nationkey"),
        levenshtein(col("n_name"), lit("UNITED STATES")).as("d_us"),
        levenshtein(lower(col("n_name")), lit("china")).as("d_cn")
      ).orderBy("n_nationkey")
    },

    "q_fn_bitwise" -> { (s, d) =>
      val k = col("l_orderkey")
      Tables.t(s, d, "lineitem").orderBy("l_orderkey", "l_linenumber").select(
        col("l_orderkey"), col("l_linenumber"),
        k.bitwiseAND(lit(255L)).as("b_and"),
        k.bitwiseOR(lit(7L)).as("b_or"),
        k.bitwiseXOR(lit(170L)).as("b_xor"),
        shiftleft(k, 2).as("b_shl"),
        shiftright(k, 3).as("b_shr")
      )
    },

    "q_fn_hash" -> { (s, d) =>
      val name = col("c_name")
      Tables.t(s, d, "customer").orderBy("c_custkey").select(
        col("c_custkey"),
        md5(name.cast(org.apache.spark.sql.types.BinaryType)).as("h_md5"),
        sha2(name.cast(org.apache.spark.sql.types.BinaryType), 256).as("h_sha256"),
        length(md5(name.cast(org.apache.spark.sql.types.BinaryType))).as("h_len")
      )
    },

    "q_fn_json" -> { (s, d) =>
      // ONE streaming parse per row: for a single scalar field,
      // get_json_object's streaming parser early-exits at the key and
      // beats from_json's whole-object struct materialization; the three
      // outputs are casts of the one extraction, deduped by codegen
      // subexpression elimination. The r3 anti-pattern was MIXING the two
      // parsers — from_json for one column plus get_json_object for
      // another ran two full parses per row. At 100 TB the per-row parser
      // call is the whole cost of a JSON query — parse once, cast many.
      //
      // Parse placement (r7 probe `json_parse_after_sort`): the parse sits
      // ABOVE the mandated total ORDER BY, not below it, for two
      // structural reasons. (1) A global sort EXECUTES ITS CHILD TWICE —
      // once for range-boundary sampling, once for the real pass — so a
      // parse below the sort is paid double. (2) Column pruning keeps the
      // sort payload to the raw (event_id, props) pair, and the post-sort
      // stage is as wide as the range exchange (all cores), so the parse
      // runs once, in parallel, even when the SOURCE exposes a single
      // partition (single-row-group files) — this replaced the r5
      // explicit-repartition guard, whose extra shuffle the probe measured
      // as a net loss once the parse moved above the sort.
      val raw = Tables.t(s, d, "events").select(col("event_id"), col("props"))
      val j = get_json_object(col("props"), "$.k")
      raw.orderBy("event_id").select(
        col("event_id"),
        j.cast(LongType).as("k_num"),
        j.as("k_str"),
        j.cast(LongType).as("k2")
      )
    }
  )

  val oracle: Map[String, String] = Map(
    "q_fn_string" ->
      ("SELECT c_custkey, upper(c_name) AS u, lower(c_mktsegment) AS lo, " +
       "substring(c_name, 1, 9) AS sub, " +
       "trim(concat('  ', c_name, '  ')) AS trimmed, " +
       "regexp_replace(c_name, 'Customer#', 'C') AS repl, " +
       "length(c_name) AS len, " +
       "concat(c_mktsegment, '-', CAST(c_nationkey AS VARCHAR)) AS cat, " +
       "lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS pad, " +
       "regexp_extract(c_name, '([0-9]+)', 1) AS digits, " +
       "string_split(c_name, '#')[2] AS part2, " +
       "c_name LIKE 'Customer%' AS is_cust " +
       "FROM customer ORDER BY c_custkey"),
    "q_fn_date" ->
      ("SELECT o_orderkey, year(o_orderdate) AS y, month(o_orderdate) AS m, " +
       "day(o_orderdate) AS dnum, " +
       "CAST(date_trunc('quarter', o_orderdate) AS DATE) AS qtr, " +
       "CAST(o_orderdate AS DATE) + 30 AS plus30, " +
       "date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS dd, " +
       "make_date(year(o_orderdate), month(o_orderdate), 1) AS month_start, " +
       "CAST(epoch(o_orderdate) AS BIGINT) AS unix_ts, " +
       "dayofweek(o_orderdate) + 1 AS dow " +
       "FROM orders ORDER BY o_orderkey"),
    "q_fn_math" ->
      ("SELECT l_orderkey, l_linenumber, " +
       // Spark floor/ceil return BIGINT, DuckDB's return DOUBLE -> cast the
       // oracle to BIGINT so the driver's hash compare sees one type (r2 fix)
       "CAST(floor(l_extendedprice) AS BIGINT) AS fl_price, " +
       "CAST(ceil(l_quantity) AS BIGINT) AS ce_qty, " +
       "abs(l_discount - 0.05) AS ab_disc, " +
       "round(ln(l_quantity + 1), 4) AS ln_q, " +
       "round(exp(l_discount), 4) AS exp_d, " +
       "power(l_quantity, 2) AS pow_q, " +
       "l_orderkey % 7 AS pm, " +
       "CAST(sign(l_discount - 0.05) AS INTEGER) AS sg, " +
       "greatest(l_quantity, 25.0) AS g, least(l_quantity, 25.0) AS lst " +
       "FROM lineitem ORDER BY l_orderkey, l_linenumber"),
    "q_fn_array" ->
      ("SELECT doc_id, " +
       "len(string_split(text, ' ')) AS n_words, " +
       "list_contains(string_split(text, ' '), 'data') AS has_data, " +
       "array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ') AS first3, " +
       "array_to_string(list_slice(list_sort(string_split(text, ' ')), 1, 5), ',') AS first5_sorted, " +
       "CAST(list_sum(list_transform(string_split(text, ' '), x -> length(x))) AS BIGINT) AS total_len, " +
       "array_to_string(list_transform(list_slice(string_split(text, ' '), 1, 3), x -> upper(x)), ',') AS up3 " +
       "FROM documents ORDER BY doc_id"),
    "q_fn_map_struct" ->
      ("SELECT s_suppkey, " +
       "MAP(['bal','half'], [s_acctbal, s_acctbal/2])['bal'][1] AS m_bal, " +
       "MAP(['bal','half'], [s_acctbal, s_acctbal/2])['half'][1] AS m_half, " +
       "array_to_string(map_keys(MAP(['a','b'], [1,2])), ',') AS mkeys, " +
       "array_to_string(list_transform(map_values(MAP(['a','b'], [1,2])), v -> CAST(v AS VARCHAR)), ',') AS mvals, " +
       "struct_pack(k := s_suppkey, n := s_name).n AS st_n " +
       "FROM supplier ORDER BY s_suppkey"),
    "q_fn_trig" ->
      ("SELECT s_suppkey, round(sin(s_acctbal / 10000.0), 4) AS sin_x, " +
       "round(cos(s_acctbal / 10000.0), 4) AS cos_x, " +
       "round(atan2(s_acctbal / 10000.0, 1.0), 4) AS atan2_x, " +
       "round(degrees(s_acctbal / 10000.0), 4) AS deg_x, " +
       "round(sqrt(abs(s_acctbal / 10000.0)), 4) AS sqrt_x " +
       "FROM supplier ORDER BY s_suppkey"),
    "q_fn_format" ->
      ("SELECT n_nationkey, printf('%s-%03d', n_name, n_nationkey) AS tag, " +
       "printf('%.2f', n_nationkey * 1.5) AS num " +
       "FROM nation ORDER BY n_nationkey"),
    "q_fn_levenshtein" ->
      ("SELECT n_nationkey, levenshtein(n_name, 'UNITED STATES') AS d_us, " +
       "levenshtein(lower(n_name), 'china') AS d_cn " +
       "FROM nation ORDER BY n_nationkey"),
    "q_fn_bitwise" ->
      ("SELECT l_orderkey, l_linenumber, " +
       "l_orderkey & 255 AS b_and, " +
       "l_orderkey | 7 AS b_or, " +
       "xor(l_orderkey, 170) AS b_xor, " +
       "l_orderkey << 2 AS b_shl, " +
       "l_orderkey >> 3 AS b_shr " +
       "FROM lineitem ORDER BY l_orderkey, l_linenumber"),
    "q_fn_hash" ->
      ("SELECT c_custkey, md5(c_name) AS h_md5, sha256(c_name) AS h_sha256, " +
       "length(md5(c_name)) AS h_len FROM customer ORDER BY c_custkey"),
    "q_fn_json" ->
      ("SELECT event_id, " +
       "CAST(json_extract(props, '$.k') AS BIGINT) AS k_num, " +
       "json_extract_string(props, '$.k') AS k_str, " +
       "CAST(json_extract(props, '$.k') AS BIGINT) AS k2 " +
       "FROM events ORDER BY event_id")
  )
}
