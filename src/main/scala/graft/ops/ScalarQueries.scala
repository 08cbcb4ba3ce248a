package graft.ops

import graft.{Fns, QueryModule, Tables}
import graft.llm.Tokens
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar-function surface (SURVEY.md §2.2): string, date, math, array and
  * JSON functions — all built-in `org.apache.spark.sql.functions` (codegen'd;
  * no UDFs in the hot path). The reference's only scalar work is string
  * templating/replace (`pyopenetl/operations.py:398-402, 671`), datetime
  * coercion (`:124`) and interval arithmetic in generated SQL (`:539-540`);
  * this module generalizes each family.
  *
  * Cross-engine typing: Spark length/size/extract return INT while DuckDB
  * returns BIGINT — computed integer columns are cast to long on the Spark
  * side so schemas agree.
  */
object ScalarQueries extends QueryModule {
  import Fns.{dsum, dsumSql}

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // String functions over part names.
    "q23_string_funcs" -> { (s, dir) =>
      Tables.t(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        lower(col("p_type")).as("type_l"),
        length(col("p_name")).cast("long").as("name_len"),
        substring(col("p_name"), 1, 5).as("name_pfx"),
        concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("name_novowels"),
        element_at(Tokens.words(col("p_name")), 1).as("first_word"),
        trim(col("p_name")).as("name_trim"))
        .orderBy("p_partkey")
    },

    // Date/time functions: truncation-keyed aggregation (the reference's
    // hourly delta window generalized to calendar grains).
    "q24_date_funcs" -> { (s, dir) =>
      Tables.t(s, dir, "orders")
        .groupBy(
          year(col("o_orderdate")).cast("long").as("yr"),
          quarter(col("o_orderdate")).cast("long").as("qtr"))
        .agg(
          count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"),
          min(date_trunc("month", col("o_orderdate"))).as("first_month"))
        .orderBy("yr", "qtr")
    },

    // Math functions over lineitem.
    "q25_math_funcs" -> { (s, dir) =>
      Tables.t(s, dir, "lineitem")
        .filter(col("l_linenumber") === 1)
        .select(
          col("l_orderkey"),
          // round to 4: the product of two 2-decimal fixture values has at
          // most 4 true decimals, so 4-digit rounding is exact cross-engine
          // (2-digit rounding can straddle a half boundary and diverge).
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("net_price"),
          floor(col("l_quantity")).as("qty_floor"),
          ceil(col("l_quantity")).as("qty_ceil"),
          round(abs(col("l_discount") - 0.05), 4).as("disc_dev"),
          round(sqrt(col("l_extendedprice")), 4).as("price_sqrt"),
          round(log(col("l_extendedprice")), 4).as("price_ln"),
          round(pow(lit(1.0) + col("l_tax"), 2), 4).as("tax_sq"),
          (col("l_orderkey") % 7).as("key_mod"))
        // total order (r14): the fixture's (l_orderkey, l_linenumber)
        // is NOT unique (1161 duplicate groups at sf0.001), so ORDER BY
        // l_orderkey alone left tie order partition-dependent — stable
        // only by the accident of a 1-task scan. Sorting on every
        // output column makes ties bitwise-identical rows, so the
        // emitted order is total under ANY partitioning; the oracle
        // states the same key list. Same rows, same values.
        .orderBy("l_orderkey", "net_price", "qty_floor", "qty_ceil",
          "disc_dev", "price_sqrt", "price_ln", "tax_sq", "key_mod")
    },

    // Array / higher-order functions over tokenized documents.
    "q26_array_funcs" -> { (s, dir) =>
      val tok = Tokens.words(col("text"))
      Tables.t(s, dir, "documents").select(
        col("doc_id"),
        size(tok).cast("long").as("n_tokens"),
        size(array_distinct(tok)).cast("long").as("n_distinct"),
        element_at(tok, 1).as("first_token"),
        array_contains(tok, "spark").as("has_spark"),
        element_at(array_sort(array_distinct(tok)), 1).as("min_token"),
        aggregate(tok, lit(0L), (acc: Column, t: Column) =>
          acc + length(t).cast("long")).as("sum_token_chars"))
        .orderBy("doc_id")
    },

    // JSON extraction from the events.props payload column: from_json
    // parses once per row into a struct and every output derives from that
    // single parse — the multi-field extraction shape (the one-off
    // get_json_object alternative is q75, on its own plan, so neither
    // query pays a redundant second parse).
    "q27_json_funcs" -> { (s, dir) =>
      Tables.t(s, dir, "events")
        .withColumn("parsed", from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT")))
        .select(
          col("event_id"),
          col("parsed.k").cast("long").as("k_value"),
          (col("parsed.k").cast("long") % 10).as("k_bucket"))
        .orderBy("event_id")
    },

    // Single-path JSON extraction via get_json_object: one parse per row
    // for one path — the right API when a query touches exactly one field
    // (a full from_json struct parse would build the whole row object).
    "q75_json_path" -> { (s, dir) =>
      Tables.t(s, dir, "events")
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").as("k_path"))
        .orderBy("event_id")
    },

    // Map functions: parse the JSON payload as a MapType and inspect it.
    "q46_map_funcs" -> { (s, dir) =>
      import org.apache.spark.sql.types.{IntegerType, MapType, StringType}
      Tables.t(s, dir, "events")
        .withColumn("m", from_json(col("props"), MapType(StringType, IntegerType)))
        .select(
          col("event_id"),
          size(col("m")).cast("long").as("n_keys"),
          element_at(map_keys(col("m")), 1).as("first_key"),
          element_at(col("m"), "k").cast("long").as("k_val"))
        .orderBy("event_id")
    },

    // Structured row -> JSON string (mirrors the reference's JSON stats
    // report, operations.py:601-609).
    "q47_to_json" -> { (s, dir) =>
      Tables.t(s, dir, "events")
        .select(
          col("event_id"),
          to_json(struct(col("event_id"), col("event_type"))).as("j"))
        .orderBy("event_id")
    })

  override def oracles: Map[String, String] = Map(
    "q23_string_funcs" ->
      """SELECT p_partkey,
        |  UPPER(p_brand) AS brand_u,
        |  LOWER(p_type) AS type_l,
        |  CAST(LENGTH(p_name) AS BIGINT) AS name_len,
        |  SUBSTRING(p_name, 1, 5) AS name_pfx,
        |  CONCAT_WS('-', p_brand, p_type) AS brand_type,
        |  REGEXP_REPLACE(p_name, '[aeiou]', '', 'g') AS name_novowels,
        |  STRING_SPLIT(p_name, ' ')[1] AS first_word,
        |  TRIM(p_name) AS name_trim
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q24_date_funcs" ->
      s"""SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
         |  CAST(EXTRACT(QUARTER FROM o_orderdate) AS BIGINT) AS qtr,
         |  COUNT(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS total_price,
         |  MIN(CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP))
         |    AS first_month
         |FROM orders GROUP BY 1, 2 ORDER BY yr, qtr""".stripMargin,

    "q25_math_funcs" ->
      """SELECT l_orderkey,
        |  ROUND(l_extendedprice * (1.0 - l_discount), 4) AS net_price,
        |  CAST(FLOOR(l_quantity) AS BIGINT) AS qty_floor,
        |  CAST(CEIL(l_quantity) AS BIGINT) AS qty_ceil,
        |  ROUND(ABS(l_discount - 0.05), 4) AS disc_dev,
        |  ROUND(SQRT(l_extendedprice), 4) AS price_sqrt,
        |  ROUND(LN(l_extendedprice), 4) AS price_ln,
        |  ROUND(POWER(1.0 + l_tax, 2), 4) AS tax_sq,
        |  l_orderkey % 7 AS key_mod
        |FROM lineitem WHERE l_linenumber = 1
        |ORDER BY l_orderkey, net_price, qty_floor, qty_ceil, disc_dev,
        |  price_sqrt, price_ln, tax_sq, key_mod""".stripMargin,

    "q26_array_funcs" ->
      """WITH d AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tok FROM documents)
        |SELECT doc_id,
        |  CAST(LEN(tok) AS BIGINT) AS n_tokens,
        |  CAST(LEN(LIST_DISTINCT(tok)) AS BIGINT) AS n_distinct,
        |  tok[1] AS first_token,
        |  LIST_CONTAINS(tok, 'spark') AS has_spark,
        |  LIST_SORT(LIST_DISTINCT(tok))[1] AS min_token,
        |  CAST(LIST_SUM(LIST_TRANSFORM(tok, t -> LENGTH(t))) AS BIGINT)
        |    AS sum_token_chars
        |FROM d ORDER BY doc_id""".stripMargin,

    "q27_json_funcs" ->
      """SELECT event_id,
        |  CAST(props->>'$.k' AS BIGINT) AS k_value,
        |  CAST(props->>'$.k' AS BIGINT) % 10 AS k_bucket
        |FROM events ORDER BY event_id""".stripMargin,

    "q75_json_path" ->
      """SELECT event_id,
        |  props->>'$.k' AS k_path
        |FROM events ORDER BY event_id""".stripMargin,

    "q46_map_funcs" ->
      """SELECT event_id,
        |  CAST(LEN(JSON_KEYS(props)) AS BIGINT) AS n_keys,
        |  JSON_KEYS(props)[1] AS first_key,
        |  CAST(props->>'$.k' AS BIGINT) AS k_val
        |FROM events ORDER BY event_id""".stripMargin,

    "q47_to_json" ->
      """SELECT event_id,
        |  CAST(TO_JSON(STRUCT_PACK(event_id := event_id,
        |    event_type := event_type)) AS VARCHAR) AS j
        |FROM events ORDER BY event_id""".stripMargin)
}
