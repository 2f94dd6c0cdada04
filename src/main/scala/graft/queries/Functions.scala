package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scalar-function batteries (SURVEY §2.3): string / date / math / array /
  * explode / json / map. Reference analogues are the regex extraction at
  * publisher.go:132-135 and the prefix concat at publisher.go:80-82; the
  * rest restores the analytic surface over the transported data.
  *
  * Scale notes: every query here is a stateless single-pass projection —
  * codegen'd Catalyst expressions inside one WholeStageCodegen span, no
  * shuffle except the oracle-determinism ORDER BY. posexplode multiplies
  * rows by the (fixed, 64) vector dim, which partitions linearly.
  *
  * Determinism notes (§7.4): double ops (+,-,*,/,abs,sqrt) are IEEE-exact
  * and match DuckDB bit-for-bit; transcendental libm calls (ln, pow) are
  * NOT correctly-rounded and get rounded to 6dp on both sides; round() on
  * raw doubles differs between engines on scaled-.5 ties, so rounding
  * always goes through an exact decimal cast first.
  */
object Functions {

  private val propsK = StructType(Seq(StructField("k", IntegerType)))

  val q: Map[String, Q] = Map(
    // Conditional / null-handling battery: coalesce, nullif, if,
    // null-aware least/greatest, CASE with null branches.
    "q_null_funcs" -> ((s, d) => {
      val o = Tables(s, d, "orders")
        .withColumn("p1",
          when(col("o_orderpriority") === "5-LOW", lit(null))
            .otherwise(col("o_totalprice")))
        .withColumn("p2",
          when(col("o_orderstatus") === "P", lit(null))
            .otherwise(col("o_totalprice") * 0.5))
      o.select(col("o_orderkey"),
        coalesce(col("p1"), col("p2"), lit(-1.0)).as("c_first"),
        nullif(col("o_orderstatus"), lit("F")).as("status_nf"),
        expr("if(p1 IS NULL, 'missing', 'present')").as("p1_state"),
        least(col("p1"), col("p2")).as("least_np"),
        greatest(col("p1"), col("p2")).as("greatest_np"),
        when(col("p1").isNull && col("p2").isNull, "both")
          .when(col("p1").isNull || col("p2").isNull, "one")
          .otherwise("none").as("nullity"))
        .orderBy("o_orderkey")
    }),

    "q_str_funcs" -> ((s, d) =>
      Tables(s, d, "documents").select(
        col("doc_id"),
        concat(col("lang"), lit(":"), col("source")).as("lang_src"),
        substring(col("text"), 1, 20).as("prefix20"),
        upper(col("lang")).as("lang_up"),
        lower(col("source")).as("src_low"),
        length(col("text")).cast("long").as("text_len"),
        trim(concat(lit("  "), col("lang"), lit("  "))).as("trimmed"),
        expr("replace(substring(text, 1, 40), 'a', '_')").as("replaced"),
        lpad(col("doc_id").cast("string"), 6, "0").as("id_pad"),
        element_at(split(col("text"), " "), 1).as("first_word"),
        regexp_extract(col("text"), "([a-z]+) ([a-z]+)", 2).as("second_word"))
        .orderBy("doc_id")),

    "q_date_funcs" -> ((s, d) =>
      Tables(s, d, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd")
          .as("mon_start"),
        datediff(lit("1998-12-31").cast("date"),
          col("o_orderdate").cast("date")).as("days_to_end"),
        date_format(date_add(col("o_orderdate").cast("date"), 30),
          "yyyy-MM-dd").as("plus30"),
        date_format(last_day(col("o_orderdate").cast("date")), "yyyy-MM-dd")
          .as("eom"))
        .orderBy("o_orderkey")),

    "q_math_funcs" -> ((s, d) =>
      Tables(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_discount") - 0.05).as("abs_disc_delta"),
        ceil(col("l_extendedprice")).cast("long").as("price_ceil"),
        floor(col("l_extendedprice")).cast("long").as("price_floor"),
        round(Det.dec2(col("l_extendedprice")), 1).cast("double")
          .as("price_round1"),
        pmod(col("l_orderkey"), lit(7)).as("key_mod7"),
        round(pow(col("l_quantity"), 2), 4).as("qty_sq"),
        sqrt(col("l_extendedprice")).as("price_sqrt"),
        round(log(col("l_extendedprice")), 6).as("price_ln"),
        greatest(col("l_tax"), col("l_discount")).as("max_rate"),
        least(col("l_tax"), col("l_discount")).as("min_rate"))
        // lineitem has no unique key — total order needs every output col
        .orderBy("l_orderkey", "l_linenumber", "abs_disc_delta",
          "price_ceil", "price_floor", "price_round1", "key_mod7",
          "qty_sq", "price_sqrt", "price_ln", "max_rate", "min_rate")),

    // Array ops (slice/sort_array/element_at) stay under test, but the
    // output surface is all scalars: the driver's pandas comparator cannot
    // hash list cells, and float→string join would hit engine formatting
    // differences — raw float scalars hash-match fine (cf. q_explode_array).
    "q_array_funcs" -> ((s, d) =>
      Tables(s, d, "embeddings").select(
        Seq(
          col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          array_contains(col("embedding"), element_at(col("embedding"), 3))
            .as("has_third"),
          element_at(col("embedding"), 5).as("e5")) ++
        (1 to 4).map(i =>
          element_at(slice(col("embedding"), 1, 4), i).as(s"f$i")) ++
        (1 to 8).map(i =>
          element_at(sort_array(slice(col("embedding"), 1, 8)), i)
            .as(s"s$i")): _*)
        .orderBy("vec_id")),

    "q_explode_array" -> ((s, d) =>
      Tables(s, d, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")))
        .withColumnRenamed("col", "val")
        .orderBy("vec_id", "pos")),

    "q_json_funcs" -> ((s, d) =>
      Tables.spread(s, d, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        get_json_object(col("props"), "$.k").cast("int").as("k_int"),
        get_json_object(col("props"), "$.missing").as("k_missing"),
        from_json(col("props"), propsK).getField("k").as("k_typed"))
        .orderBy("event_id")),

    // Map built from columns, then flattened to sorted key/value rows —
    // MapType never reaches the oracle compare (hash order unstable, §7.4).
    "q_map_funcs" -> ((s, d) =>
      Tables.spread(s, d, "events")
        .withColumn("m", map(
          lit("etype"), col("event_type"),
          lit("k"), get_json_object(col("props"), "$.k")))
        .select(col("event_id"),
          size(col("m")).cast("long").as("n_keys"),
          array_join(array_sort(map_keys(col("m"))), ",").as("keys_csv"),
          explode(col("m")).as(Seq("mkey", "mval")))
        .orderBy("event_id", "mkey")),
  )

  val oracle: Map[String, String] = Map(
    "q_null_funcs" ->
      """WITH o AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderpriority = '5-LOW' THEN NULL ELSE o_totalprice END AS p1,
        |    CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_totalprice * 0.5 END AS p2,
        |    o_orderstatus
        |  FROM orders)
        |SELECT o_orderkey,
        |  coalesce(p1, p2, -1.0) AS c_first,
        |  nullif(o_orderstatus, 'F') AS status_nf,
        |  CASE WHEN p1 IS NULL THEN 'missing' ELSE 'present' END AS p1_state,
        |  least(p1, p2) AS least_np,
        |  greatest(p1, p2) AS greatest_np,
        |  CASE WHEN p1 IS NULL AND p2 IS NULL THEN 'both'
        |       WHEN p1 IS NULL OR p2 IS NULL THEN 'one'
        |       ELSE 'none' END AS nullity
        |FROM o ORDER BY o_orderkey""".stripMargin,

    "q_str_funcs" ->
      """SELECT doc_id,
        |  lang || ':' || source AS lang_src,
        |  substring(text, 1, 20) AS prefix20,
        |  upper(lang) AS lang_up,
        |  lower(source) AS src_low,
        |  length(text) AS text_len,
        |  trim('  ' || lang || '  ') AS trimmed,
        |  replace(substring(text, 1, 40), 'a', '_') AS replaced,
        |  lpad(CAST(doc_id AS VARCHAR), 6, '0') AS id_pad,
        |  string_split(text, ' ')[1] AS first_word,
        |  regexp_extract(text, '([a-z]+) ([a-z]+)', 2) AS second_word
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_date_funcs" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INT) AS yr,
        |  CAST(month(o_orderdate) AS INT) AS mo,
        |  CAST(day(o_orderdate) AS INT) AS dom,
        |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS mon_start,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS INT) AS days_to_end,
        |  strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS plus30,
        |  strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS eom
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_discount - 0.05) AS abs_disc_delta,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        |  CAST(round(CAST(l_extendedprice AS DECIMAL(12,2)), 1) AS DOUBLE) AS price_round1,
        |  l_orderkey % 7 AS key_mod7,
        |  round(pow(l_quantity, 2), 4) AS qty_sq,
        |  sqrt(l_extendedprice) AS price_sqrt,
        |  round(ln(l_extendedprice), 6) AS price_ln,
        |  greatest(l_tax, l_discount) AS max_rate,
        |  least(l_tax, l_discount) AS min_rate
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, abs_disc_delta, price_ceil,
        |  price_floor, price_round1, key_mod7, qty_sq, price_sqrt,
        |  price_ln, max_rate, min_rate""".stripMargin,

    "q_array_funcs" -> {
      val f = (1 to 4).map(i => s"list_slice(embedding, 1, 4)[$i] AS f$i")
        .mkString(",\n        |  ")
      val ss = (1 to 8).map(i =>
        s"list_sort(list_slice(embedding, 1, 8))[$i] AS s$i")
        .mkString(",\n        |  ")
      s"""SELECT vec_id,
        |  len(embedding) AS dim,
        |  list_contains(embedding, embedding[3]) AS has_third,
        |  embedding[5] AS e5,
        |  $f,
        |  $ss
        |FROM embeddings ORDER BY vec_id""".stripMargin
    },

    "q_explode_array" ->
      """SELECT vec_id, CAST(i - 1 AS INT) AS pos, v AS val
        |FROM (SELECT vec_id, unnest(embedding) AS v,
        |             generate_subscripts(embedding, 1) AS i
        |      FROM embeddings)
        |ORDER BY vec_id, pos""".stripMargin,

    "q_json_funcs" ->
      """SELECT event_id,
        |  json_extract_string(props, '$.k') AS k_str,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
        |  json_extract_string(props, '$.missing') AS k_missing,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k_typed
        |FROM events ORDER BY event_id""".stripMargin,

    "q_map_funcs" ->
      """SELECT event_id, n_keys, keys_csv, mkey, mval FROM (
        |  SELECT event_id, 2 AS n_keys, 'etype,k' AS keys_csv,
        |         'etype' AS mkey, event_type AS mval FROM events
        |  UNION ALL
        |  SELECT event_id, 2, 'etype,k', 'k',
        |         json_extract_string(props, '$.k') FROM events)
        |ORDER BY event_id, mkey""".stripMargin,
  )
}
