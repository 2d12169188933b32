package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.ops._
import graft.pipeline.{I2b2Config, I2b2Pipeline}

/** The reference's operator surface (SURVEY §2) exercised one named
  * query per operator over the driver test tables, each mirrored by a
  * DuckDB oracle. Names follow the SURVEY ids (R* relational, F*
  * scalar).
  */
object CoreQueries {

  /** Fixed run timestamp so the pipeline is oracle-deterministic
    * (F11's single-`now()`-per-run semantics, Angelo_ETL_Task.py:182).
    * A constant (`final val`, no type ascription) so [[I2b2Oracle]]
    * inlines it: reading it must not initialize this object, whose
    * `oracleSql` reads I2b2Oracle's strings back.
    */
  final val RunTs = "01-01-2026 00:00:00"

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // R1 — the reference's single left equi-join (Angelo_ETL_Task.py:158)
    "r1_left_join" -> { (s, dir) =>
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      orders.join(customer,
          orders("o_custkey") === customer("c_custkey"), "left")
        .select(orders("o_orderkey"), orders("o_totalprice"),
          customer("c_name"), customer("c_mktsegment"))
    },

    // R2 — last-wins key->value dedup (:163-170), as partial-agg-
    // friendly max_by; (ts, event_id) gives a total order.
    "r2_lastwins_dedup" -> { (s, dir) =>
      val events = t(s, dir, "events")
      Dedup.lastWins(events, Seq("user_id", "event_type"),
          struct(col("ts"), col("event_id")), Seq("event_id", "value"))
        .withColumnRenamed("event_id", "last_event_id")
        .withColumnRenamed("value", "last_value")
    },

    // R3 — group-by frequency count (:173)
    "r3_group_count" -> { (s, dir) =>
      t(s, dir, "orders").groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"))
    },

    // R4 — distinct spine (:179)
    "r4_distinct" -> { (s, dir) =>
      Dedup.distinctKeys(t(s, dir, "lineitem"),
        Seq("l_returnflag", "l_linestatus"))
    },

    // R5 — conjunctive NOT NULL / non-empty filter (:245-258)
    "r5_null_filter" -> { (s, dir) =>
      Guards.nonNullNonEmpty(
          t(s, dir, "documents"), Seq("text", "lang", "source"))
        .select("doc_id", "lang", "source")
    },

    // F1 — hierarchy depth from dot-path (:192)
    "f01_depth" -> { (s, dir) =>
      val part = t(s, dir, "part")
      part.select(col("p_partkey"),
        Hierarchy.depth(LoincShim.path(col("p_type"), col("p_name")))
          .as("c_hlevel"))
    },

    // F2 — materialized-path rendering (:30-48), closed-form names
    "f02_fullname" -> { (s, dir) =>
      val part = t(s, dir, "part")
      part.select(col("p_partkey"),
        Hierarchy.renderPath(
          LoincShim.path(col("p_type"), col("p_name")),
          LoincShim.code(col("p_partkey")),
          c => concat(lit("cat "), lower(c))).as("c_fullname"))
    },

    // F3 — conditional name with explicit null token (:50-57)
    "f03_cond_name" -> { (s, dir) =>
      val part = t(s, dir, "part")
      val pk = col("p_partkey")
      part.select(pk.as("p_partkey"),
        Naming.conditionalName(
          LoincShim.code(pk), col("p_name"),
          Seq(col("p_brand"), col("p_type"),
            when(pk % 7 === 0, lit(null).cast("string"))
              .otherwise(col("p_size").cast("string")))).as("c_name"))
    },

    // F4 — visual-attribute classification via fan-out counts (:60-87)
    "f04_visual_attr" -> { (s, dir) =>
      val customer = t(s, dir, "customer")
      val counts = t(s, dir, "orders").groupBy("o_custkey")
        .agg(count(lit(1)).as("child_count"))
      customer.join(counts,
          customer("c_custkey") === counts("o_custkey"), "left")
        .select(col("c_custkey"),
          Flags.visualAttributes(col("child_count"),
            when(col("c_acctbal") > 0, "ACTIVE").otherwise("DEPRECATED"))
            .as("visual_attr"))
    },

    // F5 — prefix basecode (:205)
    "f05_basecode" -> { (s, dir) =>
      t(s, dir, "part").select(col("p_partkey"),
        Naming.baseCode(LoincShim.code(col("p_partkey"))).as("c_basecode"))
    },

    // F6 — per-row XML rendering with ElementTree escaping (:89-120)
    "f06_xml" -> { (s, dir) =>
      val part = t(s, dir, "part")
      val pk = col("p_partkey")
      part.select(pk.as("p_partkey"),
        I2b2Pipeline.metadataXml(
          LoincShim.code(pk),
          concat(col("p_name"), lit(" <&> gauge")),
          col("p_name"),
          col("p_type"),
          when(pk % 7 === 0, lit(null).cast("string"))
            .otherwise(col("p_brand"))).as("c_metadataxml"))
    },

    // F9 — scale-type flag (:215)
    "f09_flag" -> { (s, dir) =>
      val pk = col("p_partkey")
      t(s, dir, "part").select(pk.as("p_partkey"),
        Flags.columnDataType(
          when(pk % 2 === 0, "Qn").otherwise("Ql")).as("c_columndatatype"))
    },

    // F12 — parent path = all-but-last segment (:239)
    "f12_parent_path" -> { (s, dir) =>
      val part = t(s, dir, "part")
      val full = Hierarchy.renderPath(
        LoincShim.path(col("p_type"), col("p_name")),
        LoincShim.code(col("p_partkey")),
        c => concat(lit("cat "), lower(c)))
      part.select(col("p_partkey"),
        Hierarchy.parentPath(full).as("c_path"))
    },

    // F14 — varchar-cap truncation (:123-127)
    "f14_truncate" -> { (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        Guards.truncate(col("text"), 50).as("text50"),
        Guards.truncate(col("source"), 3).as("source3"))
    },

    // Flagship: the reference's whole transform() as one Spark plan,
    // spec-correct C_FULLNAME (per-ancestor names). The read → dedup
    // → join prefix is STAGED and shared with the bug-compat twin
    // below (the two modes differ only in the F2 branch, so paying
    // the spine twice was the bench's single largest avoidable cost).
    "i2b2_pipeline" -> { (s, dir) =>
      I2b2Pipeline.fromSpine(ExtensionSupport.i2b2Spine(s, dir),
        ExtensionSupport.i2b2HierLast(s, dir),
        I2b2Config(runTimestamp = RunTs))
    },

    // Reference-bug parity (Angelo_ETL_Task.py:40): leaf name repeated
    // in every C_FULLNAME segment — zero extra shuffles in this mode;
    // second consumer of the shared spine stage.
    "i2b2_pipeline_bugcompat" -> { (s, dir) =>
      I2b2Pipeline.fromSpine(ExtensionSupport.i2b2Spine(s, dir),
        ExtensionSupport.i2b2HierLast(s, dir),
        I2b2Config(runTimestamp = RunTs, bugCompatFullname = true))
    })

  // ---------------------------------------------------------------- //

  // the shared ElementTree-order XML escape — ONE definition (in
  // I2b2Oracle) so an escape-order fix cannot drift between oracles
  private def esc(x: String): String = I2b2Oracle.esc(x)

  val oracleSql: Map[String, String] = Map(
    "r1_left_join" ->
      """SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey""".stripMargin,

    "r2_lastwins_dedup" ->
      """WITH evts AS (SELECT event_id, make_timestamp(epoch_us(ts)) AS ts,
        |                     user_id, event_type, value FROM events)
        |SELECT user_id, event_type, event_id AS last_event_id, value AS last_value
        |FROM evts
        |QUALIFY row_number() OVER (PARTITION BY user_id, event_type
        |                           ORDER BY ts DESC, event_id DESC) = 1""".stripMargin,

    "r3_group_count" ->
      "SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey",

    "r4_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",

    "r5_null_filter" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE text IS NOT NULL AND text <> '' AND lang IS NOT NULL
        |  AND lang <> '' AND source IS NOT NULL AND source <> ''""".stripMargin,

    "f01_depth" ->
      """SELECT p_partkey,
        |  CAST(len(string_split(p_type || '.' || replace(p_name, ' ', '.'), '.')) + 2 AS INT) AS c_hlevel
        |FROM part""".stripMargin,

    "f02_fullname" ->
      (LoincShim.oracleCtes +
      """SELECT pk AS p_partkey,
        |  '\i2b2\Laboratory\' || array_to_string(
        |    list_transform(list_concat(string_split(path, '.'), [code]),
        |                   x -> '(' || x || ') cat ' || lower(x)), '\') AS c_fullname
        |FROM codes""".stripMargin),

    "f03_cond_name" ->
      (LoincShim.oracleCtes +
      """SELECT pk AS p_partkey,
        |  CASE WHEN code LIKE 'LP%' THEN p_name
        |       ELSE p_brand || ':' || p_type || ':' ||
        |            coalesce(CASE WHEN pk % 7 = 0 THEN NULL ELSE CAST(p_size AS VARCHAR) END, 'nan')
        |  END AS c_name
        |FROM codes""".stripMargin),

    "f04_visual_attr" ->
      """WITH counts AS (SELECT o_custkey, COUNT(*) AS child_count FROM orders GROUP BY o_custkey)
        |SELECT c_custkey,
        |  (CASE WHEN child_count > 1 THEN 'M' WHEN child_count >= 1 THEN 'F' ELSE 'L' END)
        |  || (CASE WHEN c_acctbal > 0 THEN 'A' ELSE 'I' END)
        |  || (CASE WHEN child_count IS NOT NULL THEN 'E' ELSE '' END) AS visual_attr
        |FROM customer LEFT JOIN counts ON c_custkey = o_custkey""".stripMargin,

    "f05_basecode" ->
      (LoincShim.oracleCtes +
      "SELECT pk AS p_partkey, 'LOINC:' || code AS c_basecode FROM codes"),

    "f06_xml" ->
      (LoincShim.oracleCtes +
      s"""SELECT pk AS p_partkey,
        |  CASE WHEN code LIKE 'LP%' THEN
        |    '<MultiAxialHierarchy><LOINC_NUM>' || ${esc("code")} ||
        |    '</LOINC_NUM><CODE_TEXT>' || ${esc("p_name || ' <&> gauge'")} ||
        |    '</CODE_TEXT></MultiAxialHierarchy>'
        |  ELSE
        |    '<Loinc><LOINC_NUM>' || ${esc("code")} ||
        |    '</LOINC_NUM><COMPONENT>' || ${esc("p_name")} ||
        |    '</COMPONENT><SYSTEM>' || ${esc("p_type")} ||
        |    '</SYSTEM><METHOD_TYP>' ||
        |    ${esc("coalesce(CASE WHEN pk % 7 = 0 THEN NULL ELSE p_brand END, 'nan')")} ||
        |    '</METHOD_TYP></Loinc>'
        |  END AS c_metadataxml
        |FROM codes""".stripMargin),

    "f09_flag" ->
      """SELECT p_partkey,
        |  CASE WHEN (CASE WHEN p_partkey % 2 = 0 THEN 'Qn' ELSE 'Ql' END) = 'Qn'
        |       THEN 'N' ELSE 'T' END AS c_columndatatype
        |FROM part""".stripMargin,

    "f12_parent_path" ->
      (LoincShim.oracleCtes +
      """SELECT pk AS p_partkey,
        |  regexp_replace(
        |    '\i2b2\Laboratory\' || array_to_string(
        |      list_transform(list_concat(string_split(path, '.'), [code]),
        |                     x -> '(' || x || ') cat ' || lower(x)), '\'),
        |    '\\[^\\]*$', '') AS c_path
        |FROM codes""".stripMargin),

    "f14_truncate" ->
      """SELECT doc_id, substring(text, 1, 50) AS text50,
        |  substring(source, 1, 3) AS source3 FROM documents""".stripMargin,

    "i2b2_pipeline" -> I2b2Oracle.sql,

    "i2b2_pipeline_bugcompat" -> I2b2Oracle.bugCompatSql)
}
