package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops._

/** Configuration for the i2b2 ontology transform.
  *
  * @param runTimestamp single per-run timestamp, pre-formatted in
  *   [[I2b2Config.RunTimestampFormat]] (Angelo_ETL_Task.py:182-183
  *   computes `datetime.now()` ONCE so every row shares it; passing it
  *   in keeps the transform pure/deterministic and testable)
  * @param bugCompatFullname reproduce the reference bug at
  *   Angelo_ETL_Task.py:40 where every C_FULLNAME segment carries the
  *   LEAF's name; default false = spec-correct per-ancestor names
  *   (ETL_Task_Description.docx worked example)
  */
case class I2b2Config(
    runTimestamp: String,
    bugCompatFullname: Boolean = false)

object I2b2Config {
  /** The run-timestamp string format, read both as a
    * `DateTimeFormatter` and as a Spark `to_timestamp` pattern.
    */
  val RunTimestampFormat = "dd-MM-yyyy HH:mm:ss"
}

/** The whole reference `transform()` (Angelo_ETL_Task.py:150-274) as ONE
  * declarative Spark plan:
  *
  *   read -> last-wins dedup (R2) -> left join (R1) -> parent-count join
  *   (R3) -> 25-column project (F1-F13) -> null filter (R5) ->
  *   truncation project (F14)
  *
  * vs the reference's ~25 separate full passes over an eager pandas
  * frame. Catalyst fuses the projects+filter into one WholeStageCodegen
  * stage; the only shuffles are the two aggregations (last-wins,
  * parent counts) and — in spec-correct fullname mode — the
  * explode/re-aggregate pair. Both dimension joins are broadcast-able
  * when the hierarchy is small; at 100 TB they degrade gracefully to
  * shuffled hash joins keyed on the code.
  */
object I2b2Pipeline {

  /** Varchar caps applied by the reference AFTER the C_DIMCODE /
    * C_TOOLTIP copies, each independently (Angelo_ETL_Task.py:261-272).
    * Order preserved from the reference.
    */
  val varcharCaps: Seq[(String, Int)] = Seq(
    "C_FULLNAME" -> 700, "C_NAME" -> 2000, "C_BASECODE" -> 50,
    "C_FACTTABLECOLUMN" -> 50, "C_TABLENAME" -> 50, "C_COLUMNNAME" -> 50,
    "C_COLUMNDATATYPE" -> 50, "C_OPERATOR" -> 10, "C_DIMCODE" -> 700,
    "C_TOOLTIP" -> 900, "C_PATH" -> 700, "C_SYMBOL" -> 50)

  /** NOT NULL guard columns (Angelo_ETL_Task.py:245-258). */
  val notNullCols: Seq[String] = Seq(
    "C_HLEVEL", "C_FULLNAME", "C_NAME", "C_SYNONYM_CD",
    "C_VISUALATTRIBUTES", "C_FACTTABLECOLUMN", "C_TABLENAME",
    "C_COLUMNNAME", "C_COLUMNDATATYPE", "C_OPERATOR", "C_DIMCODE",
    "M_APPLIED_PATH", "UPDATE_DATE")

  /** Output column order = the i2b2 DDL (Angelo_ETL_Task.py:298-324). */
  val outputCols: Seq[String] = Seq(
    "C_HLEVEL", "C_FULLNAME", "C_NAME", "C_SYNONYM_CD",
    "C_VISUALATTRIBUTES", "C_TOTALNUM", "C_BASECODE", "C_METADATAXML",
    "C_FACTTABLECOLUMN", "C_TABLENAME", "C_COLUMNNAME",
    "C_COLUMNDATATYPE", "C_OPERATOR", "C_DIMCODE", "C_COMMENT",
    "C_TOOLTIP", "M_APPLIED_PATH", "UPDATE_DATE", "DOWNLOAD_DATE",
    "IMPORT_DATE", "SOURCESYSTEM_CD", "VALUETYPE_CD", "M_EXCLUSION_CD",
    "C_PATH", "C_SYMBOL")

  /** R2: last row in file order wins for CODE → (CODE_TEXT, PATH) —
    * the deduped hierarchy dimension, exposed separately because the
    * spec-correct F2 mode resolves ancestor names against it and a
    * caller sharing [[spine]] across both F2 modes wants THIS staged
    * too (it is the only other input [[fromSpine]] reads).
    */
  def hierLastWins(hierarchy: DataFrame): DataFrame =
    Dedup.lastWins(
      hierarchy, Seq("CODE"), col("seq"), Seq("CODE_TEXT", "PATH_TO_ROOT"))

  /** The read → last-wins dedup (R2) → left join (R1) → parent-count
    * join (R3) PREFIX of the pipeline — identical in both F2 modes,
    * so a caller running spec-correct AND bug-compat outputs (the
    * migration-audit shape: old and new semantics side by side)
    * should build this ONCE, stage it, and derive both tables via
    * [[fromSpine]] instead of paying the joins twice.
    */
  def spine(loinc: DataFrame, hierarchy: DataFrame,
            hierLast: DataFrame): DataFrame = {
    // R3: parent fan-out counts over ALL hierarchy rows (value_counts
    // at Angelo_ETL_Task.py:173 runs before any dedup).
    val parentCounts = hierarchy
      .filter(col("IMMEDIATE_PARENT").isNotNull)
      .groupBy(col("IMMEDIATE_PARENT").as("PARENT_CODE"))
      .agg(count(lit(1)).as("child_count"))

    // R1 (+R2 folded in): the spine is loinc itself — LOINC_NUM is
    // unique per row, so merged.unique() == loinc (:179).
    loinc
      .join(hierLast, loinc("LOINC_NUM") === hierLast("CODE"), "left")
      .join(parentCounts,
        loinc("LOINC_NUM") === parentCounts("PARENT_CODE"), "left")
      .drop("CODE", "PARENT_CODE")
  }

  /** Build the 25-column i2b2 ontology table.
    *
    * @param loinc     LOINC_NUM, COMPONENT, PROPERTY, TIME_ASPCT,
    *                  SYSTEM, SCALE_TYP, METHOD_TYP, STATUS
    *                  (one row per code)
    * @param hierarchy CODE, CODE_TEXT, PATH_TO_ROOT, IMMEDIATE_PARENT,
    *                  seq (row-order column; a CODE may repeat)
    */
  def build(loinc: DataFrame, hierarchy: DataFrame,
            cfg: I2b2Config): DataFrame = {
    val hierLast = hierLastWins(hierarchy)
    fromSpine(spine(loinc, hierarchy, hierLast), hierLast, cfg)
  }

  /** The F2-mode-dependent TAIL of the pipeline over a prebuilt
    * [[spine]] (and the [[hierLastWins]] dimension the spec-correct
    * name resolution reads) — projection, guards, truncation.
    */
  def fromSpine(joined: DataFrame, hierLast: DataFrame,
                cfg: I2b2Config): DataFrame = {
    val base =
      if (cfg.bugCompatFullname)
        // Bug-compat: pure higher-order expression, zero extra
        // shuffles. Spec mode joins per-ancestor names instead.
        joined.withColumn("C_FULLNAME",
          Hierarchy.renderPathBugCompat(
            col("PATH_TO_ROOT"), col("LOINC_NUM"), col("CODE_TEXT")))
      else
        specFullname(joined, hierLast)

    val ts = lit(cfg.runTimestamp)
    val derived = base.select(
      Hierarchy.depth(col("PATH_TO_ROOT")).as("C_HLEVEL"),
      col("C_FULLNAME"),
      Naming.conditionalName(col("LOINC_NUM"), col("CODE_TEXT"),
        Seq("COMPONENT", "PROPERTY", "TIME_ASPCT", "SYSTEM", "SCALE_TYP",
          "METHOD_TYP").map(col)).as("C_NAME"),
      lit("N").as("C_SYNONYM_CD"),
      Flags.visualAttributes(col("child_count"), col("STATUS"))
        .as("C_VISUALATTRIBUTES"),
      lit(null).cast("int").as("C_TOTALNUM"),
      Naming.baseCode(col("LOINC_NUM")).as("C_BASECODE"),
      metadataXml(col("LOINC_NUM"), col("CODE_TEXT"), col("COMPONENT"),
        col("SYSTEM"), col("METHOD_TYP")).as("C_METADATAXML"),
      lit("CONCEPT_CD").as("C_FACTTABLECOLUMN"),
      lit("CONCEPT_DIMENSION").as("C_TABLENAME"),
      lit("CONCEPT_PATH").as("C_COLUMNNAME"),
      Flags.columnDataType(col("SCALE_TYP")).as("C_COLUMNDATATYPE"),
      lit("LIKE").as("C_OPERATOR"),
      col("C_FULLNAME").as("C_DIMCODE"),
      lit(null).cast("string").as("C_COMMENT"),
      col("C_FULLNAME").as("C_TOOLTIP"),
      lit("@").as("M_APPLIED_PATH"),
      ts.as("UPDATE_DATE"),
      ts.as("DOWNLOAD_DATE"),
      ts.as("IMPORT_DATE"),
      lit("LOINC").as("SOURCESYSTEM_CD"),
      lit("LAB").as("VALUETYPE_CD"),
      lit(null).cast("string").as("M_EXCLUSION_CD"),
      Hierarchy.parentPath(col("C_FULLNAME")).as("C_PATH"),
      Naming.symbol(col("CODE_TEXT")).as("C_SYMBOL"))

    val filtered = guard(derived)
    Guards.truncateAll(filtered, varcharCaps.toMap)
      .select(outputCols.map(col): _*)
  }

  /** R5 guard — the shared type-aware filter (Guards.nonNullNonEmpty
    * applies the empty-string test to string columns only).
    */
  private def guard(df: DataFrame): DataFrame =
    Guards.nonNullNonEmpty(df, notNullCols)

  /** F2 spec-correct: per-ancestor names, resolved once per DISTINCT
    * path. posexplode the distinct PATH_TO_ROOT strings, join each
    * ancestor code to its name, re-aggregate in position order, and
    * join the rendered ancestor chain back on the path string; the
    * leaf's own segment is appended inline from the row's CODE_TEXT.
    *
    * Keying the explode/re-agg on distinct paths instead of leaf
    * codes keeps the main `joined` tree evaluated ONCE (the old
    * leaf-keyed join-back duplicated the whole loinc⋈hierarchy
    * subtree; both the path and name sides here come from the deduped
    * hierarchy alone) and shrinks the exploded work: at scale many
    * leaves share an ancestor path. No broadcast hint — Catalyst picks BHJ
    * under the threshold (PlanSpec pins it), and at 100 TB an
    * oversized path dimension degrades to a shuffled hash join
    * instead of OOMing on a forced broadcast.
    *
    * An ancestor code missing from the hierarchy yields a null name
    * and the WHOLE rendered path goes null (a shortened path that
    * silently skips a level would be wrong) — matching the bug-compat
    * mode and the closed-form oracle, whose null segment propagates
    * through concat so the R5 guard drops the row. A null leaf
    * CODE_TEXT (code absent from the hierarchy) nulls the concat the
    * same way.
    */
  private def specFullname(joined: DataFrame, hier: DataFrame): DataFrame = {
    val names = hier.select(
      col("CODE").as("__anc_code"), col("CODE_TEXT").as("__anc_name"))
    val rendered = hier
      .select(col("PATH_TO_ROOT"))
      .filter(col("PATH_TO_ROOT").isNotNull)
      .distinct()
      .select(col("PATH_TO_ROOT").as("__path"),
        posexplode(Hierarchy.pathArray(col("PATH_TO_ROOT")))
          .as(Seq("__pos", "__code")))
      .join(names, col("__code") === col("__anc_code"), "left")
      .groupBy(col("__path"))
      // max(isnull) over the group beats exists() over the collected
      // array: it folds into the same aggregate (no second pass over
      // the array, no lambda) and short-circuits the whole render.
      .agg(
        max(col("__anc_name").isNull).as("__any_null"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("__pos"), col("__code"),
              col("__anc_name")))),
            s => concat(lit("("), s("__code"), lit(") "), s("__anc_name"))),
          "\\").as("__rendered"))
      .select(col("__path"),
        when(col("__any_null"), lit(null).cast("string"))
          .otherwise(col("__rendered")).as("__anc"))
    joined
      .join(rendered, joined("PATH_TO_ROOT") === rendered("__path"), "left")
      .withColumn("C_FULLNAME",
        concat(lit(Hierarchy.RootPrefix + "\\"), col("__anc"), lit("\\("),
          col("LOINC_NUM"), lit(") "), col("CODE_TEXT")))
      .drop("__path", "__anc")
  }

  /** F6 — per-row XML metadata (Angelo_ETL_Task.py:89-120).
    *
    * COMPONENT/SYSTEM/METHOD_TYP are str()-wrapped in the reference,
    * so a missing CSV cell (pandas NaN) renders "nan" — same token as
    * F3's astype(str). CODE_TEXT is a raw dict lookup the reference
    * would crash on if missing; "None" there is a deliberate
    * total-function extension, not parity.
    */
  def metadataXml(code: Column, codeText: Column, component: Column,
                  system: Column, methodTyp: Column): Column = {
    import XmlRender._
    when(code.startsWith("LP"),
      document("MultiAxialHierarchy",
        element("LOINC_NUM", code),
        element("CODE_TEXT", codeText)))
    .otherwise(
      document("Loinc",
        element("LOINC_NUM", code),
        element("COMPONENT", component, nullToken = "nan"),
        element("SYSTEM", system, nullToken = "nan"),
        element("METHOD_TYP", methodTyp, nullToken = "nan")))
  }
}
