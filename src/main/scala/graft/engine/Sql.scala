package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's text-to-SQL execution surface (reference
  * `dashboard/ai_utils.py:49-66`, `dashboard/app_fase1.py:275`): arbitrary
  * SELECT/WITH SQL over the gold star schema, read-only.
  *
  * Spark SQL provides the parser/planner wholesale; gold tables are
  * registered as temp views (inherently read-only — there is no DML path
  * to a temp view), so the "read-only connection" property of the
  * reference (`dashboard/queries.py:5`) holds by construction.
  *
  * ==Prompt contract (what generated SQL may use)==
  * Views: `fact_sales` (money as DOUBLE, legacy), `fact_sales_dec`
  * (money as DECIMAL(18,4) — prefer for any SUM/AVG over price or
  * freight_value; exact by schema), `dim_customers`, `dim_products`,
  * `dim_time`. Functions: full Spark SQL builtins PLUS the registered
  * graft kernels ([[graft.functions.GraftFunctions.injections]]):
  * `simhash64(text)`, `simhash_portable64(text)`,
  * `minhash(text[, k, shingleWidth])`, `doc_fingerprint(text[, k, w])`,
  * `dot_product(a, b)`, `sorted_intersect_size(a, b)`,
  * `sorted_intersect_size_long(a, b)` — so an LLM can be told, in its
  * system prompt, that normalization/similarity kernels exist
  * server-side instead of asking it to re-derive them in SQL.
  */
object Sql {

  // last-registered sfDir per live session: a long-lived SQL surface
  // registers its views once, not once per statement. The parquet scans
  // behind the views resolve once per session anyway (Tables.parquet);
  // this memo only skips re-registering the five views and the kernels.
  // Keyed weakly by the session so a stopped session doesn't pin state;
  // a DIFFERENT sfDir on the same session re-registers and wins.
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  /** Register the gold star schema as temp views over the MATERIALIZED
    * layer (Gold.ensure) — each view is a parquet scan of the written
    * star schema, so repeated SQL statements re-read gold, they don't
    * re-derive it from base tables. Idempotent and memoized per
    * (session, sfDir).
    */
  def registerGold(spark: SparkSession, sfDir: String): Unit =
    // synchronized check-AND-act: concurrent first calls with different
    // sfDirs must not interleave the four view registrations (a mixed
    // star schema recorded as cleanly registered); the critical section
    // is short and only first-registration pays it
    registered.synchronized {
      if (registered.get(spark) != sfDir) {
        graft.functions.GraftFunctions.register(spark) // kernel SQL functions
        Gold.fact(spark, sfDir).createOrReplaceTempView("fact_sales")
        // decimal-native twin of fact_sales (round 17): money columns stay
        // DECIMAL(18,4), so an arbitrary user SELECT gets exact,
        // association-order-free SUM/AVG over money WITHOUT remembering a
        // cast — the schema carries the exactness contract that
        // fact_sales-over-double consumers must re-state per query.
        Gold.factDecimal(spark, sfDir)
          .createOrReplaceTempView("fact_sales_dec")
        Gold.dimCustomer(spark, sfDir).createOrReplaceTempView("dim_customers")
        Gold.dimPart(spark, sfDir).createOrReplaceTempView("dim_products")
        Gold.dimDate(spark, sfDir).createOrReplaceTempView("dim_time")
        registered.put(spark, sfDir): Unit
      }
    }

  /** Sanitize LLM-generated SQL (reference `dashboard/ai_utils.py:49-66`,
    * hardened): prefer the first complete ```-fenced block containing a
    * query, else strip orphan fence markers; trim to the first
    * WITH/SELECT; drop a trailing semicolon. Returns None when no
    * SELECT/WITH is present (the reference raises). Unlike the
    * reference, prose BEFORE a fenced block ("Here's your query: ```sql
    * ...```") and orphan trailing fences are handled.
    */
  def sanitize(raw: String): Option[String] = {
    def queryStart(s: String): Option[Int] = {
      val up = s.toUpperCase
      Seq(up.indexOf("WITH"), up.indexOf("SELECT")).filter(_ >= 0).sorted.headOption
    }
    val trimmed = raw.trim
    val fenced = "(?s)```(?:sql|SQL)?\\s*(.*?)```".r
      .findFirstMatchIn(trimmed).map(_.group(1).trim)
    val s = fenced.filter(queryStart(_).isDefined)
      .getOrElse(trimmed.replaceAll("```(sql|SQL)?", " "))
    queryStart(s).map { i =>
      val q = s.substring(i).trim
      if (q.endsWith(";")) q.dropRight(1).trim else q
    }
  }

  /** Execute a (sanitized) SELECT over the registered gold views. */
  def runSelect(spark: SparkSession, raw: String): Option[DataFrame] =
    sanitize(raw).map(spark.sql)
}
