package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.sources.BaseRelation
import scala.collection.mutable

/** Parquet table loaders over a scale-factor directory of the driver
  * testdata (see TESTDATA.md). Mirrors the reference's bronze scans
  * (reference `etl/tasks/bronze.py:26-31`, `scripts/bronze_incremental.py:69`)
  * but parquet-native: Spark's vectorized parquet reader gives columnar IO,
  * predicate pushdown, and column pruning for free as long as callers keep
  * the plan declarative (select/filter before any wide op).
  *
  * At 100 TB these would be partitioned table roots (e.g. orders
  * partitioned by month, as the reference's landing zone is —
  * `scripts/esplosione_dati.py:135-154`); `spark.read.parquet(dir)`
  * handles a directory of files identically, and partition pruning
  * applies when a partition column filter is present.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** A parquet path resolved at most once per (session, path) while its
    * files stay put. Resolving runs driver-side jobs before any query
    * does: a file-listing job over every partition directory once a
    * table has more than `parallelPartitionDiscovery.threshold` of them
    * (the gold fact's 79 months list as a 79-task job) and a schema
    * inference job. A short dashboard request paid both on every read.
    *
    * The cache keeps the resolved relation (file index and schema), not
    * a DataFrame: each call wraps it in a new LogicalRelation with fresh
    * attribute ids, so two loads of one table self-join like two
    * independent reads. An entry is valid while its stamp holds — the
    * name, length and modification time of each entry of a driver-side,
    * non-recursive listing of the path, which launches no job. A
    * `mode("overwrite")` rewrite writes new part-file names, changes the
    * stamp, and the next call re-resolves and replaces the entry, so the
    * cache holds one entry per (session, path, nanosAsLong).
    * `spark.sql.legacy.parquet.nanosAsLong` is part of the key because it
    * changes the inferred schema (see [[events]]). A session's entries go
    * when its context stops.
    *
    * Only for paths nothing rewrites file-by-file while they are read:
    * the base tables and the gold layer. The directories a pipeline run
    * appends to keep plain `spark.read`.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val key = (spark, path, spark.conf.get(NanosAsLong, "false"))
    stampOf(spark, path) match {
      case None =>
        // gone or never written: drop any stale entry and let the reader
        // raise its own error
        relations.synchronized(relations.remove(key))
        spark.read.parquet(path)
      case Some(stamp) =>
        relations.synchronized(relations.get(key)) match {
          case Some((s, rel)) if s == stamp => spark.baseRelationToDataFrame(rel)
          case _ =>
            // stamped before resolving: a rewrite racing the resolve
            // leaves an entry whose stamp is already stale, never a stale
            // relation under a fresh stamp
            val df = spark.read.parquet(path)
            df.queryExecution.analyzed.collectFirst {
              case l: LogicalRelation => l.relation
            }.foreach { rel =>
              relations.synchronized {
                watch(spark.sparkContext)
                relations.put(key, (stamp, rel))
              }
            }
            df
        }
    }
  }

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private type Stamp = Seq[(String, Long, Long)]

  private val relations =
    mutable.HashMap.empty[(SparkSession, String, String), (Stamp, BaseRelation)]

  /** Contexts whose stop already clears their sessions' entries. */
  private val watched = mutable.Set.empty[SparkContext]

  /** Entries cached for `path` across sessions and conf values. */
  private[graft] def cachedEntries(path: String): Int =
    relations.synchronized(relations.keys.count(_._2 == path))

  private def stampOf(spark: SparkSession, path: String): Option[Stamp] = {
    val p = new Path(path)
    try Some(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(p).toSeq
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sorted)
    catch { case _: java.io.FileNotFoundException => None }
  }

  // a cached relation references its session, so a weak map keyed on the
  // session would never free it; drop the entries when the context stops
  private def watch(sc: SparkContext): Unit =
    if (watched.add(sc)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
        relations.synchronized {
          relations.filterInPlace { case ((s, _, _), _) => s.sparkContext ne sc }
          watched -= sc
        }
    })

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.parquet has shipped with two physical types for `ts` across
    * driver testdata generations: TIMESTAMP(NANOS) (which Spark's parquet
    * reader rejects as a timestamp — it surfaces as a raw long under
    * legacy.parquet.nanosAsLong) and plain TIMESTAMP(MICROS). Adapt to
    * whichever is on disk: longs are truncated ns→µs with exact integer
    * division (`div 1000`, no double rounding — matches DuckDB's own
    * truncation when it reads the same file); native µs timestamps arrive
    * as TIMESTAMP_NTZ (no tz annotation in the file) and are cast to
    * TIMESTAMP — the session tz is pinned to UTC everywhere, so the cast
    * preserves wall-clock values and keeps downstream consumers
    * (watermarks reject NTZ; prior oracle-green rounds hashed TIMESTAMP)
    * on one type whichever file generation is on disk.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(
            org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
