package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Gold, Tables}

/** Resolve-once parquet relations ([[Tables.parquet]]): a repeated read
  * of an unchanged path launches no Spark job, every load still gets its
  * own attribute ids, and a rewritten path is re-resolved in place.
  */
class RelationCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf001 = "/root/testdata/sf0.001"
  private val sf01 = "/root/testdata/sf0.01"

  /** Spark jobs started while `f` runs. */
  private def jobsDuring(f: => Any): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    try { f; ListenerDrain(sc); jobs.get() }
    finally sc.removeSparkListener(listener)
  }

  test("a repeated gold or base-table read in one session launches no Spark job") {
    val factDir = s"${Gold.ensure(spark, sf001)}/fact_sales"
    // control: an uncached read of the month-partitioned fact lists its
    // partition directories and infers its schema with jobs
    assert(jobsDuring(spark.read.parquet(factDir).schema) > 0)
    Gold.fact(spark, sf001); Gold.dimCustomer(spark, sf001); Tables.lineitem(spark, sf001)
    val again = jobsDuring {
      Gold.fact(spark, sf001).schema
      Gold.dimCustomer(spark, sf001).schema
      Tables.lineitem(spark, sf001).schema
    }
    assert(again == 0, s"cached reads launched $again job(s)")
  }

  test("two loads of one table have disjoint attribute ids and self-join") {
    val a = Tables.nation(spark, sf01)
    val b = Tables.nation(spark, sf01)
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    // 25 nations, 5 per region: 5 regions x 5 x 5 pairs
    assert(a.join(b, a("n_regionkey") === b("n_regionkey")).count() == 125)
  }

  test("an overwritten path is re-resolved and keeps one cache entry") {
    val dir = TestSpark.tmpDir("relation-cache")
    val path = s"$dir/t.parquet"
    Seq(1, 2, 3).toDF("k").write.parquet(path)
    assert(Tables.load(spark, dir, "t").count() == 3)
    Seq(4, 5).toDF("k").write.mode("overwrite").parquet(path)
    assert(Tables.load(spark, dir, "t").as[Int].collect().sorted.toSeq == Seq(4, 5))
    assert(Tables.cachedEntries(path) == 1)
  }
}
