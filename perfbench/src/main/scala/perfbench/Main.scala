package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.SparkEntry
import graft.engine.{Analytics, Gold, Incremental, Landing, Medallion, Quality, Sql, Tables, TextOps}
import graft.functions.GraftFunctions
import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One benchmark run in a fresh JVM: start a `local[cpus]` session, prepare
  * the workload, run passes of the seeded op script in a closed loop until
  * the time budget is spent (at least one pass), and write what happened
  * to `<out>/run.json` plus one result file per distinct op output.
  *
  * Usage: `perfbench.Main --script <script.json> --out <dir> --seconds <s>
  * --trace <0|1> --cpus <n> --local-dir <dir>`; the JVM's working
  * directory receives the engine's work dirs (`target/...`).
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = opt.getOrElse("cpus", "4").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opt("local-dir"))
      .config("spark.sql.warehouse.dir", new File("warehouse").getAbsolutePath)
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    System.err.println(s"perfbench: session at ${ManagementFactory.getRuntimeMXBean.getUptime} ms")
    val out = new File(opt("out"))
    new File(out, "results").mkdirs()
    try {
      val run = new Run(spark, Json.read(opt("script")), out, opt("seconds").toDouble,
        opt("trace") == "1")
      val record = run.execute() + ("session_s" -> sessionS)
      Files.write(new File(out, "run.json").toPath, Json.render(record).getBytes(StandardCharsets.UTF_8))
      System.err.println(s"perfbench: record written at ${ManagementFactory.getRuntimeMXBean.getUptime} ms")
    } finally spark.stop()
    System.err.println(s"perfbench: stopped at ${ManagementFactory.getRuntimeMXBean.getUptime} ms")
  }
}

object Run {
  /** Copies of the documents and embeddings the kernel probes run over. */
  val ProbeCopies = 100
}

final class Run(spark: SparkSession, script: JsonNode, out: File, seconds: Double, trace: Boolean) {
  private val workload = script.get("workload").asText
  private val dataDir = script.get("data_dir").asText
  private val rec: Option[Recorder] = if (trace) Some(new Recorder(spark)) else None
  private val sc = spark.sparkContext

  private def span[T](name: String)(body: => T): T = rec match {
    case Some(r) => r.span(name)(body)
    case None => body
  }

  private def nowUs: Long = rec.map(_.nowUs).getOrElse(System.currentTimeMillis() * 1000L)

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  private var nextOp = 0
  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val written = mutable.Set.empty[String]

  /** Run one op: set the op local property, time it, catch its failure, and
    * record its output after the clock stops (one result file per distinct
    * key and output).
    */
  private def runOp(pass: Int, kind: String, name: String, key: String)(
      body: => (StructType, Array[Row])): Unit = {
    val id = nextOp
    nextOp += 1
    sc.setLocalProperty(Recorder.OpProperty, id.toString)
    val start = nowUs
    val t0 = System.nanoTime()
    val outcome =
      try Right(rec.fold(span(s"op.$kind")(body))(r => r.withOp(id)(span(s"op.$kind")(body))))
      catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)) }
    val seconds = (System.nanoTime() - t0) / 1e9
    val end = nowUs
    sc.setLocalProperty(Recorder.OpProperty, null)
    val digest = outcome.toOption.map { case (schema, rows) =>
      val json = Rows.render(schema, rows)
      val file = s"${md5(key)}-${md5(json)}.json"
      if (written.add(file))
        Files.write(new File(out, s"results/$file").toPath, json.getBytes(StandardCharsets.UTF_8))
      file
    }
    val storage = if (trace) {
      val info = sc.getRDDStorageInfo
      Map("held_bytes" -> info.map(i => i.memSize + i.diskSize).sum,
        "blocks" -> info.map(_.numCachedPartitions).sum)
    } else Map.empty
    ops += Map("id" -> id, "pass" -> pass, "kind" -> kind, "name" -> name, "key" -> key,
      "start_us" -> start, "end_us" -> end, "seconds" -> seconds, "ok" -> outcome.isRight,
      "error" -> outcome.left.toOption, "result" -> digest) ++ census.remove(id).getOrElse(Map.empty) ++ storage
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(16)

  private val census = mutable.Map.empty[Int, Map[String, Any]]

  /** Build, plan, execute and collect a frame. A traced run forces the
    * executed plan first (the planning span) and takes the AQE-final
    * census of exchanges, scans and files scanned after execution.
    */
  private def frame(build: => DataFrame): (StructType, Array[Row]) = {
    val df = span("build")(build)
    val planS = if (trace) Some(timed(span("plan")(df.queryExecution.executedPlan))._2) else None
    val rows = span("execute")(df.collect())
    planS.foreach { p =>
      val nodes = flatten(df.queryExecution.executedPlan)
      def uniq(ps: Seq[SparkPlan]): Int = ps.map(System.identityHashCode).distinct.size
      val scans = nodes.collect { case s: FileSourceScanExec => s }.distinctBy(System.identityHashCode)
      census(nextOp - 1) = Map("plan_s" -> p,
        "exchanges" -> uniq(nodes.filter(n =>
          n.isInstanceOf[ShuffleExchangeLike] || n.isInstanceOf[BroadcastExchangeLike])),
        "scans" -> scans.size,
        "files_scanned" -> scans.map(s => s.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum)
    }
    (df.schema, rows)
  }

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children ++ other.subqueries
    }
    p +: kids.flatMap(flatten)
  }

  private def analytics(name: String, states: Seq[String]): DataFrame = {
    val fact = Gold.fact(spark, dataDir)
    val dimC = Gold.dimCustomer(spark, dataDir)
    name match {
      case "kpis" => Analytics.kpis(fact, dimC, states)
      case "topCategories" => Analytics.topCategories(fact, Gold.dimPart(spark, dataDir), dimC, states)
      case "ordersByState" => Analytics.ordersByState(fact, dimC, states)
      case "shippingTimeByState" => Analytics.shippingTimeByState(fact, dimC, states)
      case "avgFreightByState" => Analytics.avgFreightByState(fact, dimC, states)
      case "monthlyTrend" => Analytics.monthlyTrend(fact, dimC, states)
      case "weekdaySeasonality" => Analytics.weekdaySeasonality(fact, dimC, states)
      case other => throw new IllegalArgumentException(s"unknown dashboard function $other")
    }
  }

  private val logSchema = StructType.fromDDL(
    "file_name string, status string, rows_orders bigint, rows_items bigint, fingerprint string")

  /** One arrival cycle: land the snapshot, then ingest it incrementally. */
  private def cycle(snapshot: String, landing: String, bronze: String): (StructType, Array[Row]) = {
    span("landing.explode")(Landing.explode(spark, snapshot, landing, "yyyy-MM"))
    val log = span("incremental.run")(Incremental.run(spark, landing, bronze))
    if (trace) span("incremental.readTechLog")(Incremental.readTechLog(spark, bronze))
    (logSchema, log.map(e =>
      Row(e.file_name, e.status, e.rows_orders, e.rows_items, e.fingerprint)).toArray)
  }

  private def runPassOp(pass: Int, op: JsonNode): Unit = {
    val kind = op.get("kind").asText
    val name = op.get("name").asText
    val key = op.get("key").asText
    runOp(pass, kind, name, key) {
      kind match {
        case "analytics" => frame(analytics(name, Json.strings(op.get("states"))))
        case "sql" => frame(Sql.runSelect(spark, op.get("sql").asText)
          .getOrElse(throw new IllegalArgumentException("no SELECT in statement")))
        case "registry" => frame(SparkEntry.queries(name)(spark, dataDir))
        case "cycle" => cycle(op.get("snapshot").asText, op.get("landing").asText, op.get("bronze").asText)
        case other => throw new IllegalArgumentException(s"unknown op kind $other")
      }
    }
  }

  /** The workload's preparation, repeated; each repetition is timed. */
  private def setup(): Seq[Double] = {
    val reps = script.get("setup").elements().asScala.toSeq
    reps.map { rep =>
      val id = nextOp
      nextOp += 1
      sc.setLocalProperty(Recorder.OpProperty, id.toString)
      val start = nowUs
      val (_, s) = timed(rec.fold(prepare(rep))(r => r.withOp(id)(span(s"setup.$workload")(prepare(rep)))))
      sc.setLocalProperty(Recorder.OpProperty, null)
      ops += Map("id" -> id, "pass" -> -1, "kind" -> "setup", "name" -> workload, "key" -> "setup",
        "start_us" -> start, "end_us" -> nowUs, "seconds" -> s, "ok" -> true)
      s
    }
  }

  private def prepare(rep: JsonNode): Unit = workload match {
    case "dashboard" =>
      val dir = rep.get("data_dir").asText
      val gold = span("gold.ensure")(Gold.ensure(spark, dir))
      goldDirs += gold
    case "batch" =>
      val bronze = rep.get("bronze").asText
      graft.engine.Workdirs.delete(spark, bronze)
      new File(bronze).mkdirs()
      GraftFunctions.register(spark)
      Seq("documents", "embeddings").foreach(t =>
        span("tables.load")(Tables.load(spark, rep.get("data_dir").asText, t).schema))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private val goldDirs = mutable.ArrayBuffer.empty[String]

  /** CPU time of every thread of this JVM so far. */
  private def cpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def dirStats(path: String): (Long, Long) = {
    val files = Option(new File(path)).filter(_.exists).map(f =>
      Files.walk(f.toPath).iterator().asScala.filter(Files.isRegularFile(_))
        .filter(p => p.getFileName.toString.startsWith("part-")).toSeq).getOrElse(Nil)
    (files.size.toLong, files.map(Files.size).sum)
  }

  def execute(): Map[String, Any] = {
    rec.foreach(_.attach())
    val prep = setup()
    System.err.println(s"perfbench: setup done at ${ManagementFactory.getRuntimeMXBean.getUptime} ms")
    if (workload == "dashboard") Sql.registerGold(spark, dataDir)
    val passes = script.get("passes").elements().asScala.toSeq
    val gc0 = gcSeconds
    val regionStart = nowUs
    val t0 = System.nanoTime()
    val passRecs = mutable.ArrayBuffer.empty[Map[String, Any]]
    var p = 0
    while (p < passes.size && (p == 0 || (System.nanoTime() - t0) / 1e9 < seconds)) {
      val ps = nowUs
      val pt = System.nanoTime()
      val pc = cpuSeconds
      span("pass")(passes(p).elements().asScala.foreach(op => runPassOp(p, op)))
      passRecs += Map("pass" -> p, "start_us" -> ps, "end_us" -> nowUs,
        "wall_s" -> (System.nanoTime() - pt) / 1e9, "cpu_s" -> (cpuSeconds - pc))
      p += 1
    }
    val regionS = (System.nanoTime() - t0) / 1e9
    System.err.println(s"perfbench: region done at ${ManagementFactory.getRuntimeMXBean.getUptime} ms")
    val regionEnd = nowUs
    val gcS = gcSeconds - gc0
    // collect until the context cleaner has released what became
    // unreachable (unpersisted checkpoints, broadcasts), then read the heap
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val base = Map[String, Any]("workload" -> workload, "setup_prep_s" -> prep,
      "region_start_us" -> regionStart, "region_end_us" -> regionEnd, "region_s" -> regionS,
      "passes" -> passRecs.toSeq, "retained_heap_mb" -> heapMb, "gc_s" -> gcS,
      "gold_dir" -> goldDirs.headOption,
      "oracle_sql" -> ops.filter(_("kind") == "registry").map(_("name").toString).distinct
        .map(n => n -> SparkEntry.oracleSql.get(n)).toMap)
    rec.foreach(_.drain())
    base ++ (if (trace) Map("trace" -> traceRecord()) else Map.empty) + ("ops" -> ops.toSeq)
  }

  /** Layer probes and the recorder's spans/jobs/stages, for a traced run. */
  private def traceRecord(): Map[String, Any] = {
    val r = rec.get
    r.drain()
    val recorded = Map("spans" -> r.spansJson, "jobs" -> r.jobsJson, "stages" -> r.stagesJson,
      "streaming" -> r.progressJson, "recorder_s" -> r.recorderSeconds)
    r.detach()
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    def probe(body: => Unit): Double = median((1 to 3).map(_ => timed(body)._2))
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val bronzeTables = Seq("orders", "lineitem", "customer", "nation", "region", "part")
    val tablesRead = bronzeTables.map(t => probe(noop(Tables.load(spark, dataDir, t)))).sum
    var rowsChecked = 0L
    val gateS = probe {
      val (_, so) = Quality.gateWith(Medallion.silverOrders(Tables.orders(spark, dataDir)),
        Quality.orderChecks, Nil)
      val (_, sl) = Quality.gateWith(Medallion.silverLineitem(Tables.lineitem(spark, dataDir)),
        Quality.lineitemChecks, Nil)
      rowsChecked = so.getLong(0) + sl.getLong(0)
    }
    GraftFunctions.register(spark)
    // Each kernel runs once per row of a cached input replicated to a fixed
    // size, unary or over precomputed neighbour pairs, so a probe's time is
    // the kernel's rather than a job's fixed cost or a join's.
    def replicated(df: DataFrame, view: String): DataFrame = {
      val r = df.crossJoin(spark.range(Run.ProbeCopies).toDF("copy")).drop("copy").cache()
      r.count()
      r.createOrReplaceTempView(view)
      r
    }
    // ids are dense from 0, so each row is paired with the next, wrapping
    def neighbours(df: DataFrame, id: String, v: String): DataFrame = {
      val n = df.count()
      df.as("x").join(df.as("y"), col(s"y.$id") === (col(s"x.$id") + 1) % n)
        .select(col(s"x.$v").as("a"), col(s"y.$v").as("b"))
    }
    val docs = Tables.documents(spark, dataDir).select("doc_id", "text")
    val sets = docs.selectExpr("doc_id", "array_sort(minhash(text)) AS s")
    val emb = Tables.embeddings(spark, dataDir).select("vec_id", "embedding")
    val probes = Seq(replicated(docs, "pb_docs"),
      replicated(neighbours(emb, "vec_id", "embedding"), "pb_emb"),
      replicated(neighbours(sets, "doc_id", "s"), "pb_sets"))
    val intersect = sets.schema("s").dataType.simpleString match {
      case "array<bigint>" => "sorted_intersect_size_long"
      case _ => "sorted_intersect_size"
    }
    def sqlProbe(q: String): Double = probe(spark.sql(q).collect(): Unit)
    val kernels = Map(
      "kernel.minhash_s" -> sqlProbe("SELECT bit_xor(hash(minhash(text))) FROM pb_docs"),
      "kernel.simhash64_s" -> sqlProbe("SELECT bit_xor(simhash64(text)) FROM pb_docs"),
      "kernel.simhash_portable64_s" -> sqlProbe("SELECT bit_xor(simhash_portable64(text)) FROM pb_docs"),
      "kernel.doc_fingerprint_s" -> sqlProbe("SELECT bit_xor(hash(doc_fingerprint(text))) FROM pb_docs"),
      "kernel.dot_product_s" -> sqlProbe("SELECT bit_xor(hash(dot_product(a, b))) FROM pb_emb"),
      "kernel.sorted_intersect_size_s" -> sqlProbe(s"SELECT bit_xor(hash($intersect(a, b))) FROM pb_sets"),
      "textops.tokens_s" -> probe(spark.table("pb_docs").select(sum(size(TextOps.tokens(col("text")))))
        .collect(): Unit))
    probes.foreach(_.unpersist())
    val (goldFiles, goldBytes) = goldDirs.headOption.map(dirStats).getOrElse((0L, 0L))
    val (landFiles, landBytes) =
      Option(script.get("landing")).map(n => dirStats(n.asText)).getOrElse((0L, 0L))
    val appended = Option(script.get("bronze")).map(_.asText)
      .map(b => dirStats(s"$b/orders")._2 + dirStats(s"$b/lineitem")._2).getOrElse(0L)
    recorded ++ Map("probes" -> (kernels ++ Map(
      "tables.read_s" -> tablesRead, "quality.gate_s" -> gateS,
      "quality.rows_checked" -> rowsChecked, "gold.files" -> goldFiles, "gold.bytes" -> goldBytes,
      "landing.files" -> landFiles, "landing.bytes" -> landBytes,
      "incremental.bytes_appended" -> appended)))
  }
}
