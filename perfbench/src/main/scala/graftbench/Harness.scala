package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.sources.Tables
import graft.tools.IndexCache

/** One benchmark run in one JVM: set-up, an untimed warm-up pass that
  * also fingerprints every query's output, then closed-loop timed passes
  * over the given query order until the time budget is spent.
  *
  * The harness only measures. It writes a raw record (JSON) that
  * `perfbench/run.py` turns into metrics and checks against the
  * expected outputs.
  *
  * Flags: --data DIR --queries FILE --seconds S --trace 0|1 --out FILE
  *        --launch-ms EPOCH_MS --cpus N [--dump DIR]
  */
object Harness {

  private def flags(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap

  /** The session conf of `graft.Bench`. */
  def declaredConf(cpus: Int): Map[String, String] =
    Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.codegen.cache.maxEntries" -> "5000",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
    )

  // keys Spark itself fills in for every session (some vary by run)
  private val SparkSetKeys = Set("spark.app.id", "spark.app.name", "spark.app.startTime",
    "spark.app.submitTime", "spark.driver.host", "spark.driver.port",
    "spark.executor.id", "spark.driver.extraJavaOptions",
    "spark.executor.extraJavaOptions", "spark.sql.warehouse.dir",
    "spark.hadoop.fs.s3a.vectored.read.max.merged.size",
    "spark.hadoop.fs.s3a.vectored.read.min.seek.size")

  /** Fails when the live session conf is not exactly the declared set:
    * a conf injected from outside would make the run measure something
    * other than Bench's session. */
  def checkConf(live: Map[String, String], declared: Map[String, String]): Unit = {
    val wrong = declared.collect { case (k, v) if !live.get(k).contains(v) =>
      s"$k=${live.getOrElse(k, "<unset>")} (declared $v)" }
    val extra = (live.keySet -- declared.keySet -- SparkSetKeys).toSeq.sorted
      .map(k => s"$k=${live(k)} (not declared)")
    val bad = wrong.toSeq.sorted ++ extra
    if (bad.nonEmpty)
      throw new IllegalStateException(
        "session conf differs from the declared Bench set: " + bad.mkString("; "))
  }

  /** Order-insensitive output fingerprint: row count and the sum, as an
    * unbounded integer, of a 64-bit hash of every row. Columns are renamed
    * by position first, so duplicate or dotted names hash the same way. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.columns.indices.map(i => s"c$i")
    val flat = df.toDF(cols: _*)
    val hashed = flat.schema.fields.toSeq.map { f =>
      if (f.dataType.sql.contains("MAP<")) to_json(col(f.name)) else col(f.name)
    }
    val row = flat.select(xxhash64(hashed: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .collect()(0)
    val h = Option(row.getDecimal(1)).map(_.toBigInteger.toString).getOrElse("0")
    (row.getLong(0), h)
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  private def heapUsedMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)

  private def progress(msg: String): Unit =
    System.err.println(f"[perfbench] ${System.currentTimeMillis() / 1e3}%.3f $msg")

  private def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}"

  def main(args: Array[String]): Unit = {
    val f = flags(args)
    val dir = f("data")
    val names = Files.readAllLines(Paths.get(f("queries"))).asScala.map(_.trim).filter(_.nonEmpty).toSeq
    val seconds = f("seconds").toDouble
    val traced = f("trace") == "1"
    val cpus = f("cpus").toInt
    val launchMs = f("launch-ms").toLong
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val declared = declaredConf(cpus)
    val builder = SparkSession.builder()
    declared.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = System.currentTimeMillis()
    val liveConf = spark.conf.getAll
    checkConf(liveConf, declared)

    val record = mutable.LinkedHashMap[String, Any](
      "conf" -> liveConf,
      "cpus" -> Runtime.getRuntime.availableProcessors(),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> spark.version,
    )

    // Untimed warm-up at the measured scale; its outputs are the ones
    // checked. Computing every column for the check costs more than the
    // pruned count() the timed passes run, so the queries are warmed and
    // checked on `cpus` threads at once.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val warmFutures = names.map { name =>
      scala.concurrent.Future {
        try {
          val w0 = System.nanoTime()
          val df = SparkEntry.queries(name)(spark, dir)
          val n = df.count()
          val w1 = System.nanoTime()
          val (rows, fp) = fingerprint(df)
          f.get("dump").foreach(d => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name"))
          Map("query" -> name, "count" -> n, "rows" -> rows, "fingerprint" -> fp,
            "run_s" -> (w1 - w0) / 1e9, "check_s" -> (System.nanoTime() - w1) / 1e9)
        } catch {
          case e: Throwable => Map("query" -> name, "error" -> errorText(e))
        }
      }(ec)
    }
    val warm = warmFutures.map(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf))
    pool.shutdown()
    val warmEndMs = System.currentTimeMillis()
    progress(s"warm-up done: ${(warmEndMs - sessionMs) / 1e3} s")
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    f.get("dump").foreach { d =>
      val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
      Files.write(Paths.get(s"$d/oracle_sql.json"), mapper.writeValueAsBytes(oracles))
    }
    record("setup") = Map("launch_ms" -> launchMs,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ms" -> sessionMs, "warm_end_ms" -> warmEndMs)
    record("warmup") = warm

    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val passWall = mutable.ArrayBuffer[Double]()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // At least three passes: the first is still settling, and the median
    // of three drops it. A traced run traces only its third pass, between
    // two settled untraced ones, so the tracing overhead is measured in one
    // JVM. No passes when recording.
    val minPasses = if (seconds <= 0) 0 else if (traced) 4 else 3
    while (passes.size < minPasses ||
        (passWall.nonEmpty && elapsed + passWall.sorted.apply(passWall.size / 2) <= seconds)) {
      val tracePass = traced && passes.size == 2
      val p0 = elapsed
      val p = runPass(spark, dir, names, if (tracePass) Some(new Tracer(spark.sparkContext)) else None)
      passes += p
      passWall += elapsed - p0
      progress(s"pass ${passes.size} (traced=$tracePass): ${p("pass_s")} s")
    }
    record("passes") = passes

    if (traced) {
      record("sources") = probeSources(spark, dir)
      progress("sources probe done")
      record("kernels") = Kernels.run(spark, dir).map(k => Map(
        "kernel" -> k.kernel, "rows" -> k.rows, "kernel_s" -> k.kernelS,
        "builtin_s" -> k.builtinS, "mismatches" -> k.mismatches))
    }
    spark.stop()

    Files.write(Paths.get(f("out")), mapper.writeValueAsString(record).getBytes(StandardCharsets.UTF_8))
  }

  /** One closed-loop pass: clear the artifact memo, then for each query an
    * untimed GC, the builder call and its `count()`. */
  private def runPass(spark: SparkSession, dir: String, names: Seq[String],
                      tracer: Option[Tracer]): Map[String, Any] = {
    val sc = spark.sparkContext
    IndexCache.clear()
    System.gc()
    tracer.foreach { t => sc.addSparkListener(t); spark.listenerManager.register(t) }
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    val origin = System.nanoTime()
    val originMs = System.currentTimeMillis()
    def rel(ns: Long) = (ns - origin) / 1e9
    val rows = names.map { name =>
      System.gc()
      val heap = heapUsedMb()
      val builtBefore = IndexCache.buildTimes.map(_._1).toSet
      tracer.foreach(_.owner = name)
      sc.setLocalProperty(Tracer.OwnerProp, name)
      val gc0 = gcSeconds()
      val q0 = System.nanoTime()
      var q1 = q0
      val err = try {
        val df = SparkEntry.queries(name)(spark, dir)
        q1 = System.nanoTime()
        df.count()
        None
      } catch { case e: Throwable => Some(errorText(e)) }
      val q2 = System.nanoTime()
      val gc = gcSeconds() - gc0
      if (q1 == q0) q1 = q2
      sc.setLocalProperty(Tracer.OwnerProp, null)
      tracer.foreach(_.drain())
      val builds = IndexCache.buildTimes.filterNot { case (k, _) => builtBefore(k) }
      Map("query" -> name, "start_s" -> rel(q0), "built_s" -> rel(q1), "end_s" -> rel(q2),
        "ok" -> err.isEmpty, "error" -> err.orNull, "heap_mb" -> heap, "gc_s" -> gc,
        "artifact_builds" -> builds.map { case (k, s) => Map("key" -> k, "build_s" -> s) })
    }
    val passS = rows.map(r => r("end_s").asInstanceOf[Double] - r("start_s").asInstanceOf[Double]).sum
    val out = mutable.LinkedHashMap[String, Any](
      "traced" -> tracer.isDefined, "pass_s" -> passS, "queries" -> rows,
      "codegen_compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0),
      "codegen_compile_s" -> (CodeGenerator.compileTime - compileNs0) / 1e9)
    tracer.foreach { t =>
      sc.removeSparkListener(t)
      spark.listenerManager.unregister(t)
      def relMs(ms: Long) = if (ms < 0) -1.0 else (ms - originMs) / 1e3
      t.synchronized {
        out("jobs") = t.jobs.values.toSeq.map(j => Map("job" -> j.jobId, "query" -> j.owner,
          "start_s" -> relMs(j.startMs), "end_s" -> relMs(j.endMs), "failed" -> j.failed))
        out("stages") = t.stages.values.toSeq.map(s => Map("stage" -> s.stageId, "job" -> s.jobId,
          "query" -> s.owner, "start_s" -> relMs(s.submitMs), "end_s" -> relMs(s.endMs),
          "tasks" -> s.tasks, "failed_tasks" -> s.failedTasks, "run_s" -> s.runMs / 1e3,
          "cpu_s" -> s.cpuNs / 1e9, "gc_s" -> s.gcMs / 1e3, "wait_s" -> s.waitMs / 1e3,
          "task_run_s" -> s.taskRunMs.map(_ / 1e3),
          "shuffle_write_bytes" -> s.shuffleWriteBytes, "shuffle_write_records" -> s.shuffleWriteRecords,
          "shuffle_read_bytes" -> s.shuffleReadBytes, "shuffle_read_records" -> s.shuffleReadRecords,
          "fetch_wait_s" -> s.fetchWaitMs / 1e3, "spill_bytes" -> s.spillBytes))
        out("phases") = t.phases.map { case (q, ps) => q -> ps.map { case (k, v) => k -> v / 1e3 }.toMap }.toMap
        out("executions") = t.executions.toMap
      }
    }
    out.toMap
  }

  /** Each `Tables` loader called on its own: wall time and Spark jobs per
    * call (schema inference runs as a job). */
  private val Loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region, "nation" -> Tables.nation, "customer" -> Tables.customer,
    "supplier" -> Tables.supplier, "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)
  private val LoaderCalls = 3

  private def probeSources(spark: SparkSession, dir: String): Seq[Map[String, Any]] = {
    val sc = spark.sparkContext
    val t = new Tracer(sc)
    sc.addSparkListener(t)
    try {
      for ((table, load) <- Loaders; call <- 1 to LoaderCalls) yield {
        val owner = s"$table#$call"
        sc.setLocalProperty(Tracer.OwnerProp, owner)
        val t0 = System.nanoTime()
        load(spark, dir)
        val s = (System.nanoTime() - t0) / 1e9
        sc.setLocalProperty(Tracer.OwnerProp, null)
        t.drain()
        Map("table" -> table, "load_s" -> s,
          "jobs" -> t.synchronized(t.jobs.values.count(_.owner == owner)))
      }
    } finally sc.removeSparkListener(t)
  }
}
