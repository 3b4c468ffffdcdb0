package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkThrowable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** The loaders take each table's schema from its parquet footer on the
  * driver instead of `spark.read.parquet`'s inference job. This pins that
  * the footer schema is exactly the inferred one, that a loader call runs
  * no Spark job, and that the paths the footer read does not handle still
  * fail the way the inferring read does.
  */
class SourceSchemaSpec extends AnyFunSuite {
  import TestSpark._

  private val loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region, "nation" -> Tables.nation, "customer" -> Tables.customer,
    "supplier" -> Tables.supplier, "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  private def withNanosAsLong[T](body: => T): T = {
    // the events loaders set this flag session-globally; the footer
    // conversion must honour it the way inference does
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    body
  }

  for (dir <- Seq(sf0001, sf001, sf01); (table, _) <- loaders) {
    test(s"footer schema equals the inferred schema: $table at $dir") {
      val p = s"$dir/$table.parquet"
      withNanosAsLong {
        assert(Tables.footerSchema(spark, p) == spark.read.parquet(p).schema)
      }
    }
  }

  /** Spark jobs started on this thread while `body` runs. The listener bus
    * is asynchronous, so a one-task marker job runs after `body`; its end
    * event is delivered after every job event posted before it. */
  private def jobsDuring(body: => Unit): Int = {
    val group = s"source-schema-${System.nanoTime()}"
    val marker = s"$group-marker"
    val jobs = new AtomicInteger(0)
    val markerJob = new AtomicInteger(-1)
    val drained = new CountDownLatch(1)
    def groupOf(e: SparkListenerJobStart) =
      Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (groupOf(e) == group) jobs.incrementAndGet()
        else if (groupOf(e) == marker) markerJob.set(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob.get) drained.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "footer schema job count")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener drain marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not deliver the marker job")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  for ((table, load) <- loaders) {
    test(s"loading $table runs no Spark job") {
      val n = jobsDuring { load(spark, sf001).schema }
      assert(n == 0, s"Tables.$table ran $n Spark job(s)")
    }
  }

  test("a Spark-written part-file directory resolves to the inferred schema") {
    // the ns-long events generation FixtureSmokeSpec synthesizes: a
    // directory of part files next to _SUCCESS and .crc side files
    val out = Files.createTempDirectory("graft_footer_events").toString + "/events.parquet"
    Tables.eventsRawNanos(spark, sf0001).write.parquet(out)
    withNanosAsLong {
      assert(Tables.footerSchema(spark, out) == spark.read.parquet(out).schema)
    }
  }

  test("a partitioned directory keeps Spark's partition discovery") {
    val out = Files.createTempDirectory("graft_footer_parts").toString + "/nation"
    Tables.nation(spark, sf0001).write.partitionBy("n_regionkey").parquet(out)
    val inferred = spark.read.parquet(out).schema
    assert(inferred.fieldNames.contains("n_regionkey"))
    assert(Tables.footerSchema(spark, out) == inferred)
  }

  private def failure(body: => Any): Throwable =
    intercept[Throwable] { body; () }

  private def condition(t: Throwable): Option[String] = t match {
    case s: SparkThrowable => Option(s.getCondition)
    case _                 => None
  }

  test("a missing path and an empty directory fail like spark.read.parquet") {
    val base = Files.createTempDirectory("graft_footer_missing").toString
    val empty = Files.createDirectory(java.nio.file.Paths.get(base, "empty")).toString
    for (p <- Seq(s"$base/absent.parquet", empty)) {
      val ours = failure(Tables.footerSchema(spark, p))
      val spark_ = failure(spark.read.parquet(p))
      assert(ours.getClass == spark_.getClass, s"$p: ${ours.getClass} vs ${spark_.getClass}")
      assert(condition(ours) == condition(spark_), s"$p: ${condition(ours)} vs ${condition(spark_)}")
    }
  }
}
