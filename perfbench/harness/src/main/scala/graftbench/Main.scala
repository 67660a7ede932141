package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{GraftSession, Scratch, SparkEntry}
import graft.model.{SquareSchemas, Tenant}
import graft.operators.{Observability, SquareOps, Upsert}
import graft.pipeline.{SquarePipelines, TimeWindow}
import graft.sources.SquareSource

/** `SquareSource` over `PagedJsonSource`: one paged feed directory per
  * entity, as the generator lays it out. */
final class PagedSquareSource(root: String) extends SquareSource {
  private def read(spark: SparkSession, entity: String, schema: org.apache.spark.sql.types.StructType) =
    spark.read.format("graft.sources.dsv2.PagedJsonSource")
      .schema(schema).option("path", s"$root/$entity").load()

  def payments(spark: SparkSession): DataFrame = read(spark, "payments", SquareSchemas.payment)
  def orders(spark: SparkSession): DataFrame = read(spark, "orders", SquareSchemas.order)
  def catalogObjects(spark: SparkSession): DataFrame = read(spark, "catalog", SquareSchemas.catalogObject)
  def inventoryCounts(spark: SparkSession): DataFrame = read(spark, "inventory", SquareSchemas.inventoryCount)
  def categories(spark: SparkSession): DataFrame = read(spark, "categories", SquareSchemas.category)
  def locations(spark: SparkSession): DataFrame = read(spark, "locations", SquareSchemas.location)
}

/** One timed call: its wall seconds, outcome and output summary. */
final case class Op(name: String, secs: Double, error: Option[String],
    check: Map[String, Any], traced: Boolean, span: Span)

/** Benchmark harness: runs one workload in one JVM, closed loop, one
  * client, and writes what it measured as JSON. `perfbench/run.py`
  * generates the inputs, judges the outputs and prints the metrics.
  *
  * Arguments are `key=value`: workload, seconds, trace (0|1), cpus,
  * data (input dir), work (scratch dir), out (result file), plus
  * `t0` (square_hourly) and `queries` (comma list, registry workloads).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val conf = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val workload = conf("workload")
    val seconds = conf("seconds").toDouble
    val trace = conf("trace") == "1"
    val cpus = conf("cpus").toInt
    val data = conf("data")
    val work = conf("work")
    val spark = GraftSession.local(cpus)
    val meter = new Meter(spark, s"$workload-${ProcessHandle.current.pid}")
    val observed = Observability.register(spark)
    val bench = new Workloads(spark, meter, observed, data, work, cpus)
    bench.note("session up")
    val result = mutable.LinkedHashMap[String, Any]()
    try {
      workload match {
        case "square_hourly" => bench.squareHourly(conf("t0").toLong, seconds, trace, result)
        case "registry_jobs" =>
          bench.registry(conf("queries").split(",").toSeq, seconds, trace, result)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      result("peak_rss_mb") = peakRssMb()
      result("cores") = cpus
    } finally spark.stop()
    Files.writeString(Paths.get(conf("out")), new ObjectMapper().writeValueAsString(toJava(result)))
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }
}

/** The workloads: set-up, the measured loop and the per-layer rollup. */
final class Workloads(spark: SparkSession, meter: Meter, observed: Observability.MetricsCollector,
    data: String, work: String, cpus: Int) {

  private val tenant = Tenant()
  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line for the run log: seconds since JVM start. */
  def note(msg: String): Unit =
    System.err.println(f"[graftbench] ${(System.currentTimeMillis() - jvmStart) / 1e3}%7.2f $msg")

  /** Time `body` as one op: a span whose wall excludes the bus drains. */
  private def timed(name: String, traced: Boolean)(body: => Map[String, Any]): Op = {
    var secs = 0.0
    var err: Option[String] = None
    var out: Map[String, Any] = Map.empty
    var sp: Span = null
    meter.span(name) {
      sp = meter.all.last
      val t0 = System.nanoTime()
      try out = body
      catch { case e: Throwable => err = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      secs = (System.nanoTime() - t0) / 1e9
    }
    note(f"$name%-28s $secs%7.3f s${err.fold("")(e => s"  FAILED $e")}")
    Op(name, secs, err, out, traced, sp)
  }

  private def opJson(o: Op): Map[String, Any] = Map(
    "name" -> o.name, "secs" -> o.secs, "error" -> o.error, "check" -> o.check,
    "traced" -> o.traced, "ingested_rows" -> counts(Seq(o), "extract.rows"),
    "input_records" -> counts(Seq(o), "io.input_records"))

  private def counts(ops: Seq[Op], key: String): Double =
    ops.flatMap(o => meter.subtree(o.span)).map(_.counts(key)).sum

  /** The measured loop: ops run back to back until their own wall time
    * (not the output checks between them) reaches `seconds`, at least
    * one. A traced run alternates untraced and traced ops, so the tracing
    * overhead compares ops equally warm. */
  private def loop(seconds: Double, trace: Boolean)(op: (Int, Boolean) => Op): Seq[Op] = {
    val ops = mutable.ArrayBuffer.empty[Op]
    while (ops.isEmpty || ops.map(_.secs).sum < seconds || (trace && ops.size < 2)) {
      ops += op(ops.size, trace && ops.size % 2 == 1)
      Scratch.releaseRunState(spark)
    }
    ops.toSeq
  }

  private def finish(result: mutable.Map[String, Any], warm: Seq[Op], ops: Seq[Op],
      firstOpAt: Long, trace: Boolean, passSecs: Seq[Double]): Unit = {
    result("first_op_epoch_ms") = firstOpAt
    result("warm") = warm.map(opJson)
    result("ops") = ops.map(opJson)
    result("pass_secs") = passSecs
    if (trace) {
      result("layers") = layers(ops)
      result("spans") = meter.all.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "run" -> s.run, "start_ns" -> s.start, "end_ns" -> s.end, "counts" -> s.counts.toMap))
    }
  }

  // ---------------------------------------------------------------- square

  private lazy val source = new PagedSquareSource(s"$data/feed")

  /** Mean bytes per page of each entity's feed. */
  private lazy val pageBytes: Map[String, Double] =
    Seq("payments", "orders", "catalog", "inventory", "categories", "locations").map { e =>
      val files = new java.io.File(s"$data/feed/$e").listFiles().filter(_.getName.startsWith("page-"))
      e -> files.map(_.length).sum.toDouble / files.length
    }.toMap

  /** Per-table row count, key checksum and value sum of a warehouse. */
  private def summary(wh: String): Map[String, Any] = {
    def t(n: String) = s"parquet.`$wh/$n`"
    val sql = Seq(
      s"SELECT 'pos_payments' t, count(*) n, sum(cast(substr(payment_id, 5) AS BIGINT)) k, " +
        s"cast(sum(amount) AS DOUBLE) v FROM ${t("pos_payments")}",
      s"SELECT 'pos_order_items', count(*), sum(cast(substr(order_id, 5) AS BIGINT) * 8 + " +
        s"cast(substring_index(line_item_uid, '-', -1) AS BIGINT)), cast(sum(base_price_amount) AS DOUBLE) " +
        s"FROM ${t("pos_order_items")}",
      s"SELECT 'pos_catalog', count(*), sum(cast(substr(catalog_object_id, 5) AS BIGINT)), " +
        s"cast(count(category_id) AS DOUBLE) FROM ${t("pos_catalog")}",
      s"SELECT 'pos_inventory', count(*), sum(cast(substr(catalog_object_id, 5) AS BIGINT) * 1000 + " +
        s"cast(substr(location_id, 5) AS BIGINT) * 3 + CASE state WHEN 'IN_STOCK' THEN 0 " +
        s"WHEN 'SOLD' THEN 1 ELSE 2 END), sum(quantity) FROM ${t("pos_inventory")}",
      s"SELECT 'pos_categories', count(*), sum(cast(substr(category_id, 5) AS BIGINT)), " +
        s"cast(count_if(is_top_level) AS DOUBLE) FROM ${t("pos_categories")}",
      s"SELECT 'pos_locations', count(*), sum(cast(substr(location_id, 5) AS BIGINT)), " +
        s"cast(count(address) AS DOUBLE) FROM ${t("pos_locations")}")
    val rows = spark.sql(sql.mkString(" UNION ALL ")).collect()
    val bytes = Files.walk(Paths.get(wh)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).map(Files.size).sum
    rows.map(r => r.getString(0) -> Map("rows" -> r.getLong(1), "keysum" -> r.getLong(2),
      "valsum" -> r.getDouble(3))).toMap ++ Map("bytes" -> bytes)
  }

  private def runOp(wh: String, window: Option[TimeWindow], traced: Boolean): Unit =
    if (traced) tracedRunAll(wh, window)
    else new SquarePipelines(source, wh, tenant).runAll(spark, window)

  /** `runAll` split into materialised stages, one span per layer:
    * extract (the source scan, windowed as `runAll` windows it),
    * transform (`SquareOps`, with `Observability.observed` counts) and
    * upsert (`Upsert.upsertParquet`), inside one span per pipeline. */
  private def tracedRunAll(wh: String, window: Option[TimeWindow]): Unit = {
    def win(df: DataFrame) = window.fold(df)(w => w.filter(df, "created_at"))
    def materialise(df: DataFrame): DataFrame = {
      val m = df.persist(StorageLevel.MEMORY_AND_DISK)
      m.write.format("noop").mode("overwrite").save()
      m
    }
    def extract(entity: String, df: => DataFrame): DataFrame = meter.span("extract") {
      val m = materialise(df)
      meter.drain()
      val sp = meter.all.last
      sp.counts("extract.bytes") += sp.counts("extract.pages") * pageBytes(entity)
      m
    }
    def transform(name: String, df: DataFrame, keys: Seq[String]): DataFrame =
      meter.span("transform") {
        val valid = keys.map(k => col(k).isNotNull).reduce(_ && _)
        val m = materialise(Observability.observed(df, name, valid))
        meter.drain()
        val sp = meter.all.last
        observed.metrics.get(name).foreach { c =>
          sp.counts("transform.rows_out") += c("rows")
          sp.counts("transform.rejects") += c("rejects")
        }
        m
      }
    def upsert(table: String, rows: DataFrame, keys: Seq[String]): Unit =
      meter.span("upsert")(Upsert.upsertParquet(spark, s"$wh/$table", rows, keys))
    val base = Seq("tenant_id", "provider")
    val acct = base :+ "provider_account_id"

    meter.span("pipeline.payments") {
      val src = extract("payments", win(source.payments(spark)))
      val keys = base :+ "payment_id"
      upsert("pos_payments", transform("payments", SquareOps.payments(src, tenant), keys), keys)
    }
    meter.span("pipeline.catalog") {
      val src = extract("catalog", source.catalogObjects(spark))
      val keys = acct :+ "catalog_object_id"
      upsert("pos_catalog", transform("catalog", SquareOps.catalogRows(src, tenant), keys), keys)
    }
    meter.span("pipeline.order_items") {
      val pay = extract("payments", win(source.payments(spark)))
      val orders = extract("orders", source.orders(spark))
      val keys = base ++ Seq("order_id", "line_item_uid")
      val rows = SquareOps.orderItems(orders, SquareOps.payments(pay, tenant), tenant)
      upsert("pos_order_items", transform("order_items", rows, keys), keys)
    }
    meter.span("pipeline.inventory") {
      val src = extract("inventory", source.inventoryCounts(spark))
      val keys = acct ++ Seq("catalog_object_id", "location_id", "state")
      val rows = SquareOps.inventoryRows(src, tenant).withColumn("updated_at", current_timestamp())
      upsert("pos_inventory", transform("inventory", rows, keys), keys)
    }
    meter.span("pipeline.categories") {
      val src = extract("categories", source.categories(spark))
      val keys = acct :+ "category_id"
      val rows = SquareOps.categoryRows(src, tenant).withColumn("updated_at", current_timestamp())
      upsert("pos_categories", transform("categories", rows, keys), keys)
    }
    meter.span("pipeline.locations") {
      val src = extract("locations", source.locations(spark))
      val keys = acct :+ "location_id"
      val rows = SquareOps.locationRows(src, tenant).withColumn("updated_at", current_timestamp())
      upsert("pos_locations", transform("locations", rows, keys), keys)
    }
  }

  /** Unmeasured hourly ops after the preload and the re-run. */
  private val WarmHours = 1

  /** Set-up preloads everything created before T0 and runs the warm-up
    * hours; each op is then the 24 h lookback run at T0 + h for
    * consecutive hours h. */
  def squareHourly(t0: Long, seconds: Double, trace: Boolean, result: mutable.Map[String, Any]): Unit = {
    val wh = s"$work/wh"
    val iso = java.time.format.DateTimeFormatter.ISO_INSTANT
    val preload = timed("preload", traced = false) {
      runOp(wh, Some(TimeWindow("1970-01-01T00:00:00Z", iso.format(java.time.Instant.ofEpochSecond(t0)))),
        traced = false)
      Map.empty
    }.copy(check = summary(wh))
    Scratch.releaseRunState(spark)
    def op(h: Int, traced: Boolean, check: Boolean = true): Op = {
      val window = TimeWindow.lookback((t0 + h * 3600L) * 1000L)
      val o = timed(s"hour-$h", traced) { runOp(wh, Some(window), traced); Map.empty }
      o.copy(check = if (o.error.isEmpty && check) summary(wh) ++ Map("hour" -> h) else Map("hour" -> h))
    }
    // warm-up: the 24 h window ending at T0 again, all of it already
    // loaded, so it must add no rows; then the first hour, which still
    // ran about 1.25x slower than the ones after it (JIT). The warehouse
    // is cumulative, so the first measured op's check covers it too.
    val warm = (0 to WarmHours).map { h =>
      val o = op(h, traced = false, check = h == 0)
      Scratch.releaseRunState(spark)
      o
    }
    val firstOpAt = System.currentTimeMillis()
    val ops = loop(seconds, trace)((i, traced) => op(i + 1 + WarmHours, traced))
    finish(result, preload +: warm, ops, firstOpAt, trace, ops.map(_.secs))
  }

  // ------------------------------------------------------ registry queries

  /** One registry query materialised through the `noop` sink, as
    * `graft.Bench` does. A row count and an order-independent hash of
    * the result ride the write as an observation. */
  private def query(name: String, traced: Boolean, dumpTo: Option[String] = None): Op = {
    var obs: Observation = null
    val o = timed(s"query.$name", traced) {
      val df = SparkEntry.queries(name)(spark, data)
      obs = new Observation()
      val row = to_json(struct(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*))
      val chk = df.observe(obs, count(lit(1)).as("n"),
        coalesce(sum(pmod(xxhash64(row), lit(2147483647L))), lit(0L)).as("h"))
      dumpTo match {
        case Some(dir) => chk.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
        case None => chk.write.format("noop").mode("overwrite").save()
      }
      Map.empty
    }
    val got: Map[String, Any] =
      if (o.error.isEmpty) obs.get.map { case (k, v) => k -> v.toString.toLong } else Map.empty
    o.copy(check = got)
  }

  /** A pass runs every query once. Set-up runs two unmeasured passes.
    * The first warms `graft-cache` and dumps each result (with the
    * query's oracle SQL) for the DuckDB check; the second goes through
    * the `noop` sink like the measured passes, because the first measured
    * pass still ran about 10 % slower than the one after it (JIT).
    * Measured passes repeat until `seconds`. */
  def registry(names: Seq[String], seconds: Double, trace: Boolean,
      result: mutable.Map[String, Any]): Unit = {
    Files.createDirectories(Paths.get(s"$work/results"))
    Files.writeString(Paths.get(s"$work/results/oracle_sql.json"), new ObjectMapper()
      .writeValueAsString(Main.toJava(SparkEntry.oracleSql.filter(q => names.contains(q._1)))))
    val warm = Seq(Some(s"$work/results"), None).flatMap { dump =>
      names.map { n =>
        val o = query(n, traced = false, dump)
        Scratch.releaseRunState(spark)
        o
      }
    }
    val firstOpAt = System.currentTimeMillis()
    val passes = mutable.ArrayBuffer.empty[Seq[Op]]
    val t0 = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      val p = passes.size
      passes += names.zipWithIndex.flatMap { case (n, i) =>
        // traced runs: each query runs untraced and traced, in an order
        // that alternates, so neither side always runs the query second
        (if (!trace) Seq(false) else if ((i + p) % 2 == 0) Seq(false, true) else Seq(true, false)).map { traced =>
          val o = query(n, traced)
          Scratch.releaseRunState(spark)
          o
        }
      }
    }
    finish(result, warm, passes.flatten.toSeq, firstOpAt, trace,
      passes.map(_.filterNot(_.traced).map(_.secs).sum).toSeq)
  }

  // ---------------------------------------------------------------- layers

  /** Per-layer metrics over the traced ops: counts and seconds per op. */
  private def layers(ops: Seq[Op]): Map[String, Double] = {
    val traced = ops.filter(_.traced)
    val base = ops.filterNot(_.traced)
    val n = traced.size.toDouble
    val spans = traced.flatMap(o => meter.subtree(o.span))
    def sum(key: String, in: Seq[Span] = spans) = in.map(_.counts(key)).sum
    def named(prefix: String) = spans.filter(_.name == prefix)
    def secs(name: String) = named(name).map(_.secs).sum / n
    val wall = traced.map(_.secs).sum
    val jobs = sum("spark.jobs")
    val stages = sum("spark.stages")
    val driverOnly = traced.map(o => meter.driverOnlySecs(o.span)).sum
    val stagingSpans = spans.filterNot(s => s.name == "extract" || s.name == "transform")
    val upserts = named("upsert")
    val rowsWritten = sum("io.output_records", upserts)
    val layer = mutable.LinkedHashMap[String, Double](
      "extract.s" -> secs("extract"),
      "extract.pages" -> sum("extract.pages", named("extract")) / n,
      "extract.rows" -> sum("extract.rows", named("extract")) / n,
      "extract.bytes" -> sum("extract.bytes", named("extract")) / n,
      "transform.s" -> secs("transform"),
      "transform.rows_out" -> sum("transform.rows_out") / n,
      "transform.rejects" -> sum("transform.rejects") / n,
      "upsert.s" -> secs("upsert"),
      "upsert.bytes_read" -> sum("io.input_bytes", upserts) / n,
      "upsert.bytes_written" -> sum("io.output_bytes", upserts) / n,
      "upsert.rows_written" -> rowsWritten / n,
      "upsert.useful_ratio" -> (if (rowsWritten > 0) sum("transform.rows_out") / rowsWritten else 0.0))
    Seq("payments", "order_items", "catalog", "inventory", "categories", "locations").foreach { p =>
      layer(s"pipeline.${p}_s") = secs(s"pipeline.$p")
    }
    layer ++= Seq(
      "spark.sql_executions" -> sum("spark.sql_executions") / n,
      "spark.jobs" -> jobs / n,
      "spark.stages" -> stages / n,
      "spark.tasks" -> sum("spark.tasks") / n,
      "spark.tasks_per_stage" -> (if (stages > 0) sum("spark.tasks") / stages else 0.0),
      "spark.task_run_s" -> sum("spark.task_run_s") / n,
      "spark.task_cpu_s" -> sum("spark.task_cpu_s") / n,
      "spark.core_util" -> sum("spark.task_run_s") / (wall * cpus),
      "spark.driver_only_s" -> driverOnly / n,
      "spark.job_fee_ms" -> (if (jobs > 0) driverOnly / jobs * 1e3 else 0.0),
      "catalyst.analysis_s" -> sum("catalyst.analysis_s") / n,
      "catalyst.optimization_s" -> sum("catalyst.optimization_s") / n,
      "catalyst.planning_s" -> sum("catalyst.planning_s") / n,
      "catalyst.graft_rules_s" -> sum("catalyst.graft_rules_s") / n,
      "shuffle.write_bytes" -> sum("shuffle.write_bytes") / n,
      "shuffle.read_bytes" -> sum("shuffle.read_bytes") / n,
      "shuffle.fetch_wait_s" -> sum("shuffle.fetch_wait_s") / n,
      "shuffle.spill_bytes" -> sum("shuffle.spill_bytes") / n,
      "io.input_bytes" -> sum("io.input_bytes") / n,
      "io.output_bytes" -> sum("io.output_bytes") / n,
      "io.write_executions" -> sum("io.write_executions") / n,
      "io.write_s" -> sum("io.write_s") / n,
      "staging.rdd_blocks" -> sum("staging.rdd_blocks", stagingSpans) / n,
      "staging.rdd_bytes" -> sum("staging.rdd_bytes", stagingSpans) / n,
      "jvm.gc_s" -> traced.map(_.span.counts("jvm.gc_s")).sum / n,
      "trace.ops" -> n,
      "trace.overhead_s" -> (mean(traced.map(_.secs)) - mean(base.map(_.secs))))
    traced.groupBy(_.name).filter(_._1.startsWith("query.")).foreach { case (q, os) =>
      layer(s"$q.s") = os.map(_.secs).sum / os.size
      layer(s"$q.jobs") = os.flatMap(o => meter.subtree(o.span)).map(_.counts("spark.jobs")).sum / os.size
    }
    layer.toMap
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
