package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftSession, SparkEntry}
import graft.etl.{CsvPipeline, InvoiceView}

/** One benchmark run in a fresh JVM: build a session, stage the workload's
  * inputs, warm up, then run the workload's operations one after another
  * (a closed loop with one client) in whole passes until the time is up.
  * The artifact (every operation, span, counter and check figure) is
  * written as JSON to `--out`; `run.py` turns it into metrics.
  *
  * Arguments: --workload --keys k1,k2,.. (the key mix) --seed --seconds
  * --trace 0|1 --data <sf dir> --work <work dir> --cores N
  * --out <artifact> [--mode bench|expect]
  */
object Main {

  /** The reference's 21 vendor-CSV headers (the header row of
    * CsvPipelineSpec), each filled from an `InvoiceView` column. */
  val CsvColumns: Seq[(String, String)] = Seq(
    "Invoice Number" -> "invoice_number", "Vendor Name" -> "vendor_name",
    "Invoice Date" -> "invoice_date_str", "Invoice Amount" -> "invoice_amount",
    "Product Description" -> "product_description",
    "Product Number" -> "product_number", "Product Class" -> "product_class",
    "GL Code" -> "gl_code", "Unit Of Measure" -> "uom_raw",
    "Quantity" -> "quantity", "Packs Per Case" -> "packs_per_case",
    "Units Per Pack" -> "units_per_pack", "Extended Price" -> "extended_price",
    "Discount Adjustment Total" -> "discount_adj",
    "DepositAdjustmentTotal" -> "deposit_adj",
    "Miscellaneous Adjustment Total" -> "misc_adj",
    "Tax Adjustment Total" -> "tax_adj",
    "Delivery Adjustment Total" -> "delivery_adj", "Pack UPC" -> "pack_upc",
    "Clean UPC" -> "clean_upc", "Case UPC" -> "case_upc")

  val CsvFiles = 8
  val MinKeyMixPasses = 5
  val SourceId = "vendor_invoices.csv"

  /** One timed operation; [startMs, endMs] is the window its counters
    * are read from. */
  final case class OpRec(pass: Int, traced: Boolean, name: String, span: Int,
      startMs: Long, endMs: Long, wallS: Double, error: Option[String],
      counters: Option[Map[String, Any]]) {
    def toMap: Map[String, Any] = Map("pass" -> pass, "traced" -> traced,
      "name" -> name, "span" -> span, "wall_s" -> wallS, "ok" -> error.isEmpty,
      "error" -> error, "counters" -> counters)
  }

  def errorText(e: Throwable): String = s"${e.getClass.getName}: ${e.getMessage}"

  /** Spans kept in memory and written with the artifact. */
  final class Spans {
    val all = ArrayBuffer.empty[Span]
    private var next = 0
    def open(): Int = { next += 1; next }
    def time[T](name: String, parent: Int)(f: => T): (Span, T) = {
      val id = open(); val s = System.currentTimeMillis()
      val v = f
      val sp = Span(id, parent, name, s, System.currentTimeMillis())
      all += sp; (sp, v)
    }
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload"); val seed = a("seed").toLong
    val seconds = a("seconds").toDouble; val trace = a("trace") == "1"
    val data = a("data"); val work = a("work"); val cores = a("cores").toInt
    val mode = a.getOrElse("mode", "bench")
    val keys = if (workload == "etl_bulk") Seq("etl_bulk") else a("keys").split(",").toSeq
    require(Seq("etl_bulk", "key_mix").contains(workload),
      s"unknown workload $workload")
    Files.createDirectories(Paths.get(work))

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def cpuS: Double = os.getProcessCpuTime / 1e9
    val loadStart = os.getSystemLoadAverage
    val spans = new Spans
    val runId = spans.open()
    val runStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val (sessionSpan, spark) = spans.time("setup.session", runId) {
      var b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
        .config("spark.local.dir", s"$work/spark-local")
      if (trace) b = b
        .config("spark.extraListeners", classOf[EngineListener].getName)
        .config("spark.sql.queryExecutionListeners", classOf[PhaseListener].getName)
        .config("spark.sql.streaming.streamingQueryListeners",
          classOf[BatchListener].getName)
      val s = GraftSession.tune(b, cores).getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val sc = spark.sparkContext

    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def query(key: String): DataFrame = SparkEntry.queries(key)(spark, data)

    if (mode == "expect") { expect(spark, keys, data, work, a("out")); spark.stop(); sys.exit(0) }

    val csvDir = s"$work/csv"
    val outRoot = s"$work/out"

    val (stageSpan, _) = spans.time("setup.stage", runId) {
      workload match {
        case "etl_bulk" => renderCsv(spark, data, csvDir, seed)
        // the shared invoice staging cache, as graft.Bench fills it
        case _ => noop(InvoiceView.inv(spark, data))
      }
    }

    // Warm-up, outside the timed section. For the key mix it is one pass,
    // which is also the output check: each key's result is reduced to an
    // order-independent fingerprint, compared with the oracle-verified
    // expectation by run.py. The per-key median over the timed passes
    // absorbs what warming is left for the first of them.
    val (warmSpan, checks) = spans.time("setup.warmup", runId) {
      workload match {
        case "etl_bulk" =>
          for (i <- 1 to 2) CsvPipeline.run(spark, csvDir, s"$outRoot/warmup$i", SourceId)
          if (trace) prefixes(CsvPipeline.readVendorCsv(spark, csvDir)).foreach {
            case (_, df) => noop(df)
          }
          Map.empty[String, Map[String, Any]]
        case _ =>
          keys.sorted.map { k =>
            k -> (try fingerprint(query(k))
              catch { case NonFatal(e) => Map[String, Any]("error" -> errorText(e)) })
          }.toMap
      }
    }

    // Operation order: each pass permutes the key order from the seed.
    def order(pass: Int): Seq[String] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(keys)

    val sampler = if (trace) Some(new StorageSampler(sc, 100)) else None
    sampler.foreach(_.start())
    val ops = ArrayBuffer.empty[OpRec]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    // A key-mix run makes at least five passes, so each key's median is
    // taken over five times. A traced run alternates untraced and traced
    // passes (U T U …), so the recording overhead is measured inside one
    // JVM, with untraced passes on both sides of a traced one.
    val minPasses = if (workload == "key_mix") MinKeyMixPasses else if (trace) 3 else 1
    val timedStart = System.nanoTime()
    val firstOpMs = System.currentTimeMillis()
    var pass = 0
    while (pass < minPasses || (System.nanoTime() - timedStart) / 1e9 < seconds) {
      val traced = trace && pass % 2 == 1
      Recorder.on = traced
      val passId = spans.open()
      val passStart = System.currentTimeMillis()
      val cpu0 = cpuS
      val passOps = order(pass).map { k =>
        val opId = spans.open()
        val opStart = System.currentTimeMillis()
        sc.setJobGroup(k, k)
        val s = System.currentTimeMillis(); val n0 = System.nanoTime()
        val err =
          try {
            if (workload == "etl_bulk")
              CsvPipeline.run(spark, csvDir, s"$outRoot/op_${ops.size}", SourceId)
            else noop(query(k))
            None
          } catch { case NonFatal(e) => Some(errorText(e)) }
        val wallS = (System.nanoTime() - n0) / 1e9
        val e = System.currentTimeMillis()
        if (workload == "etl_bulk") spans.all += Span(spans.open(), opId, "run", s, e)
        // a traced etl operation then drains each CsvPipeline prefix, so each
        // stage's share of `run` can be read off by difference; the drains
        // come after `run`, so they do not warm the timed call
        if (traced && workload == "etl_bulk")
          prefixes(CsvPipeline.readVendorCsv(spark, csvDir)).foreach {
            case (name, df) => spans.time(name, opId)(noop(df))
          }
        sc.clearJobGroup()
        spans.all += Span(opId, passId, k, opStart, System.currentTimeMillis())
        val rec = OpRec(pass, traced, k, opId, s, e, wallS, err, None)
        ops += rec
        rec
      }
      val cpu = cpuS - cpu0
      spans.all += Span(passId, runId, s"pass$pass", passStart, System.currentTimeMillis())
      if (traced) {
        // every event of this pass reaches the listeners before counting
        org.apache.spark.BusDrain(sc)
        Recorder.on = false
        val recs = Recorder.take()
        val first = ops.size - passOps.size
        passOps.zipWithIndex.foreach { case (r, i) =>
          ops(first + i) = r.copy(counters = Some(Counters.of(recs, r.startMs, r.endMs)))
        }
      }
      passes += Map("pass" -> pass, "traced" -> traced, "cpu_s" -> cpu)
      pass += 1
    }
    Recorder.on = false
    sampler.foreach(_.finish())
    val timedS = (System.nanoTime() - timedStart) / 1e9
    // what set-up and the timed passes leave on the heap
    val heapRetainedMb = heapAfterGcMb()

    // A fixed load probe (all cores) after the timed section: a slow probe
    // means the host was busy, judged without a rerun.
    def probe(): Double = {
      val t0 = System.nanoTime()
      noop(spark.range(1L << 24).selectExpr("xxhash64(id) AS h")
        .agg(expr("bit_xor(h) AS s")))
      (System.nanoTime() - t0) / 1e9
    }
    val probes = Seq.fill(3)(probe())

    val artifact = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "data" -> data,
      "provenance" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "master" -> sc.master, "cores" -> cores,
        "java_version" -> sys.props("java.version"),
        "java_vm" -> sys.props("java.vm.name"),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0),
        "spark_version" -> spark.version,
        "loadavg_start" -> loadStart,
        "loadavg_end" -> os.getSystemLoadAverage,
        "probe_s" -> probes, "probe_min_s" -> probes.min),
      "setup" -> Map(
        "session_s" -> sessionSpan.seconds, "stage_s" -> stageSpan.seconds,
        "warmup_s" -> warmSpan.seconds, "setup_s" -> (firstOpMs - runStart) / 1e3),
      "csv" -> Map("dir" -> csvDir, "files" -> CsvFiles),
      "out_root" -> outRoot,
      "timed_s" -> timedS,
      "passes" -> passes,
      "ops" -> ops.map(_.toMap),
      "checks" -> checks,
      "enriched_sql" -> InvoiceView.enrichedSql,
      "heap_retained_mb" -> heapRetainedMb,
      "peak_rss_mb" -> peakRssMb(),
      "spans" -> (spans.all :+ Span(runId, 0, "run", runStart, System.currentTimeMillis()))
        .map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    spark.stop()
    writeJson(a("out"), artifact)
    // a lingering non-daemon thread must not keep the JVM alive
    sys.exit(0)
  }

  /** The prefixes of `CsvPipeline.run`, each drained on its own in a traced
    * operation so each stage's share can be read off by difference. */
  def prefixes(raw: DataFrame): Seq[(String, DataFrame)] = Seq(
    "readVendorCsv" -> raw,
    "lineItems" -> CsvPipeline.lineItems(raw),
    "receipts" -> CsvPipeline.receipts(raw, SourceId),
    "webhookPayloads" -> CsvPipeline.webhookPayloads(raw, SourceId))

  /** Render `InvoiceView` as the reference's vendor CSV: the seed permutes
    * which of the part files each row lands in and the row order inside
    * each file. */
  def renderCsv(spark: SparkSession, data: String, dir: String, seed: Long): Unit = {
    InvoiceView.inv(spark, data).withColumn("_h", xxhash64(col("invoice_number"), col("line_number"), lit(seed)))
      .repartition(CsvFiles, col("_h"))
      .sortWithinPartitions(xxhash64(col("_h"), lit(seed)))
      .select(CsvColumns.map { case (h, c) => col(c).as(h) }: _*)
      .write.mode("overwrite").option("header", "true").csv(dir)
    // the pipeline reads the CSV, not the cached view
    InvoiceView.invalidate(spark)
  }

  /** An order-independent fingerprint of a result: its schema, row count,
    * and the sum and xor of a 64-bit hash of each row. */
  def fingerprint(df: DataFrame): Map[String, Any] = {
    val cols = df.columns.sorted
    val schema = cols.map(c => s"$c:${df.schema(c).dataType.catalogString}").mkString(",")
    val h = xxhash64(cols.map(c => col(s"`$c`")): _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)")), bit_xor(h)).head()
    Map("schema" -> schema, "rows" -> r.getLong(0),
      "hash_sum" -> Option(r.get(1)).map(_.toString).getOrElse("0"),
      "hash_xor" -> Option(r.get(2)).map(_.toString).getOrElse("0"))
  }

  /** Expectation mode: write each key's result as parquet (for the DuckDB
    * oracle) and record the fingerprint of both the live result and the
    * parquet copy; `expected.py` compares them and keeps the verified ones. */
  def expect(spark: SparkSession, keys: Seq[String], data: String, work: String,
      out: String): Unit = {
    val res = keys.map { k =>
      val dir = s"$work/expect/$k"
      val live = fingerprint(SparkEntry.queries(k)(spark, data))
      SparkEntry.queries(k)(spark, data).coalesce(1).write.mode("overwrite").parquet(dir)
      k -> Map("dir" -> dir, "live" -> live,
        "parquet" -> fingerprint(spark.read.parquet(dir)),
        "oracle_sql" -> SparkEntry.oracleSql(k))
    }.toMap
    writeJson(out, res)
  }

  def writeJson(path: String, v: Any): Unit =
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(path), v)

  /** Heap in use after a full collection, in MiB. */
  def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** The process's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }
}
