package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.{LinkedHashMap => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.{FileSourceScanExec, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.SparkEntry
import graft.sources.ArchiveXmlSource
import graft.xml.XmlToParquetJob
import graft.xml.XmlToParquetJob.Config

/** Timed sinks that evaluate a whole plan. */
object Sinks {

  /** Run every row and column of `df`'s physical plan, the final sort
    * included, as one SQL execution named `name`. Returns the row count
    * and an order-insensitive 64-bit hash of the rows (the sum of XXH64
    * over each row's UnsafeRow bytes). Unlike `count()`, nothing is
    * pruned from the plan.
    */
  def evaluate(df: DataFrame, name: String = "perfbench-sink"): (Long, Long) = {
    val qe = df.queryExecution
    val schema = df.schema
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      qe.toRdd.mapPartitions { rows =>
        val proj = UnsafeProjection.create(schema)
        var n, h = 0L
        rows.foreach { r =>
          val u = proj(r)
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
            u.getSizeInBytes, 42L)
          n += 1
        }
        Iterator.single((n, h))
      }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    }
  }
}

/** Small shared helpers. */
object Util {
  val mapper = new ObjectMapper()

  def clock(): Double = System.nanoTime() / 1e9

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has used, all threads (tasks, driver, GC, JIT). */
  def cpuClock(): Double = os.getProcessCpuTime / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = clock(); val r = body; (r, clock() - t0)
  }

  def medianOf(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${System.currentTimeMillis() / 1000.0}%.3f $msg")

  def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Peak resident set size of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def deleteTree(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new File(path))

  /** Leaf fields of a (nested) type. */
  def leaves(dt: DataType): Int = dt match {
    case s: StructType => s.fields.map(f => leaves(f.dataType)).sum
    case a: ArrayType => leaves(a.elementType)
    case m: MapType => leaves(m.keyType) + leaves(m.valueType)
    case _ => 1
  }

  /** An executed plan's text with expression ids, plan ids and file
    * locations stripped, so the same plan reads the same across runs and
    * checkouts.
    */
  def normalizePlan(planText: String): String =
    planText
      .replaceAll("#\\d+L?", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("file:[^\\s,\\]]+", "file:")
      .replaceAll("RDD\\[\\d+\\]", "RDD[]")
      .replaceAll("QueryStage \\d+", "QueryStage")

  def fingerprint(plan: String): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(plan.getBytes(StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString

  def metric(v: Double, unit: String): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    m.put("value", v); m.put("unit", unit); m
  }

  def jmap(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }
}

import Util._

final case class Opts(workload: String, seconds: Double, trace: Boolean,
    corpus: String, sfDir: String, xsd: String, work: String, out: String,
    traceOut: String, expected: String, record: Boolean, cpus: Int,
    seed: Long)

/** One timed public call. */
final case class Call(name: String, wallS: Double, span: Long)

/** One pass of a workload's closed loop. */
final case class Pass(wallS: Double, cpuS: Double, calls: Seq[Call],
    attempted: Long, failed: Long, values: Map[String, Double])

/** A workload: set-up (ending with an untimed warm-up pass), then passes
  * in a closed loop, each checked.
  */
trait Workload {
  def setup(): Unit
  /** One timed pass; `tracer` is set in the traced half of a trace run. */
  def pass(i: Int, tracer: Option[Tracer], parent: Long): Pass
  /** The workload's own report metrics (beyond BENCHMARK.json's). */
  def report(passes: Seq[Pass]): Seq[(String, Double, String)]
  /** Per-layer metrics of one traced pass. */
  def layers(p: Pass, t: Tracer): Map[String, Double]
  /** Trace detail for the trace file. */
  def traceDetail(passes: Seq[Pass], t: Tracer): JMap[String, Any] = jmap()
}

object PerfBench {

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    Opts(kv("workload"), kv("seconds").toDouble, kv.get("trace").contains("1"),
      kv.getOrElse("corpus", ""), kv("sf-dir"), kv.getOrElse("xsd", ""),
      kv("work"), kv("out"), kv.getOrElse("trace-out", ""),
      kv.getOrElse("expected", ""), kv.get("record").contains("1"),
      kv("cpus").toInt, kv("seed").toLong)
  }

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.network.timeout", "3600s")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.TopKPerKey.register(spark)
    spark
  }

  /** Passes of the closed loop until their timed calls add up to
    * `seconds` (at least one pass); the checks between passes do not count.
    */
  def loop(w: Workload, seconds: Double, first: Int, tracer: Option[Tracer],
      runSpan: Long): Seq[Pass] = {
    val out = mutable.ArrayBuffer.empty[Pass]
    while (out.isEmpty || out.map(_.wallS).sum < seconds) {
      val i = first + out.size
      out += (tracer match {
        case Some(t) => t.span(s"pass $i", runSpan)(id => w.pass(i, tracer, id))
        case None => w.pass(i, None, 0L)
      })
    }
    out.toSeq
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1000.0
    val load0 = loadavg()
    note("JVM up")
    val spark = session(o)
    note("session up")
    try {
      val w: Workload = o.workload match {
        case "xml_worklist" | "xml_bulk" => new XmlWorkload(spark, o)
        case "query_panel" => new PanelWorkload(spark, o)
        case other => throw new IllegalArgumentException(s"workload $other")
      }
      w.setup()
      val setupS = System.currentTimeMillis() / 1000.0 - jvmStart
      note(f"set-up done $setupS%.2f s after JVM start")

      val result = new JMap[String, Any]()
      val metrics = new JMap[String, Any]()
      val report = new JMap[String, Any]()
      var passes: Seq[Pass] = Nil
      if (!o.trace) {
        passes = loop(w, o.seconds, 1, None, 0L)
        metrics.put("setup_s", metric(setupS, "s"))
        metrics.put("pass_s", metric(medianOf(passes.map(_.wallS)), "s"))
        w.report(passes).foreach { case (k, v, u) => report.put(k, metric(v, u)) }
      } else {
        // untraced, traced, untraced again: the traced passes' wall time
        // against the untraced ones on both sides is the tracing overhead,
        // with the drift from pass to pass averaged out
        val before = loop(w, o.seconds / 3, 1, None, 0L)
        val tracer = new Tracer(spark)
        val traced = tracer.span("run", 0L) { run =>
          loop(w, o.seconds / 3, before.size + 1, Some(tracer), run)
        }
        tracer.drain()
        tracer.close()
        val after = loop(w, o.seconds / 3, before.size + traced.size + 1, None, 0L)
        val plain = before ++ after
        passes = plain ++ traced
        val perPass = traced.map(p => w.layers(p, tracer))
        perPass.head.keys.toSeq.sorted.foreach { k =>
          metrics.put(k, metric(medianOf(perPass.map(_(k))), Units.of(k)))
        }
        metrics.put("host.loadavg_start", metric(load0, "load"))
        metrics.put("host.loadavg_end", metric(loadavg(), "load"))
        metrics.put("trace.overhead_frac", metric(
          medianOf(traced.map(_.wallS)) /
            medianOf(Seq(before, after).map(ps => medianOf(ps.map(_.wallS)))) -
            1.0, "ratio"))
        writeTrace(o, tracer, w, traced, metrics)
      }
      val attempted = passes.map(_.attempted).sum
      val failed = passes.map(_.failed).sum
      report.put("fail_frac",
        metric(if (attempted == 0) 1.0 else failed.toDouble / attempted, "ratio"))
      report.put("passes", metric(passes.size.toDouble, "count"))
      report.put("pass_cpu_s", metric(medianOf(passes.map(_.cpuS)), "s"))
      report.put("peak_rss_mb", metric(peakRssMb(), "MB"))
      w match {
        case pw: PanelWorkload if o.record => result.put("recorded", pw.recorded)
        case _ => ()
      }
      result.put("correct", attempted > 0 && failed == 0)
      result.put("attempted", attempted)
      result.put("failed", failed)
      result.put("metrics", metrics)
      result.put("report", report)
      result.put("passes", passes.map { p =>
        jmap("wall_s" -> p.wallS, "cpu_s" -> p.cpuS, "calls" -> jmap(p.calls.map(c => c.name -> c.wallS): _*))
      }.asJava)
      result.put("stamp", jmap(
        "workload" -> o.workload,
        "cpus" -> o.cpus,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments
          .asScala.filterNot(_.startsWith("--add-opens")).asJava,
        "loadavg_start" -> load0,
        "loadavg_end" -> loadavg(),
        "spark_version" -> spark.version))
      mapper.writerWithDefaultPrettyPrinter().writeValue(new File(o.out), result)
    } finally spark.stop()
  }

  private def writeTrace(o: Opts, t: Tracer, w: Workload, traced: Seq[Pass],
      metrics: JMap[String, Any]): Unit = {
    val spans = t.allSpans.map { case (s, self) =>
      jmap("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> self)
    }
    val doc = jmap(
      "workload" -> o.workload,
      "metrics" -> metrics,
      "detail" -> w.traceDetail(traced, t),
      "spans" -> spans.asJava)
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(o.traceOut), doc)
  }
}

/** Units of the per-layer metrics, by name. */
object Units {
  def of(k: String): String =
    if (k.endsWith("_ms")) "ms"
    else if (k.endsWith("_bytes") || k.endsWith("bytes_read")) "bytes"
    else if (k.endsWith("_util") || k.endsWith("_per_doc") ||
      k.endsWith("_per_stage")) "ratio"
    else "count"
}

/** XML -> Parquet conversion through `XmlToParquetJob.convert`. */
final class XmlWorkload(spark: SparkSession, o: Opts) extends Workload {
  private val manifest = mapper.readTree(new File(s"${o.corpus}/manifest.json"))
  private val docs = manifest.get("docs").asLong
  private val xmlBytes = manifest.get("xml_bytes").asLong.toDouble
  private val inputs =
    manifest.get("inputs").asScala.map(p => s"${o.corpus}/${p.asText}").toSeq
  private val archives =
    manifest.get("archives").asScala.map(p => s"${o.corpus}/${p.asText}").toSeq
  private val plainInputs = inputs.filterNot(archives.contains)
  private val bulk = o.workload == "xml_bulk"
  private val xsd =
    new String(Files.readAllBytes(Paths.get(o.xsd)), StandardCharsets.UTF_8)
  // xml_bulk keeps the order header and two line item fields (the CLI's -p)
  private val cfg =
    if (bulk) Config(includes = Seq("/order/custkey", "/order/orderdate",
      "/order/totalprice", "/order/priority", "/order/lineitem/quantity",
      "/order/lineitem/extendedprice"))
    else Config(fileInfo = true)
  private var compileMs = 0.0
  private var expected: Map[Long, (String, Long, Long, Long, Long)] = null

  // a failed input writes nothing, which the oracle counts
  private def convert(in: Seq[String], dir: String): Seq[String] =
    XmlToParquetJob.convert(spark, xsd, in, dir, cfg,
      onError = (f, e) => note(s"convert failed on $f: $e"))

  /** The fixed read-back query over the written Parquet. */
  private def readback(dir: String): (Long, Long) =
    Sinks.evaluate(spark.read.parquet(s"$dir/*.xml.parquet")
      .select(substring(col("order.orderdate"), 1, 4).as("year"),
        explode(col("order.lineitem")).as("li"))
      .groupBy("year")
      .agg(count(lit(1)), sum(col("li.quantity")), sum(col("li.extendedprice")))
      .orderBy("year"), "perfbench-readback")

  def setup(): Unit = {
    compileMs = timed(XmlToParquetJob.compileXsd(xsd))._2 * 1000
    note(f"compileXsd $compileMs%.1f ms")
    // the untimed warm-up pass: the same calls as a timed pass
    val dir = s"${o.work}/warm"
    convert(inputs, dir)
    if (bulk) readback(dir)
    deleteTree(dir)
  }

  def pass(i: Int, tracer: Option[Tracer], parent: Long): Pass = {
    val dir = s"${o.work}/out$i"
    def call[T](name: String)(body: => T): (T, Call) = tracer match {
      case Some(t) =>
        t.span(name, parent, call = true) { id =>
          val (r, s) = timed(body); (r, Call(name, s, id))
        }
      case None => val (r, s) = timed(body); (r, Call(name, s, 0L))
    }
    val t0 = clock()
    val c0 = cpuClock()
    val (_, conv) = call("convert")(convert(inputs, dir))
    val calls = mutable.ArrayBuffer(conv)
    if (bulk) calls += call("readback")(readback(dir))._2
    val wall = clock() - t0
    val cpu = cpuClock() - c0
    val values = mutable.Map.empty[String, Double]
    if (tracer.isDefined && archives.nonEmpty) {
      val (row, c) = call("readMembers") {
        ArchiveXmlSource.readMembers(spark, archives)
          .agg(count(lit(1)), sum(col("size"))).head()
      }
      calls += c
      values("members") = row.getLong(0).toDouble
      values("member_bytes") = row.getLong(1).toDouble
    }
    note(f"pass $i: $wall%.2f s")
    val (failed, outBytes, outFiles) = check(dir)
    note(s"pass $i checked")
    values("out_bytes") = outBytes
    values("out_files") = outFiles
    deleteTree(dir)
    Pass(wall, cpu, calls.toSeq, docs, failed, values.toMap)
  }

  /** Amount in cents (prices carry two decimals). */
  private def cents(x: Double): Long = math.round(x * 100)

  /** What the oracle compares per document, keyed by order key: order
    * date, total price, line item count, summed quantity and summed
    * extended price.
    */
  private type Doc = (String, Long, Long, Long, Long)

  /** The documents as the source relation has them: orders joined to the
    * aggregate of their line items, for the generated keys.
    */
  private def expectedDocs(): Map[Long, Doc] = {
    val keys = spark.read.parquet(s"${o.corpus}/keys.parquet")
    def rows(table: String, key: String) =
      spark.read.parquet(s"${o.sfDir}/$table.parquet")
        .join(keys, col(key) === col("orderkey"), "left_semi")
    val items = rows("lineitem", "l_orderkey")
      .select("l_orderkey", "l_quantity", "l_extendedprice").collect()
      .groupBy(_.getLong(0)).map { case (k, rs) =>
        k -> ((rs.length.toLong, rs.map(_.getDouble(1).toLong).sum,
          rs.map(r => cents(r.getDouble(2))).sum))
      }
    rows("orders", "o_orderkey")
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), graft.xml.XmlShaper.DateFormat),
        col("o_totalprice"))
      .collect().map { r =>
        val (n, qty, price) = items.getOrElse(r.getLong(0), (0L, 0L, 0L))
        r.getLong(0) -> ((r.getString(1), cents(r.getDouble(2)), n, qty, price))
      }.toMap
  }

  /** The documents of one written Parquet file, read with parquet-mr's
    * own reader rather than Spark's; None for a record missing a field.
    */
  private def readDocs(file: HPath): Seq[Option[(Long, Doc)]] = {
    val reader = ParquetReader.builder(new GroupReadSupport(), file)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    try Iterator.continually(reader.read()).takeWhile(_ != null).map { g =>
      scala.util.Try {
        val d = g.getGroup("order", 0)
        val items =
          if (d.getFieldRepetitionCount("lineitem") == 0) Seq.empty
          else {
            val l = d.getGroup("lineitem", 0)
            (0 until l.getFieldRepetitionCount("list"))
              .map(i => l.getGroup("list", i).getGroup("element", 0))
          }
        d.getLong("order@orderkey", 0) -> ((d.getString("orderdate", 0),
          cents(d.getDouble("totalprice", 0)), items.size.toLong,
          items.map(_.getLong("quantity", 0)).sum,
          items.map(x => cents(x.getDouble("extendedprice", 0))).sum))
      }.toOption
    }.toList
    finally reader.close()
  }

  /** Check one pass's output: one output per plain input (and per archive
    * member), one row per document on the worklist, one schema for the
    * document column everywhere and one per input kind, and every
    * document equal to its source rows. Returns (failures, Parquet bytes,
    * Parquet files).
    */
  private def check(dir: String): (Long, Double, Double) = {
    if (expected == null) expected = expectedDocs()
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new HPath(dir)
    val fs = root.getFileSystem(conf)
    val outputs = fs.listStatus(root).toSeq.map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("."))
    val archiveBases = archives.map(XmlToParquetJob.outputBase)
    var failed = 0L
    var bytes, files = 0.0
    val docSchemas = mutable.Set.empty[String]
    val kindSchemas = mutable.Map.empty[Boolean, mutable.Set[String]]
    val got = mutable.ArrayBuffer.empty[Option[(Long, Doc)]]
    outputs.foreach { out =>
      val parts = fs.listStatus(out).toSeq
        .filter(s => s.getPath.getName.endsWith(".parquet"))
      var rows = 0L
      parts.foreach { st =>
        bytes += st.getLen; files += 1
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try {
          val meta = r.getFooter
          rows += meta.getBlocks.asScala.map(_.getRowCount).sum
          val schema = meta.getFileMetaData.getSchema
          docSchemas += schema.getType(schema.getFieldIndex("order")).toString
          val member = archiveBases.exists(b => out.getName.startsWith(b + "."))
          kindSchemas.getOrElseUpdate(member, mutable.Set.empty) += schema.toString
        } finally r.close()
        got ++= readDocs(st.getPath)
      }
      if (!bulk && rows != 1) failed += 1
    }
    val wantOutputs = if (bulk) inputs.size.toLong else docs
    failed += math.abs(wantOutputs - outputs.size)
    if (docSchemas.size > 1 || kindSchemas.values.exists(_.size > 1)) {
      note(s"output schemas differ: $docSchemas")
      failed += 1
    }
    // oracle: every document equal to its source rows, none twice
    val gotMap = got.flatten.toMap
    val mismatched = expected.count { case (k, v) => !gotMap.get(k).contains(v) } +
      gotMap.keySet.count(k => !expected.contains(k)) +
      (got.length - gotMap.size)
    if (mismatched > 0)
      note(s"oracle: $mismatched documents differ from their source rows")
    (failed + mismatched, bytes, files)
  }

  private def convertS(p: Pass): Double = p.calls.find(_.name == "convert").get.wallS

  def report(passes: Seq[Pass]): Seq[(String, Double, String)] = {
    val conv = passes.map(convertS)
    Seq(
      ("docs_per_s", medianOf(conv.map(docs / _)), "docs/s"),
      ("mb_per_s", medianOf(conv.map(xmlBytes / 1e6 / _)), "MB/s"),
      ("out_bytes_per_in_byte",
        medianOf(passes.map(_.values("out_bytes") / xmlBytes)), "ratio"),
      ("docs", docs.toDouble, "docs"),
      ("xml_mb", xmlBytes / 1e6, "MB")) ++
      (if (bulk) Seq(("readback_s",
        medianOf(passes.map(_.calls.find(_.name == "readback").get.wallS)), "s"))
      else Nil)
  }

  /** Leaf fields the XML scan of `XmlToParquetJob.read` requires under
    * this workload's configuration.
    */
  private lazy val scanFields: Double = {
    val plan = XmlToParquetJob.read(spark, xsd, plainInputs.take(1), cfg)
      .queryExecution.executedPlan
    new AdaptiveSparkPlanHelper {}.collect(plan) {
      case s: FileSourceScanExec => leaves(s.requiredSchema)
    }.sum.toDouble
  }

  def layers(p: Pass, t: Tracer): Map[String, Double] = {
    val conv = p.calls.find(_.name == "convert").get
    val c = t.counters(conv.span)
    val wallMs = conv.wallS * 1000
    val cpuMs = c.taskCpuNs / 1e6
    val rb = p.calls.find(_.name == "readback").map(x => t.counters(x.span))
    val members = p.calls.find(_.name == "readMembers")
    Map(
      "xml.compile_xsd_ms" -> compileMs,
      "xml.jobs" -> c.jobs.toDouble,
      "xml.jobs_per_doc" -> c.jobs.toDouble / docs,
      "xml.plan_ms" -> c.planMs.toDouble,
      "xml.driver_gap_ms" -> t.idleMs(conv.span),
      "xml.tasks" -> c.tasks.toDouble,
      "xml.task_cpu_ms" -> cpuMs,
      "xml.gc_ms" -> c.gcMs.toDouble,
      "xml.max_task_ms" -> c.maxTaskMs.toDouble,
      "xml.cpu_util" -> cpuMs / (wallMs * o.cpus),
      "xml.scan_fields" -> scanFields,
      "xml.input_bytes" -> c.inputBytes.toDouble,
      "xml.records_read" -> c.recordsRead.toDouble,
      "xml.records_written" -> c.recordsWritten.toDouble,
      "xml.output_bytes" -> c.outputBytes.toDouble,
      "xml.output_files" -> p.values("out_files"),
      "xml.readback_task_cpu_ms" -> rb.map(_.taskCpuNs / 1e6).getOrElse(0.0),
      "xml.readback_bytes_read" -> rb.map(_.inputBytes.toDouble).getOrElse(0.0),
      "sources.expand_ms" -> members.map(_.wallS * 1000).getOrElse(0.0),
      "sources.members" -> p.values.getOrElse("members", 0.0),
      "sources.member_bytes" -> p.values.getOrElse("member_bytes", 0.0)) ++
      PanelWorkload.zeroLayers
  }
}

/** The fixed query panel, each query timed through a full-evaluation
  * sink and checked against recorded row counts and hashes.
  */
final class PanelWorkload(spark: SparkSession, o: Opts) extends Workload {
  private val all = SparkEntry.queries
  private val missing = PanelWorkload.Names.filterNot(all.contains)
  require(missing.isEmpty, s"panel queries not registered: $missing")
  private val sf = new File(o.sfDir).getName
  private val expected: Map[String, (Long, Long)] =
    if (o.record) Map.empty
    else {
      val node = mapper.readTree(new File(o.expected)).get(sf)
      require(node != null, s"no recorded panel results for $sf")
      PanelWorkload.Names.map { n =>
        val q = node.get(n)
        n -> (q.get("rows").asLong, q.get("hash").asLong)
      }.toMap
    }
  /** (query, rows, hash) of every evaluated call, for recording. */
  val seen = mutable.ArrayBuffer.empty[(String, Long, Long)]

  private def run(name: String): (Long, Long) = {
    val r = Sinks.evaluate(all(name)(spark, o.sfDir))
    seen += ((name, r._1, r._2))
    r
  }

  /** The seed decides the order the queries run in, every pass alike. */
  private val order = new scala.util.Random(o.seed).shuffle(PanelWorkload.Names)

  def setup(): Unit = order.foreach { n =>
    val (_, s) = timed(run(n))
    note(f"warm-up $n $s%.2f s")
  }

  /** Rows and hash per query, for `--record`; every evaluation of a query
    * in the run must agree.
    */
  def recorded: JMap[String, Any] = {
    val m = new JMap[String, Any]()
    seen.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (n, rs) =>
      val distinct = rs.map(r => (r._2, r._3)).distinct
      require(distinct.size == 1, s"$n is not deterministic: $distinct")
      m.put(n, jmap("rows" -> distinct.head._1, "hash" -> distinct.head._2))
    }
    m
  }

  def pass(i: Int, tracer: Option[Tracer], parent: Long): Pass = {
    val t0 = clock()
    val c0 = cpuClock()
    var failed = 0L
    val calls = order.map { n =>
      val ((rows, hash), s, id) = tracer match {
        case Some(t) => t.span(n, parent, call = true) { id =>
          val (r, s) = timed(run(n)); (r, s, id)
        }
        case None => val (r, s) = timed(run(n)); (r, s, 0L)
      }
      if (!o.record && expected(n) != ((rows, hash))) {
        note(s"$n: got rows=$rows hash=$hash, recorded ${expected(n)}")
        failed += 1
      }
      Call(n, s, id)
    }
    Pass(clock() - t0, cpuClock() - c0, calls, calls.size.toLong, failed,
      Map("rows" -> seen.takeRight(calls.size).map(_._2).sum.toDouble))
  }

  def report(passes: Seq[Pass]): Seq[(String, Double, String)] = {
    val samples = passes.flatMap(_.calls.map(_.wallS))
    Seq(
      ("panel_s", medianOf(passes.map(_.calls.map(_.wallS).sum)), "s"),
      ("query_p50_s", quantile(samples, 0.5), "s"),
      ("query_p90_s", quantile(samples, 0.9), "s"),
      ("query_samples", samples.size.toDouble, "count"))
  }

  def layers(p: Pass, t: Tracer): Map[String, Double] = {
    val cs = p.calls.map(c => c -> t.counters(c.span))
    val sum = (f: Counters => Double) => cs.map(x => f(x._2)).sum
    val wallMs = p.calls.map(_.wallS).sum * 1000
    val planMs = sum(_.planMs.toDouble)
    val stages = sum(_.stages.toDouble)
    val tasks = sum(_.tasks.toDouble)
    Map(
      "ops.plan_ms" -> planMs,
      "ops.exec_ms" -> (wallMs - planMs),
      "ops.task_cpu_ms" -> sum(_.taskCpuNs / 1e6),
      "ops.gc_ms" -> sum(_.gcMs.toDouble),
      "ops.cpu_util" -> sum(_.taskCpuNs / 1e6) / (wallMs * o.cpus),
      "ops.shuffle_write_bytes" -> sum(_.shuffleWriteBytes.toDouble),
      "ops.shuffle_read_bytes" -> sum(_.shuffleReadBytes.toDouble),
      "ops.spill_bytes" -> sum(_.spillBytes.toDouble),
      "ops.stages" -> stages,
      "ops.tasks" -> tasks,
      "ops.tasks_per_stage" -> (if (stages > 0) tasks / stages else 0.0),
      "ops.sched_delay_ms" -> sum(_.schedDelayMs.toDouble),
      "ops.output_rows" -> p.values("rows")) ++ XmlWorkload.zeroLayers
  }

  override def traceDetail(passes: Seq[Pass], t: Tracer): JMap[String, Any] = {
    val p = passes.head
    val rows = seen.takeRight(p.calls.size).map(_._2)
    val queries = new JMap[String, Any]()
    p.calls.zip(rows).foreach { case (c, n) =>
      val k = t.counters(c.span)
      val plan = t.lastExecution(c.span)
        .map(qe => normalizePlan(qe.executedPlan.treeString.replace(o.work, "<work>")))
      queries.put(c.name, jmap(
        "wall_ms" -> c.wallS * 1000,
        "plan_ms" -> k.planMs,
        "task_cpu_ms" -> k.taskCpuNs / 1e6,
        "gc_ms" -> k.gcMs,
        "stages" -> k.stages,
        "tasks" -> k.tasks,
        "shuffle_write_bytes" -> k.shuffleWriteBytes,
        "shuffle_read_bytes" -> k.shuffleReadBytes,
        "spill_bytes" -> k.spillBytes,
        "output_rows" -> n,
        "plan_fingerprint" -> plan.map(fingerprint).orNull,
        "plan" -> plan.orNull))
    }
    jmap("queries" -> queries)
  }
}

object PanelWorkload {
  /** tools/run_panel.sh's pinned panel, less six heavy queries so a run
    * fits its time budget: all 5 cheap, all 5 mid (q_lsh_curve stands for
    * the LSH family), and the 4 heavy ones of the graph and
    * corpus-checkpoint families.
    */
  val Names: Seq[String] = Seq(
    "q_scalar_math", "q_join_inner", "q_filter_pred", "q_win_rank",
    "q_agg_group",
    "q_topsis_rank", "q_rolling_p95", "q_item_cosine", "q_lsh_curve",
    "q_price_index",
    "q_graph_resource_alloc", "q_graph_triangle",
    "q_graph_commonnbrs", "q_corpus_pipeline")

  /** The panel's layer metrics, zero on workloads that run no query. */
  val zeroLayers: Map[String, Double] = Seq("ops.plan_ms", "ops.exec_ms",
    "ops.task_cpu_ms", "ops.gc_ms", "ops.cpu_util", "ops.shuffle_write_bytes",
    "ops.shuffle_read_bytes", "ops.spill_bytes", "ops.stages", "ops.tasks",
    "ops.tasks_per_stage", "ops.sched_delay_ms", "ops.output_rows")
    .map(_ -> 0.0).toMap
}

object XmlWorkload {
  /** The XML layers' metrics, zero on workloads that convert nothing. */
  val zeroLayers: Map[String, Double] = Seq("xml.compile_xsd_ms", "xml.jobs",
    "xml.jobs_per_doc", "xml.plan_ms", "xml.driver_gap_ms", "xml.tasks",
    "xml.task_cpu_ms", "xml.gc_ms", "xml.max_task_ms", "xml.cpu_util",
    "xml.scan_fields", "xml.input_bytes", "xml.records_read",
    "xml.records_written", "xml.output_bytes", "xml.output_files",
    "xml.readback_task_cpu_ms", "xml.readback_bytes_read",
    "sources.expand_ms", "sources.members", "sources.member_bytes")
    .map(_ -> 0.0).toMap
}
