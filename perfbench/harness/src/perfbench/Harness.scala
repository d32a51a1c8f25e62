package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, StandardCopyOption}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{ObjectMapper, SerializationFeature}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.engine.{CitibikePipeline, Ingest, Quality, TableStore, Waypoints}
import graft.engine.builders._

/** The benchmark's JVM side: one `local[cores]` session warms up with one
  * untimed unit (a cold unit costs two to four warm ones: class loading,
  * code generation, JIT), then runs a workload's timed unit again and
  * again until `seconds` have passed, at least [[Workload.minUnits]]
  * times. With `trace=1` it then runs two more units step by step in
  * alternation, one untraced (the reference) and one under the
  * [[Tracer]], so both are equally warm; their outputs must agree. Inputs
  * come generated; correctness is judged by the caller from the
  * observations written to `out` (one JSON object).
  *
  * Arguments are `key=value`: workload, inputs, work, seconds, trace,
  * cores, out; for the pipeline `arrivals` (per run, `;`-separated, the
  * comma list of archives that arrive before it), for the queries
  * `order` (comma list). */
object Harness {

  /** One operation: wall seconds, the error it threw (or null), what it
    * returned and what was observed after it. */
  final case class Op(name: String, seconds: Double, error: String,
                      result: Any, obs: Any)

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val work = opt("work")
    val spark = session(opt("cores").toInt, work)
    val sessionS = uptimeS()
    val w: Workload = opt("workload") match {
      case "pipeline-backfill" | "pipeline-monthly" =>
        new Pipeline(opt("inputs"), work, opt("arrivals").split(";", -1).toSeq)
      case "queries-sf0.01" => new Queries(opt("inputs"), opt("order").split(",").toSeq)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    (0 until w.steps).foreach(w.step(spark, -1, _, None))
    val readyS = uptimeS()

    val seconds = opt("seconds").toDouble
    val t0 = System.nanoTime()
    val units = Seq.newBuilder[Seq[Op]]
    var k = 0
    while (k < w.minUnits || (System.nanoTime() - t0) / 1e9 < seconds) {
      units += (0 until w.steps).map(w.step(spark, k, _, None))
      k += 1
    }
    val untraced = units.result()
    val result = Map(
      "session_s" -> sessionS, "ready_s" -> readyS,
      "units" -> untraced.map(_.map(opJson)))
    val traced =
      if (opt("trace") != "1") Map.empty[String, Any]
      else {
        val (layer, reference, ops) = traceUnits(spark, w, k)
        Map("trace" -> layer, "reference_ops" -> reference.map(opJson),
          "traced_ops" -> ops.map(opJson),
          "traced_equal" -> w.sameOutputs(spark, k, k + 1))
      }
    val all = result ++ traced + ("peak_rss_mb" -> peakRssMb())
    spark.stop()
    Files.writeString(new File(opt("out")).toPath, Json(all))
  }

  private def opJson(o: Op): Map[String, Any] = Map("name" -> o.name,
    "seconds" -> o.seconds, "error" -> o.error, "result" -> o.result,
    "obs" -> o.obs)

  private def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def uptimeS(): Double =
    ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  private def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3

  /** VmHWM, the resident-set high-water mark of this process. */
  private def peakRssMb(): Double =
    Files.readAllLines(new File("/proc/self/status").toPath).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(-1.0)

  /** Runs `f` under span `name`: wall time is recorded here, Spark work
    * is attributed by the [[Tracer]] through the local property. */
  final class Spans(spark: SparkSession) {
    val seconds = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    /** Wall-clock windows (epoch ms) of each span name. */
    val windows = scala.collection.mutable.Map.empty[String, Seq[(Long, Long)]]
    def apply[T](name: String)(f: => T): T = {
      val sc = spark.sparkContext
      sc.setLocalProperty(Tracer.Key, name)
      val (t0, ms0) = (System.nanoTime(), System.currentTimeMillis())
      try f finally {
        seconds(name) = seconds.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
        windows(name) = windows.getOrElse(name, Nil) :+ (ms0 -> System.currentTimeMillis())
        sc.setLocalProperty(Tracer.Key, null)
      }
    }
  }

  /** Units `k` (reference) and `k + 1` (traced), step by step, the two
    * steps of a pair in alternating order. The reference steps run under
    * span [[Reference]], which the runtime totals leave out. Returns
    * (per-layer metrics, reference ops, traced ops). */
  private def traceUnits(spark: SparkSession, w: Workload,
                         k: Int): (Map[String, Double], Seq[Op], Seq[Op]) = {
    val tracer = new Tracer
    val sc = spark.sparkContext
    sc.addSparkListener(tracer)
    spark.listenerManager.register(tracer)
    val spans = new Spans(spark)
    var gc = 0.0
    def traced(i: Int): Op = {
      val gc0 = gcS()
      try w.step(spark, k + 1, i, Some(spans)) finally gc += gcS() - gc0
    }
    def reference(i: Int): Op = spans(Reference)(w.step(spark, k, i, None))
    val pairs = try (0 until w.steps).map { i =>
      if (i % 2 == 0) { val r = reference(i); (r, traced(i)) }
      else { val t = traced(i); (reference(i), t) }
    } finally {
      PerfbenchBus.drain(sc)
      spark.listenerManager.unregister(tracer)
      sc.removeSparkListener(tracer)
    }
    val (ref, ops) = (pairs.map(_._1), pairs.map(_._2))
    val wall = ops.map(_.seconds).sum
    val notRef = (span: String) => span != Reference
    val runtime = Map(
      "spark.jobs" -> tracer.total(notRef)(_.jobs).toDouble,
      "spark.tasks" -> tracer.total(notRef)(_.tasks).toDouble,
      "spark.cpu_busy_frac" ->
        tracer.total(notRef)(_.cpuNs) / 1e9 / (wall * sc.defaultParallelism),
      "spark.gc_s" -> gc,
      "spark.spill_bytes" -> tracer.total(notRef)(_.spillBytes).toDouble,
      "trace.overhead_s" -> (wall - ref.map(_.seconds).sum))
    (runtime ++ w.layerMetrics(spark, k + 1, spans, tracer, ops), ref, ops)
  }

  private val Reference = "reference"

  /** A workload: the steps of its timed unit (step `i` of
    * unit `k`; each unit has its own state), the per-layer metrics of a
    * traced unit and the traced-vs-untraced output check. */
  trait Workload {
    /** Units every run times, however slow the host: each operation is
      * reported at its best over them, so their number must not vary. */
    def minUnits: Int
    def steps: Int
    def step(spark: SparkSession, k: Int, i: Int, spans: Option[Spans]): Op
    def layerMetrics(spark: SparkSession, k: Int, spans: Spans, tracer: Tracer,
                     ops: Seq[Op]): Map[String, Double]
    def sameOutputs(spark: SparkSession, a: Int, b: Int): Boolean
  }

  private def timed(name: String)(f: => Any)(obs: => Any): Op = {
    val t0 = System.nanoTime()
    var result: Any = null
    val error = try { result = f; null } catch {
      case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}".take(500)
    }
    val s = (System.nanoTime() - t0) / 1e9
    val o = try obs catch { case e: Throwable => Map("error" -> e.toString.take(500)) }
    Op(name, s, error, result, o)
  }

  private def dirBytesAndFiles(d: File): (Long, Long) =
    if (!d.exists) (0L, 0L)
    else if (d.isFile)
      (d.length, if (d.getName.endsWith(".parquet")) 1L else 0L)
    else Option(d.listFiles).getOrElse(Array.empty)
      .map(dirBytesAndFiles).foldLeft((0L, 0L)) { case ((a, b), (c, e)) => (a + c, b + e) }

  // ---------------------------------------------------------------- pipeline

  val derivedTables = Seq("LineGraphTable", "HeatMapTable", "TripTable",
    "DockTable", "StatusDataTable")

  /** The pipeline workload. A unit starts from an empty warehouse and an
    * empty watched directory; before each `run`, that run's archives are
    * copied in from `inputs` next to the earlier ones. */
  final class Pipeline(inputs: String, work: String, arrivals: Seq[String])
      extends Workload {
    private def wh(k: Int) = s"$work/wh-$k"
    /** Archive bytes the traced runs handed to ingest, reloads included. */
    private var ingestBytes = 0L

    def steps: Int = arrivals.size
    def minUnits: Int = 4

    def step(spark: SparkSession, k: Int, i: Int, spans: Option[Spans]): Op = {
      val dir = new File(s"$work/arrive-$k")
      dir.mkdirs()
      arrivals(i).split(",").filter(_.nonEmpty).foreach { n =>
        Files.copy(new File(inputs, n).toPath, new File(dir, n).toPath,
          StandardCopyOption.REPLACE_EXISTING)
      }
      timed("run") {
        spans.fold(CitibikePipeline.run(spark, dir.getPath, wh(k)))(
          tracedRun(spark, dir.getPath, wh(k), _))
      }(observe(spark, wh(k)))
    }

    /** The calls `CitibikePipeline.run` makes, in its order, each under
      * the span of its layer. The raw archive is forced once on its own
      * so that parsing shows apart from normalize + quality. */
    private def tracedRun(spark: SparkSession, inputDir: String, warehouse: String,
                          span: Spans): Int = {
      val archives = span("ingest.list") {
        Ingest.listArchives(inputDir, spark.sparkContext.hadoopConfiguration)
      }
      var manifest = span("manifest.check") {
        TableStore.readOrEmpty(spark, warehouse, "StatusDataTable", StatusData.schema)
      }
      val newOnes = span("manifest.check") {
        archives.filterNot(a =>
          StatusData.alreadyLoaded(manifest, a.year.toInt, a.month.map(_.toInt)))
      }
      newOnes.foreach { a =>
        ingestBytes += new File(new java.net.URI(a.path).getPath).length
        val raw = span("ingest.parse") {
          val raw = Ingest.readArchiveDistributed(spark, a)
          raw.write.format("noop").mode("overwrite").save()
          raw
        }
        val imported = span("quality.import") {
          val imported = Quality.importTrips(raw, a.year).cache()
          imported.count()
          imported
        }
        try {
          span("tablestore.fact_write") {
            TableStore.overwritePartitions(imported, warehouse, "ImportedTrips",
              partitionBy = Seq("year", "month"))
          }
          def existing(name: String, schema: org.apache.spark.sql.types.StructType) =
            TableStore.readOrEmpty(spark, warehouse, name, schema)
          span("builders.linegraph") {
            TableStore.write(LineGraph.merge(
              existing("LineGraphTable", CitibikePipeline.lineGraphSchema),
              LineGraph.build(imported)), warehouse, "LineGraphTable")
          }
          span("builders.heatmap") {
            TableStore.write(HeatMap.merge(
              existing("HeatMapTable", CitibikePipeline.heatMapSchema),
              HeatMap.build(imported)), warehouse, "HeatMapTable")
          }
          span("builders.tripsmap") {
            TableStore.write(TripsMap.merge(
              existing("TripTable", CitibikePipeline.tripTableSchema),
              TripsMap.build(imported, Waypoints.StraightLineRoutes)),
              warehouse, "TripTable")
          }
          span("builders.dockmap") {
            TableStore.write(DockMap.toStorage(DockMap.merge(
              DockMap.fromStorage(existing("DockTable", CitibikePipeline.dockTableSchema)),
              DockMap.build(imported))), warehouse, "DockTable")
          }
          span("manifest.write") {
            TableStore.write(
              StatusData.markLoaded(manifest, a.year.toInt, a.month.map(_.toInt)),
              warehouse, "StatusDataTable")
            manifest = TableStore.read(spark, warehouse, "StatusDataTable")
          }
        } finally imported.unpersist()
      }
      newOnes.size
    }

    /** What the ledger is checked against, read back from the warehouse:
      * ImportedTrips rows and LineGraph counts per (year, month), HeatMap
      * counts per (year, month, hour) and the manifest rows. */
    private def observe(spark: SparkSession, warehouse: String): Map[String, Any] = {
      def table(name: String) =
        if (TableStore.exists(spark, warehouse, name)) Some(TableStore.read(spark, warehouse, name))
        else None
      def period(r: Row) = s"${r.getString(0)}-${r.getString(1)}"
      Map(
        "imported" -> table("ImportedTrips").fold(Map.empty[String, Long])(
          _.groupBy("year", "month").count().collect()
            .map(r => period(r) -> r.getLong(2)).toMap),
        "linegraph" -> table("LineGraphTable").fold(Map.empty[String, Seq[Long]])(
          _.groupBy("year", "month")
            .agg(sum("subscriber_count"), sum("customer_count")).collect()
            .map(r => period(r) -> Seq(r.getLong(2), r.getLong(3))).toMap),
        "heatmap" -> table("HeatMapTable").fold(Map.empty[String, Long])(
          _.groupBy("year", "month", "hour").agg(sum("total_count")).collect()
            .map(r => f"${period(r)}-${r.getInt(2)}%02d" -> r.getLong(3)).toMap),
        "manifest" -> table("StatusDataTable").fold(Seq.empty[Seq[Any]])(
          _.collect().map(r => Seq(r.get(0), r.get(1), r.get(2))).toSeq
            .sortBy(_.head.toString)))
    }

    def layerMetrics(spark: SparkSession, k: Int, spans: Spans, tracer: Tracer,
                     ops: Seq[Op]): Map[String, Double] = {
      val s = spans.seconds.withDefaultValue(0.0)
      def jobs(span: String) = tracer.acc(span).jobs.toDouble
      val builders = Seq("linegraph", "heatmap", "tripsmap", "dockmap")
      val loads = ops.map(o => Option(o.result).map(_.asInstanceOf[Int]).getOrElse(0)).sum
      val (factBytes, factFiles) = dirBytesAndFiles(new File(wh(k), "ImportedTrips"))
      val tableBytes = derivedTables.map(t => dirBytesAndFiles(new File(wh(k), t))._1).sum
      val archives = arrivals.flatMap(_.split(",")).filter(_.nonEmpty)
      val arrivedBytes = archives.map(new File(inputs, _).length).sum.toDouble
      Map(
        "ingest.list_s" -> s("ingest.list"),
        "ingest.parse_s" -> s("ingest.parse"),
        "ingest.parse_tasks" -> tracer.acc("ingest.parse").tasks.toDouble,
        "ingest.parse_cpu_s" -> tracer.acc("ingest.parse").cpuNs / 1e9,
        "ingest.input_bytes" -> ingestBytes.toDouble,
        "quality.import_s" -> s("quality.import"),
        "quality.import_cpu_s" -> tracer.acc("quality.import").cpuNs / 1e9,
        "tablestore.fact_write_s" -> s("tablestore.fact_write"),
        "tablestore.fact_bytes" -> factBytes.toDouble,
        "tablestore.fact_files" -> factFiles.toDouble,
        "tablestore.table_bytes" -> tableBytes.toDouble,
        "tablestore.stored_bytes_per_input_byte" -> (factBytes + tableBytes) / arrivedBytes,
        "builders.shuffle_bytes" ->
          tracer.total(_.startsWith("builders."))(_.shuffleBytes).toDouble,
        "manifest.check_s" -> s("manifest.check"),
        "manifest.write_s" -> s("manifest.write"),
        "manifest.loads" -> loads.toDouble,
        "manifest.useful_ratio" -> archives.size.toDouble / loads
      ) ++ builders.flatMap(b => Seq(
        s"builders.${b}_s" -> s(s"builders.$b"),
        s"builders.${b}_jobs" -> jobs(s"builders.$b")))
    }

    def sameOutputs(spark: SparkSession, a: Int, b: Int): Boolean =
      ("ImportedTrips" +: derivedTables).forall { t =>
        Fingerprint.table(spark, wh(a), t) == Fingerprint.table(spark, wh(b), t)
      }
  }

  // ----------------------------------------------------------------- queries

  /** The registered queries, in the seed's order, one session. An op is
    * one query: building its DataFrame plus `collect()`, whose rows are
    * the ones checked (results are small), so each query runs once. */
  final class Queries(dir: String, names: Seq[String]) extends Workload {
    /** Result fingerprint per (unit, step). */
    private val prints = scala.collection.mutable.Map.empty[(Int, Int), String]

    def steps: Int = names.size
    /** A unit is short, so five fit where the pipeline times four. */
    def minUnits: Int = 5

    def step(spark: SparkSession, k: Int, i: Int, spans: Option[Spans]): Op = {
      val name = names(i)
      def in[T](part: String)(f: => T): T =
        spans.fold(f)(_(s"q.$name.$part")(f))
      spark.catalog.clearCache()
      var rows: Seq[Row] = Nil
      var buildS = 0.0
      val op = timed(name) {
        val t0 = System.nanoTime()
        val df = in("build")(SparkEntry.queries(name)(spark, dir))
        buildS = (System.nanoTime() - t0) / 1e9
        rows = in("action")(df.collect().toSeq)
      }(null)
      val fp = if (op.error != null) null else Fingerprint.rows(rows)
      spark.catalog.clearCache()
      prints((k, i)) = fp
      op.copy(obs = Map("fingerprint" -> fp, "build_s" -> buildS))
    }

    def layerMetrics(spark: SparkSession, k: Int, spans: Spans, tracer: Tracer,
                     ops: Seq[Op]): Map[String, Double] =
      names.flatMap { n =>
        val (b, a) = (s"q.$n.build", s"q.$n.action")
        Seq(
          s"q.$n.build_s" -> spans.seconds.getOrElse(b, 0.0),
          s"q.$n.action_s" -> spans.seconds.getOrElse(a, 0.0),
          s"q.$n.build_jobs" -> tracer.acc(b).jobs.toDouble,
          s"q.$n.plan_s" -> tracer.planMs(
            Seq(b, a).flatMap(spans.windows.getOrElse(_, Nil))) / 1e3,
          s"q.$n.shuffle_bytes" ->
            (tracer.acc(b).shuffleBytes + tracer.acc(a).shuffleBytes).toDouble)
      }.toMap

    def sameOutputs(spark: SparkSession, a: Int, b: Int): Boolean =
      (0 until steps).forall(i => prints.get((a, i)) == prints.get((b, i)))
  }
}

/** Minimal JSON writer for the harness's result: maps, sequences,
  * strings, numbers, booleans and null. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case s: String =>
      s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }.mkString("\"", "", "\"")
    case d: Double if d.isNaN || d.isInfinite => "null"
    case b: Boolean => b.toString
    case n: Number => n.toString
    case other => apply(other.toString)
  }
}

/** Order-insensitive fingerprints of results and warehouse tables. */
object Fingerprint {
  private val mapper = new ObjectMapper()
    .configure(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS, true)

  /** Doubles are rounded to 9 significant digits, so that the order of a
    * floating-point sum does not show; JSON strings (DockTable's nested
    * station data, whose key order is not fixed) are compared parsed. */
  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => f"$d%.9g"
    case f: Float => f"${f.toDouble}%.6g"
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (a, b) => value(a) + "->" + value(b) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case s: String if s.startsWith("{") || s.startsWith("[") =>
      try {
        val tree = mapper.readValue(s, classOf[Object])
        mapper.writeValueAsString(tree)
      } catch { case _: Exception => s }
    case other => other.toString
  }

  def rows(rs: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rs.map(value).sorted.foreach { line =>
      md.update(line.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    s"${rs.size}:" + md.digest().take(12).map(b => f"$b%02x").mkString
  }

  def table(spark: SparkSession, warehouse: String, name: String): String =
    if (!TableStore.exists(spark, warehouse, name)) "absent"
    else {
      val df = TableStore.read(spark, warehouse, name)
      rows(df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect().toSeq)
    }
}
