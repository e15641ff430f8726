package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.{Pipeline, SparkEntry}

/** One lifecycle CSV batch for the medallion workload. */
final case class Batch(csv: String, events: Long)

/** What run.py asks for. `passes` holds the seeded query order of each
  * pass; `batches` the landed CSV batches, the first for warm-up. */
final case class Spec(workload: String, seconds: Double, trace: Boolean,
    cpus: Int, opTimeoutS: Double, dataDir: String,
    workDir: String, queries: Seq[String], passes: Seq[Seq[String]],
    batches: Seq[Batch], batchTs: String, resultPath: String)

/** The benchmark's JVM side: builds the session the way the program's
  * entry points do, sets up, runs one client's closed loop of ops for a
  * fixed amount of busy time and records each op. It checks nothing
  * against an oracle itself; it hands run.py what the check needs.
  *
  * Run by run.py: `java ... perfbench.Main <spec.json>`.
  */
object Main {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)

  /** Medallion output directories → layer names. */
  val layerOf: Map[String, String] = Map("bronze_raw" -> "bronze",
    "silver_lifecycle" -> "silver", "scd2_dim_order" -> "scd2",
    "fact_order_lifecycle" -> "gold", "mart_funnel" -> "mart")

  def main(args: Array[String]): Unit = {
    val spec = mapper.readValue(new File(args(0)), classOf[Spec])
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val run = new Run(spec, jvmStartMs)
    val record = try run.execute() finally run.close()
    Files.writeString(Paths.get(spec.resultPath), mapper.writeValueAsString(record))
  }
}

final class Run(spec: Spec, jvmStartMs: Long) {
  private var spark: SparkSession = _
  private val tracer = new Tracer(Main.layerOf)
  private val pool = Executors.newSingleThreadExecutor()
  private val medallion = spec.workload == "medallion"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextSpan = 0L
  private def spanId(): Long = { nextSpan += 1; nextSpan }

  def close(): Unit = {
    pool.shutdownNow()
    if (spark != null) spark.stop()
  }

  private def now(): Long = System.currentTimeMillis()

  /** The session exactly as the program's Pipeline and Verify build it:
    * the shared graft defaults, the graft extensions and one shuffle
    * partition per core. Only the paths are the benchmark's, so that
    * nothing is written outside its work directory. */
  private def newSession(): SparkSession = {
    val s = graft.util.Sessions.withGraftDefaults(SparkSession.builder()
      .master(s"local[${spec.cpus}]")
      .config("spark.sql.shuffle.partitions", spec.cpus.toString))
      .config("spark.sql.warehouse.dir", s"${spec.workDir}/warehouse")
      .config("spark.local.dir", s"${spec.workDir}/local")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Table warm-up: the dashboard's whole-dataset cache. */
  private def warmTables(): Unit = if (!medallion)
    graft.sources.Tables.all.foreach { t =>
      graft.sources.Tables.load(spark, spec.dataDir, t)
        .persist(StorageLevel.MEMORY_AND_DISK).count()
    }

  private def sec(fromMs: Long): Double = (now() - fromMs) / 1000.0

  /** Set up once, timed from JVM start: class loading, the first session
    * and the table warm-up. Returns (set-up, table warm-up) seconds. */
  private def setUp(): (Double, Double) = {
    spark = newSession()
    val w0 = now()
    warmTables()
    val warmS = sec(w0)
    val setupS = sec(jvmStartMs)
    if (spec.trace) {
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }
    (setupS, warmS)
  }

  private def rddBytes(skip: Set[Int]): Long = spark.sparkContext.getRDDStorageInfo
    .filterNot(i => skip(i.id)).map(i => i.memSize + i.diskSize).sum

  /** Run `body` on the client thread with a timeout; Left is the error. */
  private def timed[T](tag: String)(body: => T): (Double, Either[String, T]) = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val fut = pool.submit(new Callable[T] {
      def call(): T = {
        sc.setJobGroup(tag, tag, interruptOnCancel = true)
        try body finally sc.clearJobGroup()
      }
    })
    val res: Either[String, T] =
      try Right(fut.get((spec.opTimeoutS * 1000).toLong, TimeUnit.MILLISECONDS))
      catch {
        case _: TimeoutException =>
          sc.cancelJobGroup(tag)
          fut.cancel(true)
          Left(s"timeout after ${spec.opTimeoutS} s")
        case e: ExecutionException =>
          val c = Option(e.getCause).getOrElse(e)
          Left(s"${c.getClass.getName}: ${Option(c.getMessage).getOrElse("").take(500)}")
      }
    ((System.nanoTime() - t0) / 1e6, res)
  }

  private def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  /** The first result of each query, and any later one that hashes
    * differently, is written out for the oracle check under the name in
    * `check`; a later result that hashes the same shares the first's. */
  private val firstDigest = mutable.Map.empty[String, String]

  private def checkQuery(id: Long, name: String, schema: StructType, rows: Array[Row])
      : Map[String, Any] = {
    val d = digest(rows)
    val base = Map("rows" -> rows.length, "digest" -> d)
    if (firstDigest.get(name).contains(d)) base + ("check" -> name)
    else {
      val check = if (firstDigest.contains(name)) s"$name.op$id" else name
      firstDigest.getOrElseUpdate(name, d)
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"${spec.workDir}/export/$check")
      base + ("check" -> check)
    }
  }

  /** Counts the medallion check compares with what the generator knows,
    * read back from the layers the pipeline wrote. */
  private def medallionCounts(out: String, batchTs: java.sql.Timestamp)
      : Map[String, Any] = {
    def read(layer: String) = spark.read.parquet(s"$out/$layer")
    val scd2 = read("scd2_dim_order")
    Map(
      "bronze_rows" -> read("bronze_raw").count(),
      "silver_rows" -> read("silver_lifecycle").count(),
      "scd2_rows" -> scd2.count(),
      "scd2_closed" -> scd2.filter(!col("is_current")).count(),
      "scd2_inserted" -> scd2.filter(col("valid_from") === batchTs).count(),
      "gold_rows" -> read("fact_order_lifecycle").count(),
      "funnel" -> read("mart_funnel").collect()
        .map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_events")).toMap)
  }

  def execute(): Map[String, Any] = {
    val (setupS, warmS) = setUp()
    val sc = spark.sparkContext
    val cachedIds = sc.getRDDStorageInfo.map(_.id).toSet
    val cachedBytes = rddBytes(Set.empty)
    val batchTs = java.sql.Timestamp.valueOf(spec.batchTs)

    // warm-up, untimed and outside set-up: JIT and broadcast machinery
    val w0 = now()
    val warmErrors = mutable.ArrayBuffer.empty[String]
    if (medallion) {
      val b = spec.batches.head
      timed("warmup")(Pipeline.run(spark, b.csv, s"${spec.workDir}/out/warmup", batchTs))
        ._2.left.foreach(e => warmErrors += s"warmup: $e")
    } else spec.queries.foreach { q =>
      timed("warmup")(SparkEntry.queries(q)(spark, spec.dataDir).collect())
        ._2.left.foreach(e => warmErrors += s"$q: $e")
    }
    val warmupS = sec(w0)

    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val perOp = mutable.ArrayBuffer.empty[(Long, Double, OpEvents, Long)]
    var busyMs = 0.0
    var checkpointPeak = 0L
    def runOp(id: Long, name: String, pass: Int)(body: => Any): Option[Any] = {
      tracer.op = id
      val startMs = now()
      val (ms, res) = timed(s"op-$id")(body)
      busyMs += ms
      if (spec.trace) {
        org.apache.spark.PerfbenchBus.drain(sc)
        tracer.op = -1L
        checkpointPeak = math.max(checkpointPeak, rddBytes(cachedIds))
        perOp += ((id, ms, tracer.take(id), startMs))
      }
      ops += Map("id" -> id, "name" -> name, "pass" -> pass, "start_ms" -> startMs,
        "ms" -> ms, "ok" -> res.isRight, "error" -> res.left.toOption.orNull)
      res.toOption
    }

    var id = 0L
    def more: Boolean = busyMs < spec.seconds * 1000
    if (medallion) {
      spec.batches.tail.zipWithIndex.iterator.takeWhile(_ => more).foreach { case (b, i) =>
        id += 1
        val out = s"${spec.workDir}/out/batch$i"
        runOp(id, s"pipeline[$i]", i)(Pipeline.run(spark, b.csv, out, batchTs))
          .foreach { _ =>
            ops(ops.size - 1) = ops.last ++ Map("batch" -> i, "events" -> b.events,
              "counts" -> medallionCounts(out, batchTs))
          }
      }
    } else {
      // whole passes only, so every run samples every query equally often
      spec.passes.zipWithIndex.iterator.takeWhile(_ => more).foreach { case (pass, p) =>
        pass.foreach { q =>
          id += 1
          runOp(id, q, p) {
            val df = SparkEntry.queries(q)(spark, spec.dataDir)
            (df.schema, df.collect())
          }.foreach { case (schema: StructType, rows: Array[Row] @unchecked) =>
            ops(ops.size - 1) = ops.last ++ checkQuery(id, q, schema, rows)
          }
        }
      }
    }

    val conf = spark.conf.getAll.filter { case (k, _) => k.startsWith("spark.sql.") }
    val record = Map[String, Any](
      "workload" -> spec.workload,
      "setup_s" -> setupS, "warm_s" -> warmS, "warmup_s" -> warmupS,
      "warmup_errors" -> warmErrors.toSeq,
      "busy_s" -> busyMs / 1000.0, "ops" -> ops.toSeq,
      "peak_rss_mb" -> Run.vmHwmMb(), "retained_heap_mb" -> Run.retainedHeapMb(),
      "oracle_sql" -> spec.queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap,
      "spark_conf" -> (conf ++ Map("spark.master" -> sc.master)),
    )
    if (!spec.trace) record
    else {
      val layers = new Layers(spec.cpus, medallion)
      perOp.foreach { case (opId, ms, ev, startMs) =>
        val op = ops.find(_("id") == opId).get
        layers.add(ms, startMs, ev)
        op.get("counts").foreach { case c: Map[String, Any] @unchecked =>
          layers.addScd2(c("scd2_closed").asInstanceOf[Long], c("scd2_inserted").asInstanceOf[Long])
        }
        spans ++= opSpans(opId, op("name").toString, startMs, ms, ev)
      }
      val metrics = layers.result(cachedBytes, checkpointPeak, warmS * 1000.0)
      val traceFile = s"${spec.workDir}/trace.json"
      Files.writeString(Paths.get(traceFile), Main.mapper.writeValueAsString(spans.map(spanJson)))
      record ++ Map("layers" -> metrics, "trace_file" -> traceFile,
        "span_count" -> spans.size)
    }
  }

  private def spanJson(s: Span): Map[String, Any] = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startMs, k.endMs))
    Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "kind" -> s.kind,
      "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "self_ms" -> Run.selfMs(s.startMs, s.endMs, kids.toSeq), "attrs" -> s.attrs)
  }

  /** The spans of one op: the op, its medallion layers, the Catalyst
    * phases of each query execution and each Spark job. */
  private def opSpans(op: Long, name: String, startMs: Long, ms: Double,
      ev: OpEvents): Seq[Span] = {
    val root = Span(spanId(), 0, op, "op", name, startMs, startMs + ms.toLong,
      Map("ms" -> ms))
    val layerSpans = Layers.layerIntervals(ev, startMs).map { case (layer, s, e) =>
      Span(spanId(), root.id, op, "layer", layer, s, e, Map.empty)
    }
    def parentAt(t: Long): Long = layerSpans.find(l => t > l.startMs && t <= l.endMs)
      .map(_.id).getOrElse(root.id)
    val phases = ev.phases.map { case (qe, p, s, e) =>
      Span(spanId(), parentAt(e), op, "catalyst", s"$p#$qe", s, e, Map.empty)
    }
    val jobs = ev.jobs.values.map { j =>
      Span(spanId(), parentAt(j.startMs), op, "job", s"job#${j.id}", j.startMs,
        j.endMs, Map("stages" -> j.stages.toDouble, "tasks" -> j.tasks.toDouble,
          "execution" -> j.execId.toDouble))
    }
    root +: (layerSpans ++ phases ++ jobs).toSeq
  }
}

object Run {
  /** The JVM's peak resident set (VmHWM), in MB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(-1.0)

  /** Heap still in use after full collections, in MB. Spark's
    * ContextCleaner releases shuffle, broadcast and checkpoint data only
    * after a collection finds it unreachable, so collect, give the
    * cleaner a moment, and collect again before reading. */
  def retainedHeapMb(): Double = {
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      .getUsed / 1048576.0
  }

  /** Span duration minus the part of it its children cover. */
  def selfMs(start: Long, end: Long, kids: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = start
    kids.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    (end - start) - covered
  }
}
