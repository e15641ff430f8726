package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, averaged per op. Names are
  * `<layer>.<metric>`; the layers are the program's modules plus the
  * Spark engine layers its cost lands in. */
final class Layers(cores: Int, medallion: Boolean) {
  private val sums = mutable.LinkedHashMap.empty[String, Double]
  private var ops = 0
  private var wallMs = 0.0
  private var runMs = 0.0
  private var cpuMs = 0.0
  private var peakMem = 0L
  private var skew = 1.0

  private def add(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v

  def add(opMs: Double, startMs: Long, ev: OpEvents): Unit = {
    ops += 1
    wallMs += opMs
    def phase(p: String) = ev.phases.filter(_._2 == p).map(x => x._4 - x._3).sum.toDouble
    add("catalyst.analysis_ms", phase("analysis"))
    add("catalyst.optimization_ms", phase("optimization"))
    add("catalyst.planning_ms", phase("planning"))
    add("catalyst.executions_per_op", ev.executions.size)
    add("scheduler.jobs_per_op", ev.jobs.size)
    add("scheduler.stages_per_op", ev.stages)
    add("scheduler.tasks_per_op", ev.tasks)
    add("scheduler.task_delay_ms", ev.taskDelayMs)
    add("executor.run_ms", ev.runMs)
    add("executor.cpu_ms", ev.cpuNs / 1e6)
    add("executor.gc_ms", ev.gcMs)
    runMs += ev.runMs
    cpuMs += ev.cpuNs / 1e6
    peakMem = math.max(peakMem, ev.peakExecMem)
    add("shuffle.write_bytes", ev.shuffleWrite)
    add("shuffle.read_bytes", ev.shuffleRead)
    add("shuffle.read_records", ev.shuffleRecords)
    add("shuffle.fetch_wait_ms", ev.fetchWaitMs)
    skew = math.max(skew, ev.worstSkew)
    add("spill.memory_bytes", ev.spillMem)
    add("spill.disk_bytes", ev.spillDisk)
    add("driver.result_bytes", ev.resultBytes)
    if (medallion) addMedallion(ev, startMs)
  }

  /** Layer times partition the pipeline run: each layer runs from the end
    * of the previous layer's write to the end of its own, less the
    * catalog commands in that interval, which count as `catalog`. */
  private def addMedallion(ev: OpEvents, startMs: Long): Unit = {
    val catalog = ev.catalogCmds.flatMap(ev.executions.get)
    Layers.layerIntervals(ev, startMs).foreach { case (layer, s, e) =>
      val inside = catalog.filter { case (cs, _) => cs > s && cs <= e }
        .map { case (cs, ce) => ce - cs }.sum
      add(s"$layer.ms", (e - s - inside).toDouble)
    }
    add("catalog.analyze_ms", catalog.map { case (s, e) => e - s }.sum.toDouble)
    val w = ev.writes.map(x => x.layer -> x).toMap
    def rows(l: String) = w.get(l).map(_.rows.toDouble).getOrElse(-1.0)
    add("bronze.rows_out", rows("bronze"))
    add("bronze.bytes_written", w.get("bronze").map(_.bytes.toDouble).getOrElse(-1.0))
    add("silver.rows_out", rows("silver"))
    // Silver's plan filters unparseable timestamps below its dedup
    // aggregate: the scan-to-filter drop is the first, filter-to-aggregate
    // the second
    val s = w.get("silver")
    add("silver.ts_unparsed", s.map(x => (x.scanRows - x.filterRows).toDouble).getOrElse(-1.0))
    add("silver.dedup_dropped", s.map(x => (x.filterRows - x.aggRows).toDouble).getOrElse(-1.0))
    add("gold.rows_out", rows("gold"))
  }

  /** SCD2 row counts come from the check, which reads the written layer. */
  def addScd2(closed: Long, inserted: Long): Unit = {
    add("scd2.rows_closed", closed)
    add("scd2.rows_inserted", inserted)
  }

  def result(cachedBytes: Long, checkpointBytes: Long, warmMs: Double)
      : Map[String, Double] = {
    val n = math.max(ops, 1).toDouble
    val means = sums.map { case (k, v) => k -> v / n }.toMap
    val zeroMedallion = Layers.medallionNames.map(_ -> 0.0).toMap
    zeroMedallion ++ means ++ Map(
      "executor.cpu_per_run" -> (if (runMs > 0) cpuMs / runMs else 0.0),
      "executor.busy_share" -> (if (wallMs > 0) runMs / (wallMs * cores) else 0.0),
      "executor.peak_exec_memory_bytes" -> peakMem.toDouble,
      "shuffle.skew" -> skew,
      "storage.cached_bytes" -> cachedBytes.toDouble,
      "storage.checkpoint_bytes" -> checkpointBytes.toDouble,
      "sources.warm_ms" -> warmMs)
  }
}

object Layers {
  val medallionNames: Seq[String] = Seq("bronze.ms", "bronze.rows_out",
    "bronze.bytes_written", "silver.ms", "silver.rows_out",
    "silver.dedup_dropped", "silver.ts_unparsed", "scd2.ms", "scd2.rows_closed",
    "scd2.rows_inserted", "gold.ms", "gold.rows_out", "mart.ms",
    "catalog.analyze_ms")

  /** (layer, start, end) of each medallion layer write of one op, in
    * order; the first layer starts at `opStartMs`. */
  def layerIntervals(ev: OpEvents, opStartMs: Long): Seq[(String, Long, Long)] = {
    val ends = ev.layerExec.toSeq.flatMap { case (id, layer) =>
      ev.executions.get(id).map(x => layer -> x._2)
    }.sortBy(_._2)
    ends.zip(opStartMs +: ends.map(_._2)).map { case ((l, e), s) => (l, s, e) }.toSeq
  }
}
