package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** One benchmark run: a named workload, a seed, a measuring time.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --params workloads.json --work DIR
  *
  * `--trace 0` prints the end-to-end metrics; `--trace 1` runs the loop
  * three times in one session, untraced, traced and untraced again, and
  * prints the per-layer metrics of the traced pass plus the tracing
  * overhead against the untraced ones.
  * The last stdout line is the result object; the line before it carries
  * every per-operation figure with its sample count.
  */
object Main {
  final case class Pass(m: Meter, loopS: Double, warmS: Double)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val all = new ObjectMapper().readTree(new File(a("params")))
    val node = Option(all.get("workloads")).flatMap(w => Option(w.get(name)))
      .getOrElse(throw new IllegalArgumentException(s"unknown workload $name"))
    val params = new Params(node, name)
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionS = sinceStart

    try {
      val out =
        if (traced) perLayer(spark, name, params, seed, seconds, work, cores)
        else {
          // set up several times (the last state drives the loop) and
          // report the median, so one slow set-up does not move setup_s
          val setups = (0 until params.int("setup_reps")).map { i =>
            if (i > 0) rm(s"$work/rep-${i - 1}")
            fresh(spark, name, params, seed, s"$work/rep-$i")
          }
          val w = setups.last._1
          val setupEnd = sinceStart
          val pass = loop(w, seconds, params.int("warmup_steps"), params.int("min_cycles"))
          System.err.println(f"perfbench: s since JVM start: session $sessionS%.1f, " +
            f"set-up $setupEnd%.1f, loop $sinceStart%.1f")
          w.check(pass.m)
          endToEnd(name, seed, w, pass, sessionS, setups.map(_._2))
        }
      println(Json.write(out._1))
      println(Json.write(out._2))
    } finally spark.stop()
  }

  private def sinceStart: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  private def fresh(spark: SparkSession, name: String, p: Params, seed: Long, dir: String): (Workload, Double) = {
    val w = Workload(name, spark, dir, p, seed)
    val t0 = System.nanoTime()
    w.setup()
    (w, (System.nanoTime() - t0) / 1e9)
  }

  /** Warm up for `warmup_steps` calls, then run the closed loop until the
    * deadline has passed, at least `min_cycles` repetitions of the operation
    * mix have run and the mix is back at a cycle boundary; then the closing
    * operation (timed, outside the throughput).
    */
  private def loop(w: Workload, seconds: Double, warmSteps: Int, minCycles: Int,
      onStart: () => Unit = () => ()): Pass = {
    val warm = new Meter
    val tw = System.nanoTime()
    (0 until warmSteps).foreach(_ => w.step(warm))
    val warmS = (System.nanoTime() - tw) / 1e9
    onStart()
    val m = new Meter
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var more = true
    var steps = 0
    while (more && (System.nanoTime() < deadline || steps < minCycles * w.cycleLength ||
        steps % w.cycleLength != 0)) {
      more = w.step(m)
      steps += 1
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    if (!more) System.err.println("perfbench: generated inputs ran out before the deadline")
    w.finish(m)
    m.attempted += warm.attempted
    m.failed += warm.failed
    Pass(m, loopS, warmS)
  }

  private def rm(dir: String): Unit = {
    def go(f: File): Unit = { Option(f.listFiles()).foreach(_.foreach(go)); f.delete() }
    go(new File(dir))
  }

  private def endToEnd(name: String, seed: Long, w: Workload, pass: Pass, sessionS: Double,
      setups: Seq[Double]): (ObjectNode, ObjectNode) = {
    val setupS = sessionS + Stats.median(setups)
    val m = pass.m
    val itemsPerS = m.items / pass.loopS
    val stored = Workload.bytesOnDisk(w.liveFiles).toDouble / math.max(1L, w.liveUserBytes)
    def p50(kind: String) = Stats.median(m.lat.getOrElse(kind, Nil).toSeq)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("items_per_s", itemsPerS, "1/s"),
      ("headline_p50_s", p50(w.headline), "s"),
      ("append_p50_s", p50(w.append), "s"),
      ("secondary_p50_s", p50(w.secondary), "s"),
      ("bytes_stored_per_user_byte", stored, "ratio"))
    val missing = e2e.filter(x => x._2.isNaN || x._2 <= 0)
    missing.foreach(x => System.err.println(s"perfbench: no measurement for ${x._1}"))
    val failed = m.failed + missing.size
    val detail = Json.obj(
      "workload" -> name, "seed" -> seed, "loop_s" -> pass.loopS, "warmup_s" -> pass.warmS,
      "session_s" -> sessionS, "setup_reps_s" -> Json.arr(setups),
      "setup_parts_s" -> Json.obj(w.setupParts.toSeq: _*),
      "error_rate" -> failed.toDouble / math.max(1L, m.attempted),
      "named" -> Json.obj(named(name, w, m, itemsPerS, stored, setupS): _*),
      "calls" -> Json.obj(m.lat.toSeq.map { case (k, v) =>
        k -> Json.obj("n" -> v.size, "p50_s" -> Stats.median(v.toSeq), "p90_s" -> Stats.quantile(v.toSeq, 0.9))
      }: _*))
    (detail, result(failed == 0, m.attempted, failed, e2e))
  }

  /** The per-workload metric names (see README) for this workload, each with its unit
    * and, for a percentile, its sample count.
    */
  private def named(name: String, w: Workload, m: Meter, itemsPerS: Double, stored: Double,
      setupS: Double): Seq[(String, ObjectNode)] = {
    def pct(kind: String, q: Double) = {
      val v = m.lat.getOrElse(kind, Nil).toSeq
      Json.obj("value" -> Stats.quantile(v, q), "unit" -> "s", "n" -> v.size)
    }
    def v(x: Double, unit: String) = Json.obj("value" -> x, "unit" -> unit)
    val common = Seq("setup_s" -> v(setupS, "s"),
      "error_rate" -> v(m.failed.toDouble / math.max(1L, m.attempted), "ratio"))
    common ++ (name match {
      case "ingest_upsert" => Seq(
        "ingest_rows_per_s" -> v(itemsPerS, "1/s"),
        "append_p50_s" -> pct("append", 0.5), "append_p90_s" -> pct("append", 0.9),
        "upsert_p50_s" -> pct("upsert", 0.5), "upsert_p90_s" -> pct("upsert", 0.9),
        "bytes_stored_per_user_byte" -> v(stored, "ratio"))
      case "dedup_pipeline" => Seq(
        "dedup_docs_per_s" -> v(itemsPerS, "1/s"),
        "dedup_batch_p50_s" -> pct("batch", 0.5))
      case _ => Seq(
        "lookup_p50_s" -> pct("lookup", 0.5), "part_lookup_p50_s" -> pct("part_lookup", 0.5),
        "probe_p50_s" -> pct("probe", 0.5), "probe_p90_s" -> pct("probe", 0.9),
        "index_append_p50_s" -> pct("index_append", 0.5))
    }) ++ w.extras.map { case (k, x, u) => k -> v(x, u) }
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  @scala.annotation.nowarn("cat=deprecation")
  private def fsBytesWritten: Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesWritten).sum

  /** Three passes, each on fresh state set up from the seed: untraced,
    * traced, untraced. For the traced pass the listener and the counting
    * filesystem are attached, and spans are on; the untraced passes run
    * without any instrumentation. They sit on both sides of the traced one
    * in the JVM's warm-up, and their mean rate is the reference for the
    * overhead.
    */
  private def perLayer(spark: SparkSession, name: String, p: Params, seed: Long, seconds: Double,
      work: String, cores: Int): (ObjectNode, ObjectNode) = {
    def untraced(dir: String): Pass = {
      val (w, _) = fresh(spark, name, p, seed, dir)
      val pass = loop(w, seconds, p.int("warmup_steps"), p.int("min_cycles"))
      w.check(pass.m)
      rm(dir)
      pass
    }
    val a = untraced(s"$work/untraced-1")
    val sc = spark.sparkContext
    CountingFs.mount(spark)
    Trace.install(sc)
    val (w, _) = fresh(spark, name, p, seed, s"$work/traced")
    var written0 = 0L
    def start(): Unit = {
      Trace.reset()
      heapPools.foreach(_.resetPeakUsage())
      written0 = fsBytesWritten
      Trace.on = true
      CountingFs.counting = true
    }
    val b = try loop(w, seconds, p.int("warmup_steps"), p.int("min_cycles"), () => start())
      finally { Trace.on = false; CountingFs.counting = false }
    val written = fsBytesWritten - written0
    val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum
    PerfbenchBus.drain(sc)
    Trace.uninstall()
    val f = Trace.report()
    val fs = CountingFs.counts
    w.check(b.m)
    b.m.check(fs.values.sum > 0, "the counting filesystem saw no calls in the traced pass")
    val files = w.liveFiles
    val bytesLive = Workload.bytesOnDisk(files).toDouble
    CountingFs.unmount(spark)
    rm(s"$work/traced")
    val a2 = untraced(s"$work/untraced-2")
    def busy(n: String) = f.busyS.getOrElse(n, 0.0)
    def calls(n: String) = f.calls.getOrElse(n, 0L).toDouble
    val repoApis = Seq("extend", "replaceRecords", "replaceGroups", "extendExactlyOnce", "compact")
    val lookedUp = w.lookupSpans.flatMap(f.byName.get).map(_.filesRead).sum
    val t = f.total
    val rateA = (a.m.items / a.loopS + a2.m.items / a2.loopS) / 2
    val rateB = b.m.items / b.loopS
    val layer =
      repoApis.flatMap(x => Seq((s"repo.$x.busy_s", busy(s"repo.$x"), "s"), (s"repo.$x.calls", calls(s"repo.$x"), "count"))) ++
      CountingFs.Kinds.map(k => (s"repo.fs.$k", fs(k).toDouble, "count")) ++
      Seq(("repo.fs.bytes_written", written.toDouble, "bytes"),
        ("repo.files_live", files.size.toDouble, "count"),
        ("repo.bytes_live", bytesLive, "bytes"),
        ("repo.write_amp", if (b.m.userBytes == 0) 0.0 else written.toDouble / b.m.userBytes, "ratio"),
        ("repo.readWhereIn.busy_s", busy("repo.readWhereIn"), "s"),
        ("repo.getPartitionDf.busy_s", busy("repo.getPartitionDf"), "s"),
        ("repo.files_read_per_lookup",
          if (w.lookupFilesPresent == 0) 0.0 else lookedUp.toDouble / w.lookupFilesPresent, "ratio"),
        ("ops.incrExact.busy_s", busy("ops.incrExact"), "s"),
        ("ops.incrNear.busy_s", busy("ops.incrNear"), "s"),
        ("ops.jaccardPairs.busy_s", busy("ops.jaccardPairs"), "s"),
        ("ops.minLabel.busy_s", busy("ops.minLabel"), "s"),
        ("functions.filter.busy_s", busy("functions.filter"), "s"),
        ("ops.ivfIndex.probe.busy_s", busy("ops.ivfIndex.probe"), "s"),
        ("ops.ivfIndex.append.busy_s", busy("ops.ivfIndex.append"), "s"),
        ("spark.jobs", t.jobs.toDouble, "count"),
        ("spark.stages", t.stages.toDouble, "count"),
        ("spark.tasks", t.tasks.toDouble, "count"),
        ("spark.driver_gap_s", f.driverGapS, "s"),
        ("spark.executor_cpu_s", t.cpuNs / 1e9, "s"),
        ("spark.executor_run_s", t.runMs / 1e3, "s"),
        ("spark.gc_s", t.gcMs / 1e3, "s"),
        ("spark.task_slot_util", t.runMs / 1e3 / (b.loopS * cores), "ratio"),
        ("spark.input_bytes", t.inputBytes.toDouble, "bytes"),
        ("spark.shuffle_write_bytes", t.shuffleWrite.toDouble, "bytes"),
        ("spark.shuffle_read_bytes", t.shuffleRead.toDouble, "bytes"),
        ("spark.spill_bytes", t.spill.toDouble, "bytes"),
        ("jvm.heap_peak_bytes", heapPeak.toDouble, "bytes"),
        ("trace.overhead_frac", 1.0 - rateB / rateA, "ratio"),
        ("trace.spans", f.spans.toDouble, "count")) ++
      Layer.defaults(w.layerExtras)
    val failed = a.m.failed + b.m.failed + a2.m.failed
    val attempted = a.m.attempted + b.m.attempted + a2.m.attempted
    val detail = Json.obj("workload" -> name, "seed" -> seed,
      "untraced_items_per_s" -> rateA, "traced_items_per_s" -> rateB,
      "error_rate" -> failed.toDouble / math.max(1L, attempted))
    (detail, result(failed == 0, attempted, failed, layer))
  }

  private def result(ok: Boolean, attempted: Long, failed: Long, ms: Seq[(String, Double, String)]): ObjectNode =
    Json.obj("correct" -> ok, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.obj(ms.map { case (k, v, u) => k -> Json.obj("value" -> v, "unit" -> u) }: _*))
}

/** Per-layer metrics only some workloads produce; the others report 0. */
object Layer {
  private val only = Seq(("functions.filter.kept_frac", "ratio"), ("ops.jaccardPairs.pairs", "count"),
    ("ops.minLabel.rounds", "count"), ("ops.ivfIndex.build_s", "s"))
  def defaults(got: Seq[(String, Double, String)]): Seq[(String, Double, String)] =
    only.map { case (n, u) => got.find(_._1 == n).getOrElse((n, 0.0, u)) }
}

object Stats {
  /** Linear-interpolation quantile (NaN on no samples). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Result and detail lines, encoded by Jackson; a NaN (a percentile with
  * no samples) is written as null.
  */
object Json {
  private val mapper = new ObjectMapper()
  def obj(kv: (String, Any)*): ObjectNode = {
    val n = mapper.createObjectNode()
    kv.foreach {
      case (k, x: Double) => if (x.isNaN || x.isInfinite) n.putNull(k) else n.put(k, x)
      case (k, x: Int)     => n.put(k, x)
      case (k, x: Long)    => n.put(k, x)
      case (k, x: Boolean) => n.put(k, x)
      case (k, x: String)  => n.put(k, x)
      case (k, x: JsonNode) => n.set[JsonNode](k, x)
      case (k, x)          => throw new IllegalArgumentException(s"$k: cannot encode $x")
    }
    n
  }
  def arr(xs: Seq[Double]): JsonNode = { val a = mapper.createArrayNode(); xs.foreach(x => a.add(x)); a }
  def write(n: JsonNode): String = mapper.writeValueAsString(n)
}
