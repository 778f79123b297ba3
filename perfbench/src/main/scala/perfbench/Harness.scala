package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchHooks
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.queries.Q

/** Closed-loop benchmark harness: one JVM, `local[nproc]`, one client
  * thread. Sets up (session + untimed warm-up passes), runs timed passes
  * over the workload's queries in a seed-shuffled order until
  * `--seconds` have elapsed, then runs every query once more and writes
  * its result to parquet for the oracle check. Each execution writes
  * every row and column to Spark's `noop` sink. With `--trace 1`, every
  * other pass is traced: spans at each layer boundary, job and task
  * counters. Planning phases are recorded on every pass.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --queries a,b,c [--commit SHA]
  * Writes `result.json` and `spans.jsonl` under `--work`.
  */
object Harness {

  /** Module families: every registered query belongs to exactly one. */
  val families: Map[String, Seq[Seq[Q]]] = {
    import graft.queries._
    Map(
      "star_sql" -> Seq(RefQueries.all, RelOps.all, ExtOps.all, CdcOps.all,
        SeqOps.all, FuncOps.all, PartitionOps.all, TypedOps.all,
        TemporalOps.all),
      "llm_ops" -> Seq(graft.similarity.Similarity.all, graft.dedup.Dedup.all,
        graft.graph.GraphOps.all, graft.text.TextOps.all,
        graft.text.IndexOps.all, graft.multimodal.Multimodal.all),
      "stream_ingest" -> Seq(graft.streaming.StreamOps.all))
  }

  private val cores = Runtime.getRuntime.availableProcessors()

  /** Untimed passes in set-up: the first builds the memos and compiles
    * most code, the second lets the JIT settle before timing starts. */
  private val warmups = 2

  final case class Exec(name: String, ok: Boolean, start: Long, end: Long,
      phases: Map[String, (Long, Long, Long)]) { // layer -> (span id, a, b)
    def ms: Double = (end - start) / 1e6
  }

  final case class Pass(traced: Boolean, id: Long, start: Long, end: Long,
      execs: Seq[Exec], gcMs: Long, codegen: (Long, Double)) {
    def secs: Double = (end - start) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val data = o("data")
    val work = o("work")
    val names = o("queries").split(",").toSeq
    val family = families(workload).flatMap(_.map(_.name)).toSet
    names.foreach(n => require(family(n), s"$n is not a $workload query"))
    val fns = SparkEntry.queries
    val osb = ManagementFactory.getOperatingSystemMXBean
    val load1Start = osb.getSystemLoadAverage
    Seq("local", "warehouse", "scratch", "check")
      .foreach(d => Files.createDirectories(Paths.get(s"$work/$d")))

    val rec = new Recorder
    val spans = new Spans
    var attempted = 0
    val failures = mutable.ArrayBuffer[String]()

    val spark = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.graft.scratchRoot", s"$work/scratch")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s.sparkContext.addSparkListener(rec)
      s.streams.addListener(rec.streams)
      s.listenerManager.register(rec.plans)
      s
    }

    /** Runs one query to completion; spans if traced. */
    def execute(name: String, traced: Boolean, parent: Long): Exec = {
      attempted += 1
      val qid = if (traced) spans.nextId() else 0L
      val phases = mutable.LinkedHashMap[String, (Long, Long, Long)]()
      def phase[T](layer: String)(body: => T): T =
        if (!traced) body
        else {
          val id = spans.nextId()
          spark.sparkContext.setLocalProperty(Recorder.SpanKey, id.toString)
          val a = Clock.now()
          try body
          finally {
            val b = Clock.now()
            spark.sparkContext.setLocalProperty(Recorder.SpanKey, null)
            phases(layer) = (id, a, b)
            spans.add(Span(id, qid, layer, name, a, b))
          }
        }
      val q0 = Clock.now()
      val ok =
        try {
          val df = phase("construct")(fns(name)(spark, data))
          phase("execute")(df.write.format("noop").mode("overwrite").save())
          true
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] $name failed: $e")
            failures += name
            false
        }
      val q1 = Clock.now()
      if (traced) spans.add(Span(qid, parent, "query", name, q0, q1))
      Exec(name, ok, q0, q1, phases.toMap)
    }

    def gcMs(): Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum

    def pass(order: Seq[String], traced: Boolean, parent: Long): Pass = {
      val pid = if (traced) spans.nextId() else 0L
      val g0 = gcMs()
      val c0 = PerfbenchHooks.codegen()
      val a = Clock.now()
      val execs = order.map(execute(_, traced, pid))
      val b = Clock.now()
      val c1 = PerfbenchHooks.codegen()
      if (traced) spans.add(Span(pid, parent, "pass", "timed", a, b))
      Pass(traced, pid, a, b, execs, gcMs() - g0,
        (c1._1 - c0._1, c1._2 - c0._2))
    }

    // ---- set-up: JVM start to the end of the warm-up passes
    val jvmStart =
      ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    val warmupSecs = (1 to warmups).map(_ =>
      pass(names, traced = false, 0L).secs)
    val setupSecs = (Clock.now() - jvmStart) / 1e9
    val memoBuilds = graft.plans.FrameMemo.buildTimes.values.toSeq

    // ---- timed passes (closed loop; traced passes alternate if --trace)
    val rootId = spans.nextId()
    val rnd = new scala.util.Random(seed)
    val minPasses = if (trace) 4 else 2
    val loop0 = Clock.now()
    val passes = mutable.ArrayBuffer[Pass]()
    while (passes.size < minPasses ||
        Clock.now() - loop0 < (seconds * 1e9).toLong) {
      val traced = trace && passes.size % 2 == 1
      rec.tracing = traced
      passes += pass(rnd.shuffle(names), traced, rootId)
    }
    rec.tracing = false
    val loop1 = Clock.now()
    spans.add(Span(rootId, 0L, "workload", workload, loop0, loop1))
    PerfbenchHooks.drain(spark.sparkContext)
    // Spark's ContextCleaner frees the blocks of unreachable RDDs and
    // broadcasts only after a GC has found them, so collect until a
    // collection frees less than 1 %
    def usedMbAfterGc(): Double = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var heapMb = usedMbAfterGc()
    var settled = false
    for (_ <- 1 to 10 if !settled) {
      val next = usedMbAfterGc()
      settled = next > heapMb * 0.99
      heapMb = math.min(heapMb, next)
    }

    // ---- output check: each query once more, result to parquet
    val checkFailed = names.filterNot { n =>
      attempted += 1
      try {
        fns(n)(spark, data).write.mode("overwrite").parquet(s"$work/check/$n")
        true
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] check $n failed: $e")
          false
      }
    }
    failures ++= checkFailed
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.write(Paths.get(s"$work/check/oracle_sql.json"),
      Json(oracle).getBytes(UTF_8))
    spark.stop()

    // ---- end-to-end metrics (untraced passes only)
    val plain = passes.filterNot(_.traced).toSeq
    val lat = plain.flatMap(_.execs.filter(_.ok).map(_.ms))
    val plainBatches = plain.flatMap(p => rec.batchesBetween(p.start, p.end))
      .map(_.trigger.toDouble)
    val e2e = Map(
      "setup_s" -> setupSecs,
      "pass_s" -> Stats.median(plain.map(_.secs)),
      "query_p50_ms" -> Stats.quantile(lat, 0.5),
      "query_p90_ms" -> Stats.quantile(lat, 0.9),
      "retained_heap_mb" -> heapMb)

    val layers = Map(
      "batch_p50_ms" -> Stats.quantile(plainBatches, 0.5),
      "batch_p90_ms" -> Stats.quantile(plainBatches, 0.9),
      "memo_builds" -> memoBuilds.size.toDouble,
      "memo_build_s" -> memoBuilds.sum) ++ (
      if (trace) Layers(passes.filter(_.traced).toSeq, plain.map(_.secs), rec,
        spans, cores)
      else Map.empty)

    val prov = Map(
      "workload" -> workload, "seed" -> seed, "nproc" -> cores,
      "SPARK_GRAFT_CPUS" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
      "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm" -> System.getProperty("java.version"),
      "load1_start" -> load1Start, "load1_end" -> osb.getSystemLoadAverage,
      "commit" -> o.getOrElse("commit", "unknown"),
      "warmup_passes_s" -> warmupSecs, "passes_s" -> passes.map(_.secs),
      "traced_passes" -> passes.count(_.traced),
      "queries" -> names.size, "sample_queries" -> lat.size,
      "sample_batches" -> plainBatches.size)
    val result = Map(
      "metrics" -> e2e, "layers" -> layers,
      "attempted" -> attempted, "failures" -> failures.distinct.toSeq,
      "failed" -> failures.size, "provenance" -> prov,
      "check_dir" -> s"$work/check",
      "per_query_ms" -> plain.flatMap(_.execs).groupBy(_.name)
        .map { case (k, v) => k -> Stats.median(v.map(_.ms)) })
    Files.write(Paths.get(s"$work/result.json"), Json(result).getBytes(UTF_8))
    if (trace) Files.write(Paths.get(s"$work/spans.jsonl"),
      spans.all.map(sp => Json(Map("id" -> sp.id, "parent" -> sp.parent,
        "layer" -> sp.layer, "name" -> sp.name, "start_ns" -> sp.start,
        "end_ns" -> sp.end))).mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => apply(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case x => apply(x.toString)
  }
}
