package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.sql.{Row, SparkSession}
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.GraftSession

/** One op the client completed (or failed): a medallion day or one query
  * of the mix.
  */
final case class Op(unit: Int, name: String, index: Int, seconds: Double,
                    ok: Boolean, err: String)

/** What a workload gives the harness. Construction and `warmup` are set-up;
  * `unit` is one closed-loop unit of timed work (a lifecycle or a pass) and
  * records its ops; `afterUnit` runs outside the timed window (output dumps,
  * traced-run counts); `finish` writes whatever the output checks read.
  */
trait Workload {
  def warmup(): Unit
  def unit(u: Int, spans: Spans, ops: ArrayBuffer[Op], traced: Boolean): Unit
  def afterUnit(u: Int, traced: Boolean, extras: ArrayBuffer[(Int, String, Double)]): Unit = ()
  def finish(out: String): Unit = ()
  def close(): Unit = ()
}

/** The benchmark's JVM side: builds the session the way a user does
  * (`GraftSession.build(local[nproc], nproc)`) once per input copy, each
  * time with fresh state dirs (the last session stays live), warms up once,
  * then runs closed-loop units for the requested seconds and writes every
  * timing, span and dump path to `--out` as JSON. `perfbench/run.py` turns
  * that into metrics and checks.
  *
  * Args: --workload W --inputs DIR[,DIR...] --run-dir D --seconds N
  *       --trace 0|1 --seed S --out FILE
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val inputs = opt("inputs").split(',').toSeq
    val runDir = new File(opt("run-dir")).getAbsolutePath
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val seed = opt("seed").toLong
    val cores = Runtime.getRuntime.availableProcessors()

    val dumpDir = s"$runDir/dump"
    new File(dumpDir).mkdirs()
    val setupS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var w: Workload = null
    inputs.zipWithIndex.foreach { case (in, i) =>
      val startMs =
        if (i == 0) java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
        else System.currentTimeMillis()
      // Every set-up gets fresh state dirs: StateCache resolves
      // java.io.tmpdir per call, the warehouse and local dirs are read when
      // the SparkContext starts.
      val base = s"$runDir/setup$i"
      Seq("tmp", "warehouse", "local").foreach(d => new File(s"$base/$d").mkdirs())
      System.setProperty("java.io.tmpdir", s"$base/tmp")
      System.setProperty("spark.sql.warehouse.dir", s"$base/warehouse")
      System.setProperty("spark.local.dir", s"$base/local")
      spark = GraftSession.build(s"local[$cores]", cores, "perfbench")
      spark.sparkContext.setLogLevel("ERROR")
      w = workload match {
        case "medallion_daily" => new MedallionDaily(spark, in, s"$base/work", dumpDir)
        case "query_mix"       => new QueryMix(spark, in, s"$base/work", seed)
        case other => sys.error(s"unknown workload $other")
      }
      setupS += (System.currentTimeMillis() - startMs) / 1e3
      if (i < inputs.size - 1) {
        w.close()
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }

    // The warm-up runs once, on the live session: JIT, codegen, and any
    // persisted state or index the workload builds on first use.
    val warm0 = System.nanoTime()
    w.warmup()
    spark.catalog.clearCache()
    val warmupS = (System.nanoTime() - warm0) / 1e9

    val sc = spark.sparkContext
    val spans = new Spans(sc)
    val listener = new JobListener
    val ops = ArrayBuffer.empty[Op]
    val units = ArrayBuffer.empty[(Int, Boolean, Double, Double, Double)]
    val spanStats = ArrayBuffer.empty[(Int, Derive.SpanStats)]
    val extras = ArrayBuffer.empty[(Int, String, Double)]
    var timed = 0.0
    var u = 0
    val stat0 = hostCpu()
    // In a trace run every unit is traced. The tracing overhead is the
    // client-thread time tracing adds (draining the listener bus, deriving
    // span measures, and any counts a workload takes for its extras); an
    // untraced reference unit would differ from a traced one by JIT warmth
    // more than by tracing.
    while (u == 0 || timed < seconds) {
      val traced = trace
      if (traced) { listener.clear(); sc.addSparkListener(listener) }
      val first = spans.all.size
      val unitCpu0 = processCpuS()
      val unitJit0 = jitCpuS()
      val (_, root) = spans("unit", u)(w.unit(u, spans, ops, traced))
      val unitJitS = jitCpuS() - unitJit0
      val unitCpuS = processCpuS() - unitCpu0 - unitJitS
      if (traced) {
        val t0 = System.nanoTime()
        ListenerDrain(sc)
        sc.removeSparkListener(listener)
        Derive(spans.all.drop(first).toSeq, listener).foreach(s => spanStats += ((u, s)))
        extras += ((u, "trace.overhead_s", (System.nanoTime() - t0) / 1e9))
      }
      timed += root.seconds
      units += ((u, traced, root.seconds, unitCpuS, unitJitS))
      w.afterUnit(u, traced, extras)
      spark.catalog.clearCache()
      u += 1
    }

    val stat1 = hostCpu()
    val stealShare = {
      val d = stat1.zip(stat0).map { case (a, b) => a - b }
      if (d.sum > 0) d.lift(7).getOrElse(0L).toDouble / d.sum else 0.0
    }
    w.finish(dumpDir)

    val result =
      ("workload" -> workload) ~ ("cores" -> cores) ~ ("setup_s" -> setupS.toList) ~
      ("warmup_s" -> warmupS) ~ ("timed_wall_s" -> timed) ~
      ("peak_rss_mb" -> peakRssMb()) ~ ("host_steal_share" -> stealShare) ~
      ("dump" -> dumpDir) ~
      ("units" -> units.toList.map { case (n, t, s, c, j) =>
        ("unit" -> n) ~ ("traced" -> t) ~ ("wall_s" -> s) ~ ("cpu_s" -> c) ~
          ("jit_cpu_s" -> j) }) ~
      ("ops" -> ops.toList.map(o =>
        ("unit" -> o.unit) ~ ("name" -> o.name) ~ ("index" -> o.index) ~
          ("s" -> o.seconds) ~ ("ok" -> o.ok) ~ ("err" -> o.err))) ~
      ("spans" -> spanStats.toList.map { case (n, s) =>
        ("unit" -> n) ~ ("id" -> s.span.id) ~ ("parent" -> s.span.parent) ~
          ("name" -> s.span.name) ~ ("start_ms" -> s.span.startMs) ~
          ("end_ms" -> s.span.endMs) ~ ("s" -> s.span.seconds) ~ ("jobs" -> s.jobs) ~
          ("driver_s" -> s.driverS) ~ ("self_s" -> s.selfS) ~
          ("tasks" -> s.counts.tasks) ~ ("exec_cpu_s" -> s.counts.cpuNs / 1e9) ~
          ("gc_s" -> s.counts.gcMs / 1e3) ~ ("input_bytes" -> s.counts.inputBytes) ~
          ("shuffle_bytes" -> s.counts.shuffleBytes) }) ~
      ("extras" -> extras.toList.map { case (n, k, v) =>
        ("unit" -> n) ~ ("name" -> k) ~ ("value" -> v) })
    writeJson(opt("out"), result)
    w.close()
    spark.stop()
  }

  /** JVM high-water resident set size, from the kernel's own accounting. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  /** CPU seconds this JVM has used, all threads (task, driver, JIT, GC). */
  private def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** CPU seconds HotSpot's JIT compiler threads have used, from the
    * kernel's per-thread accounting. The JVM runs with
    * -XX:-UseDynamicNumberOfCompilerThreads, so no compiler thread exits
    * and takes its count with it.
    */
  private def jitCpuS(): Double =
    Option(new File("/proc/self/task").listFiles()).getOrElse(Array.empty[File]).map { t =>
      scala.util.Try {
        val comm = new String(Files.readAllBytes(Paths.get(s"$t/comm")), UTF_8)
        if (!comm.contains("CompilerThre")) 0.0
        else {
          val stat = new String(Files.readAllBytes(Paths.get(s"$t/stat")), UTF_8)
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) / 100.0 // utime + stime, in USER_HZ ticks
        }
      }.getOrElse(0.0)
    }.sum

  /** The host's aggregate CPU jiffies (user, nice, system, idle, iowait,
    * irq, softirq, steal, ...), for the share stolen during the timed window.
    */
  private def hostCpu(): Seq[Long] =
    scala.util.Try(scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+").drop(1).map(_.toLong).toSeq).getOrElse(Seq.empty)

  /** Times one op; a throw is a failed op, never a fast one. */
  def timeOp(ops: ArrayBuffer[Op], u: Int, name: String, index: Int)
            (body: => Unit): Boolean = {
    val t0 = System.nanoTime()
    val err = try { body; "" } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name#$index failed: $e")
        val m = String.valueOf(e.getMessage)
        e.getClass.getSimpleName + ": " + m.take(300)
    }
    ops += Op(u, name, index, (System.nanoTime() - t0) / 1e9, err.isEmpty, err)
    err.isEmpty
  }

  def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def writeJson(path: String, v: JValue): Unit =
    Files.write(Paths.get(path), compact(render(v)).getBytes(UTF_8))

  /** A collected row as a JSON array of its values. */
  def rowJson(r: Row): JValue = Extraction.decompose(r.toSeq)(DefaultFormats)

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }
  }
}
