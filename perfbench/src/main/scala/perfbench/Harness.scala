package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Caching, SparkEntry}

/** One benchmark run in one JVM: build the session, warm the workload's
  * queries up (on a small input, then on the full one, writing each
  * query's result once for the oracle check), then time whole passes over
  * the query pool on the full input until `--seconds` have elapsed. The
  * engine is driven only through its public surface:
  * `SparkEntry.queries(name)(spark, dir)`, a `noop` sink write, and
  * `Caching.releaseAll()` + `clearCache()` between ops. One closed-loop
  * client: each op starts after the previous ended.
  *
  * With `--trace 1` the passes alternate: every second pass runs with the
  * listeners of [[Trace]] registered, and the per-layer numbers come from
  * those passes only. The untraced passes in between are the baseline of
  * the tracing overhead, taken over the same stretch of the run.
  *
  * Prints one line `PERFBENCH <json>` with the raw measurements; run.py
  * turns them into metrics. */
object Harness {
  final case class Op(name: String, wallS: Double, ok: Boolean,
                      traced: Boolean)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val pool = opt("pool").split(",").toSeq
    val cpus = opt("cpus").toInt
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val data = opt("data")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", opt("scratch"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def sinceJvmStart() = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val sessionS = sinceJvmStart()
    val known = SparkEntry.queries
    val fns = pool.map(n => n -> known.getOrElse(n,
      throw new IllegalArgumentException(s"unknown query $n")))

    def release(): Double = {
      val t = System.nanoTime()
      Caching.releaseAll()
      spark.catalog.clearCache()
      (System.nanoTime() - t) / 1e9
    }
    val noop = (df: DataFrame) => df.write.format("noop").mode("overwrite").save()
    // returns (wall s, time inside the builder call s, ok)
    def runOp(name: String, fn: (SparkSession, String) => DataFrame,
              dir: String, sink: DataFrame => Unit = noop)
      : (Double, Double, Boolean) = {
      val t0 = System.nanoTime()
      var built = t0
      val ok = try {
        val df = fn(spark, dir)
        built = System.nanoTime()
        sink(df)
        true
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        false
      }
      val t1 = System.nanoTime()
      ((t1 - t0) / 1e9, (built - t0) / 1e9, ok)
    }

    // untimed warm-up: passes on the warm-up input for lazy initialisation,
    // codegen and the JIT, then two on the full input so its reader memo
    // and the JIT profile match what the timed ops run on. The first
    // full-input pass writes each query's result once, for the output
    // check; the second runs the timed ops' noop write.
    def warmPass(dir: String): Unit =
      fns.foreach { case (n, fn) => runOp(n, fn, dir); release() }
    Seq.fill(opt("warm-passes").toInt)(opt("warm")).foreach(warmPass)
    val out = opt("out")
    Files.createDirectories(Paths.get(out))
    val written = fns.map { case (n, fn) =>
      val (_, _, ok) = runOp(n, fn, data,
        _.coalesce(1).write.mode("overwrite").parquet(s"$out/$n"))
      release()
      n -> ok
    }.toMap
    val oracles = SparkEntry.oracleSql.filter { case (n, _) => pool.contains(n) }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      oracles.map { case (k, v) => s"${json(k)}:${json(v)}" }
        .mkString("{", ",", "}"))
    warmPass(data)
    val setupS = sinceJvmStart()

    val rng = new scala.util.Random(opt("seed").toLong)
    val cpuBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    val trace = new Trace
    val layerRows = mutable.ArrayBuffer.empty[Map[String, Double]]
    val spans = mutable.ArrayBuffer.empty[Span]
    def drainBus(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    def attach(on: Boolean): Unit = if (on) {
      spark.sparkContext.addSparkListener(trace.sparkListener)
      spark.listenerManager.register(trace.executionListener)
      spark.streams.addListener(trace.streamingListener)
    } else {
      spark.sparkContext.removeSparkListener(trace.sparkListener)
      spark.listenerManager.unregister(trace.executionListener)
      spark.streams.removeListener(trace.streamingListener)
    }

    // timed: whole passes in seeded order until `seconds` have elapsed.
    // With tracing, every odd pass runs with the listeners attached (at
    // least one pass of each kind), and after each of its ops the bus is
    // drained so the op's spans are complete (outside the op's interval)
    val ops = mutable.ArrayBuffer.empty[Op]
    val cpu0 = cpuBean.getProcessCpuTime
    val t0 = System.nanoTime()
    var pass = 0
    val minPasses = if (traced) 2 else 1
    while (pass < minPasses || System.nanoTime() - t0 < seconds * 1e9) {
      val tracing = traced && pass % 2 == 1
      if (tracing) {
        attach(true)
        drainBus()
        trace.take()
        trace.begin(ops.size)
      }
      rng.shuffle(fns).foreach { case (n, fn) =>
        val id = ops.size
        spark.sparkContext.setLocalProperty("perfbench.op", id.toString)
        val startMs = System.currentTimeMillis()
        val (wall, build, ok) = runOp(n, fn, data)
        val endMs = System.currentTimeMillis()
        spark.sparkContext.setLocalProperty("perfbench.op", null)
        ops += Op(n, wall, ok, tracing)
        val rel = release()
        if (tracing) {
          drainBus()
          val (opSpans, counters) = trace.take()
          spans += Span(id, "op", s"op$id", "", startMs, endMs,
            Map("build_s" -> build))
          spans ++= opSpans
          layerRows += Trace.layers(startMs, endMs, build, rel, opSpans,
            counters, cpus)
          trace.begin(id + 1)
        }
      }
      if (tracing) attach(false)
      pass += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuS = (cpuBean.getProcessCpuTime - cpu0) / 1e9
    if (traced) writeSpans(opt("spans"), spans.toSeq)

    val rssMb = vmHwmMb()
    val opsJson = ops.map(o => s"""{"q":${json(o.name)},"s":${o.wallS},""" +
      s""""ok":${o.ok},"traced":${o.traced}}""").mkString("[", ",", "]")
    val layersJson = layerRows.map(_.map { case (k, v) => s"${json(k)}:$v" }
      .mkString("{", ",", "}")).mkString("[", ",", "]")
    println(s"""PERFBENCH {"setup_s":$setupS,"wall_s":$wallS,"cpu_s":$cpuS,""" +
      s""""session_s":$sessionS,""" +
      s""""peak_rss_mb":$rssMb,"ops":$opsJson,"layers":$layersJson,""" +
      s""""written":${written.map { case (k, v) => s"${json(k)}:$v" }
        .mkString("{", ",", "}")}}""")
    spark.stop()
  }

  /** The process's peak resident set (VmHWM) in MB. */
  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  private def writeSpans(path: String, spans: Seq[Span]): Unit =
    Files.writeString(Paths.get(path), spans.map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${json(k)}:$v" }
        .mkString("{", ",", "}")
      s"""{"op":${s.op},"kind":${json(s.kind)},"id":${json(s.id)},""" +
        s""""parent":${json(s.parent)},"start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"attrs":$attrs}"""
    }.mkString("", "\n", "\n"))

  /** JSON string literal: quotes, backslashes and control characters
    * escaped. */
  private def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
