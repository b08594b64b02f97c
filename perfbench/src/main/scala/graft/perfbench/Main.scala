package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** `Main --workload <qa_search|qa_refresh|catalog> --seed <n> --seconds <s>
  * --trace <0|1>`: set up, run the workload, check every output, and print
  * one JSON result as the last line of standard output. `perfbench/run.py`
  * builds the classes and launches this with the JVM settings it needs. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean)

  val Workloads = Seq("qa_search", "qa_refresh", "catalog")

  def parse(args: Seq[String]): Opts = {
    val kv = args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val wl = kv.getOrElse("workload", "")
    require(Workloads.contains(wl), s"--workload must be one of ${Workloads.mkString(", ")}")
    Opts(wl, kv.getOrElse("seed", "1").toLong, kv.getOrElse("seconds", "10").toInt,
      kv.getOrElse("trace", "0") == "1")
  }

  private def json(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def num(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"metric value $x")
    x.toString
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toSeq)
    val work = new File(sys.props("perfbench.work"), o.workload)
    Data.deleteTree(work)
    work.mkdirs()

    val t0 = System.nanoTime()
    val spark = Session.start(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, o.trace)
    val (summary, e2e, layers, ops) =
      try run(o, spark, tracer, work, sessionS)
      finally { tracer.stop(); spark.stop() }

    val failed = ops.count(_.failures.nonEmpty)
    println(summary)
    val metrics = (if (o.trace) layers else e2e)
      .map { case (k, v, u) => s"""${json(k)}:{"value":${num(v)},"unit":${json(u)}}""" }
      .mkString("{", ",", "}")
    println(s"""{"correct":${failed == 0},"attempted":${ops.size},"failed":$failed,"metrics":$metrics}""")
  }

  type Metric = (String, Double, String)

  private def run(o: Opts, spark: org.apache.spark.sql.SparkSession, tracer: Tracer,
                  work: File, sessionS: Double): (String, Seq[Metric], Seq[Metric], Vector[Op]) = {
    val wl = o.workload match {
      case "qa_search" => new Qa(spark, tracer, o.seed, work, refresh = false)
      case "qa_refresh" => new Qa(spark, tracer, o.seed, work, refresh = true)
      case "catalog" => new Catalog(spark, tracer, o.seed, work)
    }
    val setups = (0 until Workload.SetupReps).map { rep =>
      val a = System.nanoTime()
      wl.prepare(rep)
      val b = System.nanoTime()
      if (o.trace && rep == 0) wl.probeSources()
      val c = System.nanoTime()
      wl.warm()
      ((b - a) / 1e9, (System.nanoTime() - c) / 1e9)
    }
    val ticks0 = cpuTicks()
    val ops = wl.measure(o.seconds)
    val ticks1 = cpuTicks()

    // read with the workload, its engine and the session still alive, so
    // memory an engine or Spark's block manager keeps between operations
    // counts
    val heapMb = liveHeapMb()

    def ms(kind: String) = ops.filter(_.kind == kind).map(_.ms)
    val served = ops.filter(_.kind != "refresh")
    val lat = served.map(_.ms)
    val setupS = sessionS + Stats.median(setups.map { case (p, w) => p + w })
    val e2e =
      if (o.workload == "catalog") Seq(
        ("setup_s", setupS, "s"),
        ("suite_s", lat.sum / 1e3, "s"),
        ("query_p50_s", Stats.median(lat) / 1e3, "s"),
        ("heap_retained_mb", heapMb, "MB"))
      else Seq(
        ("setup_s", setupS, "s"),
        ("request_p50_ms", Stats.median(lat), "ms"),
        ("search_p50_ms", Stats.median(ms("search")), "ms"),
        ("heap_retained_mb", heapMb, "MB"))

    val (layers, perKind) =
      if (!o.trace) (Nil, Nil)
      else {
        val docsPerS = wl.probeFunctions()
        if (!ops.exists(_.kind == "refresh")) wl.probeRefresh()
        val (spans, jobs) = tracer.allSpans()
        writeTrace(new File(work.getParentFile, s"trace-${o.workload}-${o.seed}.jsonl"), spans)
        (Layers.metrics(spans, jobs, ops, Session.cores, sessionS, docsPerS),
          Layers.perKind(spans, jobs, ops))
      }

    val tail = Stats.tailPercentile(lat.size)
    val summary = Seq(
      "workload" -> json(o.workload), "seed" -> o.seed.toString,
      "seconds" -> o.seconds.toString, "cores" -> Session.cores.toString,
      "ops" -> ops.size.toString, "request_samples" -> lat.size.toString,
      "tail_percentile" -> tail.fold("null")(p =>
        s"""{"p":${num(p)},"ms":${num(Stats.percentile(lat, p))}}"""),
      "request_p90_ms" -> num(Stats.percentile(lat, 90)),
      "session_start_s" -> num(sessionS),
      "host_steal_share" -> (for ((s0, t0) <- ticks0; (s1, t1) <- ticks1 if t1 > t0)
        yield num((s1 - s0).toDouble / (t1 - t0))).getOrElse("null"),
      "setup_reps_prepare_warm_s" -> setups.map { case (p, w) => s"[${num(p)},${num(w)}]" }
        .mkString("[", ",", "]"),
      "failures" -> ops.filter(_.failures.nonEmpty).take(50).map(f =>
        s"""{"op":${f.id},"kind":${json(f.kind)},"why":${f.failures.take(3).map(json).mkString("[", ",", "]")}}""")
        .mkString("[", ",", "]")
    ) ++ perKind.map { case (k, j, r) =>
      s"per_op:$k" -> s"""{"jobs":${num(j)},"input_rows":${num(r)}}"""
    } ++ (if (o.workload == "catalog") Nil else Seq(
      // too few samples a run to be steady metrics (see README)
      "qa_p50_ms" -> num(Stats.median(ms("qa"))),
      "refresh_s" -> num(Stats.median(ms("refresh")) / 1e3))
    ) ++ wl.summary(ops).map { case (k, v) => k -> json(v) }
    (summary.map { case (k, v) => s"${json(k)}:$v" }.mkString("{\"summary\":{", ",", "}}"),
      e2e, layers, ops)
  }

  /** Used heap in MB after full GCs, repeated until it stops falling: an
    * object that only a finalizer or a reference queue still holds goes
    * in a later collection than the one that finds it unreachable. */
  private def liveHeapMb(): Double = {
    def collect(): Long = {
      System.gc()
      System.runFinalization()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var last = collect()
    var next = collect()
    var rounds = 2
    while (next < last * 0.995 && rounds < 8) { last = next; next = collect(); rounds += 1 }
    next / 1e6
  }

  /** (steal, total) CPU ticks of this machine from `/proc/stat`: how much
    * of the measured loop the host gave to other machines. Linux only. */
  private def cpuTicks(): Option[(Long, Long)] =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (f(7), f.take(8).sum)
    }.toOption

  private def writeTrace(f: File, spans: Seq[Span]): Unit =
    Files.write(f.toPath, spans.sortBy(_.start).map { s =>
      s"""{"op":${s.op},"id":${s.id},"parent":${s.parent},"name":${json(s.name)},"start_ms":${num(s.start)},"end_ms":${num(s.end)}}"""
    }.mkString("", "\n", "\n").getBytes(UTF_8))
}
