package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.{EtlSession, SparkEntry, Tables}
import graft.pipeline.{PipelineRunner, PipelineSpec}
import graft.streaming.StreamingRunner

/** In-process benchmark driver, started by `perfbench/run.py`.
  *
  *   perfbench.Main --kind analytics|landing --data DIR --work DIR
  *     --records FILE --rounds R --cores N --trace 0|1 [--queries a,b,...]
  *
  * Every figure goes to `--records` as one JSON object per line: the
  * set-up, each operation (query, load, micro-batch), each round, and the
  * end of the run. Set-up, operations and rounds carry wall seconds and the
  * JVM's CPU seconds (`Cpu`). A round is one pass over the workload's
  * operations; `--rounds` of them run, the first in a cold JVM. Each
  * query lands its result as parquet under `WORK/out/<query>`, as a feed's
  * query would; the checks read the last round's files after the JVM exits.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val kind = a("kind")
    val data = a("data")
    val cores = a("cores").toInt
    val traced = a.get("trace").contains("1")
    val rec = new Records(Paths.get(a("records")))

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val spark = EtlSession.create(s"local[$cores]", cores, "perfbench")
    val createS = secs(t0)
    val t1 = System.nanoTime()
    if (kind == "analytics") Tables.register(spark, data)
    val registerS = secs(t1)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    rec.write("setup", "setup_s" -> setupS, "setup_cpu_s" -> Cpu.snap().totalNs / 1e9,
      "create_s" -> createS, "register_s" -> registerS)
    System.err.println("perfbench: setup done")

    val trace = if (traced) Some(new Trace(spark)) else None
    val work = Paths.get(a("work"))
    val byName = SparkEntry.corpus.map(q => q.name -> q).toMap
    val qs = a.get("queries").toSeq.flatMap(_.split(",")).map(n => byName.getOrElse(n,
      throw new IllegalArgumentException(s"no corpus query $n")))
    val out = work.resolve("out")
    val runner: Int => Unit = kind match {
      case "analytics" =>
        round => qs.foreach { q =>
          rec.op("query", round, q.name, trace) {
            val tb = System.nanoTime()
            val jobs0 = trace.map(_.jobs)
            val df = q.fn(spark, data)
            val build = Seq("build_s" -> secs(tb)) ++
              trace.map(t => "build_jobs" -> (t.jobs - jobs0.get))
            df.write.mode("overwrite").parquet(out.resolve(q.name).toString)
            build
          }
        }
      case "landing" => new Landing(spark, Paths.get(data), work, rec, trace).round
    }

    for (round <- 0 until a("rounds").toInt) {
      val before = trace.map(_.snapshot())
      val tr = System.nanoTime()
      val cr = Cpu.snap()
      val classes = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      runner(round)
      val wall = secs(tr)
      rec.write("round", Seq("round" -> round, "wall_s" -> wall,
        "compiled_classes" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes)) ++
        Cpu.diff(cr, Cpu.snap()) ++
        before.toSeq.flatMap(b => Trace.diff(b, trace.get.snapshot()).toSeq): _*)
    }

    qs.foreach(q => rec.write("oracle", "name" -> q.name, "sql" -> q.oracle.orNull))
    // live heap once the workload is done, untimed: a full collection lets
    // the ContextCleaner drop unreferenced broadcasts and shuffles, then a
    // second one frees what it released
    System.gc(); Thread.sleep(2000); System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    rec.write("end", "peak_rss_mb" -> peakRssMb(), "retained_heap_mb" -> heap.getUsed / 1048576.0)
    rec.close()
    spark.stop()
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The JVM's own high-water resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = scala.io.Source.fromFile("/proc/self/status")
    .getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toDouble / 1024.0 }.getOrElse(-1.0)
}

/** CPU time of this JVM: the process total, read through the JVM, and the
  * part of it spent by the JIT compiler threads and by the garbage
  * collector's threads, read per thread from /proc (1/100 s ticks). A busy
  * host stretches CPU time far less than wall time (perfbench/README.md). */
object Cpu {
  final case class Snap(totalNs: Long, threads: Map[String, (String, Long)])

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def kind(comm: String): String =
    if (comm.contains("CompilerThre")) "jit"
    else if (comm.startsWith("GC Thread") || comm.startsWith("G1 ")) "gc"
    else "app"

  def snap(): Snap = Snap(os.getProcessCpuTime,
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten.flatMap { t =>
      try {
        val st = new String(Files.readAllBytes(t.toPath.resolve("stat")))
        val comm = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
        val f = st.substring(st.lastIndexOf(')') + 2).split(" ")
        Some(t.getName -> (kind(comm), f(11).toLong + f(12).toLong)) // utime + stime
      } catch { case _: java.io.IOException => None } // the thread ended
    }.toMap)

  /** CPU seconds between two snapshots: all threads, JIT threads, GC threads. */
  def diff(a: Snap, b: Snap): Seq[(String, Double)] = {
    def of(k: String) = b.threads.collect { case (tid, (`k`, t)) =>
      t - a.threads.get(tid).map(_._2).getOrElse(0L) }.sum / 100.0
    Seq("cpu_s" -> (b.totalNs - a.totalNs) / 1e9, "jit_cpu_s" -> of("jit"), "gc_cpu_s" -> of("gc"))
  }
}

/** The incremental-landing round: K batches of upsert, cdc and rollup feeds
  * through `PipelineRunner.runFile`, then one `StreamingRunner` drain, each
  * round against fresh copies of the generated standing tables. */
final class Landing(spark: SparkSession, in: Path, work: Path, rec: Records,
                    trace: Option[Trace]) {
  private val k = {
    val s = new String(Files.readAllBytes(in.resolve("shape.json")))
    """"k":\s*(\d+)""".r.findFirstMatchIn(s).get.group(1).toInt
  }
  private val modes = Seq("upsert", "cdc", "rollup")

  def round(r: Int): Unit = {
    val dir = work.resolve(s"round$r")
    if (r > 0) deleteTree(work.resolve(s"round${r - 1}"))
    modes.foreach { m =>
      Files.createDirectories(dir.resolve(m))
      Files.copy(in.resolve(s"standing/$m.parquet"),
        dir.resolve(s"$m/part-00000.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    for (b <- 1 to k; m <- modes) {
      val spec = in.resolve(s"${m}_feed.json").toString
      val params = Map("batch" -> b.toString,
        "delta" -> in.resolve(s"delta/${m}_$b.parquet").toString,
        "target" -> dir.resolve(m).toString)
      rec.op("load", r, s"$m/$b", trace) {
        val parse = trace.map { _ =>
          val tp = System.nanoTime()
          PipelineSpec.fromJson(PipelineSpec.substitute(
            new String(Files.readAllBytes(Paths.get(spec)), "UTF-8"), params))
          "parse_s" -> Main.secs(tp)
        }
        val rep = PipelineRunner.runFile(spark, spec, params).loads.head
        val listing = Files.list(dir.resolve(m))
        val files = try listing.toArray.count(_.toString.endsWith(".parquet"))
                    finally listing.close()
        Seq("mode" -> m, "batch" -> b, "rows" -> rep.rows, "attempts" -> rep.attempts,
          "status" -> rep.status, "delta_bytes" -> Files.size(Paths.get(params("delta"))),
          "files" -> files) ++ parse.toSeq
      }
    }
    val before = trace.map(_.progress.size)
    val td = System.nanoTime()
    val text = PipelineSpec.substitute(
      new String(Files.readAllBytes(in.resolve("stream_feed.json")), "UTF-8"),
      Map("events" -> in.resolve("stream").toString, "sink" -> dir.resolve("sink").toString))
    val progress: Seq[StreamingQueryProgress] =
      try {
        val q = StreamingRunner.runJson(spark, text)
        q.recentProgress.toSeq
      } catch { case e: Exception =>
        rec.write("op", "type" -> "micro-batch", "round" -> r, "name" -> "drain",
          "ok" -> false, "error" -> String.valueOf(e.getMessage))
        Nil
      }
    val drainS = Main.secs(td)
    trace.foreach(t => org.apache.spark.perfbench.BusDrain(spark.sparkContext))
    val traced = trace.map(_.progress.toArray(Array.empty[StreamingQueryProgress]).drop(before.get))
    traced.getOrElse(progress.toArray).foreach { p =>
      def d(key: String): Double =
        Option(p.durationMs.get(key)).map(_.longValue / 1000.0).getOrElse(0.0)
      rec.write("op", "type" -> "micro-batch", "round" -> r, "name" -> s"batch${p.batchId}",
        "ok" -> true, "input_rows" -> p.numInputRows,
        "wall_s" -> d("triggerExecution"), "add_batch_s" -> d("addBatch"),
        "planning_s" -> d("queryPlanning"),
        "commit_s" -> (d("walCommit") + d("commitOffsets")),
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum)
    }
    rec.write("drain", "round" -> r, "wall_s" -> drainS,
      "sink" -> dir.resolve("sink/data").toString,
      "upsert" -> dir.resolve("upsert").toString, "cdc" -> dir.resolve("cdc").toString,
      "rollup" -> dir.resolve("rollup").toString)
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }
}

/** JSON-lines writer for the run's records. */
final class Records(path: Path) {
  private val w = Files.newBufferedWriter(path)

  private def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case other => json(other.toString)
  }

  def write(kind: String, kv: (String, Any)*): Unit = synchronized {
    w.write((("kind" -> kind) +: kv).map { case (k, v) => json(k) + ":" + json(v) }
      .mkString("{", ",", "}\n"))
    w.flush()
  }

  /** Time one operation; a failure is recorded and the run goes on. */
  def op(tpe: String, round: Int, name: String, trace: Option[Trace])(
      body: => Seq[(String, Any)]): Unit = {
    val before = trace.map(_.snapshot())
    val t0 = System.nanoTime()
    val c0 = Cpu.snap()
    val (ok, extra, err) =
      try { val e = body; (true, e, null) }
      catch { case e: Exception => (false, Nil, String.valueOf(e.getMessage)) }
    val wall = Main.secs(t0)
    val cpu = Cpu.diff(c0, Cpu.snap())
    val layers = before.toSeq.flatMap(b => Trace.diff(b, trace.get.snapshot()).toSeq)
    write("op", Seq("type" -> tpe, "round" -> round, "name" -> name, "ok" -> ok,
      "wall_s" -> wall, "error" -> err) ++ cpu ++ extra ++ layers: _*)
  }

  def close(): Unit = w.close()
}
