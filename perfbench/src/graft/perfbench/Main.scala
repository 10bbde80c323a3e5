package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.core.{Caches, Tables}
import graft.queries.NorthStarQueries

/** JVM side of the curation benchmark (driven by `perfbench/run.py`).
  *
  * One process, one client, closed loop: set up, then run operations
  * back to back until `seconds` have passed. Each operation writes its
  * query results as parquet under `work/out/<op>/<query>` for the DuckDB
  * oracle check that `run.py` makes after this process exits. Timings,
  * counters and (with `trace 1`) spans go to `work/result.json`.
  *
  * Arguments are `key value` pairs: workload, data, work, seconds,
  * trace, cpus, reps, parts, queries (comma list, query_mix only).
  */
object Main {
  final case class Out(query: String, path: String)
  final case class OpRec(i: Int, latency: Double, units: Double,
                         outs: Seq[Out], error: Option[String])

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k -> v }.toMap
    val workload = a("workload")
    val data = a("data")
    val work = Paths.get(a("work")).toAbsolutePath
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val reps = a("reps").toInt
    val parts = a("parts").toInt
    val mix = a.getOrElse("queries", "").split(",").filter(_.nonEmpty).toSeq

    val loadAvg = Files.readString(Paths.get("/proc/loadavg")).trim
    val jvmStart = ProcessHandle.current().info().startInstant().get().toEpochMilli
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.fs.file.impl", classOf[CheckoutLocalFs].getName)
      .config("spark.hadoop.fs.file.impl.disable.cache", "true")
    (Tables.SessionConfigs ++ Tables.HarnessConfigs).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tracer = new Tracer(spark, trace, java.util.UUID.randomUUID.toString.take(8))
    tracer.install()

    val outRoot = work.resolve("out")
    var opSeq = 0
    def release(): Unit = { Caches.releaseAll(); spark.catalog.clearCache() }

    /** Run `df` to completion and keep its rows for the oracle check. */
    def emit(query: String, df: DataFrame): Out = {
      val p = outRoot.resolve(s"$opSeq/$query").toString
      df.write.mode("overwrite").parquet(p)
      Out(query, p)
    }

    // ----------------------------------------------------- operations
    val curateQueries = Seq("q_curate_sink", "q_ifd_full", "q_cluster_select_exact")

    /** One operation on corpus `dir`: returns (outputs, work units);
      * `run.py` counts a curate operation's units in input documents. */
    def operation(dir: String, i: Int): (Seq[Out], Double) = workload match {
      case "curate" =>
        (curateQueries.map(q => tracer.span("queries") { emit(q, SparkEntry.queries(q)(spark, dir)) }), 1.0)
      case "query_mix" =>
        val q = mix(i % mix.size)
        (Seq(tracer.span("queries") { emit(q, SparkEntry.queries(q)(spark, dir)) }), 1.0)
      case "stream_ingest" =>
        val before = tracer.batches.size
        val df = tracer.span("streaming.feed") {
          NorthStarQueries.streamCurateResult(spark, dir, parts)
        }
        val out = tracer.span("streaming.finalize") { emit("q_stream_curate", df) }
        tracer.drain(quietMs = 150L)
        (Seq(out), tracer.batches.drop(before).map(_.rows).sum.toDouble)
    }

    def runOp(dir: String, i: Int): OpRec = {
      opSeq += 1
      val t0 = System.nanoTime()
      val r =
        try {
          val (outs, units) = tracer.span(workload + ".op") { operation(dir, i) }
          OpRec(opSeq, (System.nanoTime() - t0) / 1e9, units, outs, None)
        } catch {
          case e: InterruptedException => throw e
          case e: Throwable =>
            e.printStackTrace()
            OpRec(opSeq, (System.nanoTime() - t0) / 1e9, 0.0, Nil,
              Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)))
        }
      release()
      r
    }

    // ---------------------------------------------------------- set-up
    // Set-up is repeated on fresh copies of the corpus (a new path, so
    // every per-path artifact is rebuilt) and its median goes into
    // setup_s: ingest, plus for the stream workload the persisted v0
    // signature store its micro-batches probe. There is no warm-up: the
    // timed loop starts cold on the last copy, as a job in a fresh
    // driver does, and pays code generation and JIT.
    val setup = (1 to reps).map { r =>
      val d = work.resolve(s"in_$r")
      Files.createDirectories(d)
      Seq("documents.parquet", "embeddings.parquet").foreach { f =>
        Files.createLink(d.resolve(f), Paths.get(data, f).toAbsolutePath)
      }
      val t0 = System.nanoTime()
      tracer.span("core.tables") { Tables.documents(spark, d.toString); Tables.embeddings(spark, d.toString) }
      if (workload == "stream_ingest") tracer.span("streaming.v0_store") { v0Store(spark, d.toString) }
      release()
      (System.nanoTime() - t0) / 1e9
    }
    val dir = work.resolve(s"in_$reps").toString
    val cycle = workload match {
      case "query_mix" => mix.size
      case _           => 1
    }
    tracer.drain()
    val setupSpans = tracer.spans.size

    // ------------------------------------------------------- timed loop
    val steal0 = Host.steal()
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val batches0 = tracer.batches.size
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val ops = mutable.ArrayBuffer[OpRec]()
    // whole cycles only, so every query of a mix weighs the same
    while ((System.nanoTime() - t0) / 1e9 < seconds || ops.size % cycle != 0)
      ops += runOp(dir, ops.size)
    val timed = (System.nanoTime() - t0) / 1e9
    val cpu = (os.getProcessCpuTime - cpu0) / 1e9
    val steal = Host.steal() - steal0
    tracer.drain()

    // ----------------------------------------------------------- report
    val oracle = (ops.flatMap(_.outs.map(_.query)) ++
      (if (workload == "stream_ingest") Seq("q_stream_curate") else Nil)).distinct
      .map(q => q -> SparkEntry.oracleSql(q))
    val batches = tracer.batches.drop(batches0)
    val sb = new StringBuilder("{")
    def field(k: String, v: String): Unit = {
      if (sb.length > 1) sb ++= ","
      sb ++= Json.str(k) ++= ":" ++= v
    }
    field("workload", Json.str(workload))
    field("session_s", Json.num(sessionS))
    field("setup_reps_s", setup.map(Json.num).mkString("[", ",", "]"))
    field("timed_s", Json.num(timed))
    field("cpu_s", Json.num(cpu))
    field("peak_rss_mb", Json.num(Host.peakRssMb()))
    field("peak_pools_mb", Json.num(Host.peakPoolsMb()))
    field("loadavg", Json.str(loadAvg))
    field("steal_s", Json.num(steal))
    field("ops", ops.map { o =>
      val outs = o.outs.map(x => s"""{"query":${Json.str(x.query)},"path":${Json.str(x.path)}}""")
      s"""{"i":${o.i},"latency_s":${Json.num(o.latency)},"units":${Json.num(o.units)},""" +
        s""""outs":${outs.mkString("[", ",", "]")},"error":${o.error.map(Json.str).getOrElse("null")}}"""
    }.mkString("[", ",", "]"))
    field("batches", batches.map { b =>
      val d = b.durations.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:$v" }
      s"""{"rows":${b.rows},"ms":${d.mkString("{", ",", "}")}}"""
    }.mkString("[", ",", "]"))
    field("oracle", oracle.map { case (q, sql) => s"${Json.str(q)}:${Json.str(sql)}" }.mkString("{", ",", "}"))
    if (trace) {
      // Module attribution is a separate pass after the timed loop: the
      // curate job once more, composed stage by stage (`Staged`), so its
      // module spans do not change the program the timed ops run.
      if (workload == "curate") {
        opSeq += 1
        val outs = tracer.span("attribution") { Staged.curate(spark, dir, tracer, emit) }
        release()
        field("attribution", outs.map(x =>
          s"""{"query":${Json.str(x.query)},"path":${Json.str(x.path)}}""").mkString("[", ",", "]"))
        Staged.probe(spark, dir, tracer)
      }
      tracer.drain()
      field("layers", Layers.summarize(tracer, setupSpans, workload + ".op", batches0))
      field("spans", tracer.spans.map(tracer.toJson).mkString("[", ",", "]"))
    }
    sb ++= "}"
    Files.writeString(work.resolve("result.json"), sb.toString)
    spark.stop()
  }
}

/** Build the persisted v0 curate state that `streamCurateResult`
  * probes, for corpus `dir` (built once per corpus path and JVM). The
  * library builds it lazily inside the first stream call; set-up builds
  * it ahead so the timed calls measure ingest, not the store. */
object v0Store {
  private val build = {
    val m = NorthStarQueries.getClass.getDeclaredMethod("curateV0StatePath",
      classOf[SparkSession], classOf[String])
    m.setAccessible(true)
    m
  }
  def apply(spark: SparkSession, dir: String): String =
    build.invoke(NorthStarQueries, spark, dir).asInstanceOf[String]
}

/** Host-noise and memory readings from /proc. */
object Host {
  /** Seconds of CPU steal on the whole host so far. */
  def steal(): Double = {
    val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
    if (cpu.length > 8) cpu(8).toDouble / 100.0 else 0.0
  }

  /** Sum of the peak use of every JVM memory pool, heap and non-heap. */
  def peakPoolsMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .map(_.getPeakUsage.getUsed.toDouble).sum / 1048576.0
  }

  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status"))
      .toArray(Array.empty[String]).find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}
