package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._

/** One benchmark run of an ETL workload in a fresh JVM, as started by
  * run.py. Arguments are `key=value` pairs:
  *
  *   - `config`: the generated config, its output dir left as `${OUT}`;
  *   - `manifest`: the generator's manifest (subjects, input bytes);
  *   - `expected`: the reference's expected packets;
  *   - `work`: working directory of this run (output, Spark local dirs);
  *   - `seconds`: how long the timed loop runs;
  *   - `trace`: 0 for end-to-end metrics, 1 for per-layer metrics;
  *   - `launch_ms`, `gen_s`: when run.py launched the JVM and how long
  *     input generation took, both part of set-up time;
  *   - `result`, `spans`: where to write the result and the spans.
  *
  * The loop is closed with one client: pipeline runs go back to back. The
  * first run in the JVM is timed as `first_run_s` and is the warm-up.
  * Every run starts after the previous output directory was deleted and a
  * full GC, both untimed. Every run's packets are checked
  * against the reference's expected packets, untimed.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.map(_.split("=", 2)).map(kv => kv(0) -> kv(1)).toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val out = work.resolve("out")
    val configPath = work.resolve("config.yaml")
    Files.writeString(configPath,
      Files.readString(Paths.get(a("config"))).replace("${OUT}", out.toString))
    val manifest = new ObjectMapper().readTree(Files.readString(Paths.get(a("manifest"))))
    val subjects = manifest.get("subjects").fields().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
    val oracle = new PacketOracle(Paths.get(a("expected")), subjects)

    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    var attempted = 0L
    var failed = 0L
    def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
    def check(): Unit = {
      attempted += subjects.size
      failed += oracle.failures(out, log)
    }
    def timed(body: => Unit): Double = {
      Etl.deleteTree(out)
      System.gc()
      val t0 = System.nanoTime()
      try body
      catch { case e: Exception => log(s"pipeline run failed: $e") }
      (System.nanoTime() - t0) / 1e9
    }

    val firstRun = timed(Etl.runUntraced(spark, configPath))
    check()
    val setup = (System.currentTimeMillis() - a("launch_ms").toLong) / 1e3 + a("gen_s").toDouble

    val metrics = LinkedHashMap.empty[String, (Double, String)]
    val summary = LinkedHashMap.empty[String, String]
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    val walls = ArrayBuffer.empty[Double]
    if (!traced) {
      do {
        walls += timed(Etl.runUntraced(spark, configPath))
        check()
      } while (elapsed < seconds)
      val wall = median(walls.toSeq)
      metrics("wall_s") = (wall, "s")
      metrics("first_run_s") = (firstRun, "s")
      metrics("packets_per_s") = (subjects.size / wall, "1/s")
      metrics("setup_s") = (setup, "s")
      metrics("peak_rss_mb") = (peakRssMb(), "MB")
    } else {
      val tracer = new Tracer(spark.sparkContext)
      val tracedWalls = ArrayBuffer.empty[Double]
      val perRun = ArrayBuffer.empty[Seq[(String, Double)]]
      var run = 0
      var packets: org.apache.spark.sql.Dataset[graft.collect.Phenopacket] = null
      // One more untimed run, so that the JIT warm-up still going on in the
      // second run in a JVM does not land on the untraced side of the first
      // pair and bias the overhead.
      timed(Etl.runUntraced(spark, configPath))
      check()
      do {
        walls += timed(Etl.runUntraced(spark, configPath))
        check()
        tracedWalls += timed { packets = Etl.runTraced(spark, configPath, tracer, run) }
        tracer.quiesce()
        val (files, bytes) = if (Files.isDirectory(out)) Etl.written(out) else (0L, 0L)
        perRun += layerMetrics(tracer, run, manifest.get("input_bytes").asDouble()) ++
          Seq("load.files_written" -> files.toDouble, "load.bytes_written" -> bytes.toDouble)
        check()
        run += 1
      } while (elapsed < seconds)
      // The same packets through the scale-path sink, for the cost of the
      // one-file-per-packet contract.
      val jsonl = work.resolve("jsonl")
      Etl.deleteTree(jsonl)
      tracer.span("load.jsonl", run)(graft.load.FileSystemLoader.writeJsonl(packets, jsonl.toString))
      tracer.quiesce()
      val jsonlSpan = tracer.all.filter(s => s.name == "load.jsonl").last
      perRun.head.map(_._1).foreach { k =>
        val unit = if (k.endsWith("_s")) "s" else if (k.contains("bytes")) "bytes"
          else if (k.endsWith("_mb")) "MB" else if (k.endsWith("amplification")) "ratio"
          else "count"
        metrics(k) = (median(perRun.map(_.toMap.apply(k)).toSeq), unit)
      }
      metrics("load.jsonl_time_s") = (jsonlSpan.seconds, "s")
      metrics("trace.overhead_frac") = (median(tracedWalls.toSeq) / median(walls.toSeq) - 1, "ratio")
      val layerTimes = Etl.Layers.map(l => l -> metrics(s"$l.time_s")._1)
      summary("dominant_layer") = layerTimes.maxBy(_._2)._1
      summary("dominant_task_layer") =
        Etl.Layers.maxBy(l => metrics(s"$l.task_s")._1)
      summary("untraced_wall_s") = median(walls.toSeq).toString
      summary("traced_wall_s") = median(tracedWalls.toSeq).toString
      Files.writeString(Paths.get(a("spans")), tracer.spansJson)
      tracer.close()
    }
    spark.stop()

    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("correct", failed == 0)
    root.put("attempted", attempted)
    root.put("failed", failed)
    val m = root.putObject("metrics")
    metrics.foreach { case (k, (v, unit)) => m.putObject(k).put("value", v).put("unit", unit) }
    val extra = root.putObject("summary")
    summary.foreach { case (k, v) => extra.put(k, v) }
    val w = extra.putArray("walls_s")
    walls.foreach(x => w.add(x))
    Files.writeString(Paths.get(a("result")), mapper.writeValueAsString(root))
  }

  /** Per-layer metrics of traced pipeline run `run`. A layer's time is
    * its span's duration; layer spans do not nest, so this is each
    * layer's self time with respect to the others.
    */
  private def layerMetrics(tracer: Tracer, run: Int, inputBytes: Double): Seq[(String, Double)] = {
    val spans = tracer.all.filter(_.run == run)
    val root = spans.find(s => s.name == "pipeline").get
    val m = LinkedHashMap.empty[String, Double]
    var covered = 0.0
    Etl.Layers.foreach { l =>
      val s = spans.find(x => x.name == l && x.parent == root.id).get
      val c = tracer.counters(s)
      covered += s.seconds
      m(s"$l.time_s") = s.seconds
      m(s"$l.jobs") = c.jobs.toDouble
      m(s"$l.task_s") = c.taskNs / 1e9
      m(s"$l.input_bytes") = c.inputBytes.toDouble
      m(s"$l.shuffle_bytes") = c.shuffleBytes.toDouble
      m(s"$l.codegen_compiles") = s.compiles.toDouble
      m(s"$l.codegen_fallbacks") = c.codegenFallbacks.toDouble
      if (l == "load") {
        m("load.map_task_s") = c.mapTaskNs / 1e9
        m("load.result_task_s") = c.resultTaskNs / 1e9
      }
    }
    val strategy = spans.find(x => x.name == "strategy" && x.parent == root.id).get
    spans.filter(_.parent == strategy.id).foreach { s =>
      m(s"${s.name}.time_s") = s.seconds
      m(s"${s.name}.jobs") = tracer.counters(s).jobs.toDouble
    }
    val total = tracer.counters(root)
    m("extract.scan_amplification") = total.inputBytes / inputBytes
    m("pipeline.gc_s") = total.gcMs / 1e3
    m("pipeline.spill_bytes") = total.spillBytes.toDouble
    m("pipeline.peak_exec_mem_mb") = total.peakExecMem / 1048576.0
    m("trace.uncovered_s") = root.seconds - covered
    m.toSeq
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The JVM's resident-set high-water mark (`VmHWM`). */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024)
      .getOrElse(Double.NaN)
}
