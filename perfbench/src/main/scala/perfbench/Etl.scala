package perfbench

import graft.clean.Preprocessor
import graft.collect.{Assembler, AssemblerConfig, Facts, Phenopacket}
import graft.config.{ConfigLoader, ConfigRunner}
import graft.load.FileSystemLoader
import graft.ontology.HgvsResolver
import org.apache.spark.sql.{Dataset, SparkSession}

import java.nio.file.{Files, Path}

/** The ETL pipeline driven two ways from its public entry points:
  * untraced through `ConfigRunner.run`, and traced through the per-layer
  * calls that `ConfigRunner.run` and `Pipeline.transform` compose, each
  * wrapped in a span named after its module.
  */
object Etl {
  val Layers = Seq("config", "extract", "clean", "strategy", "collect", "load")

  def runUntraced(spark: SparkSession, configPath: Path): Unit =
    ConfigRunner.run(spark, configPath.toString)

  /** Same work as `ConfigRunner.run`, one span per layer and one per
    * configured strategy (`strategy.<pos>_<name>`). Returns the packets
    * so that the caller can time another sink on them.
    */
  def runTraced(spark: SparkSession, configPath: Path, tracer: Tracer, run: Int)
      : Dataset[Phenopacket] = tracer.span("pipeline", run) {
    val (cfg, library, hgvs, strategies, assembler, resolver) = tracer.span("config", run) {
      val cfg = ConfigLoader.load(configPath.toString)
      val library = ConfigRunner.buildLibrary(cfg)
      val hgvs = cfg.hgvsCache.map(HgvsResolver.load).getOrElse(HgvsResolver.empty)
      val strategies = cfg.strategies.zipWithIndex.map { case (spec, i) =>
        s"${i + 1}_${spec.name.trim.toLowerCase}" -> ConfigRunner.strategyFor(spec, library)
      }
      val assembler = AssemblerConfig(
        cohort = cfg.metaData.cohortName,
        created = java.time.Instant.now().toString.replaceAll("\\.\\d+Z$", "Z"),
        createdBy = cfg.metaData.createdBy,
        submittedBy = cfg.metaData.submittedBy.getOrElse(""))
      (cfg, library, hgvs, strategies, assembler, ConfigRunner.buildResolver(cfg, library))
    }
    val tables = tracer.span("extract", run)(ConfigRunner.extractAll(spark, cfg))
    val cleaned = tracer.span("clean", run)(tables.map(Preprocessor.process))
    val transformed = tracer.span("strategy", run) {
      strategies.foldLeft(cleaned) { case (ts, (name, strategy)) =>
        tracer.span(s"strategy.$name", run) {
          if (strategy.isValid(ts)) strategy.transform(ts) else ts
        }
      }
    }
    val packets = tracer.span("collect", run) {
      Assembler.assemble(Facts.extractAll(transformed), library, assembler, hgvs, resolver)
    }
    val out = cfg.loader.getOrElse(
      throw new IllegalArgumentException("config has no file_system loader"))
    tracer.span("load", run)(FileSystemLoader.load(packets, out.outputDir, out.createDir))
    packets
  }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val paths = Files.walk(dir)
      try paths.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally paths.close()
    }

  /** (files, bytes) under `dir`. */
  def written(dir: Path): (Long, Long) = {
    val paths = Files.list(dir)
    try {
      val sizes = paths.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).toArray
      (sizes.length.toLong, sizes.sum)
    } finally paths.close()
  }
}
