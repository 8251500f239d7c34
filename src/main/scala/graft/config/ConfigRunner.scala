package graft.config

import graft.Pipeline
import graft.collect.AssemblerConfig
import graft.extract.{CsvSource, CsvSourceConfig, ExcelSheetConfig, ExcelSource}
import graft.model.Cdf
import graft.ontology.{BiDict, BiDictLibrary, HgvsResolver, Resource}
import graft.strategy._
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Entry point 3.1 — config-driven execution: parse → bind → run
  * (reference `Phenoxtract::try_from(config).run()`,
  * `phenoxtract/src/phenoxtract.rs:5-16`).
  *
  * Resource binding diverges deliberately from the reference's REST
  * clients (LOINC/BioPortal/HGNC/VariantValidator — zero-egress here,
  * and SURVEY.md §3.4 recommends pre-resolved broadcast dictionaries
  * for determinism): each resource may name a local `terms_file` CSV
  * (`id,label,synonyms` with `|`-separated synonyms) that becomes a
  * broadcast BiDict; `pipeline.hgvs_cache` names the offline HGVS
  * resolution cache (the analog of the reference's CachedHGVSClient
  * disk cache).
  */
object ConfigRunner {

  def run(spark: SparkSession, configPath: String): Unit = {
    val cfg = ConfigLoader.load(configPath)
    val library = buildLibrary(cfg)
    val hgvs = cfg.hgvsCache.map(HgvsResolver.load).getOrElse(HgvsResolver.empty)
    val tables = extractAll(spark, cfg)
    val pipeline = Pipeline(
      strategies = cfg.strategies.map(strategyFor(_, library)),
      library = library,
      assembler = AssemblerConfig(
        cohort = cfg.metaData.cohortName,
        created = java.time.Instant.now().toString.replaceAll("\\.\\d+Z$", "Z"),
        createdBy = cfg.metaData.createdBy,
        submittedBy = cfg.metaData.submittedBy.getOrElse("")),
      hgvs = hgvs,
      resolver = buildResolver(cfg, library))
    val out = cfg.loader.getOrElse(
      throw new IllegalArgumentException("config has no file_system loader"))
    graft.load.FileSystemLoader.load(pipeline.transform(tables), out.outputDir, out.createDir)
  }

  def extractAll(spark: SparkSession, cfg: ConfigLoader.GraftConfig): Seq[Cdf] = {
    // Reassemble the config's single ordered data_sources list: fact
    // provenance sorts by data-source registration order (Facts.scala),
    // so a csvs-then-excels concat would silently reorder packet
    // contents for mixed-type configs relative to the configured (and
    // reference) order.
    val csvs = cfg.csvSources.map { s =>
      s.ordinal -> Seq(CsvSource.extract(spark, CsvSourceConfig(
        s.source, s.tableContext, s.separator, s.hasHeaders, s.patientsAreRows)))
    }
    val excels = cfg.excelSources.map { e =>
      e.ordinal -> ExcelSource.extract(spark, e.source, e.sheets.map(sh =>
        ExcelSheetConfig(sh.sheetName, sh.tableContext, sh.hasHeaders, sh.patientsAreRows)))
    }
    (csvs ++ excels).sortBy(_._1).flatMap(_._2)
  }

  def buildLibrary(cfg: ConfigLoader.GraftConfig): BiDictLibrary =
    BiDictLibrary(
      cfg.metaData.resources.map { r =>
        val resource = Resource(r.id, r.name, r.url, r.version, r.namespacePrefix, r.iriPrefix)
        r.termsFile match {
          case Some(path) => BiDict.fromEntries(resource, loadTerms(path))
          case None       => BiDict.fromEntries(resource, Seq.empty)
        }
      },
      cfg.metaData.scopes)

  /** The `pipeline.resolver` opt-in (absent = offline dictionaries,
    * the deterministic default): reflectively load the named
    * [[graft.ontology.TermResolver]] and stack it offline-first behind
    * a per-executor cache and optional rate limit — the reference's
    * cached + rate-limited client shape (bioportal_client.rs:53-99)
    * without any network code of our own.
    */
  def buildResolver(cfg: ConfigLoader.GraftConfig,
      library: BiDictLibrary): Option[graft.ontology.TermResolver] =
    cfg.resolver.map { r =>
      val custom = r.className.trim.toLowerCase match {
        case "http" => graft.ontology.HttpTermResolver(
          baseUrl = r.url.getOrElse(throw new IllegalArgumentException(
            "resolver class 'http' requires a 'url'")),
          user = r.user, password = r.password)
        case _ => graft.ontology.TermResolver.custom(r.className, library)
      }
      graft.ontology.TermResolver.wrapped(custom,
        offline = library, cacheSize = r.cacheSize, ratePerSec = r.ratePerSec)
    }

  /** `id,label,synonyms` CSV; synonyms `|`-separated. RFC-4180 quoting
    * via [[ConfigLoader.splitCsvLine]] — a naive split(",") would shear
    * a quoted "Seizure, generalized" label into two fields and build
    * the dictionary with a corrupt label that every lookup then misses.
    */
  def loadTerms(path: String): Seq[(String, String, Seq[String])] = {
    val lines = Files.readAllLines(Paths.get(path)).asScala.toSeq.filter(_.trim.nonEmpty)
    val body = if (lines.headOption.exists(_.toLowerCase.startsWith("id,"))) lines.tail else lines
    body.map { l =>
      val parts = ConfigLoader.splitCsvLine(l)
      require(parts.length >= 2, s"terms file $path: bad line '$l'")
      (parts(0), parts(1),
        parts.lift(2).map(_.split("\\|").toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty))
    }
  }

  /** Build one strategy from its config entry (reference
    * `config/strategy_config.rs` + `strategies/strategy_factory.rs`).
    */
  def strategyFor(spec: ConfigLoader.StrategySpec, library: BiDictLibrary): Strategy =
    spec.name.trim.toLowerCase match {
      case "alias_map"               => AliasMapStrategy
      case "default_mapping" =>
        spec.params.map(_.asText("")).getOrElse("sex") match {
          case "sex"          => MappingStrategy.defaultSex
          case "vital_status" => MappingStrategy.defaultVitalStatus
          case other => throw new IllegalArgumentException(
            s"unknown default_mapping '$other' (expected sex | vital_status)")
        }
      case "mapping"                 => MappingStrategy.defaultSex
      case "default_sex_mapping"     => MappingStrategy.defaultSex
      case "default_vital_status_mapping" => MappingStrategy.defaultVitalStatus
      case "age_to_iso8601"          => AgeToIso8601Strategy()
      case "date_to_age" =>
        val strict = spec.params.flatMap(p => Option(p.get("strict")))
          .forall(_.asBoolean(true))
        DateToAgeStrategy(strict)
      case "date_to_age_lenient"     => DateToAgeStrategy(strict = false)
      case "multi_hpo_col_expansion" => MultiHpoColExpansionStrategy
      case "ontology_normaliser" =>
        spec.params match {
          case None => OntologyNormaliserStrategy(library)
          case Some(p) =>
            // {ontology: <scope-or-resource-id>, data_context_kind: <kind>}
            val onto = Option(p.get("ontology")).map(_.asText()).getOrElse(
              throw new IllegalArgumentException("ontology_normaliser needs 'ontology'"))
            val kind = Option(p.get("data_context_kind")).map(_.asText()).getOrElse(
              throw new IllegalArgumentException("ontology_normaliser needs 'data_context_kind'"))
            val scopedDicts = {
              val byScope = library.scopes.get(onto).map(_ => library.scoped(onto))
              byScope.getOrElse(library.dicts.filter(_.resource.id == onto))
            }
            require(scopedDicts.nonEmpty, s"ontology_normaliser: no dictionaries for '$onto'")
            OntologyNormaliserStrategy(BiDictLibrary(scopedDicts),
              Set(ConfigLoader.contextKind(kind)))
        }
      case "hpo_disease_splitter"    => HpoDiseaseSplitterStrategy(library)
      case other => throw new IllegalArgumentException(s"unknown strategy '$other'")
    }
}
