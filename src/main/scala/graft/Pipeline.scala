package graft

import graft.clean.Preprocessor
import graft.collect.{Assembler, AssemblerConfig, Facts, Phenopacket}
import graft.load.FileSystemLoader
import graft.model.Cdf
import graft.ontology.BiDictLibrary
import graft.strategy.Strategy
import org.apache.spark.sql.Dataset

/** The Extract → Transform (preprocess → strategies → collect) → Load
  * pipeline (reference `phenoxtract/src/pipeline.rs:36-85`,
  * `transform/transform_module.rs:26-43`).
  *
  * Strategies see ALL tables at once (cross-table DOB maps). The
  * preprocess/strategy stages rewrite columns lazily, but they are not
  * action-free: preprocessing runs small type-election aggregates per
  * table, and each validating strategy runs one eager check
  * (`Strategy.failOnOffenders`, plus the DOB-map collect of DateToAge
  * and the pivot-id collect of MultiHpoColExpansion). The packets
  * themselves materialize in the single groupByKey shuffle in `collect`.
  */
final case class Pipeline(
    strategies: Seq[Strategy],
    library: BiDictLibrary,
    assembler: AssemblerConfig,
    hgvs: graft.ontology.HgvsResolver = graft.ontology.HgvsResolver.empty,
    resolver: Option[graft.ontology.TermResolver] = None) {

  def transform(tables: Seq[Cdf]): Dataset[Phenopacket] = {
    val preprocessed = tables.map(Preprocessor.process)
    val transformed = strategies.foldLeft(preprocessed) { (ts, strategy) =>
      if (strategy.isValid(ts)) strategy.transform(ts) else ts
    }
    val facts = Facts.extractAll(transformed)
    Assembler.assemble(facts, library, assembler, hgvs, resolver)
  }

  def run(tables: Seq[Cdf], outDir: String): Unit =
    FileSystemLoader.load(transform(tables), outDir)
}
