package graft.strategy

import graft.model._
import graft.ontology.BiDictLibrary
import org.apache.spark.sql.functions._

/** T6 — case-insensitive label/synonym → CURIE normalization through a
  * broadcast ontology dictionary (reference
  * `phenoxtract/src/transform/strategies/ontology_normaliser.rs:61-141`):
  * IDs already in CURIE form pass through (validated), labels resolve
  * via the bidict; unresolvable non-null values accumulate and fail
  * once.
  *
  * The dictionary rides a Spark broadcast: executors map values via a
  * lookup UDF over the broadcast map — the dictionary is
  * ontology-sized (≤ a few 100k terms), the data side never shuffles.
  */
final case class OntologyNormaliserStrategy(
    library: BiDictLibrary,
    targetKinds: Set[ContextKind] =
      Set(ContextKind.KHpo, ContextKind.KDisease, ContextKind.KSeverity,
          ContextKind.KPrimarySite)) extends Strategy {
  val name = "ontology_normaliser"

  override def isValid(tables: Seq[Cdf]): Boolean =
    tables.exists(t => t.columnsWhere(sc => targetKinds.contains(sc.dataContext.kind)).nonEmpty)

  protected def internalTransform(tables: Seq[Cdf]): Seq[Cdf] = {
    val spark = tables.head.df.sparkSession
    val bc = spark.sparkContext.broadcast(library)
    val resolveId = udf { (v: String) =>
      if (v == null) null
      else bc.value.resolve(v).map(_._1.id).orNull
    }

    // Pass 1: fail once on every unresolvable value across tables.
    Strategy.failOnOffenders(name, for {
      cdf <- tables
      c <- cdf.columnsWhere(sc => targetKinds.contains(sc.dataContext.kind))
    } yield cdf.df
      .select(col(c).cast("string").as("v"), lit("terms not found in the ontology library").as("hint"))
        .filter(col("v").isNotNull && resolveId(col("v")).isNull))

    // Pass 2: rewrite to CURIEs.
    tables.map { cdf =>
      val df = cdf.columnsWhere(sc => targetKinds.contains(sc.dataContext.kind))
        .foldLeft(cdf.df) { (acc, c) =>
          acc.withColumn(c, resolveId(col(c).cast("string")))
        }
      cdf.copy(df = df)
    }
  }
}
