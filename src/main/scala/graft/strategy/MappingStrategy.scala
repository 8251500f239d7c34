package graft.strategy

import graft.model._
import org.apache.spark.sql.functions._

/** T2 — context-targeted synonym normalization (reference
  * `phenoxtract/src/transform/strategies/mapping.rs:62-278`): cells of
  * every column whose data context matches `targetKind` are mapped via
  * Java-trim + ROOT-lowercase of the value; **all unmapped non-null values across all
  * tables are collected first and the strategy fails once** with the
  * complete set (reference error-accumulation semantics
  * `mapping.rs:202-277`).
  *
  * Lowering is pinned to `Locale.ROOT` on BOTH sides of the contract —
  * driver-built keys and the executor-side probe (`lower_root`, not
  * Spark's `lower`, whose non-ASCII slow path uses each executor's JVM
  * default locale): on a cluster with heterogeneous or tr/az/lt
  * locales the two would otherwise disagree on keys containing 'I'.
  */
final case class MappingStrategy(
    name: String,
    synonymMap: Map[String, String],
    targetKind: ContextKind) extends Strategy {

  private val norm: Map[String, String] =
    synonymMap.map { case (k, v) =>
      k.trim.toLowerCase(java.util.Locale.ROOT) -> v }

  /** Executor-side twin of the driver key normalization above: Java
    * trim, then ROOT lowercase via `lower_root`.
    */
  private def probeKey(c: org.apache.spark.sql.Column) =
    graft.functions.GraftExtensions.lower_root(graft.clean.Casts.javaTrim(c.cast("string")))

  protected def internalTransform(tables: Seq[Cdf]): Seq[Cdf] = {
    // Pass 1: fail once on every unmapped value across tables.
    val hint = s"known keys: ${norm.keys.toSeq.sorted.mkString(", ")}"
    Strategy.failOnOffenders(name, for {
      cdf <- tables
      c <- cdf.columnsOfKind(targetKind)
    } yield cdf.df.select(probeKey(col(c)).as("v"), lit(hint).as("hint"))
        .filter(col("v").isNotNull && !col("v").isin(norm.keys.toSeq: _*)))

    // Pass 2: apply the when-chain mapping.
    tables.map { cdf =>
      val df = cdf.columnsOfKind(targetKind).foldLeft(cdf.df) { (acc, c) =>
        val key = probeKey(col(c))
        val mapped = norm.foldLeft(Option.empty[org.apache.spark.sql.Column]) {
          case (accExpr, (k, v)) =>
            Some(accExpr.fold(when(key === k, lit(v)))(_.when(key === k, lit(v))))
        }.map(_.otherwise(lit(null).cast("string"))).getOrElse(col(c))
        acc.withColumn(c, mapped)
      }
      cdf.copy(df = df)
    }
  }
}

object MappingStrategy {

  /** Built-in subject-sex normalization (reference `mapping.rs:92-131`). */
  def defaultSex: MappingStrategy = MappingStrategy(
    "default_sex_mapping",
    Map(
      "m" -> "MALE", "male" -> "MALE", "man" -> "MALE",
      "f" -> "FEMALE", "female" -> "FEMALE", "woman" -> "FEMALE",
      "diverse" -> "OTHER_SEX", "intersex" -> "OTHER_SEX", "other" -> "OTHER_SEX",
      "other_sex" -> "OTHER_SEX", "unknown_sex" -> "UNKNOWN_SEX"),
    ContextKind.KSubjectSex)

  /** Built-in vital-status normalization (reference `mapping.rs:135-178`). */
  def defaultVitalStatus: MappingStrategy = MappingStrategy(
    "default_vital_status_mapping",
    Map(
      "yes" -> "ALIVE", "living" -> "ALIVE", "alive" -> "ALIVE",
      "no" -> "DECEASED", "dead" -> "DECEASED", "deceased" -> "DECEASED",
      "unknown" -> "UNKNOWN_STATUS", "no data" -> "UNKNOWN_STATUS",
      "unknown_status" -> "UNKNOWN_STATUS"),
    ContextKind.KVitalStatus)
}
