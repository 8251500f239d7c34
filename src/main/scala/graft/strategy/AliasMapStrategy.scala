package graft.strategy

import graft.clean.Casts
import graft.model._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** T1 — per-SeriesContext cell-value substitution (reference
  * `phenoxtract/src/transform/strategies/alias_map.rs:53-135`):
  * every series carrying an `AliasMap` gets its values rewritten —
  * explicit alias-to-null allowed, unmapped values pass through — and
  * the column is then cast to the map's declared output type via the
  * strict specific cast (P4, reference `casting.rs:48-89`): a value that
  * is non-null before the cast and null after it is an offender, and all
  * offenders of all tables fail once through [[Strategy.failOnOffenders]].
  *
  * The maps are config-sized: a literal when-chain compiles into
  * whole-stage codegen (no shuffle, no UDF, no broadcast needed below
  * thousands of keys — beyond that, swap to a broadcast map join).
  */
object AliasMapStrategy extends Strategy {
  val name = "alias_map"

  protected def internalTransform(tables: Seq[Cdf]): Seq[Cdf] = {
    // per table: (column, aliased value, the map's output type)
    val perTable = tables.map { cdf =>
      cdf -> cdf.bindings.flatMap { case (c, sc) =>
        sc.aliasMap.map(_.normalized).map(am =>
          (c, replaceExpr(col(c).cast("string"), am), OutputDataType.toSpark(am.outputType)))
      }
    }
    Strategy.failOnOffenders(name, for {
      (cdf, cols) <- perTable
      (_, replaced, target) <- cols
    } yield cdf.df
      .select(replaced.as("v"), lit(s"values not castable to ${target.simpleString}").as("hint"))
      .filter(col("v").isNotNull && castTo(col("v"), target).isNull))
    perTable.map { case (cdf, cols) =>
      cdf.copy(df = cols.foldLeft(cdf.df) { case (df, (c, replaced, target)) =>
        df.withColumn(c, replaced).withColumn(c, castTo(col(c), target))
      })
    }
  }

  /** when-chain over the alias entries; None ⇒ null; miss ⇒ passthrough.
    * Keys were Java-trimmed by `AliasMap.normalized`, so the probe is too.
    */
  private def replaceExpr(c: Column, am: AliasMap): Column = {
    val trimmed = Casts.javaTrim(c)
    am.entries.foldLeft(Option.empty[Column]) {
      case (acc, (key, alias)) =>
        val v = alias.map(lit(_)).getOrElse(lit(null).cast("string"))
        Some(acc.fold(when(trimmed === key, v))(_.when(trimmed === key, v)))
    }.map(_.otherwise(c)).getOrElse(c)
  }

  /** The strict specific cast of a string column: unparseable ⇒ null. */
  private def castTo(c: Column, target: DataType): Column = target match {
    case BooleanType   => Casts.toBoolStrict(c)
    case LongType      => Casts.toLongViaDouble(c)
    case DateType      => Casts.toDateMulti(c)
    case TimestampType => Casts.toTimestampMulti(c)
    case t             => c.try_cast(t)
  }
}
