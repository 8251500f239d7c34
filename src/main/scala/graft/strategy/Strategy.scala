package graft.strategy

import graft.model.Cdf
import org.apache.spark.sql.DataFrame

/** Config-ordered whole-table transform (reference
  * `phenoxtract/src/transform/strategies/traits.rs:16-30`): guard, then
  * run over ALL tables at once (cross-table strategies like DateToAge
  * need the full set).
  */
trait Strategy {
  def name: String

  /** Structural guard — are the required contexts present / coherent? */
  def isValid(tables: Seq[Cdf]): Boolean = true

  protected def internalTransform(tables: Seq[Cdf]): Seq[Cdf]

  final def transform(tables: Seq[Cdf]): Seq[Cdf] = {
    require(isValid(tables), s"strategy $name: invalid input tables")
    internalTransform(tables)
  }
}

object Strategy {

  /** The most distinct offending values one [[MappingException]] names. */
  val MaxReported = 50

  /** The accumulate-then-fail policy every validating strategy shares
    * (reference `mapping.rs:202-277`, `age_to_iso8601.rs:92-157`,
    * `date_to_age.rs:106-215`): each frame holds offending values in its
    * string column `v` and why they are bad in its string column `hint`.
    * All frames of all tables are unioned and checked in ONE action; if
    * anything comes back, the strategy fails once with every distinct
    * value (up to [[MaxReported]]) — never throw from inside a row-level
    * expression.
    */
  def failOnOffenders(strategy: String, offenders: Seq[DataFrame]): Unit =
    if (offenders.nonEmpty) {
      // distinct per frame as well: an aggregate directly above a frame
      // lets the optimizer drop the frame's order-only sorts (the row
      // order of a transposed patients-as-columns table), which a union
      // in between would keep, each with its own range shuffle
      val rows = offenders.map(_.select("v", "hint").distinct()).reduce(_ union _)
        .distinct().limit(MaxReported).collect()
      if (rows.nonEmpty)
        throw MappingException(strategy, rows.map(_.getString(0)).distinct.toSeq,
          rows.map(_.getString(1)).distinct.mkString("; "))
    }
}

/** The one error a validating strategy fails with, raised by
  * [[Strategy.failOnOffenders]]: the strategy's name, every distinct
  * offending value (up to [[Strategy.MaxReported]]) and why they failed.
  */
final case class MappingException(strategy: String, badValues: Seq[String], hint: String = "")
    extends RuntimeException(
      s"strategy $strategy: unmappable value(s): ${badValues.mkString("'", "', '", "'")}" +
        (if (hint.nonEmpty) s" — $hint" else ""))
