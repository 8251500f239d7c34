package graft.strategy

import graft.clean.Casts
import graft.functions.DateTimeFns
import graft.model._
import org.apache.spark.sql.functions._

/** Shared helpers for the time-element strategies. */
object TimeContexts {

  /** Data contexts that are age-typed (reference
    * `Context::time_element_context_variants(TimeElementType::Age)`).
    */
  def isAgeTyped(c: Context): Boolean = c match {
    case Context.Onset(TimeKind.Age)               => true
    case Context.TimeOfDeath(TimeKind.Age)         => true
    case Context.TimeAtLastEncounter(TimeKind.Age) => true
    case Context.TimeOfResolution(TimeKind.Age)    => true
    case Context.TimeOfMeasurement(TimeKind.Age)   => true
    case Context.TimeOfProcedure(TimeKind.Age)     => true
    case _                                         => false
  }

  def isDateTyped(c: Context): Boolean = c match {
    case Context.Onset(TimeKind.Date)               => true
    case Context.TimeOfDeath(TimeKind.Date)         => true
    case Context.TimeAtLastEncounter(TimeKind.Date) => true
    case Context.TimeOfResolution(TimeKind.Date)    => true
    case Context.TimeOfMeasurement(TimeKind.Date)   => true
    case Context.TimeOfProcedure(TimeKind.Date)     => true
    case _                                          => false
  }

  /** The age-typed twin of a date-typed context (context rewrite after
    * DateToAge, reference `date_to_age.rs:296-301`).
    */
  def toAgeTyped(c: Context): Context = c match {
    case Context.Onset(_)               => Context.Onset(TimeKind.Age)
    case Context.TimeOfDeath(_)         => Context.TimeOfDeath(TimeKind.Age)
    case Context.TimeAtLastEncounter(_) => Context.TimeAtLastEncounter(TimeKind.Age)
    case Context.TimeOfResolution(_)    => Context.TimeOfResolution(TimeKind.Age)
    case Context.TimeOfMeasurement(_)   => Context.TimeOfMeasurement(TimeKind.Age)
    case Context.TimeOfProcedure(_)     => Context.TimeOfProcedure(TimeKind.Age)
    case other                          => other
  }
}

/** T3 — integral ages 0..=150 become ISO-8601 `P{n}Y`; existing ISO-8601
  * durations pass through; any other non-null value accumulates into a
  * MappingException (reference
  * `phenoxtract/src/transform/strategies/age_to_iso8601.rs:44-158`).
  * Targets columns with NO header context and an age-typed data context.
  */
final case class AgeToIso8601Strategy(minAge: Int = 0, maxAge: Int = 150) extends Strategy {
  val name = "age_to_iso8601"

  private def targets(cdf: Cdf): Seq[String] =
    cdf.columnsWhere(sc =>
      sc.headerContext == Context.NoContext && TimeContexts.isAgeTyped(sc.dataContext))

  override def isValid(tables: Seq[Cdf]): Boolean = tables.exists(targets(_).nonEmpty)

  protected def internalTransform(tables: Seq[Cdf]): Seq[Cdf] = {
    val isoRe = DateTimeFns.iso8601DurationRegex

    // Pass 1: fail once on values that are neither ISO-8601 nor in-range ages.
    Strategy.failOnOffenders(name, for {
      cdf <- tables
      c <- targets(cdf)
    } yield {
      val s = Casts.javaTrim(col(c).cast("string"))
      val yrs = s.try_cast("double")
      cdf.df
        .select(s.as("v"), yrs.as("y"), lit("values were neither ISO8601 nor years").as("hint"))
        .filter(col("v").isNotNull && col("v") =!= "" &&
          !col("v").rlike(isoRe) &&
          !(col("y").isNotNull && col("y") === floor(col("y")) &&
            col("y").between(minAge, maxAge)))
    })

    // Pass 2: rewrite.
    tables.map { cdf =>
      val df = targets(cdf).foldLeft(cdf.df) { (acc, c) =>
        val s = Casts.javaTrim(col(c).cast("string"))
        val yrs = s.try_cast("double")
        acc.withColumn(c,
          when(col(c).isNull, lit(null).cast("string"))
            .when(s.rlike(isoRe), s)
            .otherwise(concat(lit("P"), yrs.cast("long").cast("string"), lit("Y"))))
      }
      cdf.copy(df = df)
    }
  }
}
