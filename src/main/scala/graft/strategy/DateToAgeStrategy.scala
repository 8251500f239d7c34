package graft.strategy

import graft.model._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** T4 — convert every date-typed time column into an ISO-8601 age
  * relative to the patient's date of birth, then rewrite the data
  * contexts `*(Date) → *(Age)` (reference
  * `phenoxtract/src/transform/strategies/date_to_age.rs:55-322`).
  *
  * Spark shape: the patient→DOB map is assembled with one aggregation
  * over the union of all DateOfBirth columns (erroring when a patient
  * carries conflicting DOBs — reference `date_to_age.rs:222-271`), then
  * **broadcast-joined** onto every table that has date-typed columns
  * (the reference builds the same map driver-side; broadcasting keeps
  * the shape at 100 TB — the map is one row per patient, small relative
  * to facts, and the join never shuffles the fact tables).
  *
  * `strict`: a date cell whose patient has no DOB is an error; lenient
  * mode leaves null.
  */
final case class DateToAgeStrategy(strict: Boolean = true) extends Strategy {
  val name = "date_to_age"

  private def dateCols(cdf: Cdf): Seq[(String, SeriesContext)] =
    cdf.bindings.filter { case (_, sc) => TimeContexts.isDateTyped(sc.dataContext) }

  override def isValid(tables: Seq[Cdf]): Boolean =
    tables.exists(t => dateCols(t).nonEmpty) &&
      tables.exists(t => t.columnsOfKind(ContextKind.KDateOfBirth).nonEmpty)

  protected def internalTransform(tables: Seq[Cdf]): Seq[Cdf] = {
    val dobMap = buildDobMap(tables)

    // Every table with date columns, left-joined to its patients' DOBs.
    val joined = tables.map { cdf =>
      val targets = dateCols(cdf).map(_._1)
      Option.when(targets.nonEmpty) {
        val subject = cdf.subjectIdColumn
        // collision-proof temp name (the HpoDiseaseSplitter fresh()
        // defense): a fact table legitimately named __dob must pass
        // through unharmed, not die on AMBIGUOUS_REFERENCE
        val dob = Iterator.from(0).map(i => if (i == 0) "__dob" else s"__dob$i")
          .find(n => !cdf.df.columns.contains(n)).get
        (targets, dob, cdf.df.join(
          broadcast(dobMap
            .withColumnRenamed("__subject", subject)
            .withColumnRenamed("__dob", dob)),
          Seq(subject), "left"))
      }
    }

    // ONE check over all tables for all three error classes, naming the
    // offending columns: negative ages, unparseable non-null dates (the
    // reference accumulates the parse failure regardless of strict,
    // `date_to_age.rs:184-187` — silently nulling the onset would erase
    // it from the packet) and, when strict, dates of patients with no DOB.
    Strategy.failOnOffenders(name, joined.flatten.map { case (targets, dob, df) =>
      // the multi-format parse runs once per column, in this projection
      val dated = df.select(col(dob).as("__dob") +: targets.indices.flatMap(i => Seq(
        col(targets(i)).isNotNull.as(s"__given$i"), toDate(df, targets(i)).as(s"__date$i"))): _*)
      val dobKnown = col("__dob").isNotNull
      val checks = targets.indices.flatMap { i =>
        val date = col(s"__date$i")
        def flag(cond: Column, hint: String) =
          when(cond, struct(lit(targets(i)).as("v"), lit(hint).as("hint")))
        Seq(
          flag(date < col("__dob"), "column(s) contain dates before the patient's date of birth"),
          flag(dobKnown && col(s"__given$i") && date.isNull,
            "column(s) contain unparseable date values")) ++
          Option.when(strict)(flag(date.isNotNull && !dobKnown,
            "column(s) contain dates for patients with no date of birth"))
      }
      dated.select(explode(array(checks: _*)).as("o")).filter(col("o").isNotNull).select("o.*")
    })

    tables.zip(joined).map {
      case (cdf, None) => cdf
      case (cdf, Some((targets, dob, df))) =>
        // Native CalendarAgeIso, not the calendarDiff+toIso8601 column
        // algebra: the algebraic form re-inlines the multi-format date
        // parse into every diff component and blew past janino's method
        // limits (stage fell back to interpreted eval).
        // A missing DOB under NON-strict keeps the RAW date cell (the
        // reference returns AnyValue::String(date) there,
        // `date_to_age.rs:177-179`) — nulling it would silently erase
        // the observation's time information.
        val converted = targets.foldLeft(df) { (acc, c) =>
          val age = graft.functions.GraftExtensions.calendar_age_iso(
            col(dob), toDate(df, c))
          acc.withColumn(c,
            if (strict) age
            else when(col(dob).isNull, col(c).cast("string")).otherwise(age))
        }.drop(dob)

        // Context rewrite *(Date) → *(Age), driver-side.
        val newSeries = cdf.context.seriesContexts.map { sc =>
          if (TimeContexts.isDateTyped(sc.dataContext))
            sc.copy(dataContext = TimeContexts.toAgeTyped(sc.dataContext))
          else sc
        }
        Cdf(cdf.context.copy(seriesContexts = newSeries), converted)
    }
  }

  /** Dates may arrive as DateType/TimestampType (preprocessor-cast) or
    * as strings in one of the supported formats. Only the latter are
    * parsed: re-parsing a preprocessor-cast column would inline its
    * multi-format parse twice and push the generated code past janino's
    * 64 KB method limit (the stage then falls back to interpreted eval).
    */
  private def toDate(df: DataFrame, c: String): Column = df.schema(c).dataType match {
    case DateType | TimestampType => col(c).cast(DateType)
    case _ => coalesce(col(c).try_cast("date"), graft.clean.Casts.toDateMulti(col(c).cast("string")))
  }

  /** One row per patient: `__subject`, `__dob` (DateType). Conflicting
    * DOBs for one patient → error with the offending subject ids.
    *
    * The map is COLLECTED to the driver and re-emitted as a local
    * relation (the reference builds the same hash map driver-side,
    * `date_to_age.rs:222-271`): it is per-patient small by the same
    * assumption that lets it broadcast, and a lazily re-evaluated
    * distributed map would re-scan every DOB column once per action on
    * every table's plan (validation aggregate + final output each).
    * One union-aggregate pass total, conflict check included.
    */
  private def buildDobMap(tables: Seq[Cdf]): DataFrame = {
    val pieces = for {
      cdf <- tables
      dobCol <- cdf.columnsOfKind(ContextKind.KDateOfBirth)
    } yield cdf.df
      .select(col(cdf.subjectIdColumn).cast("string").as("__subject"),
        toDate(cdf.df, dobCol).as("__dob"))
      .filter(col("__dob").isNotNull)
    require(pieces.nonEmpty, s"strategy $name: no DateOfBirth column found")

    val all = pieces.reduce(_ unionByName _)
    // dates ride the driver hop as their exact yyyy-MM-dd string cast —
    // the JVM element type of a collected DateType varies with the
    // java8API config, the string round-trip does not
    val agg = all.groupBy(col("__subject"))
      .agg(collect_set(col("__dob").cast("string")).as("__dobs"))
    val rows = agg.collect()
    val conflicted = rows.filter(_.getSeq[String](1).size > 1)
      .map(_.getString(0)).take(Strategy.MaxReported)
    if (conflicted.nonEmpty)
      throw MappingException(name, conflicted.toSeq,
        "patient(s) with more than one distinct date of birth")
    val spark = tables.head.df.sparkSession
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.toSeq.map(r => Row(r.getString(0), r.getSeq[String](1).head)).asJava,
      StructType(Seq(StructField("__subject", StringType), StructField("__dob_s", StringType))))
      .select(col("__subject"), col("__dob_s").cast("date").as("__dob"))
  }
}
