package graft.strategy

import graft.model._
import graft.ontology.BiDictLibrary
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** T7 — split an `HpoOrDisease` column into `<col>_hpo` and
  * `<col>_disease` by dictionary-library membership, HPO winning ties;
  * unknown non-null values error; the source column is dropped
  * (reference
  * `phenoxtract/src/transform/strategies/hpo_disease_splitter.rs:51-150`).
  *
  * The membership test is a BROADCAST HASH JOIN against a driver-built
  * terms frame, not a UDF: the dictionary keys (CURIE ids verbatim,
  * labels/synonyms lowercased — mirroring `BiDict.resolve`) become a
  * `(key, isCurieKey, class)` dimension that Catalyst broadcasts, so
  * the classification stays inside whole-stage codegen and the planner
  * can see and reorder it like any other join.
  */
final case class HpoDiseaseSplitterStrategy(
    library: BiDictLibrary,
    hpoResourceId: String = "hp",
    diseaseResourceId: String = "mondo") extends Strategy {
  val name = "hpo_disease_splitter"

  override def isValid(tables: Seq[Cdf]): Boolean =
    tables.exists(_.columnsOfKind(ContextKind.KHpoOrDisease).nonEmpty)

  /** Keys a value can resolve through for one resource id, tagged with
    * whether they match via the CURIE path (post-trim verbatim) or the
    * label/synonym path (post-trim lowercase). Driver-side: the dicts
    * are in-memory Maps already.
    */
  private def keysOf(resourceId: String): Set[(String, Boolean)] = {
    val ds = library.dicts.filter(_.resource.id == resourceId)
    val curies = ds.flatMap(_.idToLabel.keys).map(k => (k, true))
    val labels = ds.flatMap(d => d.labelToId.keys ++ d.synonymToId.keys)
      .map(k => (k, false))
    (curies ++ labels).toSet
  }

  /** Normalized lookup key + CURIE flag mirroring `BiDict.resolve`:
    * CURIEs consult only the id map, everything else only the
    * label/synonym maps, so the flag participates in the join equality.
    *
    * Trim is Java trim, the rule `BiDict` keys were built with.
    * Lowercase is `lower_root` (`functions/LowerRoot`),
    * NOT Spark's `lower`: Spark's slow path lowercases non-ASCII
    * strings with the JVM DEFAULT locale, which on a tr/az/lt host
    * diverges from the `Locale.ROOT` keys `BiDict.norm` builds on the
    * driver ('I' → dotless 'ı'), silently missing the join and
    * aborting on values the dictionary knows.
    */
  private def lookupKey(c: Column): (Column, Column) = {
    val v = graft.clean.Casts.javaTrim(c.cast("string"))
    val isCurie = v.rlike("^[A-Za-z][A-Za-z0-9_.]*:\\S+$")
    (when(isCurie, v).otherwise(graft.functions.GraftExtensions.lower_root(v)),
      isCurie)
  }

  /** A name not colliding with any column of the input tables, so the
    * join's temp/terms columns can never shadow (and then drop) user
    * data — a table legitimately containing a column named `__gk` or
    * `t_cls` must pass through unharmed.
    */
  private def fresh(base: String, taken: Set[String]): String = {
    var n = base
    while (taken.contains(n)) n = n + "_"
    n
  }

  protected def internalTransform(tables: Seq[Cdf]): Seq[Cdf] = {
    val spark = tables.head.df.sparkSession
    import spark.implicits._

    // HPO wins ties exactly as the reference's check order does (HPO
    // membership is tested first), so shared keys classify as "hpo".
    val hpoKeys = keysOf(hpoResourceId)
    val diseaseKeys = keysOf(diseaseResourceId) -- hpoKeys
    val termRows =
      hpoKeys.toSeq.map { case (k, cu) => (k, cu, "hpo") } ++
        diseaseKeys.toSeq.map { case (k, cu) => (k, cu, "disease") }
    val terms = broadcast(termRows.toDF("t_key", "t_curie", "t_cls"))

    // Fail once on unknown values: anti-join shape (left join + null
    // filter) per column. The select projects exactly (v, __gk, __gc,
    // hint) — user columns are gone before the join, so no name in
    // `terms` can collide here.
    Strategy.failOnOffenders(name, for {
      cdf <- tables
      c <- cdf.columnsOfKind(ContextKind.KHpoOrDisease)
    } yield {
      val (k, cu) = lookupKey(col(c))
      cdf.df.select(col(c).cast("string").as("v"), k.as("__gk"), cu.as("__gc"),
          lit("values in neither the HPO nor the disease ontology").as("hint"))
        .filter($"v".isNotNull)
        .join(terms, $"__gk" === $"t_key" && $"__gc" === $"t_curie", "left")
        .filter($"t_cls".isNull)
    })

    tables.map { cdf =>
      val targets = cdf.bindings.filter(_._2.dataContext.kind == ContextKind.KHpoOrDisease)
      if (targets.isEmpty) cdf
      else {
        var df = cdf.df
        var ctx = cdf.context
        targets.foreach { case (c, sc) =>
          val (k, cu) = lookupKey(col(c))
          // Temp + terms column names are made collision-free against
          // the CURRENT frame, so a user column named __gk/t_cls/…
          // survives the join and the drop untouched.
          val taken = df.columns.toSet
          val gk = fresh("__gk", taken)
          val gc = fresh("__gc", taken)
          val Seq(tk, tcu, tcl) =
            Seq("t_key", "t_curie", "t_cls").map(fresh(_, taken + gk + gc))
          val t = broadcast(terms.toDF(tk, tcu, tcl))
          df = df.withColumn(gk, k).withColumn(gc, cu)
            .join(t, col(gk) === col(tk) && col(gc) === col(tcu), "left")
            .withColumn(s"${c}_hpo", when(col(tcl) === "hpo", col(c)))
            .withColumn(s"${c}_disease", when(col(tcl) === "disease", col(c)))
            .drop(c, gk, gc, tk, tcu, tcl)
          ctx = ctx.copy(seriesContexts =
            ctx.seriesContexts.filterNot(_ == sc) ++ Seq(
              sc.copy(identifier = Identifier.Single(s"${c}_hpo"),
                dataContext = Context.Hpo),
              sc.copy(identifier = Identifier.Single(s"${c}_disease"),
                dataContext = Context.Disease)))
        }
        Cdf(ctx, df)
      }
    }
  }
}
