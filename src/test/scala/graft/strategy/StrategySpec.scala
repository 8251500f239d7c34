package graft.strategy

import graft.SparkSpec
import graft.model._
import org.apache.spark.sql.types._

class StrategySpec extends SparkSpec {
  import spark.implicits._

  private val subject =
    SeriesContext(Identifier.Single("subject_id"), dataContext = Context.SubjectId)
  private def cdf(name: String, df: org.apache.spark.sql.DataFrame, series: SeriesContext*) =
    Cdf.validated(TableContext(name, subject +: series), df)

  // --- T1 alias map ---------------------------------------------------
  test("T1: alias substitution, alias-to-null, miss passthrough, recast") {
    val df = Seq(("P1", "Yes"), ("P2", "No"), ("P3", "maybe")).toDF("subject_id", "living")
    val am = AliasMap(Map("Yes" -> Some("true"), "No" -> Some("false"), "maybe" -> None),
      OutputDataType.Bool)
    val out = AliasMapStrategy.transform(Seq(cdf("t", df,
      SeriesContext(Identifier.Single("living"), dataContext = Context.VitalStatus,
        aliasMap = Some(am))))).head
    assert(out.df.schema("living").dataType == BooleanType)
    val rows = out.df.orderBy("subject_id").collect()
      .map(r => if (r.isNullAt(1)) None else Some(r.getBoolean(1)))
    assert(rows.toSeq == Seq(Some(true), Some(false), None))
  }

  test("T1: non-castable alias values in two tables fail once, naming both (P4)") {
    // the strict specific cast (P4, reference casting.rs:48-89): a value
    // non-null before the cast and null after it is an offender
    def table(name: String, column: String, value: String) = cdf(name,
      Seq(("P1", "1"), ("P2", value)).toDF("subject_id", column),
      SeriesContext(Identifier.Single(column),
        aliasMap = Some(AliasMap(Map("none" -> Some("0")), OutputDataType.I64))))
    val e = intercept[MappingException] {
      AliasMapStrategy.transform(Seq(table("a", "count_a", "x"), table("b", "count_b", "lots")))
    }
    assert(e.badValues.toSet == Set("x", "lots"))
    assert(e.getMessage.contains("not castable to bigint"))
  }

  // --- T2 mapping -----------------------------------------------------
  test("T2: lower/trim-keyed mapping; unmapped values accumulate and fail once") {
    val df = Seq(("P1", " MALE "), ("P2", "f"), ("P3", "Woman")).toDF("subject_id", "sex")
    val out = MappingStrategy.defaultSex.transform(Seq(cdf("t", df,
      SeriesContext(Identifier.Single("sex"), dataContext = Context.SubjectSex)))).head
    assert(out.df.orderBy("subject_id").collect().map(_.getString(1)).toSeq ==
      Seq("MALE", "FEMALE", "FEMALE"))

    val bad = Seq(("P1", "martian"), ("P2", "blorb")).toDF("subject_id", "sex")
    val e = intercept[MappingException] {
      MappingStrategy.defaultSex.transform(Seq(cdf("t", bad,
        SeriesContext(Identifier.Single("sex"), dataContext = Context.SubjectSex))))
    }
    assert(e.badValues.toSet == Set("martian", "blorb")) // ALL collected, one failure

    // Tab/CR padding maps like the driver-side Java trim of the keys
    // (Spark's space-only trim would abort these as unknown).
    val padded = Seq(("P1", "\tMALE\r\n"), ("P2", " f ")).toDF("subject_id", "sex")
    val outP = MappingStrategy.defaultSex.transform(Seq(cdf("t", padded,
      SeriesContext(Identifier.Single("sex"), dataContext = Context.SubjectSex)))).head
    assert(outP.df.orderBy("subject_id").collect().map(_.getString(1)).toSeq ==
      Seq("MALE", "FEMALE"))

    // Host-locale independence: under a Turkish default locale an
    // ASCII synonym key containing 'I' must still map. Before the ROOT
    // pin, the driver built the key with default-locale toLowerCase
    // ("KADIN" -> dotless "kadın") while Spark's ASCII fast path
    // produced "kadin" — a guaranteed miss and pipeline abort even
    // within one JVM.
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(new java.util.Locale("tr", "TR"))
    try {
      val m = MappingStrategy("tr_probe", Map("KADIN" -> "FEMALE"),
        ContextKind.KSubjectSex)
      val outT = m.transform(Seq(cdf("t",
        Seq(("P1", "kadin")).toDF("subject_id", "sex"),
        SeriesContext(Identifier.Single("sex"), dataContext = Context.SubjectSex)))).head
      assert(outT.df.head().getString(1) == "FEMALE")
    } finally java.util.Locale.setDefault(prev)
  }

  // --- T3 age → ISO8601 ----------------------------------------------
  test("T3: ages to P{n}Y, ISO passthrough, out-of-range errors") {
    val df = Seq(("P1", "45"), ("P2", "P3Y2M"), ("P3", "12.0")).toDF("subject_id", "age")
    val out = AgeToIso8601Strategy().transform(Seq(cdf("t", df,
      SeriesContext(Identifier.Single("age"), dataContext = Context.Onset(TimeKind.Age))))).head
    assert(out.df.orderBy("subject_id").collect().map(_.getString(1)).toSeq ==
      Seq("P45Y", "P3Y2M", "P12Y"))

    val bad = Seq(("P1", "151"), ("P2", "banana")).toDF("subject_id", "age")
    val e = intercept[MappingException] {
      AgeToIso8601Strategy().transform(Seq(cdf("t", bad,
        SeriesContext(Identifier.Single("age"), dataContext = Context.Onset(TimeKind.Age)))))
    }
    assert(e.badValues.toSet == Set("151", "banana"))
  }

  // --- T4 date → age --------------------------------------------------
  test("T4: cross-table DOB map, calendar diff, context rewrite") {
    val dobTable = Seq(("P1", "1990-01-15"), ("P2", "2000-06-30")).toDF("subject_id", "dob")
    val onsetTable = Seq(("P1", "1998-04-25"), ("P2", "2001-06-29")).toDF("subject_id", "onset")
    val tables = Seq(
      cdf("dob", dobTable,
        SeriesContext(Identifier.Single("dob"), dataContext = Context.DateOfBirth)),
      cdf("onsets", onsetTable,
        SeriesContext(Identifier.Single("onset"), dataContext = Context.Onset(TimeKind.Date))))
    val out = DateToAgeStrategy().transform(tables)
    val onsets = out(1)
    assert(onsets.df.orderBy("subject_id").collect().map(_.getString(1)).toSeq ==
      Seq("P8Y3M10D", "P11M29D")) // zero components omitted (reference rendering)
    // context rewritten Date → Age
    assert(onsets.bindings.collect {
      case (c, sc) if c == "onset" => sc.dataContext
    }.head == Context.Onset(TimeKind.Age))
  }

  test("T4: conflicting DOBs error; negative ages error") {
    val dob = Seq(("P1", "1990-01-15"), ("P1", "1991-01-15")).toDF("subject_id", "dob")
    val onset = Seq(("P1", "1998-04-25")).toDF("subject_id", "onset")
    intercept[MappingException] {
      DateToAgeStrategy().transform(Seq(
        cdf("d", dob, SeriesContext(Identifier.Single("dob"), dataContext = Context.DateOfBirth)),
        cdf("o", onset, SeriesContext(Identifier.Single("onset"), dataContext = Context.Onset(TimeKind.Date)))))
    }
    val dob2 = Seq(("P1", "1990-01-15")).toDF("subject_id", "dob")
    val onset2 = Seq(("P1", "1980-01-01")).toDF("subject_id", "onset")
    intercept[MappingException] {
      DateToAgeStrategy().transform(Seq(
        cdf("d", dob2, SeriesContext(Identifier.Single("dob"), dataContext = Context.DateOfBirth)),
        cdf("o", onset2, SeriesContext(Identifier.Single("onset"), dataContext = Context.Onset(TimeKind.Date)))))
    }
  }

  test("T4: unparseable dates error (reference date_to_age.rs:184-187); non-strict keeps raw on missing DOB") {
    val dob = Seq(("P1", "1990-01-15")).toDF("subject_id", "dob")
    // a DOB exists, so the garbled onset is a PARSE failure — the
    // reference accumulates it into the error set regardless of strict
    val onset = Seq(("P1", "2020/13/45")).toDF("subject_id", "onset")
    val e = intercept[MappingException] {
      DateToAgeStrategy(strict = false).transform(Seq(
        cdf("d", dob, SeriesContext(Identifier.Single("dob"), dataContext = Context.DateOfBirth)),
        cdf("o", onset, SeriesContext(Identifier.Single("onset"), dataContext = Context.Onset(TimeKind.Date)))))
    }
    assert(e.getMessage.contains("unparseable"))
    // non-strict + MISSING DOB keeps the raw date string (reference
    // returns AnyValue::String(date) there, :177-179)
    val onset2 = Seq(("P1", "1998-04-25"), ("P9", "2001-06-29")).toDF("subject_id", "onset")
    val out = DateToAgeStrategy(strict = false).transform(Seq(
      cdf("d", dob, SeriesContext(Identifier.Single("dob"), dataContext = Context.DateOfBirth)),
      cdf("o", onset2, SeriesContext(Identifier.Single("onset"), dataContext = Context.Onset(TimeKind.Date)))))
    val got = out(1).df.orderBy("subject_id").collect().map(_.getString(1)).toSeq
    assert(got == Seq("P8Y3M10D", "2001-06-29"))
  }

  test("T4: error classes of different tables fail once, naming every column") {
    val dob = Seq(("P1", "1990-01-15")).toDF("subject_id", "dob")
    val early = Seq(("P1", "1980-01-01")).toDF("subject_id", "onset")
    val garbled = Seq(("P1", "2020/13/45")).toDF("subject_id", "resolved")
    val e = intercept[MappingException] {
      DateToAgeStrategy().transform(Seq(
        cdf("d", dob, SeriesContext(Identifier.Single("dob"), dataContext = Context.DateOfBirth)),
        cdf("o", early, SeriesContext(Identifier.Single("onset"), dataContext = Context.Onset(TimeKind.Date))),
        cdf("r", garbled, SeriesContext(Identifier.Single("resolved"),
          dataContext = Context.TimeOfResolution(TimeKind.Date)))))
    }
    assert(e.badValues.toSet == Set("onset", "resolved"))
    assert(e.getMessage.contains("before the patient's date of birth"))
    assert(e.getMessage.contains("unparseable"))
  }

  test("T4: a user column named __dob passes through unharmed") {
    val dob = Seq(("P1", "1990-01-15")).toDF("subject_id", "dob")
    val onset = Seq(("P1", "1998-04-25", "keep")).toDF("subject_id", "onset", "__dob")
    val out = DateToAgeStrategy().transform(Seq(
      cdf("d", dob, SeriesContext(Identifier.Single("dob"), dataContext = Context.DateOfBirth)),
      cdf("o", onset,
        SeriesContext(Identifier.Single("onset"), dataContext = Context.Onset(TimeKind.Date)),
        SeriesContext(Identifier.Single("__dob")))))
    val row = out(1).df.collect().head
    assert(row.getString(row.fieldIndex("onset")) == "P8Y3M10D")
    assert(row.getString(row.fieldIndex("__dob")) == "keep")
  }

  test("T1/T3: tab- and CR-padded cells Java-trim like the sibling strategies") {
    // alias map: "yes\t" must hit the Java-trimmed key "yes"
    val t1 = Seq(("P1", "yes\t")).toDF("subject_id", "status")
    val am = AliasMap(Map("yes" -> Some("ALIVE")), OutputDataType.Str)
    val out1 = AliasMapStrategy.transform(Seq(
      cdf("t", t1, SeriesContext(Identifier.Single("status"),
        dataContext = Context.VitalStatus, aliasMap = Some(am)))))
    assert(out1.head.df.collect().head.getString(1) == "ALIVE")
    // age normalization: "P1Y\t" is a padded valid ISO duration, not
    // an unmappable value that aborts the run
    val t3 = Seq(("P1", "P1Y\t"), ("P2", " 5 ")).toDF("subject_id", "age")
    val out3 = AgeToIso8601Strategy().transform(Seq(
      cdf("t", t3, SeriesContext(Identifier.Single("age"),
        dataContext = Context.Onset(TimeKind.Age)))))
    assert(out3.head.df.orderBy("subject_id").collect().map(_.getString(1)).toSeq ==
      Seq("P1Y", "P5Y"))
  }

  test("T5: header codec round-trips block ids containing '#'") {
    import MultiHpoColExpansionStrategy._
    for (block <- Seq(None, Some("b"), Some("b#1"))) {
      assert(decodeHeader(headerFor("HP:0000001", block)) == (("HP:0000001", block)))
    }
  }

  // --- T5 multi-HPO expansion ----------------------------------------
  test("T5: regex scan, per-patient union, boolean columns, source dropped") {
    val df = Seq(
      ("P1", "seafood allergy HP:0410333 and dairy HP:0410327"),
      ("P2", "gluten HP:0410329"),
      ("P3", "no codes here")).toDF("subject_id", "hpos")
    val out = MultiHpoColExpansionStrategy.transform(Seq(cdf("t", df,
      SeriesContext(Identifier.Single("hpos"), dataContext = Context.MultiHpoId,
        buildingBlockId = Some("A"))))).head
    assert(!out.df.columns.contains("hpos"))
    assert(out.df.columns.toSet.contains("HP:0410333#A"))
    val p1 = out.df.filter($"subject_id" === "P1")
      .select("HP:0410333#A", "HP:0410327#A", "HP:0410329#A").head()
    assert(p1.getBoolean(0) && p1.getBoolean(1) && p1.isNullAt(2))
    // new contexts registered with Hpo header context
    assert(out.bindings.exists { case (c, sc) =>
      c == "HP:0410333#A" && sc.headerContext == Context.Hpo &&
        sc.dataContext == Context.ObservationStatus })
  }

  // --- T7 splitter ----------------------------------------------------
  test("T7: HpoOrDisease splits by dictionary membership; unknown errors") {
    import graft.ontology._
    val hp = BiDict.fromEntries(
      Resource("hp", "HPO", "http://purl.obolibrary.org/obo/hp.owl", "v1", "HP", "http://purl.obolibrary.org/obo/HP_"),
      Seq(("HP:0001945", "Fever", Seq("febrile"))))
    val mondo = BiDict.fromEntries(
      Resource("mondo", "MONDO", "http://purl.obolibrary.org/obo/mondo.owl", "v1", "MONDO", "http://purl.obolibrary.org/obo/MONDO_"),
      Seq(("MONDO:0005737", "Ebola", Seq())))
    val lib = BiDictLibrary(Seq(hp, mondo))

    val df = Seq(("P1", "Fever"), ("P2", "Ebola")).toDF("subject_id", "x")
    val out = HpoDiseaseSplitterStrategy(lib).transform(Seq(cdf("t", df,
      SeriesContext(Identifier.Single("x"), dataContext = Context.HpoOrDisease)))).head
    assert(!out.df.columns.contains("x"))
    val rows = out.df.orderBy("subject_id").select("x_hpo", "x_disease").collect()
    assert(Option(rows(0).getString(0)) == Some("Fever") && rows(0).isNullAt(1))
    assert(rows(1).isNullAt(0) && Option(rows(1).getString(1)) == Some("Ebola"))

    val bad = Seq(("P1", "Gibberish")).toDF("subject_id", "x")
    intercept[MappingException] {
      HpoDiseaseSplitterStrategy(lib).transform(Seq(cdf("t", bad,
        SeriesContext(Identifier.Single("x"), dataContext = Context.HpoOrDisease))))
    }

    // Tab/CR/newline padding (routine in TSV-derived cells) must
    // classify exactly like the driver-side BiDict.resolve, whose Java
    // trim strips ALL chars <= U+0020 — Spark's `trim` (space only)
    // would wrongly report these as unknown and abort the pipeline.
    val padded = Seq(("P1", "HP:0001945\t"), ("P2", "Fever\n"),
      ("P3", "\r\nEbola ")).toDF("subject_id", "x")
    val outP = HpoDiseaseSplitterStrategy(lib).transform(Seq(cdf("t", padded,
      SeriesContext(Identifier.Single("x"), dataContext = Context.HpoOrDisease)))).head
    val rowsP = outP.df.orderBy("subject_id").select("x_hpo", "x_disease").collect()
    assert(Option(rowsP(0).getString(0)) == Some("HP:0001945\t"))
    assert(Option(rowsP(1).getString(0)) == Some("Fever\n"))
    assert(Option(rowsP(2).getString(1)) == Some("\r\nEbola "))
  }

  test("T7: user columns named like the join's temp/terms columns survive") {
    import graft.ontology._
    val hp = BiDict.fromEntries(
      Resource("hp", "HPO", "http://purl.obolibrary.org/obo/hp.owl", "v1", "HP", "http://purl.obolibrary.org/obo/HP_"),
      Seq(("HP:0001945", "Fever", Seq())))
    val mondo = BiDict.fromEntries(
      Resource("mondo", "MONDO", "http://purl.obolibrary.org/obo/mondo.owl", "v1", "MONDO", "http://purl.obolibrary.org/obo/MONDO_"),
      Seq(("MONDO:0005737", "Ebola", Seq())))
    val lib = BiDictLibrary(Seq(hp, mondo))

    // Columns named exactly like the implementation's former internal
    // names: previously __gk/__gc were silently overwritten+dropped and
    // t_cls made the class reference ambiguous. All must pass through.
    val df = Seq(("P1", "Fever", "keepGk", "keepGc", "keepCls", "keepKey"))
      .toDF("subject_id", "x", "__gk", "__gc", "t_cls", "t_key")
    val out = HpoDiseaseSplitterStrategy(lib).transform(Seq(cdf("t", df,
      SeriesContext(Identifier.Single("x"), dataContext = Context.HpoOrDisease)))).head
    assert(Seq("__gk", "__gc", "t_cls", "t_key").forall(out.df.columns.contains))
    val r = out.df.select("x_hpo", "__gk", "__gc", "t_cls", "t_key").head()
    assert(r.getString(0) == "Fever")
    assert(Seq(1, 2, 3, 4).map(r.getString) == Seq("keepGk", "keepGc", "keepCls", "keepKey"))
  }

  test("T7: classification is host-locale-independent (tr_TR lowercasing)") {
    import graft.ontology._
    // A label with a non-ASCII char AND an uppercase 'I': Spark's
    // builtin `lower` would take its non-ASCII slow path and lowercase
    // with the JVM default locale — under tr that maps 'I' to dotless
    // 'ı', missing the ROOT-keyed dictionary and aborting on a value
    // the dictionary knows. lower_root pins ROOT on the probe side.
    val hp = BiDict.fromEntries(
      Resource("hp", "HPO", "http://purl.obolibrary.org/obo/hp.owl", "v1", "HP", "http://purl.obolibrary.org/obo/HP_"),
      Seq(("HP:0000554", "Behçet IRITIS", Seq())))
    val lib = BiDictLibrary(Seq(hp,
      BiDict.fromEntries(
        Resource("mondo", "MONDO", "http://purl.obolibrary.org/obo/mondo.owl", "v1", "MONDO", "http://purl.obolibrary.org/obo/MONDO_"),
        Seq())))
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(new java.util.Locale("tr", "TR"))
    try {
      val df = Seq(("P1", "BEHÇET IRITIS")).toDF("subject_id", "x")
      val out = HpoDiseaseSplitterStrategy(lib).transform(Seq(cdf("t", df,
        SeriesContext(Identifier.Single("x"), dataContext = Context.HpoOrDisease)))).head
      assert(out.df.select("x_hpo").head().getString(0) == "BEHÇET IRITIS")
    } finally java.util.Locale.setDefault(prev)
  }

  // --- accumulate-then-fail: one validation action per strategy -------
  /** Number of Spark SQL actions `body` runs. Listener events arrive
    * asynchronously but in order, so a trailing marker action tells when
    * every earlier one has been delivered.
    */
  private def actionsDuring(body: => Unit): Int = {
    import org.apache.spark.sql.execution.QueryExecution
    val marker = "actions-during-marker"
    val actions = new java.util.concurrent.atomic.AtomicInteger
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def seen(qe: QueryExecution): Unit =
        if (qe.logical.toString.contains(marker)) markerSeen.countDown()
        else actions.incrementAndGet()
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = seen(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen(qe)
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).select(org.apache.spark.sql.functions.lit(marker)).collect()
      assert(markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS))
      actions.get
    } finally spark.listenerManager.unregister(listener)
  }

  test("one validation action per strategy over 3 tables x 2 target columns") {
    import graft.ontology._
    val lib = BiDictLibrary(Seq(
      BiDict.fromEntries(
        Resource("hp", "HPO", "http://purl.obolibrary.org/obo/hp.owl", "v1", "HP", "http://purl.obolibrary.org/obo/HP_"),
        Seq(("HP:0001945", "Fever", Seq()))),
      BiDict.fromEntries(
        Resource("mondo", "MONDO", "http://purl.obolibrary.org/obo/mondo.owl", "v1", "MONDO", "http://purl.obolibrary.org/obo/MONDO_"),
        Seq(("MONDO:0005737", "Ebola", Seq())))))
    def tables(value: String, dataContext: Context, aliasMap: Option[AliasMap] = None) =
      (1 to 3).map { t =>
        cdf(s"t$t", Seq((s"P$t", value, value)).toDF("subject_id", "a", "b"),
          Seq("a", "b").map(c => SeriesContext(Identifier.Single(c),
            dataContext = dataContext, aliasMap = aliasMap)): _*)
      }
    val cases = Seq(
      MappingStrategy.defaultSex -> tables("male", Context.SubjectSex),
      AgeToIso8601Strategy() -> tables("45", Context.Onset(TimeKind.Age)),
      OntologyNormaliserStrategy(lib) -> tables("Fever", Context.Hpo),
      HpoDiseaseSplitterStrategy(lib) -> tables("Ebola", Context.HpoOrDisease),
      AliasMapStrategy -> tables("yes", Context.VitalStatus,
        Some(AliasMap(Map("yes" -> Some("true")), OutputDataType.Bool))))
    for ((strategy, input) <- cases)
      assert(actionsDuring(strategy.transform(input)) == 1, strategy.name)

    // DateToAge also collects its DOB map: two actions, however many tables
    val dated = (1 to 3).map { t =>
      cdf(s"t$t", Seq((s"P$t", "1990-01-15", "2001-01-01", "2002-02-02"))
          .toDF("subject_id", "dob", "a", "b"),
        SeriesContext(Identifier.Single("dob"), dataContext = Context.DateOfBirth) +:
          Seq("a", "b").map(c => SeriesContext(Identifier.Single(c),
            dataContext = Context.Onset(TimeKind.Date))): _*)
    }
    assert(actionsDuring(DateToAgeStrategy().transform(dated)) == 2, "date_to_age")
  }
}
